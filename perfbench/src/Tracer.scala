package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters of a traced run, recorded from outside
  * the program: a span around each public call an operation makes, plus
  * Spark's public listener APIs (scheduler, query execution, streaming),
  * the codegen metrics source and the GC MXBeans. Everything stays in
  * memory until [[writeSpans]] at the end of the run. A tracer built with
  * `enabled = false` records nothing and attaches no listener. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val wallAt0 = System.currentTimeMillis()
  private val nanoAt0 = System.nanoTime()
  private def wallMs(nanos: Long): Double = wallAt0 + (nanos - nanoAt0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[Double]
  private val stages = ArrayBuffer.empty[Double]
  private val phases = ArrayBuffer.empty[PhaseRec]
  private val progress = ArrayBuffer.empty[ProgressRec]
  @volatile private var events = 0L

  def span[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val gc0 = gcMs()
      val s = Span(id, stack.headOption.getOrElse(-1), op, name, System.nanoTime())
      spans += s
      stack = id :: stack
      try body
      finally {
        s.end = System.nanoTime()
        s.gcMs = gcMs() - gc0
        stack = stack.tail
        if (s.parent < 0) s.storageMb = storageMb
      }
    }

  private var session: SparkSession = _
  private def storageMb: Double =
    if (session == null) 0.0
    else session.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / MB

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) synchronized {
        tasks += TaskRec(e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      events += 1
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      synchronized { jobs += e.time.toDouble }; events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      synchronized {
        stages += e.stageInfo.completionTime.map(_.toDouble).getOrElse(0.0)
      }
      events += 1
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = ph.values.map(_.endTimeMs).maxOption.getOrElse(0L).toDouble
      synchronized { phases += PhaseRec(at, d("analysis"), d("optimization"), d("planning")) }
      events += 1
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val st = p.stateOperators
      synchronized {
        progress += ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows, d,
          st.map(_.commitTimeMs.toDouble).sum, st.map(_.numRowsTotal).sum,
          st.map(_.memoryUsedBytes).sum)
      }
      events += 1
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    session = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    session = null
  }

  /** Waits until the listener buses have been quiet for a while. */
  private def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val until = System.currentTimeMillis() + 5000
    while (quiet < 3 && System.currentTimeMillis() < until) {
      Thread.sleep(100)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }

  def finish(): Unit = if (enabled) drain()

  // ---- per-operation attribution -------------------------------------

  /** Top-level spans: the timed operations (warm-up is not traced). */
  private def timedOps: Seq[Span] = spans.toSeq.filter(_.parent < 0)

  /** Median over timed operations of the summed duration of spans named
    * `name` inside each operation. */
  def spanMedianMs(name: String): Double = {
    val byOp = spans.filter(_.name == name).groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(_.ms).sum }
    Main.median(timedOps.flatMap(o => byOp.get(o.op)))
  }

  /** Operation id -> duration of each timed operation. */
  def opDurations: Map[Int, Double] = timedOps.map(o => o.op -> o.ms).toMap

  /** Streaming progress of the micro-batches timed operations ran. */
  def timedProgress: Seq[ProgressRec] = synchronized {
    val ops = timedOps.map(o => (wallMs(o.start), wallMs(o.end)))
    progress.toSeq.filter(p => p.inputRows > 0 && ops.exists { case (a, b) => p.at >= a && p.at <= b })
  }

  /** Per-operation medians of the engine-level counters. */
  def sparkMetrics(spark: SparkSession): Seq[(String, Double, String)] = synchronized {
    val cores = spark.sparkContext.defaultParallelism
    val ops = timedOps
    case class OpStats(jobs: Double, stages: Double, tasks: Double, idle: Double,
        busy: Double, shRead: Double, shWrite: Double, spill: Double, skew: Double,
        analysis: Double, optimization: Double, planning: Double, gc: Double,
        storage: Double)
    val per = ops.map { o =>
      val (a, b) = (wallMs(o.start), wallMs(o.end))
      def in(t: Double) = t >= a && t <= b
      val ts = tasks.filter(t => in(t.finish))
      val clipped = ts.map(t => (math.max(t.launch, a), math.min(t.finish, b)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      clipped.foreach { case (x, y) =>
        if (curE.isNaN || x > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = x; curE = y
        } else curE = math.max(curE, y)
      }
      if (!curE.isNaN) covered += curE - curS
      val wall = math.max(b - a, 1e-3)
      val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
        val durs = st.map(t => t.finish - t.launch).sorted.toIndexedSeq
        val med = math.max(Main.quantile(durs, 0.5), 1.0)
        durs.last / med
      }.toSeq
      val ph = phases.filter(p => in(p.at))
      OpStats(jobs.count(in), stages.count(in), ts.size, wall - covered,
        ts.map(t => t.finish - t.launch).sum / (wall * cores),
        ts.map(_.shuffleRead).sum / MB, ts.map(_.shuffleWrite).sum / MB,
        ts.map(_.spill).sum / MB, if (skews.isEmpty) 1.0 else Main.median(skews),
        ph.map(_.analysis).sum, ph.map(_.optimization).sum, ph.map(_.planning).sum,
        o.gcMs, o.storageMb)
    }
    def med(f: OpStats => Double) = Main.median(per.map(f))
    def mean(f: OpStats => Double) = if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    Seq(
      ("spark.jobs", med(_.jobs), "count"),
      ("spark.stages", med(_.stages), "count"),
      ("spark.tasks", med(_.tasks), "count"),
      ("spark.driver_idle_ms", med(_.idle), "ms"),
      ("spark.executor_busy_ratio", med(_.busy), "ratio"),
      ("spark.shuffle_read_mb", mean(_.shRead), "MB"),
      ("spark.shuffle_write_mb", mean(_.shWrite), "MB"),
      ("spark.spill_mb", mean(_.spill), "MB"),
      ("spark.task_skew", med(_.skew), "ratio"),
      ("spark.analysis_ms", mean(_.analysis), "ms"),
      ("spark.optimization_ms", mean(_.optimization), "ms"),
      ("spark.planning_ms", mean(_.planning), "ms"),
      ("spark.gc_ms", mean(_.gc), "ms"),
      ("spark.storage_mem_mb", mean(_.storage), "MB"),
      // whole run (set-up included): compiles happen mostly in set-up
      ("spark.codegen_classes", compiles.getCount.toDouble, "count"),
      ("spark.codegen_compile_ms",
        compiles.getCount * compiles.getSnapshot.getMean, "ms"))
  }

  /** Spans as JSON, with each span's self time (its duration minus the
    * part of it its children cover; children run sequentially). */
  def writeSpans(path: String): Unit = if (enabled) {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val rows = spans.map { s =>
      val self = s.ms - childMs.getOrElse(s.id, 0.0)
      f"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ms": ${Main.num(wallMs(s.start))}, "end_ms": ${Main.num(wallMs(s.end))}, """ +
        s""""self_ms": ${Main.num(self)}}"""
    }
    val selfByName = spans.groupBy(_.name).map { case (n, ss) =>
      val self = ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      s""""$n": ${Main.num(self)}"""
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path),
      s"""{"self_ms_total": ${selfByName.mkString("{", ", ", "}")},\n"spans": [\n""" +
        rows.mkString(",\n") + "\n]}\n")
  }
}

object Tracer {
  val MB = 1024.0 * 1024.0

  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long) {
    var end: Long = start
    var gcMs: Double = 0.0
    var storageMb: Double = 0.0
    def ms: Double = (end - start) / 1e6
  }
  final case class TaskRec(stage: Int, launch: Double, finish: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class PhaseRec(at: Double, analysis: Double, optimization: Double,
      planning: Double)
  final case class ProgressRec(at: Double, inputRows: Long, durations: Map[String, Double],
      stateCommitMs: Double, stateRows: Long, stateMemBytes: Long)

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}
