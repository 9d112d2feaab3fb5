package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.{ControlOutput, ControlPipeline, DeviceState, RawImuSample}
import graft.state.AhrsSettings

/** The real-time control path as a stateful stream: raw int16 IMU
  * samples for several devices, fed in fixed-size micro-batches through
  * `ControlPipeline.replayStreaming` (flatMapGroupsWithState: AHRS, three
  * PIDs, corner transform) into a noop sink. One operation is one
  * micro-batch. Device 0 is held still at a known tilt; the others
  * vibrate. */
final class ControlStream(seed: Long, cpus: Int) extends Workload {
  /** `ControlReplayMain`'s default fleet, and at least one per core. */
  val devices: Int = math.max(8, cpus)
  /** One second of samples at the measured 0.000282 s interval: the
    * firmware flushes its log about once a second. */
  val perDevice = 3546
  /** Batches of samples the correctness replay feeds: past the 3 s
    * (10638-sample) AHRS initialisation, so outputs appear. */
  val verifyBatches = 4
  val dt = 0.000282
  val cfg = ControlPipeline.Config(AhrsSettings(recoveryTriggerPeriod = (5.0 / dt).toInt), dt)
  val LsbPerG = 1.0 / 0.000122
  /** Outputs after which the derivative term has decayed below one
    * int16 command step ((2 tau - dt) / (2 tau + dt) ~ 0.915 per step). */
  val StillSettleOutputs = 500

  private val tiltRnd = new SplittableRandom(seed)
  val stillPitchDeg: Double = tiltRnd.nextDouble(-10.0, 10.0)
  val stillRollDeg: Double = tiltRnd.nextDouble(-10.0, 10.0)

  private var spark: SparkSession = _
  private var dir: File = _
  private var input: MemoryStream[RawImuSample] = _
  private var query: StreamingQuery = _
  private var fed = 0
  private var next: Seq[RawImuSample] = _
  private var stepState: DeviceState = _
  private val stepNs = ArrayBuffer.empty[Double]
  private val errs = ArrayBuffer.empty[String]

  def warmupOps(round: Int): Int = if (round == 1) 10 else 3
  def roundOps: Int = 1
  def rowsPerOp: Long = devices.toLong * perDevice

  /** Micro-batch `b`: `perDevice` consecutive samples of every device. */
  def batch(b: Int): Seq[RawImuSample] = (0 until devices).flatMap(d => deviceBatch(d, b))

  def deviceBatch(d: Int, b: Int): Seq[RawImuSample] = {
    val rnd = new SplittableRandom(seed * 1000003L + d * 7919L + b)
    (0 until perDevice).map { j =>
      val i = b.toLong * perDevice + j
      if (d == 0) {
        // gravity seen by a body pitched by theta and rolled by phi
        val th = math.toRadians(stillPitchDeg); val ph = math.toRadians(stillRollDeg)
        RawImuSample("dev-0", i,
          math.round(-math.sin(th) * LsbPerG).toShort,
          math.round(math.sin(ph) * math.cos(th) * LsbPerG).toShort,
          math.round(math.cos(ph) * math.cos(th) * LsbPerG).toShort, 0, 0, 0)
      } else {
        val az = 8197 + (600 * math.sin(i * 0.01 + d)).toInt + rnd.nextInt(40)
        RawImuSample(s"dev-$d", i,
          rnd.nextInt(30).toShort, rnd.nextInt(30).toShort, az.toShort,
          (200 * math.sin(i * 0.003 + d)).toInt.toShort,
          rnd.nextInt(20).toShort, rnd.nextInt(20).toShort)
      }
    }
  }

  private def start(sink: String, checkpoint: File): (MemoryStream[RawImuSample], StreamingQuery) = {
    val session = spark
    implicit val ctx: SQLContext = session.sqlContext
    import session.implicits._
    val in = MemoryStream[RawImuSample]
    val w = ControlPipeline.replayStreaming(in.toDS(), cfg).writeStream
      .format(sink).outputMode("append")
      .option("checkpointLocation", checkpoint.getAbsolutePath)
    val q = (if (sink == "memory") w.queryName("perfbench_control_verify") else w).start()
    (in, q)
  }

  def prepare(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    this.dir = dir
    val (in, q) = start("noop", new File(dir, "checkpoint"))
    input = in; query = q; fed = 0
    stepState = ControlPipeline.initialState(cfg)
  }

  /** The round's timed stream must have committed every batch it was fed. */
  override def endRound(): Unit = {
    query.exception.foreach(e => errs += s"timed stream failed: $e")
    val end = Option(query.lastProgress).flatMap(_.sources.headOption).map(_.endOffset)
    if (!end.contains((fed - 1).toString))
      errs += s"timed stream committed offset $end, fed $fed batches"
    query.stop()
  }

  override def stage(i: Int): Unit = next = batch(fed)

  def op(i: Int, tr: Tracer): Unit = {
    val rows = next
    tr.span(i, "streaming.batch") {
      input.addData(rows)
      query.processAllAvailable()
    }
    if (tr.enabled) {
      // state layer alone: one device's batch through the same
      // transition, single-threaded
      val one = rows.filter(_.device_id == "dev-1")
      val t0 = System.nanoTime()
      val (after, _) = tr.span(i, "state.apply")(ControlPipeline.applyOrdered(cfg, stepState, one.iterator))
      stepNs += (System.nanoTime() - t0).toDouble / one.size
      stepState = after
    }
    fed += 1
  }

  def check(): Seq[String] = {
    endRound()

    // Replay the first batches into a memory sink and hold the outputs
    // to the sequential run and to properties the control law must have.
    val (in, q) = start("memory", new File(dir, "checkpoint-verify"))
    try {
      // the samples of a round's first batches, fed two at a time
      (0 until verifyBatches).grouped(2).foreach { bs =>
        in.addData(bs.flatMap(batch)); q.processAllAvailable()
      }
      val session = spark
      import session.implicits._
      val got = spark.table("perfbench_control_verify").as[ControlOutput].collect()
        .groupBy(_.device_id)
      val n = verifyBatches * perDevice
      val minCalib = math.ceil(3.0 / dt).toLong
      (0 until devices).foreach { d =>
        val id = s"dev-$d"
        val inputs = (0 until verifyBatches).flatMap(b => deviceBatch(d, b))
        val outs = got.getOrElse(id, Array.empty[ControlOutput]).sortBy(_.sample_idx).toVector
        val seq = ControlPipeline.runSequential(cfg, inputs.iterator).toVector
        if (outs != seq) errs += s"$id: streamed outputs differ from the sequential run"
        // outputs are the inputs minus a calibration prefix
        val first = outs.headOption.map(_.sample_idx).getOrElse(n.toLong)
        if (outs.isEmpty || first < minCalib ||
            outs.map(_.sample_idx) != (first until n.toLong).toVector)
          errs += s"$id: ${outs.size} outputs from sample $first, not a calibration-free suffix of $n inputs"
        outs.find(o => Seq(o.act1, o.act2, o.act3, o.act4).exists(a => a < 0 || a > 65535))
          .foreach(o => errs += s"$id: actuator code outside [0, 65535]: $o")
        // the still device reports the tilt its gravity vector implies
        // and, once the derivative kick of the first output (measured
        // against a zero previous measurement) has decayed, commands
        // nothing: every actuator sits at mid-scale
        if (d == 0) outs.zipWithIndex.find { case (o, k) =>
          math.abs(o.pitch - stillPitchDeg) > 0.05 || math.abs(o.roll - stillRollDeg) > 0.05 ||
          (k >= StillSettleOutputs && (o.az_cmd != 0.0 || o.pitch_cmd != 0.0 ||
            o.roll_cmd != 0.0 || Seq(o.act1, o.act2, o.act3, o.act4).exists(_ != 32768)))
        }.foreach(o => errs += s"$id held still at pitch $stillPitchDeg roll $stillRollDeg: $o")
      }
    } finally q.stop()
    errs.toSeq
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()

  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = {
    val ps = tr.timedProgress
    def med(f: Tracer.ProgressRec => Double) = Main.median(ps.map(f))
    def dur(k: String) = med(_.durations.getOrElse(k, 0.0))
    Seq(
      ("streaming.batch_ms", tr.spanMedianMs("streaming.batch"), "ms"),
      ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("streaming.state_commit_ms", med(_.stateCommitMs), "ms"),
      ("streaming.state_rows", med(_.stateRows.toDouble), "count"),
      ("streaming.state_mem_mb", med(_.stateMemBytes / Tracer.MB), "MB"),
      ("state.step_ns", Main.median(stepNs.toSeq), "ns"))
  }
}
