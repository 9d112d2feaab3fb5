package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipelines.OfflineAnalytics
import graft.sources.{OrcTelemetryStore, SessionizedCsvReader}

/** The paper's offline batch path, as `OfflineAnalyticsMain` runs it.
  * One operation ingests one session (parse the ORC-log CSV, cache it,
  * write it to the ORC store, read it back) and runs
  * `OfflineAnalytics.analyze` for one of the four reference analyses
  * (acceleration, pitch, roll, jerk) on it: per-run RMS/min/max and
  * three Welch tests between the arms. Every operation has that shape,
  * so each of these layers moves the median latency; the analyses take
  * turns, so four consecutive operations make the paper's 12 tests. */
final class TelemetrySessions(seed: Long) extends Workload {
  /** Sessions in the fleet; operation `i` ingests session `i % fleet`. */
  val fleet = 8
  /** The golden session's shape: 2 arms x 5 runs. */
  val runsPerArm = 5
  val samplesPerRun = 1000
  val analyses = Seq(("acceleration_g", false), ("pitch_deg", false),
    ("roll_deg", false), ("acceleration_g", true))

  private var spark: SparkSession = _
  private var dir: File = _
  private var sessions: IndexedSeq[SessionGen.Session] = _
  private var files: IndexedSeq[String] = _

  /** Welch results of every timed operation: (session, analysis, tests). */
  private val welchOut = ArrayBuffer.empty[(Int, Int, Seq[OfflineAnalytics.WelchResult])]
  /** Per analysis not checked yet, the per-run table `analyze` returned
    * to its latest timed operation of this round; collected when the
    * round ends, outside the timed loop. */
  private val perRunPending = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, DataFrame)]
  private val perRunOut = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Array[Row])]
  private val orcBytesPerRow = ArrayBuffer.empty[Double]

  def warmupOps(round: Int): Int = if (round == 1) 2 * analyses.size else 1
  def roundOps: Int = 1
  def rowsPerOp: Long = 2L * runsPerArm * samplesPerRun

  def prepare(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    this.dir = dir
    val inputs = new File(dir, "sessions")
    inputs.mkdirs()
    sessions = (0 until fleet).map(k => SessionGen.generate(seed, k, runsPerArm, samplesPerRun))
    files = sessions.zipWithIndex.map { case (s, k) =>
      val f = new File(inputs, f"ORCLOG_$k%03d.CSV")
      Files.writeString(f.toPath, s.text)
      f.getAbsolutePath
    }
  }

  def op(i: Int, tr: Tracer): Unit = {
    val (k, a) = (i % fleet, i % analyses.size)
    val (perRun, welch) = run(k, a, s"store/op$i", tr, i)
    welchOut += ((k, a, welch))
    if (!perRunOut.contains(a)) perRunPending(a) = (k, perRun)
  }

  override def endRound(): Unit = {
    perRunPending.foreach { case (a, (k, df)) => perRunOut(a) = (k, df.collect()) }
    perRunPending.clear()
  }

  override def warmup(j: Int): Unit =
    run(j % fleet, j % analyses.size, s"store/warmup$j", new Tracer(false), -1)

  private def run(k: Int, a: Int, storeDir: String, tr: Tracer, i: Int)
      : (DataFrame, Seq[OfflineAnalytics.WelchResult]) = {
    val (measure, deriv) = analyses(a)
    val samples = tr.span(i, "sources.csv_parse") {
      val df = SessionizedCsvReader.read(spark, files(k)).cache()
      // traced runs parse on their own, so the parse has its own span
      if (tr.enabled) df.count()
      df
    }
    val store = new File(dir, storeDir).getAbsolutePath
    try {
      tr.span(i, "sources.orc_write")(OrcTelemetryStore.write(samples, store))
      if (tr.enabled) orcBytesPerRow += orcBytes(store).toDouble / rowsPerOp
      val orc = tr.span(i, "sources.orc_read")(OrcTelemetryStore.read(spark, store))
      val (perRun, _, welch) = tr.span(i, "pipelines.analyze")(
        OfflineAnalytics.analyze(orc, measure, derivative = deriv))
      // traced runs also time the per-run table alone: the window stage
      // and the per-run aggregation, without the arm summary and tests
      if (tr.enabled) tr.span(i, "operators.run_stats")(perRun.collect())
      (perRun, welch)
    } finally samples.unpersist()
  }

  private def orcBytes(path: String): Long =
    Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".orc")).map(Files.size(_)).sum

  /** Every round makes the same sessions from the seed, so the last
    * round's sessions serve as the reference for all of them. */
  def check(): Seq[String] = {
    endRound()
    val refs = scala.collection.mutable.Map.empty[(Int, Int),
      (IndexedSeq[IndexedSeq[Reference.RunStat]], Seq[Reference.Welch])]
    def ref(k: Int, a: Int) = refs.getOrElseUpdate((k, a), {
      val (measure, deriv) = analyses(a)
      val stats = sessions(k).arms.map(_.runs.map { r =>
        val v = measure match {
          case "acceleration_g" => r.acc
          case "pitch_deg" => r.pitch
          case "roll_deg" => r.roll
        }
        Reference.runStat(v, deriv)
      })
      (stats, Reference.welch(stats(0), stats(1)))
    })
    def tag(k: Int, a: Int) =
      s"session $k ${if (analyses(a)._2) "jerk" else analyses(a)._1}"

    val welchErr = welchOut.toSeq.flatMap { case (k, a, welch) =>
      val refWelch = ref(k, a)._2
      val measure = analyses(a)
      val wrong = welch.zip(refWelch).flatMap { case (w, r) =>
        if (w.stat == r.stat && Reference.close(w.t, r.t, 1e-9) &&
            Reference.close(w.p, r.p, 1e-6, 1e-12)) Nil
        else Seq(s"${tag(k, a)}: Welch ${w.stat} t=${w.t} p=${w.p}, reference t=${r.t} df=${r.df} p=${r.p}")
      }
      // the planted amplitude difference must come out significant
      val effect =
        if (measure == ("acceleration_g", false))
          welch.filter(w => w.stat != "min" && !(w.p < 0.01))
            .map(w => s"${tag(k, a)}: planted arm effect not significant (${w.stat} p=${w.p})")
        else Nil
      (if (welch.size != refWelch.size) Seq(s"${tag(k, a)}: ${welch.size} Welch tests") else Nil) ++
        wrong ++ effect
    }

    val runErr = perRunOut.toSeq.flatMap { case (a, (k, rows)) =>
      val s = sessions(k)
      val parsed = rows.map(_.getAs[Number]("n").longValue).sum
      if (rows.length != s.runCount || parsed != s.rows)
        Seq(s"${tag(k, a)}: ${rows.length} runs of $parsed rows, generated ${s.runCount} of ${s.rows}")
      else s.arms.zip(ref(k, a)._1).flatMap { case (arm, armRef) =>
        val got = rows.filter(_.getAs[String]("arm") == arm.label)
          .sortBy(_.getAs[Number]("run_id").longValue)
        if (got.length != armRef.size) Seq(s"${tag(k, a)} ${arm.label}: ${got.length} runs")
        else got.zip(armRef).flatMap { case (r, rr) =>
          val ok = Reference.close(r.getAs[Double]("rms"), rr.rms, 1e-9) &&
            Reference.close(r.getAs[Double]("min"), rr.min, 1e-12) &&
            Reference.close(r.getAs[Double]("max"), rr.max, 1e-12) &&
            r.getAs[Number]("n").longValue == rr.n
          if (ok) Nil else Seq(s"${tag(k, a)} ${arm.label}: run stats $r, reference $rr")
        }
      }
    }
    val ran = welchOut.map(_._2).distinct.sorted
    val coverage =
      if (perRunOut.keys.toSeq.sorted == ran) Nil
      else Seq(s"per-run tables of analyses ${perRunOut.keys.mkString(",")}, timed ${ran.mkString(",")}")
    welchErr ++ runErr ++ coverage
  }

  /** `analyze` runs the window stage, the per-run aggregation, the arm
    * summary and the Welch tests as one call; `run_stats` is the per-run
    * table alone, so the summary and tests are about their difference. */
  override def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = Seq(
    ("sources.csv_parse_ms", tr.spanMedianMs("sources.csv_parse"), "ms"),
    ("sources.orc_write_ms", tr.spanMedianMs("sources.orc_write"), "ms"),
    ("sources.orc_read_ms", tr.spanMedianMs("sources.orc_read"), "ms"),
    ("sources.orc_bytes_per_row", Main.median(orcBytesPerRow.toSeq), "B"),
    ("pipelines.analyze_ms", tr.spanMedianMs("pipelines.analyze"), "ms"),
    ("operators.run_stats_ms", tr.spanMedianMs("operators.run_stats"), "ms"))
}
