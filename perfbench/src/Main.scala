package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop of like-for-like operations
  * over seeded inputs, checked against results computed apart from the
  * program once the timed loop is over. */
trait Workload {
  /** Makes the inputs. Called once per set-up round, on a fresh session;
    * outputs recorded in earlier rounds are kept for [[check]]. */
  def prepare(spark: SparkSession, dir: File): Unit
  /** Called when the timed window of a round other than the last ends,
    * while its session is still up; not timed. */
  def endRound(): Unit = ()
  /** Warm-up operations at the end of set-up round `round` (1-based);
    * the first round runs on a cold JVM and needs the most. */
  def warmupOps(round: Int): Int
  /** Operations per round: a run always attempts whole rounds. */
  def roundOps: Int
  /** Makes the input of timed operation `i`; not timed. */
  def stage(i: Int): Unit = ()
  /** Runs timed operation `i` (0-based). */
  def op(i: Int, tr: Tracer): Unit
  /** Runs warm-up operation `j` (0-based over all set-up rounds). */
  def warmup(j: Int): Unit = { stage(j); op(j, new Tracer(false)) }
  /** Rows the operation handles; fixed per workload. */
  def rowsPerOp: Long
  /** Checks every output recorded so far; returns the failures. */
  def check(): Seq[String]
  /** Workload-specific layer metrics of a traced run. */
  def layerMetrics(tr: Tracer): Seq[(String, Double, String)] = Nil
  def close(): Unit = ()
}

/** Entry point the runner script launches in its own JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> [--trace-file <spans.json>]
  * }}}
  *
  * It runs three set-up rounds (fresh session, fresh inputs, warm-up
  * operations), each followed by whole rounds of timed operations for a
  * third of `--seconds`. It then checks the outputs on the last session
  * and writes one JSON object to `--out`. */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors()

    // Three set-up rounds (fresh session, fresh inputs, warm-up), each
    // followed by a third of the timed closed loop (one client, whole
    // rounds of operations). Interleaving the timed windows with the
    // rounds spreads them over the run, so a burst of host load shorter
    // than the run moves at most one window.
    val tracer = new Tracer(traced)
    val w: Workload = workload match {
      case "telemetry_sessions" => new TelemetrySessions(seed)
      case "control_stream"     => new ControlStream(seed, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var i = 0
    var warmed = 0
    var timedSecs = 0.0
    val setupSecs = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      if (spark != null) { tracer.detach(spark); spark.stop() }
      spark = graft.Bench.benchSession(cpus.toString)
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark)
      w.prepare(spark, new File(work, s"round$round"))
      (0 until w.warmupOps(round)).foreach { _ => w.warmup(warmed); warmed += 1 }
      val setup = (System.nanoTime() - t0) / 1e9

      var window = 0.0
      val deadline = System.nanoTime() + (seconds / SetupRounds * 1e9).toLong
      while (System.nanoTime() < deadline || i % w.roundOps != 0) {
        w.stage(i)
        val o0 = System.nanoTime()
        val ok = try { tracer.span(i, "op")(w.op(i, tracer)); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e"); false }
        val ms = (System.nanoTime() - o0) / 1e6
        if (ok) lat += ms else failed += 1
        System.err.println(f"[perfbench] round $round op $i: $ms%.1f ms")
        window += ms / 1e3
        i += 1
      }
      timedSecs += window
      if (round < SetupRounds) w.endRound()
      setup
    }
    val attempted = i
    val c0 = System.nanoTime()
    val failures = w.check()
    val checkSecs = (System.nanoTime() - c0) / 1e9
    failures.take(20).foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

    val sorted = lat.sorted.toIndexedSeq
    val busySecs = lat.sum / 1e3
    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupSecs), "s"),
      "latency_p50_ms" -> (quantile(sorted, 0.5), "ms"),
      "throughput_per_s" -> (if (busySecs > 0) lat.size / busySecs else 0.0, "1/s"))
    val detail = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "ops" -> (lat.size.toDouble, "count"),
      "rows_per_op" -> (w.rowsPerOp.toDouble, "count"),
      "timed_s" -> (timedSecs, "s"),
      "check_s" -> (checkSecs, "s"))
    setupSecs.zipWithIndex.foreach { case (v, r) => detail(s"setup_round${r + 1}_s") = (v, "s") }
    tailPercentile(sorted.size).foreach { p =>
      detail("latency_tail_ms") = (quantile(sorted, p / 100.0), "ms")
      detail("latency_tail_pct") = (p.toDouble, "%")
    }
    val layers =
      if (traced) {
        tracer.finish()
        val l = tracer.sparkMetrics(spark) ++ w.layerMetrics(tracer) :+
          (("trace.latency_p50_ms", quantile(sorted, 0.5), "ms"))
        tracer.writeSpans(opts.getOrElse("trace-file",
          new File(work, "spans.json").getPath))
        l
      } else Nil

    w.close()
    spark.stop()

    def obj(m: Iterable[(String, Double, String)]): String = m.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val json =
      s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed,""" +
      s""" "metrics": ${obj(metrics.map { case (k, (v, u)) => (k, v, u) })},""" +
      s""" "detail": ${obj(detail.map { case (k, (v, u)) => (k, v, u) })},""" +
      s""" "layers": ${obj(layers)}, "failures": [${failures.take(20).map(jstr).mkString(", ")}]}"""
    Files.writeString(Paths.get(opts("out")), json)
    // Spark's non-daemon threads can outlive stop(); the result is written.
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** Linear-interpolated quantile of an ascending sequence. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Highest whole percentile with at least ten samples beyond it;
    * none below forty samples. */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 40) None
    else Some((99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
