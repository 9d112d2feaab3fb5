package graft.pipelines

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SpecialFns
import graft.sources.SessionizedCsvReader

/** The reference's offline batch analytics (SURVEY §3.1,
  * Python Plotting/main.py): per (arm, run) median-filter the measure,
  * optionally take the numeric derivative (jerk), aggregate RMS/min/max
  * per run, average per arm, and Welch-t-test the per-run stat
  * populations between the two arms.
  *
  * Distributed shape: one shuffle on (file, arm, run_id); the sort that
  * groups each run also orders it by sample_idx, and the run is
  * filtered and reduced in one sequential pass over an `Array[Double]`,
  * so a run must fit in one task's memory. The per-run rows (10 in the
  * golden session) are collected once; the arm summary and the t-tests
  * are derived from them on the driver, like the reference, and come
  * back as local relations, so reading them runs no job.
  */
object OfflineAnalytics {

  /** One-sided alternatives used by the reference (main.py:113-115):
    * RMS and MAX expect "enabled" smaller (`less`), MIN expects
    * "enabled" greater (closer to zero from below). */
  val Alternatives: Map[String, String] =
    Map("rms" -> "less", "min" -> "greater", "max" -> "less")

  /** A run's key: run_id restarts per file, so runs from different log
    * files must never pool into one group. */
  private val RunKey = Seq("file", "arm", "run_id")
  private val Stats = Seq("rms", "min", "max")

  /** Columns of [[armSummary]]. */
  val SummarySchema: StructType = StructType.fromDDL("arm STRING, first_run BIGINT, " +
    "runs BIGINT NOT NULL, avg_rms DOUBLE, avg_min DOUBLE, avg_max DOUBLE, " +
    "var_rms DOUBLE, var_min DOUBLE, var_max DOUBLE")

  /** Per-(arm, run) RMS/min/max of the median-filtered (and optionally
    * differentiated) measure. Output: file, arm, run_id, rms, min, max,
    * n. `n` counts every row; a null measure enters the filter as 0.0;
    * the derivative of a one-sample run has null stats; min/max follow
    * Spark's double order (NaN is the greatest value). */
  def runStats(samples: DataFrame, measure: String,
               derivative: Boolean = false, kernel: Int = 15): DataFrame = {
    val schema = StructType(keySchema(samples) ++
      StructType.fromDDL("rms DOUBLE, min DOUBLE, max DOUBLE, n BIGINT NOT NULL"))
    eachRun(samples, measure, derivative, kernel, schema) { (key, rows, filtered) =>
      val stats = filtered.fold(Seq[Any](null, null, null)) { v =>
        // Spark's double order: NaN is the greatest value (Math.max keeps it)
        Seq(math.sqrt(v.map(e => e * e).sum / v.length),
          v.filterNot(_.isNaN).reduceOption(math.min(_: Double, _: Double)).getOrElse(Double.NaN),
          v.reduce(math.max(_: Double, _: Double)))
      }
      Iterator.single(Row.fromSeq(key.toSeq ++ stats :+ rows.length.toLong))
    }
  }

  /** Groups `samples` by run and calls `emit` once per run with the
    * run's key, its rows in sample_idx order (key, sample_idx, measure,
    * then `extra`) and the filtered measure. */
  private def eachRun(samples: DataFrame, measure: String, derivative: Boolean,
                      kernel: Int, schema: StructType, extra: Column*)(
      emit: (Row, Array[Row], Option[Array[Double]]) => Iterator[Row]): DataFrame = {
    require(kernel % 2 == 1, s"median filter kernel must be odd, got $kernel")
    val sel = samples.select(RunKey.map(col) ++
      Seq(col("sample_idx"), col(measure).cast(DoubleType)) ++ extra: _*)
    sel.groupBy(RunKey.map(col): _*)
      .as(Encoders.row(keySchema(samples)), Encoders.row(sel.schema))
      .flatMapSortedGroups(col("sample_idx")) { (key: Row, it: Iterator[Row]) =>
        val rows = it.toArray
        emit(key, rows, filtered(rows.map(r => if (r.isNullAt(4)) 0.0 else r.getDouble(4)),
          derivative, kernel))
      }(Encoders.row(schema))
  }

  /** The run key's columns, nullable: null keys group as in SQL. */
  private def keySchema(samples: DataFrame): StructType =
    StructType(RunKey.map(c => samples.schema(c).copy(nullable = true)))

  /** The measure of one run in sample order, median-filtered with zero
    * padding (scipy.signal.medfilt: the median of the `kernel` samples
    * centred on each, zeros outside the run) and optionally
    * differentiated (numpy.gradient with unit spacing — main.py:99-100
    * does NOT divide by the sample interval). None for the derivative
    * of one sample. */
  private def filtered(x: Array[Double], derivative: Boolean,
                       kernel: Int): Option[Array[Double]] = {
    val half = kernel / 2
    val med = Array.tabulate(x.length) { i =>
      val win = Array.tabulate(kernel)(j => i - half + j)
        .map(k => if (k < 0 || k >= x.length) 0.0 else x(k))
      java.util.Arrays.sort(win) // NaN last, as in Spark's double order
      win(half)
    }
    if (!derivative) Some(med)
    else Option.when(med.length > 1)(Array.tabulate(med.length) { i =>
      if (i == 0) med(1) - med(0)
      else if (i == med.length - 1) med(i) - med(i - 1)
      else (med(i + 1) - med(i - 1)) / 2.0
    })
  }

  private def asLong(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Number].longValue)

  /** Spark's ascending string order (UTF-8 bytes), nulls first. */
  private def sqlOrder(s: String): Option[UTF8String] = Option(s).map(UTF8String.fromString)

  /** Per-run rows by arm, run_id, file. */
  private val RunOrder: Ordering[Row] =
    Ordering.by(r => (sqlOrder(r.getString(1)), asLong(r.get(2)), sqlOrder(r.getString(0))))

  /** Per-arm averages of the per-run stats (main.py:112), plus the
    * moments needed for the Welch test and the arm's first-seen order
    * (reference pairs populations by dict insertion order =
    * first occurrence in the file, main.py:109-113). The arm string is
    * a deterministic tiebreak: with multiple files both arms can have
    * first_run = 1, and a nondeterministic order would flip the
    * one-sided t sign between runs.
    *
    * Takes [[runStats]] rows; gives [[SummarySchema]] rows ordered by
    * first_run, arm. As Spark's `avg` and `var_samp` (whose
    * central-moment update this is), null stats are skipped and the
    * variance of fewer than two runs is null. */
  def armSummary(runs: Seq[Row]): Seq[Row] =
    runs.sorted(RunOrder).groupBy(r => Option(r.getString(1))).toSeq.map { case (arm, rs) =>
      val (avgs, vars) = Stats.indices.map { i =>
        var (n, sum, mean, m2) = (0.0, 0.0, 0.0, 0.0)
        rs.filterNot(_.isNullAt(3 + i)).foreach { r =>
          val x = r.getDouble(3 + i)
          n += 1.0
          sum += x
          val delta = x - mean
          mean += delta / n
          m2 += delta * (delta - delta / n)
        }
        (if (n == 0.0) null else sum / n, if (n < 2.0) null else m2 / (n - 1.0))
      }.unzip
      Row.fromSeq(Seq(arm.orNull, rs.flatMap(r => asLong(r.get(2))).minOption.getOrElse(null),
        rs.size.toLong) ++ avgs ++ vars)
    }.sortBy(r => (asLong(r.get(1)), sqlOrder(r.getString(0))))

  final case class WelchResult(stat: String, t: Double, p: Double)

  /** Welch one-sided t-tests between the first-seen and second-seen
    * arm for each of rms/min/max (main.py:113-115), over the 2-row
    * [[armSummary]]. */
  def welchTests(summary: Seq[Row]): Seq[WelchResult] = {
    require(summary.length == 2,
      s"welchTests expects exactly 2 arms, got ${summary.length}")
    val Seq(a, b) = summary
    // null-safe: a single-run arm has null var_samp -> NaN stats,
    // matching scipy's ttest_ind rather than crashing
    def field(r: Row, i: Int): Double =
      Option(r.get(i)).fold(Double.NaN)(_.asInstanceOf[Number].doubleValue)
    Stats.zipWithIndex.map { case (stat, i) =>
      val (t, _, p) = SpecialFns.welch(field(a, 3 + i), field(a, 6 + i), field(a, 2),
        field(b, 3 + i), field(b, 6 + i), field(b, 2), Alternatives(stat))
      WelchResult(stat, t, p)
    }
  }

  /** Full analysis of one measure over an already-parsed samples
    * table: the per-run table ordered by arm, run_id, the arm summary
    * and the Welch tests. The per-run stats are computed once and
    * collected, and both tables are local relations. Caller owns
    * samples caching. */
  def analyze(samples: DataFrame, measure: String,
              derivative: Boolean = false)
      : (DataFrame, DataFrame, Seq[WelchResult]) = {
    val rs = runStats(samples, measure, derivative)
    val runs = rs.collect().toSeq.sorted(RunOrder)
    val summary = armSummary(runs)
    val spark = samples.sparkSession
    (spark.createDataFrame(runs.asJava, rs.schema),
      spark.createDataFrame(summary.asJava, SummarySchema), welchTests(summary))
  }

  /** Convenience: parse + analyze one measure. For several measures
    * over the same log, parse once and call [[analyze]] per measure
    * (see OfflineAnalyticsMain). */
  def replay(spark: SparkSession, csvPath: String, measure: String,
             derivative: Boolean = false)
      : (DataFrame, DataFrame, Seq[WelchResult]) =
    analyze(SessionizedCsvReader.read(spark, csvPath), measure, derivative)

  private val ArtifactSchema: StructType = StructType.fromDDL("element STRING NOT NULL, " +
    "arm STRING, run_id BIGINT, stat STRING, sample_idx BIGINT, time_s DOUBLE, value DOUBLE")

  /** The tidy counterpart of the reference pipeline's TERMINAL stage —
    * the matplotlib render (Python Plotting/main.py:106,135). Every
    * number that reaches the figure is emitted as a long-format row,
    * so a chart front-end (or a diff) can reproduce the artifact
    * without the engine knowing about pixels:
    *
    *  - `series`: the one plotted line per arm — the reference plots
    *    only each arm's THIRD sample (main.py:106, `first_3_count ==
    *    2`), as (time_s, value) of the median-filtered (optionally
    *    differentiated) measure, ordered by sample_idx;
    *  - `run_stat`: rms/min/max per (arm, run) — the populations;
    *  - `arm_avg`: the per-arm averages in the stats text box
    *    (main.py:112);
    *  - `t_test`: the three one-sided Welch tests (main.py:113-115),
    *    as `<stat>_t` / `<stat>_p` rows.
    *
    * Schema: (element, arm, run_id, stat, sample_idx, time_s, value).
    * Unused coordinates are null per element. The series rows are the
    * only O(samples) part; the rest is derived on the driver from the
    * per-run stats, collected once as in [[analyze]]. */
  def plotArtifact(samples: DataFrame, measure: String,
                   derivative: Boolean = false, kernel: Int = 15,
                   plottedRank: Int = 3): DataFrame = {
    val runs = runStats(samples, measure, derivative, kernel).collect().toSeq
    val summary = armSummary(runs)
    // the arm's plottedRank-th run in (file, run_id) order
    val plotted = runs.groupBy(r => Option(r.getString(1))).values.flatMap(
      _.sortBy(r => (sqlOrder(r.getString(0)), asLong(r.get(2)))).lift(plottedRank - 1))
    val isPlotted = plotted.map(r => RunKey.indices
        .map(i => col(RunKey(i)) <=> lit(r.get(i))).reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
    val series = eachRun(samples.filter(isPlotted), measure, derivative, kernel,
        ArtifactSchema, col("t_s").cast(DoubleType)) { (key, rows, v) =>
      rows.indices.iterator.map(i => Row("series", key(1), asLong(key(2)).getOrElse(null),
        null, asLong(rows(i).get(3)).getOrElse(null), rows(i).get(5),
        v.map(_(i)).getOrElse(null)))
    }
    val stats = Stats.zipWithIndex
    val rows = runs.flatMap(r => stats.map { case (s, i) =>
        Row("run_stat", r(1), asLong(r(2)).getOrElse(null), s, null, null, r(3 + i)) }) ++
      summary.flatMap(r => stats.map { case (s, i) =>
        Row("arm_avg", r(0), null, s, null, null, r(3 + i)) }) ++
      welchTests(summary).flatMap(w => Seq(
        Row("t_test", null, null, s"${w.stat}_t", null, null, w.t),
        Row("t_test", null, null, s"${w.stat}_p", null, null, w.p)))
    series.union(samples.sparkSession.createDataFrame(rows.asJava, ArtifactSchema))
  }
}

/** Command-line golden replay: runs the four reference analyses
  * (acceleration / pitch / roll / jerk) over the checked-in golden CSV
  * and prints per-arm means + Welch tests — the numbers published in
  * the reference's result summary (BASELINE.md, Vibration HS column). */
object OfflineAnalyticsMain {
  def main(args: Array[String]): Unit = {
    val csv = if (args.nonEmpty) args(0) else SessionizedCsvReader.GoldenCsv
    val spark = graft.Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val analyses = Seq(
      ("Acceleration [g]", "acceleration_g", false),
      ("Pitch [deg]", "pitch_deg", false),
      ("Roll [deg]", "roll_deg", false),
      ("Jerk", "acceleration_g", true))
    // parse the log once; the four analyses share the cached samples
    val samples = graft.sources.SessionizedCsvReader.read(spark, csv).cache()
    try {
      analyses.foreach { case (title, measure, deriv) =>
        val (_, summary, welch) =
          OfflineAnalytics.analyze(samples, measure, derivative = deriv)
        println(s"=== $title ===")
        summary.select("arm", "runs", "avg_rms", "avg_min", "avg_max")
          .show(truncate = false)
        welch.foreach(w =>
          println(f"  ${w.stat}%-4s t=${w.t}%.5f  p=${w.p}%.5e"))
      }
    } finally samples.unpersist()
    spark.stop()
  }
}
