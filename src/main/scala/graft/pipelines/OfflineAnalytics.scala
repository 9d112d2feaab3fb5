package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{SpecialFns, StatsOps, WindowOps}
import graft.sources.SessionizedCsvReader

/** The reference's offline batch analytics (SURVEY §3.1,
  * Python Plotting/main.py): per (arm, run) median-filter the measure,
  * optionally take the numeric derivative (jerk), aggregate RMS/min/max
  * per run, average per arm, and Welch-t-test the per-run stat
  * populations between the two arms.
  *
  * Distributed shape: one shuffle on (arm, run_id) feeds both window
  * stages (medfilt + gradient reuse the same sort), then the stats agg
  * is partial+final. The t-test runs on the 2-row arm summary — O(1)
  * driver work, like the reference.
  */
object OfflineAnalytics {

  /** One-sided alternatives used by the reference (main.py:113-115):
    * RMS and MAX expect "enabled" smaller (`less`), MIN expects
    * "enabled" greater (closer to zero from below). */
  val Alternatives: Map[String, String] =
    Map("rms" -> "less", "min" -> "greater", "max" -> "less")

  /** Per-(arm, run) RMS/min/max of the median-filtered (and optionally
    * differentiated) measure. Output: arm, run_id, rms, min, max, n. */
  def runStats(samples: DataFrame, measure: String,
               derivative: Boolean = false, kernel: Int = 15): DataFrame = {
    val valued = filteredValues(samples, measure, derivative, kernel)
    // group by file too: run_id restarts per file, so runs from
    // different log files must never pool into one group
    valued.groupBy(col("file"), col("arm"), col("run_id"))
      .agg(
        StatsOps.rms(col("v")).as("rms"),
        min(col("v")).as("min"),
        max(col("v")).as("max"),
        count(lit(1)).as("n"))
  }

  /** Adds `v`: the measure median-filtered per (file, arm, run) in
    * sample order (medfilt, zero-padded), and optionally differentiated
    * (numpy gradient). Adds the intermediate `filtered` column too. */
  private def filteredValues(samples: DataFrame, measure: String,
                             derivative: Boolean, kernel: Int): DataFrame = {
    val w = Window.partitionBy(col("file"), col("arm"), col("run_id"))
      .orderBy(col("sample_idx"))
    val filtered = samples.withColumn("filtered",
      WindowOps.medianFilterZeroPadded(col(measure), w, kernel))
    if (derivative)
      filtered.withColumn("v", WindowOps.gradient(col("filtered"), w))
    else filtered.withColumn("v", col("filtered"))
  }

  /** Per-arm averages of the per-run stats (main.py:112), plus the
    * moments needed for the Welch test and the arm's first-seen order
    * (reference pairs populations by dict insertion order =
    * first occurrence in the file, main.py:109-113). The arm string is
    * a deterministic tiebreak: with multiple files both arms can have
    * first_run = 1, and a nondeterministic order would flip the
    * one-sided t sign between runs. */
  def armSummary(runStats: DataFrame): DataFrame =
    runStats.groupBy(col("arm"))
      .agg(
        min(col("run_id")).as("first_run"),
        count(lit(1)).as("runs"),
        avg(col("rms")).as("avg_rms"),
        avg(col("min")).as("avg_min"),
        avg(col("max")).as("avg_max"),
        var_samp(col("rms")).as("var_rms"),
        var_samp(col("min")).as("var_min"),
        var_samp(col("max")).as("var_max"))
      .orderBy(col("first_run"), col("arm"))

  final case class WelchResult(stat: String, t: Double, p: Double)

  /** Welch one-sided t-tests between the first-seen and second-seen
    * arm for each of rms/min/max (main.py:113-115). The input is the
    * tiny 2-row arm summary; computing t and p on the driver mirrors
    * the reference and keeps the special functions out of the plan. */
  def welchTests(summary: DataFrame): Seq[WelchResult] = {
    val rows = summary.collect()
    require(rows.length == 2,
      s"welchTests expects exactly 2 arms, got ${rows.length}")
    val Seq(a, b) = rows.toSeq
    // null-safe: a single-run arm has null var_samp -> NaN stats,
    // matching scipy's ttest_ind rather than crashing
    def field(r: org.apache.spark.sql.Row, name: String): Double =
      r.getAs[Any](name) match {
        case d: Double => d
        case l: Long => l.toDouble
        case null => Double.NaN
      }
    Seq("rms", "min", "max").map { stat =>
      val (t, _, p) = SpecialFns.welch(
        field(a, s"avg_$stat"), field(a, s"var_$stat"), field(a, "runs"),
        field(b, s"avg_$stat"), field(b, s"var_$stat"), field(b, "runs"),
        Alternatives(stat))
      WelchResult(stat, t, p)
    }
  }

  /** Full analysis of one measure over an already-parsed samples
    * table. Caller owns samples caching; runStats is tiny (one row per
    * run) so it needs none. */
  def analyze(samples: DataFrame, measure: String,
              derivative: Boolean = false)
      : (DataFrame, DataFrame, Seq[WelchResult]) = {
    val rs = runStats(samples, measure, derivative)
    val summary = armSummary(rs)
    (rs.orderBy(col("arm"), col("run_id")), summary, welchTests(summary))
  }

  /** Convenience: parse + analyze one measure. For several measures
    * over the same log, parse once and call [[analyze]] per measure
    * (see OfflineAnalyticsMain). */
  def replay(spark: SparkSession, csvPath: String, measure: String,
             derivative: Boolean = false)
      : (DataFrame, DataFrame, Seq[WelchResult]) =
    analyze(SessionizedCsvReader.read(spark, csvPath), measure, derivative)

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
    * only O(samples) part; everything else is run-count-sized. */
  def plotArtifact(samples: DataFrame, measure: String,
                   derivative: Boolean = false, kernel: Int = 15,
                   plottedRank: Int = 3): DataFrame = {
    val spark = samples.sparkSession
    val valued = filteredValues(samples, measure, derivative, kernel)
    // the arm's plottedRank-th run in file order (dense: all samples
    // of one run share one rank)
    val series = valued.withColumn("__rk", dense_rank().over(
        Window.partitionBy(col("arm")).orderBy(col("file"), col("run_id"))))
      .filter(col("__rk") === plottedRank)
      .select(lit("series").as("element"), col("arm"),
        col("run_id").cast("long").as("run_id"),
        lit(null).cast("string").as("stat"),
        col("sample_idx").cast("long").as("sample_idx"),
        col("t_s").cast("double").as("time_s"), col("v").as("value"))
    val rs = runStats(samples, measure, derivative, kernel)
    val runRows = rs.selectExpr("arm", "CAST(run_id AS LONG) AS run_id",
        "stack(3, 'rms', rms, 'min', min, 'max', max) AS (stat, value)")
      .select(lit("run_stat").as("element"), col("arm"), col("run_id"),
        col("stat"), lit(null).cast("long").as("sample_idx"),
        lit(null).cast("double").as("time_s"), col("value"))
    val summary = armSummary(rs)
    val armRows = summary.selectExpr("arm",
        "stack(3, 'rms', avg_rms, 'min', avg_min, 'max', avg_max) AS (stat, value)")
      .select(lit("arm_avg").as("element"), col("arm"),
        lit(null).cast("long").as("run_id"), col("stat"),
        lit(null).cast("long").as("sample_idx"),
        lit(null).cast("double").as("time_s"), col("value"))
    import spark.implicits._
    val tRows = welchTests(summary)
      .flatMap(r => Seq((s"${r.stat}_t", r.t), (s"${r.stat}_p", r.p)))
      .toDF("stat", "value")
      .select(lit("t_test").as("element"),
        lit(null).cast("string").as("arm"),
        lit(null).cast("long").as("run_id"), col("stat"),
        lit(null).cast("long").as("sample_idx"),
        lit(null).cast("double").as("time_s"), col("value"))
    series.unionByName(runRows).unionByName(armRows).unionByName(tRows)
  }
}

/** Command-line golden replay: runs the four reference analyses
  * (acceleration / pitch / roll / jerk) over the checked-in golden CSV
  * and prints per-arm means + Welch tests — the numbers published in
  * the reference's result summary (BASELINE.md, Vibration HS column). */
object OfflineAnalyticsMain {
  def main(args: Array[String]): Unit = {
    val csv = if (args.nonEmpty) args(0) else SessionizedCsvReader.GoldenCsv
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-offline-analytics")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
