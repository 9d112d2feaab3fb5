package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.operators.{StatsOps, WindowOps}

/** Reference formulation of [[graft.pipelines.OfflineAnalytics]]'s
  * per-run stats and arm summary for the analysis specs, in SQL window
  * and aggregate expressions: the zero-padded median filter as a
  * `collect_list` frame padded with zeros and sorted, the gradient as
  * `lead`/`lag`, then `rms`/`min`/`max`/`count` per run and
  * `avg`/`var_samp` per arm. It costs a window stage per analysis and a
  * sorted summary, which is why the program reduces each run in one
  * sequential pass and derives the summary on the driver instead; the
  * two must agree on every input.
  */
object WindowedAnalysisReference {

  /** scipy zero-pad edge semantics: medfilt conceptually pads k/2 zeros
    * at both ends of each run. On a truncated frame that is the exact
    * k-element median of `frame ++ zeros`. `collect_list` drops a null
    * measure and the padding refills it, so a null enters as 0.0. */
  def medianFilterZeroPadded(value: Column, w: WindowSpec, k: Int): Column = {
    require(k % 2 == 1, s"median filter kernel must be odd, got $k")
    val half = k / 2
    val frame = collect_list(value).over(w.rowsBetween(-half, half))
    // pad with zeros up to k elements, sort, take middle element (k odd)
    val padded = concat(
      frame,
      slice(array_repeat(lit(0.0), k), lit(1), lit(k) - size(frame)))
    element_at(array_sort(padded), half + 1)
  }

  /** Adds `v`: the measure median-filtered per (file, arm, run) in
    * sample order, and optionally differentiated. */
  def filteredValues(samples: DataFrame, measure: String,
                     derivative: Boolean, kernel: Int = 15): DataFrame = {
    val w = Window.partitionBy(col("file"), col("arm"), col("run_id"))
      .orderBy(col("sample_idx"))
    val filtered = samples.withColumn("filtered",
      medianFilterZeroPadded(col(measure), w, kernel))
    if (derivative)
      filtered.withColumn("v", WindowOps.gradient(col("filtered"), w))
    else filtered.withColumn("v", col("filtered"))
  }

  /** file, arm, run_id, rms, min, max, n per run. */
  def runStats(samples: DataFrame, measure: String,
               derivative: Boolean = false): DataFrame =
    filteredValues(samples, measure, derivative)
      .groupBy(col("file"), col("arm"), col("run_id"))
      .agg(
        StatsOps.rms(col("v")).as("rms"),
        min(col("v")).as("min"),
        max(col("v")).as("max"),
        count(lit(1)).as("n"))

  /** arm, first_run, runs, avg_*, var_* per arm, in first-seen order
    * with the arm string as tiebreak. */
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
}
