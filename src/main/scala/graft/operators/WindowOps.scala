package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Frame-based sequential operators (SURVEY §2.4). All are pure window
  * expressions — they shuffle once on the partition key and then run
  * inside a single sort-based window stage, so they scale linearly with
  * rows per key and never collect to the driver.
  */
object WindowOps {

  /** W2: numpy-style central-difference gradient with one-sided edges,
    * unit spacing (Python Plotting/main.py:99-100 — the reference does
    * NOT divide by the sample interval; reproduce as-is).
    * `w` must be an ordered WindowSpec (no frame). */
  def gradient(value: Column, w: WindowSpec): Column =
    coalesce(
      (lead(value, 1).over(w) - lag(value, 1).over(w)) / 2.0,
      value - lag(value, 1).over(w),
      lead(value, 1).over(w) - value)

  /** W3: last-observation-carried-forward over an ordered window
    * (ORC_Main.c:239-252 reuses the previous accepted sensor value). */
  def locf(value: Column, w: WindowSpec): Column =
    last(value, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W4: 0-based positional index within a run (main.py:51-54). */
  def runIndex(w: WindowSpec): Column = row_number().over(w) - 1

  /** W1 (interior rows): exact sliding median over a centered row frame
    * of `k` rows (k odd). Edge frames are truncated, NOT zero-padded —
    * `OfflineAnalytics.runStats` has the scipy.signal.medfilt filter
    * (main.py:69-70). Backed by the custom
    * [[graft.functions.ExactMedian]] TypedImperativeAggregate
    * (interpolating, matching SQL MEDIAN): a plain double buffer beats
    * `percentile`'s value-count map for the tiny per-frame rebuilds the
    * window operator does. */
  def medianExact(value: Column, w: WindowSpec, k: Int): Column = {
    require(k % 2 == 1, s"median filter kernel must be odd, got $k")
    val half = k / 2
    graft.functions.ExactMedian.exactMedian(value)
      .over(w.rowsBetween(-half, half))
  }

  /** Batch gap sessionization: a new session starts when the time since
    * the same key's previous event exceeds `gap` (same units as
    * `tsCol`). Adds `session_seq`, the 1-based running session index
    * per key. One hash shuffle on the key + one sort — both window
    * passes share the same (key, order) spec, so the two Window
    * operators (different frames) reuse a single exchange + sort; at
    * 100 TB this is the canonical sessionize shape (no self-join, no
    * collect). `orderCols` must make the
    * per-key order TOTAL (tiebreak duplicate timestamps) or the
    * running sum is nondeterministic. The streaming twin is
    * `StreamingPipelines.gapSessions` (session_window + watermark). */
  def gapSessionize(df: DataFrame, keyCols: Seq[String],
                    orderCols: Seq[String], tsCol: String,
                    gap: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isStart = when(prev.isNull || col(tsCol) - prev > gap, 1)
      .otherwise(0)
    df.withColumn("session_seq",
      sum(isStart).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Linear resampling of an irregular per-key series onto the regular
    * `step`-spaced grid spanning [min ts, max ts] of each key — the
    * sensor-fusion preprocessing step for telemetry at mixed rates.
    *
    * Same scale shape as the as-of join: grid points and samples UNION
    * into one stream, ONE (key)-partitioned ordered window carries the
    * bracketing sample both directions (samples sort before a grid
    * point at the same ts, so an exact hit resolves to the sample's
    * own value — the interpolation term is exactly 0), and the grid
    * itself comes from a per-key min/max aggregate + `sequence`. All
    * time arithmetic is integral (`div`; epoch nanos exceed the double
    * mantissa); only the final interpolation ratio is a double, of two
    * exact small integers. Duplicate (key, ts) samples collapse to
    * their min value first (deterministic under any row order).
    *
    * Output: keyCol, ts (grid point), value (interpolated). */
  def resampleLinear(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, step: Long): DataFrame = {
    val samples = df
      .groupBy(col(keyCol).as("k"), col(tsCol).cast("long").as("ts"))
      .agg(min(col(valueCol)).as("v"))
    // ceil/floor to the grid via pmod (always nonnegative) — `div`
    // truncates toward zero, which misplaces the grid for negative
    // (pre-epoch) timestamps
    val grid = samples.groupBy(col("k"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .withColumn("gs", col("mn") + pmod(lit(0L) - col("mn"), lit(step)))
      .withColumn("ge", col("mx") - pmod(col("mx"), lit(step)))
      .filter(col("gs") <= col("ge"))
      .select(col("k"),
        explode(sequence(col("gs"), col("ge"), lit(step))).as("ts"))
    val unioned = samples
      .select(col("k"), col("ts"), col("v"), lit(1).as("is_sample"))
      .unionByName(grid.select(col("k"), col("ts"),
        lit(null).cast(samples.schema("v").dataType).as("v"),
        lit(0).as("is_sample")))
    // Both directions as RUNNING frames (O(n)): Spark evaluates an
    // unbounded-FOLLOWING frame by recomputing from scratch per row —
    // O(n^2), measured 49 s on 1M events. The forward pass instead
    // runs the same running last() over the REVERSED order; at equal
    // ts the ascending order puts samples first (exact hits bind
    // backward) and the descending order puts grid rows first (the
    // same-ts sample stays out of the forward frame) — together:
    // strictly-later samples only.
    val back = Window.partitionBy(col("k"))
      .orderBy(col("ts"), col("is_sample").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("k"))
      .orderBy(col("ts").desc, col("is_sample"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a sample whose value is null marks NO bracket endpoint — else t1
    // could come from the null-valued sample while v1 carries an older
    // value (mismatched pair)
    val sampleTs = when(col("is_sample") === 1 && col("v").isNotNull,
      col("ts"))
    unioned
      .withColumn("t1", last(sampleTs, ignoreNulls = true).over(back))
      .withColumn("v1", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("t2", last(sampleTs, ignoreNulls = true).over(fwd))
      .withColumn("v2", last(col("v"), ignoreNulls = true).over(fwd))
      .filter(col("is_sample") === 0)
      .withColumn("value",
        when(col("t2").isNull, col("v1")).otherwise(
          col("v1") + (col("v2") - col("v1")) *
            ((col("ts") - col("t1")).cast("double") /
              (col("t2") - col("t1")).cast("double"))))
      .select(col("k").as(keyCol), col("ts"), col("value"))
  }

  /** Trailing-window z-score — the streaming/batch anomaly-detection
    * primitive for monitoring series (ingest rates, per-source
    * volumes, metric counts): each row is scored against the mean and
    * sample stddev of its `lookback` PRECEDING rows only (the row
    * itself excluded, so a spike cannot mask itself). Rows without
    * at least two trailing samples get a NULL z.
    *
    * One hash shuffle on the keys; both frame aggregates share the
    * (key, order) sort. Bounded trailing frames cost O(lookback) per
    * row — never the unbounded-following trap (see resampleLinear's
    * note). Adds columns trail_avg, trail_std, z. */
  def trailingZScore(df: DataFrame, keyCols: Seq[String], orderCol: String,
                     valueCol: String, lookback: Int): DataFrame = {
    require(lookback >= 2, s"need lookback >= 2, got $lookback")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(-lookback, -1)
    df.withColumn("trail_avg", avg(col(valueCol)).over(w))
      .withColumn("trail_std", stddev_samp(col(valueCol)).over(w))
      // guard the zero-variance window (constant trailing counts):
      // ANSI mode would otherwise throw DIVIDE_BY_ZERO
      .withColumn("z",
        when(col("trail_std") > 0,
          (col(valueCol) - col("trail_avg")) / col("trail_std")))
  }

  /** Completed revolutions per run from a WRAPPED heading series —
    * the "Corner Completed Revolutions" metric of the reference's
    * result summary (ORC Result Summary.pdf: 30.9 vs 5.5 average,
    * one-sided p 0.0166). The firmware logs heading wrapped to
    * (-180, 180] (Fusion AHRS yaw / compass output, see
    * state/Ahrs.scala M10 and GyroOffset M14); the field tally is the
    * NET angle swept: unwrap each step by snapping the raw delta to
    * its nearest-revolution branch (delta - 360*round(delta/360) —
    * exact while true per-sample motion stays under 180 deg, i.e.
    * any plausible sample rate), sum per run, divide by 360.
    *
    * One window (the same (group, order) sort every W-family op
    * shares) + one aggregate. Output: groupCols, n, net_deg,
    * revolutions = |net_deg| / 360 (direction-agnostic, like the
    * tally). */
  def yawRevolutions(df: DataFrame, groupCols: Seq[String],
                     orderCol: String, yawCol: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol))
    val d = col(yawCol) - lag(col(yawCol), 1).over(w)
    val wrapped = d - lit(360.0) * round(d / lit(360.0))
    df.withColumn("__wd",
        when(lag(col(yawCol), 1).over(w).isNull, lit(0.0))
          .otherwise(wrapped))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("__wd")).as("net_deg"))
      .withColumn("revolutions", abs(col("net_deg")) / lit(360.0))
  }
}
