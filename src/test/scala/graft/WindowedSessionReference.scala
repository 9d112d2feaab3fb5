package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulation of [[graft.sources.SessionizedCsvReader.read]]
  * for the reader specs: the in-band header grammar as header
  * *propagation* in SQL. Each line is classified, the latest header
  * values are carried forward with
  * `last(_, ignoreNulls).over(rowsBetween(unboundedPreceding, 0))` per
  * file in line order, a running count of run-opener lines gives the
  * run id, and `row_number` per (file, arm, run) gives the sample index.
  * It costs two shuffles and two sorts per read, which is why the
  * reader itself walks each file once instead; the two must agree row
  * for row on every input.
  */
object WindowedSessionReference {

  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path).toDF("line")
      .select(
        input_file_name().as("file"),
        monotonically_increasing_id().as("line_no"),
        col("line"))

    val classified = lines.select(
      col("file"), col("line_no"), col("line"),
      col("line").startsWith("Log #").as("is_hdr"),
      col("line").contains("Actuators").as("is_arm"),
      col("line").startsWith("Interval:").as("is_interval"),
      col("line").startsWith("Log Paused").as("is_pause"))

    val byLine = Window.partitionBy(col("file")).orderBy(col("line_no"))
    val locf = byLine.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // try_cast on header values too: a malformed header line (e.g.
    // "Log # 42" with no colon, or "Interval:abc") is skipped and LOCF
    // carries the previous valid value forward.
    val propagated = classified
      .withColumn("log_id",
        last(when(col("is_hdr"), expr(
          "try_cast(regexp_extract(line, 'Log #:\\\\s*(\\\\d+)', 1) as int)")),
          ignoreNulls = true).over(locf))
      .withColumn("arm",
        last(when(col("is_arm"), trim(col("line"))), ignoreNulls = true)
          .over(locf))
      .withColumn("interval_s",
        last(when(col("is_interval"), expr(
          "try_cast(trim(element_at(split(line, ':'), 2)) as double)")),
          ignoreNulls = true).over(locf))
      .withColumn("run_id",
        sum(when(col("is_interval") || col("is_pause"), 1L).otherwise(0L))
          .over(locf))

    // Data rows: exactly 3 fields, all parseable as floats, and headers
    // already seen (main.py:47-49); the in-band column-header line fails
    // the try_cast and is dropped.
    val fields = split(col("line"), ",")
    def fieldAsDouble(i: Int) =
      expr(s"try_cast(trim(element_at(split(line, ','), $i)) as double)")
    val dataRows = propagated
      .filter(size(fields) === 3 &&
        col("log_id").isNotNull && col("arm").isNotNull)
      .withColumn("acceleration_g", fieldAsDouble(1))
      .withColumn("pitch_deg", fieldAsDouble(2))
      .withColumn("roll_deg", fieldAsDouble(3))
      .filter(col("acceleration_g").isNotNull &&
        col("pitch_deg").isNotNull && col("roll_deg").isNotNull)

    val byRun = Window.partitionBy(col("file"), col("arm"), col("run_id"))
      .orderBy(col("line_no"))

    dataRows
      .withColumn("sample_idx", row_number().over(byRun) - 1)
      .withColumn("t_s", col("sample_idx") * col("interval_s"))
      .withColumn("actuators_enabled", !col("arm").contains("disabled"))
      .select("file", "log_id", "arm", "actuators_enabled", "interval_s",
        "run_id", "sample_idx", "t_s",
        "acceleration_g", "pitch_deg", "roll_deg")
  }
}
