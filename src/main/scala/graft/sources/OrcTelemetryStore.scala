package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical columnar storage for parsed telemetry (SURVEY §1.3,
  * BASELINE.json spark_approach: "DataFrame read/write ORC with
  * built-in support").
  *
  * Layout: ORC partitioned by (actuators_enabled, log_id) — the two
  * columns every reference analysis groups or filters on — so
  * partition pruning eliminates whole directories before any IO. At
  * fleet scale this is the table a 1000-executor job reads: predicate
  * pushdown + column pruning come from the vectorized ORC reader.
  * The write does not shuffle: each task writes one file per (arm,
  * log) directory it holds rows of, sorted by (file, run_id,
  * sample_idx). The reader emits each input log whole in one task, so
  * one task per input log gives one sorted file per (arm, log)
  * directory and log, and replay needs no extra sort when a single
  * task owns a (log, run) slice.
  */
object OrcTelemetryStore {

  def write(samples: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    samples
      // Leading sort on the partition columns: FileFormatWriter requires
      // output sorted by partitionBy columns and would otherwise insert
      // its own (not-necessarily-stable) sort, destroying the run order.
      // `file` keeps two logs that share a log id apart in one task.
      .sortWithinPartitions(col("actuators_enabled"), col("log_id"),
        col("file"), col("run_id"), col("sample_idx"))
      .write
      .mode(mode)
      .partitionBy("actuators_enabled", "log_id")
      .orc(path)

  /** The canonical samples table, partition columns last; inferring the
    * schema would read `actuators_enabled` as a string. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(SessionizedCsvReader.schema).orc(path)

  /** Convert a raw in-band-header CSV log into the ORC table in one
    * pass (the reference's offline "ingest" step, minus the in-band
    * headers which become partition/metadata columns). */
  def ingestCsv(spark: SparkSession, csvPath: String, orcPath: String): Unit =
    write(SessionizedCsvReader.read(spark, csvPath), orcPath)
}
