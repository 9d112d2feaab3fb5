package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (one JSON object per line) corpus source/sink — the common
  * interchange format for web-scale text corpora arriving at a
  * training-data pipeline.
  *
  * Read rules for 100 TB:
  *  - ALWAYS an explicit schema. Schema inference is a full extra pass
  *    over the data before the real one — never acceptable at scale,
  *    and it can silently widen types between dumps.
  *  - PERMISSIVE parsing with the corrupt record captured per row: one
  *    mangled line must not kill a 1000-executor ingest. Bad lines are
  *    quarantinable via [[corrupt]] and countable via [[corruptCount]];
  *    good rows flow through [[readClean]].
  *
  * JSONL is line-delimited, so Spark splits files at arbitrary byte
  * offsets and parallelizes a single huge file for free (unlike the
  * in-band-header CSV logs, which [[SessionizedCsvReader]] reads one
  * whole file per task).
  */
object JsonlDocStore {

  /** The document corpus schema (matches the `documents` table). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val CorruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(CorruptCol, StringType))

  def write(df: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Raw read: `schema` columns plus the `_corrupt` column holding the
    * original line for rows that failed to parse. */
  def read(spark: SparkSession, path: String,
           schema: StructType = docSchema): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Parsed rows only, corrupt column dropped. Caveat: a bare
    * `.count()` on this prunes the scan down to the corrupt column
    * alone, which Spark rejects (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    * count via `.rdd.count()` or after selecting data columns. */
  def readClean(spark: SparkSession, path: String,
                schema: StructType = docSchema): DataFrame =
    read(spark, path, schema)
      .filter(col(CorruptCol).isNull)
      .drop(CorruptCol)

  /** The quarantine stream: original text of every unparseable line.
    * Filters on the RDD side because Spark disallows SQL queries that
    * prune a JSON scan down to ONLY the internal corrupt-record column
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); going
    * through `df.rdd` first keeps the full row in the scan. */
  def corrupt(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idx = df.schema.fieldIndex(CorruptCol)
    df.rdd.filter(r => !r.isNullAt(idx))
      .map(_.getString(idx)).toDF("line")
  }

  /** Count of unparseable lines (RDD-side for the same reason). */
  def corruptCount(df: DataFrame): Long = {
    val idx = df.schema.fieldIndex(CorruptCol)
    df.rdd.filter(r => !r.isNullAt(idx)).count()
  }
}
