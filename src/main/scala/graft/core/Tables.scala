package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata tables
  * (see /root/repo/TESTDATA.md). All engine queries take an `sfDir`
  * (e.g. /root/testdata/sf0.01) and read `$sfDir/<table>.parquet`.
  *
  * At cluster scale these would be catalog tables (partitioned /
  * bucketed); here the parquet reader gives vectorized scans with
  * predicate pushdown + column pruning for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session config required to read the driver's nanosecond-precision
    * parquet timestamps (events.ts is TIMESTAMP(NANOS), which Spark only
    * reads as a long when this legacy flag is on). */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    name match {
      case "events"     => normalizeEventTs(df)
      case "documents"  => normalizeDocuments(df)
      case "embeddings" => normalizeEmbeddings(df)
      case _            => df
    }
  }

  /** Normalizes `events.ts` across the parquet writer variants seen in
    * the wild (the driver has regenerated testdata with different ones):
    *   - TIMESTAMP(NANOS)      → read as epoch-nano LONG under
    *     [[NanosAsLongKey]];
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true)  → TIMESTAMP (LTZ).
    * All three normalize to the same pair: `ts` as micro-precision
    * TimestampType (for SQL/oracle parity) plus `ts_ns` as epoch nanos
    * so window orderings can match a nanosecond-native oracle
    * bit-for-bit. Sessions pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is value-preserving. */
  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        // integral division: `/` on longs is double division in Spark and
        // a ~1.7e18 nanos value exceeds the double mantissa (2^53), which
        // can shift the derived micro timestamp by 1 us
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType =>
        // unix_micros rejects NTZ input; cast first (UTC session ⇒ same
        // instant), and re-expose ts as plain TimestampType so every
        // downstream query sees one schema regardless of writer variant.
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case TimestampType =>
        df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet timestamp physical type $other")
    }
  }

  /** The same driver-regeneration hazard as events.ts, for the other two
    * tables it rewrites (r4 verdict item 8): pyarrow can emit
    * `embeddings.embedding` as list<float>, list<double>, or
    * large_list<*>, and integer id/count columns as int32 instead of
    * int64. The engine's canonical schema is long ids, array<float>
    * embeddings, long counts — the codegen vector expressions and every
    * oracle assume it. Casts are applied only on drift, so the common
    * path keeps its scan plan (and pushdown) untouched;
    * DocEmbSchemaCanarySpec pins each variant against committed
    * fixtures so the next regeneration fails one loud spec instead of
    * dozens of queries. */
  private def normalizeDocuments(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    Seq("doc_id", "n_chars").foldLeft(df) { (d, c) =>
      if (d.columns.contains(c) && d.schema(c).dataType != LongType)
        d.withColumn(c, col(c).cast(LongType))
      else d
    }
  }

  private def normalizeEmbeddings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
    val idFixed =
      if (df.schema("vec_id").dataType != LongType)
        df.withColumn("vec_id", col("vec_id").cast(LongType))
      else df
    val canonical = ArrayType(FloatType, containsNull = true)
    val embFixed = idFixed.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => idFixed
      case _: ArrayType =>
        idFixed.withColumn("embedding", col("embedding").cast(canonical))
      case other => throw new IllegalArgumentException(
        s"embeddings.embedding: unsupported type $other")
    }
    if (embFixed.columns.contains("label") &&
        embFixed.schema("label").dataType != IntegerType)
      embFixed.withColumn("label", col("label").cast(IntegerType))
    else embFixed
  }
}
