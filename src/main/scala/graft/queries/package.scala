package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, lit, round}

import graft.core.Tables

/** Helpers shared by every query module: the query-function type, the
  * query declaration, the table loader and the house integer pins with
  * their DuckDB mirrors. */
package object queries {
  private[queries] type Q = (SparkSession, String) => DataFrame

  /** One declared query: its name, its DataFrame builder over a testdata
    * dir, and the DuckDB SQL that is its correctness oracle (column names
    * must match the builder's output exactly). Each module lists its
    * queries once, as `val queries: Seq[Query]` at the end of the object,
    * after every val an entry reads. */
  final case class Query(name: String, build: Q, oracle: String)

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Micro-unit pin for integer-ratio fraction outputs: round(x*1e6)
    * as BIGINT instead of round(x, 6) as double. Integer outputs hash
    * identically in every engine/representation, where 6dp-rounded
    * doubles proved divergence-prone in the oracle hash compare (r2 q55:
    * hash fail on a double-representation edge that bit-equal local
    * parity could not reproduce). Integer-scale rounding is robust:
    * at 1e5 magnitudes a .5 tie is exactly representable, so both
    * engines' half-up agree. [[sqlE6]] is the DuckDB mirror. */
  private[queries] def e6(c: Column): Column = round(c * lit(1e6), 0).cast("long")

  private[queries] def sqlE6(expr: String): String =
    s"CAST(ROUND(($expr) * 1e6, 0) AS BIGINT)"

  /** Exact event-value cents (the house integer pin for `value`). */
  private[queries] def cents: Column = expr("CAST(ROUND(value * 100) AS BIGINT)")

  /** First 8 hex digits of md5(corpus dir): keys a store path by
    * corpus, so runs against different scale factors never share a
    * store. */
  private[queries] def corpusKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString

  private val scratchStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Scratch store path for a query that writes, appends to or
    * compacts its own store: keyed by corpus AND by process id, so
    * two runs — on different scale factors, or side by side on the
    * same corpus — never interleave on one directory. The directory
    * is deleted when the JVM exits. */
  private[queries] def tmpStorePath(tag: String, dir: String): String = {
    val pid = ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/$tag-${corpusKey(dir)}-$pid"
    if (scratchStores.add(path))
      sys.addShutdownHook(
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)))
    path
  }

  /** Total ordering for a BOUNDED final result (every oracle query's
    * last step). `orderBy` plans a range-partitioned sort whose bounds
    * come from a driver-side sampling pass that RE-EXECUTES the whole
    * upstream pipeline — measured ~2x wall clock on the LSH dedup
    * queries. For an oracle-shaped output (hundreds-to-thousands of
    * rows) a single-partition in-partition sort is strictly cheaper:
    * one shuffle of just the final rows, no sampling pass, identical
    * row order. Upstream parallelism is untouched (repartition is a
    * shuffle boundary, unlike a narrow coalesce, which would collapse
    * the final stage to one task). Unbounded results must keep
    * `orderBy`'s scalable range sort — this helper is only for
    * outputs that already fit one oracle comparison. */
  implicit class TotalOrder(private val df: DataFrame) {
    def ordered(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }
}
