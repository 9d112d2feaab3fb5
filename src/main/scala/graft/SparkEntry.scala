package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{NorthStar, Query, RoundEleven, RoundNine, RoundTen, TierA}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names to DataFrame builders over a testdata
  * dir; `oracleSql` carries the DuckDB-equivalent SQL the driver uses
  * as the correctness oracle (column names must match exactly).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Revenue by nation — multi-way join with broadcast dims
    * plus partial+final aggregation (SURVEY §2.9 Q13). */
  def entry(spark: SparkSession): DataFrame =
    queries("q13_join_agg")(spark, "/root/testdata/sf0.001")

  /** Every declared query, each name once: one entry per implemented
    * operator from SURVEY.md §2, plus the north-star
    * training-data-pipeline ops (dedup / similarity / text /
    * multimodal). Fails on first use if a name is declared twice. */
  lazy val registry: Seq[Query] = {
    val all = TierA.queries ++ NorthStar.queries ++ RoundNine.queries ++
      RoundTen.queries ++ RoundEleven.queries
    val repeated = all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** The queries whose name contains any entry of the comma-separated
    * `filter` (`SPARK_GRAFT_ONLY`, or `ExplainDump`'s names argument).
    * Every name starts with `qNNN_`, so "q16_" selects q16 alone while
    * "q16" also selects q160-q169. An absent or blank filter falls back
    * to the `default` entries, and with none of those selects every
    * query. */
  def selectQueries(filter: Option[String], default: Seq[String] = Nil)
      : Map[String, (SparkSession, String) => DataFrame] = {
    val given = filter.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val subs = if (given.nonEmpty) given else default
    if (subs.isEmpty) queries
    else queries.filter { case (name, _) => subs.exists(name.contains) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
