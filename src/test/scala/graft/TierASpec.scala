package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tier-A query smoke + pinned-value checks on sf0.001. Expected values
  * computed independently with DuckDB over the same parquet (see
  * tools/parity.py for the full 20-query oracle compare at sf0.01). */
class TierASpec extends AnyFunSuite with SparkTestBase {
  private val dir = sf("sf0.001")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle and runs at sf0.001") {
    // Each Query entry carries its name, builder and oracle together,
    // so no name can lack an oracle. What the registry must still pin:
    // every name declared once (a repeated one fails `registry` itself),
    // every name `qNNN_<words>` with its own number (`selectQueries`
    // relies on "q16_" selecting q16 alone), and no null or blank
    // oracle or builder (null is what an entry placed before the val it
    // reads sees).
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 479 && names.distinct.size == 479,
      s"${names.size} entries, ${names.distinct.size} distinct names")
    val malformed = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"malformed query names: $malformed")
    val numbers = names.map(_.drop(1).takeWhile(_.isDigit).toInt)
    assert(numbers.distinct.size == numbers.size,
      s"query numbers declared twice: ${numbers.diff(numbers.distinct)}")
    val unset = SparkEntry.registry
      .filter(q => q.build == null || q.oracle == null || q.oracle.trim.isEmpty)
      .map(_.name)
    assert(unset.isEmpty, s"queries without builder or oracle SQL: $unset")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("q01 grouped stats matches pinned DuckDB values") {
    val rows = SparkEntry.queries("q01_grouped_stats")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(5)))
    val expected = Seq(
      ("A", "F", 29.417282, 510L), ("A", "O", 28.481185, 534L),
      ("N", "F", 29.771945, 594L), ("N", "O", 28.892368, 528L),
      ("R", "F", 28.715961, 531L), ("R", "O", 28.975891, 528L))
    assert(rows.toSeq == expected)
  }

  test("q13 join-agg matches pinned DuckDB values") {
    val top = SparkEntry.queries("q13_join_agg")(spark, dir)
      .limit(2).collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(top.toSeq == Seq(
      ("NATION_19", 25213145.5655), ("NATION_11", 24784590.5773)))
  }

  test("HLL++ approx distinct stays within the requested error bound") {
    // q39 declares the deterministic KMV sketch (oracle-checkable);
    // the engine-specific HLL++ path keeps its error-bound contract here
    val rows = graft.core.Tables.load(spark, sf("sf0.01"), "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("u_approx"),
        countDistinct(col("user_id")).as("u_exact"))
      .orderBy(col("event_type"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) <= math.max(2.0, 0.1 * exact),
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("q39 KMV estimate stays within 10% of exact and is deterministic") {
    val rows = SparkEntry.queries("q39_approx_distinct")(spark, sf("sf0.01"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getLong(2) / 1e4
      assert(math.abs(est - exact) <= math.max(2.0, 0.1 * exact),
        s"${r.getString(0)}: est=$est exact=$exact")
    }
  }

  test("q20 distinct count matches pinned DuckDB values") {
    val rows = SparkEntry.queries("q20_distinct_count")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("click", 15L), ("error", 15L),
      ("purchase", 15L), ("signup", 15L), ("view", 15L)))
  }
}
