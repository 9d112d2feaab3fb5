package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.ScaleOps

/** Physical-shape checks for the scale techniques: bucketed joins must
  * plan with no shuffle exchange; bloom-pruned joins must equal the
  * plain join; z-order keys must match a reference interleave. */
class ScaleOpsSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed co-located join plans without shuffle exchanges") {
    val dir = sf("sf0.001")
    ScaleOps.writeBucketed(
      Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice"),
      "li_bucketed", "l_orderkey")
    ScaleOps.writeBucketed(
      Tables.load(spark, dir, "orders")
        .select("o_orderkey", "o_totalprice"),
      "o_bucketed", "o_orderkey")
    try {
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("li_bucketed")
          .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$plan")
        // and it still computes the right thing
        val direct = Tables.load(spark, dir, "lineitem")
          .join(Tables.load(spark, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .count()
        assert(joined.count() == direct)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("bloom probe: zero false negatives, bounded false positives, " +
      "and the pruned join equals the plain join") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        pmod(col("o_custkey"), lit(10L)) === 0)
    val nBits = 1 << 17
    val words = ScaleOps.bloomBits(ord, "o_orderkey", nBits, 5)
    // no false negatives: every inserted key passes the probe
    val inserted = ord.select("o_orderkey").distinct()
    assert(inserted.filter(!ScaleOps.bloomProbe(words, col("o_orderkey"),
      nBits, 5)).count() == 0)
    // pruning actually happens on the big side, and keeps a superset
    // of the true matching rows
    val total = li.count()
    val kept = li.filter(ScaleOps.bloomProbe(words, col("l_orderkey"),
      nBits, 5)).count()
    val trueMatch = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(kept >= trueMatch, s"pruned below the true match count")
    assert(kept < total / 2,
      s"bloom should prune a ~2%-selective join hard: kept $kept of $total")
    // false-positive rate on keys that were never inserted stays far
    // under the (1-e^(-kn/m))^k envelope's order of magnitude
    val foreign = (1000000L to 1002000L).toDF("k")
    val fp = foreign.filter(ScaleOps.bloomProbe(words, col("k"),
      nBits, 5)).count()
    assert(fp <= 20, s"false-positive count $fp of 2001 foreign keys")
    // the pruned join is value-identical to the plain join
    val pruned = ScaleOps.bloomPrunedJoin(li, ord, "l_orderkey", "o_orderkey")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned == plain)
  }

  test("bloom aggregate path: pruned join equals plain join and the " +
      "plan probes a scalar-subquery sketch, not a literal bitset") {
    val dir = sf("sf0.001")
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "2-HIGH" &&
        pmod(col("o_custkey"), lit(7L)) === 0)
    val pruned = ScaleOps.bloomPrunedJoinAgg(li, ord,
      "l_orderkey", "o_orderkey",
      expectedKeys = 1L << 16, numBits = 1L << 20)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a might_contain probe:\n$plan")
    assert(plan.toLowerCase.contains("subquery"),
      s"expected the sketch to arrive via a scalar subquery:\n$plan")
    // the builder never collects a bitset: the filter side of the
    // probe is the subquery result, not a plan-embedded literal array
    assert(!plan.contains("element_at"),
      s"literal-array probe leaked into the aggregate path:\n$plan")
    val key = pruned
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(key == plain)
  }

  test("zorder key matches a reference Morton interleave and clamps " +
      "out-of-range values") {
    import spark.implicits._
    val bits = 4
    val ranges = Seq((0L, 15L), (10L, 41L), (-8L, 7L))
    // reference implementation, independent arithmetic (plain multiply
    // + integer divide), over cell boundaries and out-of-range probes
    def refCell(v: Long, mn: Long, mx: Long): Long = {
      val c = math.max(mn, math.min(mx, v))
      ((c - mn) * (1L << bits)) / (mx - mn + 1)
    }
    def refKey(x: Long, y: Long, z: Long): Long = {
      val cells = Seq(refCell(x, 0, 15), refCell(y, 10, 41),
        refCell(z, -8, 7))
      (0 until bits).flatMap(i => cells.zipWithIndex.map {
        case (c, d) => ((c >> i) & 1L) << (i * 3 + d)
      }).reduce(_ | _)
    }
    val probes = for {
      x <- Seq(-5L, 0L, 7L, 15L, 99L); y <- Seq(9L, 10L, 25L, 41L, 42L)
      z <- Seq(-9L, -8L, 0L, 7L, 8L)
    } yield (x, y, z)
    val df = probes.toDF("x", "y", "z")
    val got = df.select(col("x"), col("y"), col("z"),
        ScaleOps.zorderKey(Seq(col("x"), col("y"), col("z")), ranges, bits)
          .as("k"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toMap
    probes.foreach { case p @ (x, y, z) =>
      assert(got(p) == refKey(x, y, z), s"probe $p")
      assert(got(p) >= 0 && got(p) < (1L << (bits * 3)), s"range $p")
    }
  }

  test("zorder layout skips better than a single-column sort on the " +
      "non-leading dimensions") {
    val li = Tables.load(spark, sf("sf0.001"), "lineitem")
      .select(col("l_orderkey").cast("long").as("a"),
        col("l_partkey").cast("long").as("b"))
    val stats = li.agg(min("a"), max("a"), min("b"), max("b")).head()
    val ranges = Seq((stats.getLong(0), stats.getLong(1)),
      (stats.getLong(2), stats.getLong(3)))
    val rows = li.select(col("a"), col("b"),
        ScaleOps.zorderKey(Seq(col("a"), col("b")), ranges, 8).as("zk"))
      .collect()
    // chunk the two layouts into 16 "files"; a predicate on b prunes a
    // file iff b is outside the file's [min, max] — so the summed b
    // spans measure skippability. Z-order must beat the a-sorted
    // layout on b by a wide margin (a-sorted files each span ~all of b)
    def spanSum(sorted: Array[(Long, Long)]): Long = {
      val chunk = math.max(1, sorted.length / 16)
      sorted.grouped(chunk).map { g =>
        g.map(_._2).max - g.map(_._2).min }.sum
    }
    val bySingle = spanSum(rows.map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1))
    val byZ = spanSum(rows.map(r => (r.getLong(2), r.getLong(1)))
      .sortBy(_._1))
    assert(byZ * 2 < bySingle,
      s"z-order b-span $byZ should halve the single-sort span $bySingle")
  }
}
