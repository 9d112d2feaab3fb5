package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarOps
import graft.operators.{StatsOps, WindowOps}

/** SURVEY §2.9 — the declared Tier-A oracle queries (Q1–Q20). Each is a
  * thin DataFrame-API composition over the graft operator library; the
  * paired DuckDB SQL in [[oracle]] is the driver's correctness contract.
  *
  * Scale notes (these run at sf0.01 for correctness but are shaped for
  * 100 TB): filters precede joins/aggs so Catalyst pushes them into the
  * parquet scan; dimension sides of joins (nation, customer at small sf)
  * are explicitly broadcast; every aggregation is partial+final
  * (map-side combine) by construction; window ops shuffle once on their
  * partition key.
  */
object TierA {
  // to_timestamp under the session timezone (UTC in every entry point),
  // NOT java.sql.Timestamp.valueOf which parses in the JVM default TZ
  // and would shift the oracle-checked cutoff on a non-UTC machine
  private val ShipCutoff = to_timestamp(lit("1998-09-02 00:00:00"))

  // Q1 — grouped RMS/min/max stats (A1, A2 + shipdate filter)
  private val q1: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ShipCutoff)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(StatsOps.rms(col("l_quantity")), 6).as("rms_qty"),
        round(min(col("l_extendedprice")), 6).as("min_price"),
        round(max(col("l_extendedprice")), 6).as("max_price"),
        count(lit(1)).as("n"))
      .ordered(col("l_returnflag"), col("l_linestatus"))
  }

  // Q2 — two-level partial+final aggregation (A3)
  private val q2: Q = (s, dir) => {
    val perRun = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_orderkey"))
      .agg(StatsOps.rms(col("l_discount")).as("run_rms"))
    perRun.groupBy(col("o_orderpriority"))
      .agg(round(avg(col("run_rms")), 6).as("avg_rms"),
        count(lit(1)).as("runs"))
      .ordered(col("o_orderpriority"))
  }

  // Q3 — Welch t statistic between two arms (A4 moments)
  private val q3: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    def arm(flag: String, suffix: String) =
      li.filter(col("l_returnflag") === flag)
        .agg(avg(col("l_extendedprice")).as("m" + suffix),
          var_samp(col("l_extendedprice")).as("v" + suffix),
          count(lit(1)).as("n" + suffix))
    arm("R", "1").crossJoin(arm("A", "2"))
      .select(round(StatsOps.welchT(
        col("m1"), col("v1"), col("n1"),
        col("m2"), col("v2"), col("n2")), 6).as("welch_t"))
  }

  // Q4 — deadband (F5) + clamp (F7) scalar expressions
  private val q4: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(ScalarOps.deadband(col("l_discount") - 0.05, 0.003), 6)
          .as("crushed"),
        ScalarOps.clamp(col("l_tax") * 10, 0.0, 1.0).as("clamped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("crushed"), col("clamped"))
      .limit(1000)
  }

  // Q5 — corner-force linear transform as projection (T4)
  private val q5: Q = (s, dir) => {
    val a = 0.011; val b = 0.018
    val cb = b / (2 * (a + b)); val ca = a / (2 * (a + b))
    val ci = 1.0 / (2 * (a + b)); val ct = 31.25
    val q = col("l_quantity"); val d = col("l_discount"); val x = col("l_tax")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(lit(cb) * q - lit(ci) * d + lit(ct) * x + 32768.0, 6).as("act1"),
        round(lit(cb) * q - lit(ci) * d - lit(ct) * x + 32768.0, 6).as("act2"),
        round(lit(ca) * q + lit(ci) * d + lit(ct) * x + 32768.0, 6).as("act3"),
        round(lit(ca) * q + lit(ci) * d - lit(ct) * x + 32768.0, 6).as("act4"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("act1"), col("act3"))
      .limit(1000)
  }

  // Order by the exact nano timestamp (ts_ns) so tie-breaks match a
  // nanosecond-native oracle even where micros would collide.
  private def eventsWindow = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_ns"), col("event_id"))

  // Q6 — central-difference gradient (W2)
  private val q6: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_id"),
        round(WindowOps.gradient(col("value"), eventsWindow), 6).as("grad"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  // Q7 — row indexing / time synthesis basis (W4, M22)
  private val q7: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_id"), WindowOps.runIndex(eventsWindow).as("idx"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  // Q8 — LOCF after predicate nulling (F3 + W3)
  private val q8: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_id"),
        round(WindowOps.locf(
          when(abs(col("value")) < 2.5, col("value")), eventsWindow), 6)
          .as("locf"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  // Q9 — exact sliding median k=15, interior rows only (W1)
  private val q9: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_id"),
        WindowOps.medianExact(col("value"), eventsWindow, 15).as("med"),
        row_number().over(eventsWindow).as("rn"))
      .filter(col("rn") > 7)
      .select(col("event_id"), round(col("med"), 6).as("med15"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  // Q10 — scalar math (M1-M3)
  private val q10: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(ScalarOps.lsbScale(col("l_quantity"), ScalarOps.AccelGPerLsb), 6)
          .as("g_units"),
        round(degrees(atan2(col("l_discount"), col("l_tax") + 0.01)), 6)
          .as("angle_deg"),
        round(ScalarOps.clampedAsin(col("l_discount") * 10), 6)
          .as("clamped_asin"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("g_units"), col("angle_deg"), col("clamped_asin"))
      .limit(1000)
  }

  // Q11 — sessionization skeleton: header propagation via LOCF (S2)
  private val q11: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_id"),
        WindowOps.locf(
          when(col("event_type") === "login", col("event_id")), eventsWindow)
          .as("session_head"))
      .orderBy(col("event_id"))
      .limit(1000)
  }

  // Q12 — arm pairing (A5). Conditional aggregation pivots both arms
  // in ONE scan (avg ignores the nulls of the other arm) — same values
  // as the oracle's two-subquery cross join, half the IO.
  private val q12: Q = (s, dir) => {
    t(s, dir, "events")
      .agg(
        sqrt(avg(when(col("event_type") === "click",
          col("value") * col("value")))).as("rms_e"),
        sqrt(avg(when(col("event_type") === "view",
          col("value") * col("value")))).as("rms_d"))
      .select(round(col("rms_e") - col("rms_d"), 6).as("rms_delta"))
  }

  // Q13 — multi-way equi join + agg (north star). Dimensions broadcast.
  private val q13: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .ordered(col("revenue").desc, col("n_name"))
  }

  // Q14 — left semi join
  private val q14: Q = (s, dir) => {
    t(s, dir, "part")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") > 45),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
  }

  // Q15 — left anti join
  private val q15: Q = (s, dir) => {
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
  }

  // Q16 — top-k (sort + limit)
  private val q16: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  // Q17 — set op (INTERSECT, distinct semantics)
  private val q17: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .agg(count(lit(1)).as("n"))
  }

  // Q18 — ranking window (top-1 per group)
  private val q18: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"))
      .limit(1000)
  }

  // Q19 — tumbling-window agg on event time (batch form)
  private val q19: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .ordered(col("h"), col("event_type"))
  }

  // Q20 — grouped exact distinct count
  private val q20: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .ordered(col("event_type"))
  }

  // Q36 — rollup with grouping flags (subtotal + grand-total rows)
  private val q36: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("g1"),
        grouping(col("l_linestatus")).as("g2"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .ordered(col("g1"), col("g2"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("g1"), col("g2"), col("sum_qty"), col("n"))
  }

  // Q37 — EXCEPT (set difference, distinct semantics)
  private val q37: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .agg(count(lit(1)).as("n"))
  }

  // Q38 — second-moment aggregates: stddev, covariance, correlation
  private val q38: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qp"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qp"))
      .ordered(col("l_returnflag"))
  }

  // Q39 — approximate distinct via the deterministic KMV sketch
  // (k-minimum-values, estimate = (k-1) * 2^32 / h_k over md5-derived
  // uniform hashes): cross-engine reproducible, so unlike HLL++ it
  // carries a DuckDB oracle. Distinct parts per returnflag, k=128;
  // groups under k distinct keys fall back to the exact count. The
  // engine-specific HLL++ path (approx_count_distinct) remains
  // supported and is error-bound-tested in TierASpec.
  private val q39: Q = (s, dir) => {
    val k = 128
    val pairs = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .withColumn("h", graft.operators.CurationOps.md5Hash32(
        concat(lit("kmv39:"), col("l_orderkey").cast("string"))))
    // the exact count is a partial-aggregated groupBy; the k-th
    // smallest hash comes from a TWO-STAGE top-k so no window ever
    // partitions by the 3-value flag alone (which would funnel each
    // flag's whole distinct pair set through one task at scale):
    // per-(flag, 64-bucket) top-k bounds stage one, and the global
    // k-th falls out of the <= 64k surviving candidates
    val nExact = pairs.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"))
    val wB = Window.partitionBy(col("l_returnflag"), col("b"))
      .orderBy(col("h"), col("l_orderkey"))
    val cand = pairs
      .withColumn("b", pmod(col("l_orderkey"), lit(64L)).cast("int"))
      .withColumn("rnb", row_number().over(wB))
      .filter(col("rnb") <= k)
    val wF = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("h"), col("l_orderkey"))
    val hk = cand
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") === k)
      .select(col("l_returnflag"), col("h").as("hk"))
    nExact.join(hk, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("n_exact"),
        // integer-ratio output -> 1e4-unit BIGINT pin (CLAUDE.md rule)
        round(when(col("hk").isNull, col("n_exact").cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) / col("hk")) * 1e4, 0)
          .cast("long").as("n_est_e4"))
      .ordered(col("l_returnflag"))
  }

  // Q90 — CUBE grouping sets (all 4 combinations with grouping flags)
  private val q90: Q = (s, dir) => {
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).as("g1"),
        grouping(col("o_orderpriority")).as("g2"),
        round(sum(col("o_totalprice")), 4).as("sum_price"),
        count(lit(1)).as("n"))
      .ordered(col("g1"), col("g2"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("g1"), col("g2"), col("sum_price"), col("n"))
  }

  // Q91 — rank-distribution windows: percent_rank + cume_dist per
  // priority (completes the ranking-window family next to q18/q61)
  private val q91: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .filter(col("o_orderkey") <= 2000)
      .ordered(col("o_orderkey"))
  }

  // Q93 — M17 axes-swap as a declared oracle query: alignment 1
  // (+X-Z+Y) over a 3-column "sensor vector" (pure sign/permute
  // projection — scan speed, zero shuffle). lineitem has duplicate
  // (l_orderkey, l_linenumber) pairs, so the output columns join the
  // ORDER BY for a total order.
  private val q93: Q = (s, dir) => {
    val (bx, by, bz) = graft.state.AxesAlignment.swapColumns(
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      ordinal = 1)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        bx.as("bx"), by.as("by"), bz.as("bz"))
      .ordered(col("l_orderkey"), col("l_linenumber"),
        col("bx"), col("by"), col("bz"))
  }

  // Q94 — M21 keyed log id as a declared oracle query: the md5-based
  // layout-independent variant (the seeded-rand form is engine-
  // specific by construction and keeps its determinism spec).
  private val q94: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        ScalarOps.keyedLogId(col("o_orderkey"), "log").as("log_id"))
      .ordered(col("o_orderkey"))
  }

  private def sqlHex32(h: String): String = OracleSql.hex32(h)

  private val q39Sql: String =
    s"""WITH d AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
       |h AS (SELECT l_returnflag, l_orderkey,
       |             ${sqlHex32("md5('kmv39:' || l_orderkey::VARCHAR)")} AS h
       |      FROM d),
       |r AS (SELECT l_returnflag, h,
       |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |                 ORDER BY h, l_orderkey) AS rn FROM h),
       |kth AS (SELECT l_returnflag, h AS hk FROM r WHERE rn = 128),
       |c AS (SELECT l_returnflag, COUNT(*) AS n_exact FROM d
       |      GROUP BY l_returnflag)
       |SELECT c.l_returnflag, c.n_exact,
       |       CAST(ROUND((CASE WHEN kth.hk IS NULL THEN c.n_exact::DOUBLE
       |                        ELSE ${127 * 4294967296.0} / kth.hk
       |                   END) * 1e4, 0) AS BIGINT) AS n_est_e4
       |FROM c LEFT JOIN kth USING (l_returnflag)
       |ORDER BY c.l_returnflag""".stripMargin

  // alignment 1 (+X-Z+Y): bx = +sx, by = -sz, bz = +sy
  private val q93Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |       l_quantity AS bx, -l_discount AS by, l_extendedprice AS bz
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, bx, by, bz""".stripMargin

  private val q94Sql: String =
    s"""SELECT o_orderkey,
       |       CAST(${sqlHex32("md5('log:' || o_orderkey::VARCHAR)")} % 10000
       |            AS INTEGER) AS log_id
       |FROM orders ORDER BY o_orderkey""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q39_approx_distinct", q39, q39Sql),
    Query("q93_axes_swap", q93, q93Sql),
    Query("q94_keyed_log_id", q94, q94Sql),
    Query("q90_cube", q90,
      """SELECT o_orderstatus, o_orderpriority,
        |       GROUPING(o_orderstatus) AS g1,
        |       GROUPING(o_orderpriority) AS g2,
        |       ROUND(SUM(o_totalprice), 4) AS sum_price, COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin),
    Query("q91_rank_dist", q91,
      """SELECT o_orderkey,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |       ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),
    Query("q36_rollup", q36,
      """SELECT l_returnflag, l_linestatus,
        |       GROUPING(l_returnflag) AS g1, GROUPING(l_linestatus) AS g2,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q37_except", q37,
      """SELECT COUNT(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t""".stripMargin),
    Query("q38_moments", q38,
      """SELECT l_returnflag,
        |       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
        |       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qp,
        |       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q01_grouped_stats", q1,
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SQRT(AVG(l_quantity*l_quantity)), 6) AS rms_qty,
        |       ROUND(MIN(l_extendedprice), 6) AS min_price,
        |       ROUND(MAX(l_extendedprice), 6) AS max_price,
        |       COUNT(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_two_level_agg", q2,
      """SELECT o_orderpriority, ROUND(AVG(run_rms), 6) AS avg_rms, COUNT(*) AS runs
        |FROM (SELECT o.o_orderpriority, l.l_orderkey,
        |             SQRT(AVG(l.l_discount*l.l_discount)) AS run_rms
        |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |      GROUP BY o.o_orderpriority, l.l_orderkey) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q03_welch_t", q3,
      """SELECT ROUND((a.m - b.m) / SQRT(a.v/a.n + b.v/b.n), 6) AS welch_t
        |FROM (SELECT AVG(l_extendedprice) m, VAR_SAMP(l_extendedprice) v, COUNT(*) n
        |      FROM lineitem WHERE l_returnflag = 'R') a,
        |     (SELECT AVG(l_extendedprice) m, VAR_SAMP(l_extendedprice) v, COUNT(*) n
        |      FROM lineitem WHERE l_returnflag = 'A') b""".stripMargin),
    Query("q04_deadband_clamp", q4,
      """SELECT l_orderkey, l_linenumber,
        |       ROUND(CASE WHEN ABS(l_discount - 0.05) <= 0.003 THEN 0
        |                  ELSE l_discount - 0.05 - SIGN(l_discount - 0.05)*0.003 END, 6) AS crushed,
        |       LEAST(1.0, GREATEST(0.0, l_tax*10)) AS clamped
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, crushed, clamped LIMIT 1000""".stripMargin),
    Query("q05_corner_transform", q5,
      """SELECT l_orderkey, l_linenumber,
        |       ROUND( (0.018/0.058)*l_quantity - (1.0/0.058)*l_discount + 31.25*l_tax + 32768.0, 6) AS act1,
        |       ROUND( (0.018/0.058)*l_quantity - (1.0/0.058)*l_discount - 31.25*l_tax + 32768.0, 6) AS act2,
        |       ROUND( (0.011/0.058)*l_quantity + (1.0/0.058)*l_discount + 31.25*l_tax + 32768.0, 6) AS act3,
        |       ROUND( (0.011/0.058)*l_quantity + (1.0/0.058)*l_discount - 31.25*l_tax + 32768.0, 6) AS act4
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, act1, act3 LIMIT 1000""".stripMargin),
    Query("q06_gradient", q6,
      """SELECT event_id,
        |       ROUND(COALESCE((LEAD(value) OVER w - LAG(value) OVER w)/2.0,
        |                      value - LAG(value) OVER w,
        |                      LEAD(value) OVER w - value), 6) AS grad
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id LIMIT 1000""".stripMargin),
    Query("q07_row_index", q7,
      """SELECT event_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin),
    Query("q08_locf", q8,
      """SELECT event_id,
        |       ROUND(LAST_VALUE(CASE WHEN ABS(value) < 2.5 THEN value END IGNORE NULLS)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING), 6) AS locf
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin),
    Query("q09_median15", q9,
      """SELECT event_id, ROUND(med, 6) AS med15 FROM (
        |  SELECT event_id,
        |         MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING) AS med,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn > 7 ORDER BY event_id LIMIT 1000""".stripMargin),
    Query("q10_scalar_math", q10,
      """SELECT l_orderkey, l_linenumber,
        |       ROUND(l_quantity * 0.000122, 6) AS g_units,
        |       ROUND(DEGREES(ATAN2(l_discount, l_tax + 0.01)), 6) AS angle_deg,
        |       ROUND(ASIN(LEAST(1.0, GREATEST(-1.0, l_discount*10))), 6) AS clamped_asin
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, g_units, angle_deg, clamped_asin LIMIT 1000""".stripMargin),
    Query("q11_session_head", q11,
      """SELECT event_id,
        |       LAST_VALUE(CASE WHEN event_type = 'login' THEN event_id END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_head
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin),
    Query("q12_arm_pairing", q12,
      """SELECT ROUND(e.rms - d.rms, 6) AS rms_delta
        |FROM (SELECT SQRT(AVG(value*value)) rms FROM events WHERE event_type='click') e,
        |     (SELECT SQRT(AVG(value*value)) rms FROM events WHERE event_type='view')  d""".stripMargin),
    Query("q13_join_agg", q13,
      """SELECT n_name, ROUND(SUM(l_extendedprice*(1-l_discount)), 4) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Query("q14_semi_join", q14,
      """SELECT COUNT(*) AS n FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)""".stripMargin),
    Query("q15_anti_join", q15,
      """SELECT COUNT(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin),
    Query("q16_topk", q16,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    Query("q17_intersect", q17,
      """SELECT COUNT(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t""".stripMargin),
    Query("q18_rank_window", q18,
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey LIMIT 1000""".stripMargin),
    Query("q19_time_bucket_agg", q19,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
        |       COUNT(*) AS n, ROUND(SUM(value), 4) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q20_distinct_count", q20,
      """SELECT event_type, COUNT(DISTINCT user_id) AS u FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin))
}
