package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps, SimilarityOps, TextOps}

/** Round-9 query surface: the classical rank/nonparametric test
  * family (Kruskal-Wallis, Wilcoxon signed-rank, Mood's median,
  * Cochran's Q, Friedman + Page trend, two-group log-rank,
  * Ljung-Box, and an integer-exact seasonal spectrum).
  *
  * Design notes shared by the batch:
  *   - Every rank statistic is computed on the VALUE-HISTOGRAM spine
  *     (SCALING.md "Value-histogram spine"): ranks of cents values
  *     come from one `(value)` histogram + one cumulative window over
  *     DISTINCT values — never a row-level rank window. Average ranks
  *     are .5-granular, so they are carried as exact `2x` BIGINTs.
  *   - Ratios of exact integers are pinned with the e6 micro-unit
  *     convention; zero denominators are guarded identically on both
  *     engines (the documented LN(0)/divide-by-zero footgun class).
  *   - Day-series tests run on the zero-filled day spine (bounded by
  *     the date DOMAIN, not the row count) with exact integer
  *     centering (`z_d = D*y_d - T`), so the autocorrelation
  *     numerators are sums of integer products — order-independent
  *     cross-engine as long as they stay below 2^53.
  */
object RoundNine {
  /** Absolute md5-rank probe cap for the ground-truth eval family
    * (q395/q406/q423): the `cap` vectors with smallest
    * md5(salt:vec_id), vec_id tiebreak — deterministic, engine-
    * neutral, and ABSOLUTE, so the brute-force query-vs-corpus join
    * is O(n * cap) = linear in corpus size at any scale (a
    * proportional `vec_id % k` sample kept it O(n^2/k)). Spark plans
    * orderBy+limit as a distributed TakeOrderedAndProject — no
    * global single-task sort. Mirrored by [[sqlProbeCap]]. */
  private def probeCap(df: DataFrame, cap: Int, salt: String): DataFrame =
    df.orderBy(md5(concat(lit(s"$salt:"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(cap)

  /** DuckDB mirror of [[probeCap]] — tail of a `SELECT ... FROM e`. */
  private def sqlProbeCap(cap: Int, salt: String): String =
    s"ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap"

  // ---------------------------------------------------------------
  // q384 — Kruskal-Wallis H across the five event types: average
  // ranks from the global cents histogram (2x-integer mid-ranks),
  // per-group rank sums, tie-corrected H. The one-way "ANOVA on
  // ranks" that complements q270's parametric two-way table.
  private val q384: Q = (s, dir) => {
    val v = t(s, dir, "events")
      .select(col("event_type").as("g"), cents.as("c"))
    // the (group, cents) histogram feeds the global spine AND the
    // per-group rank sums — cut lineage once or events re-scans per
    // consumer (the tfidfKnn checkpoint pattern)
    val h = v.groupBy(col("g"), col("c")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val gh = h.groupBy(col("c")).agg(sum(col("n")).as("nc"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = gh
      .withColumn("cumlt", coalesce(sum(col("nc")).over(w), lit(0L)))
      .select(col("c"),
        (lit(2L) * col("cumlt") + col("nc") + lit(1L)).as("ar2"))
    val rg = h.join(r, "c")
      .groupBy(col("g"))
      .agg(sum(col("n") * col("ar2")).as("r2s"), sum(col("n")).as("ng"))
    val tot = gh.agg(sum(col("nc")).as("nn"),
      sum(col("nc") * col("nc") * col("nc") - col("nc")).as("tsum"))
    val hh = rg.crossJoin(broadcast(tot))
      .groupBy(col("nn"), col("tsum"))
      .agg(sum((col("r2s").cast("double") / 2.0)
        * (col("r2s").cast("double") / 2.0)
        / col("ng").cast("double")).as("srq"))
      .select(col("nn"), col("tsum"),
        (lit(12.0) / (col("nn").cast("double")
          * (col("nn") + 1L).cast("double")) * col("srq")
          - lit(3.0) * (col("nn") + 1L).cast("double")).as("hstat"))
    rg.crossJoin(broadcast(hh))
      .select(col("g").as("event_type"), col("ng"),
        e6(col("r2s").cast("double")
          / (lit(2.0) * col("ng").cast("double"))).as("mean_rank_e6"),
        e6(col("hstat")).as("h_e6"),
        // all-tied degenerate corpus makes the correction factor 0 —
        // guard the division identically on both engines
        e6(when(col("tsum") < col("nn") * col("nn") * col("nn")
            - col("nn"),
          col("hstat") / (lit(1.0) - col("tsum").cast("double")
            / (col("nn").cast("double") * col("nn").cast("double")
              * col("nn").cast("double") - col("nn").cast("double"))))
          .otherwise(0.0)).as("h_adj_e6"))
      .ordered(col("event_type"))
  }

  private val q384Sql: String =
    s"""WITH v AS (SELECT event_type AS g,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |h AS (SELECT g, c, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM v GROUP BY 1, 2),
       |gh AS (SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM h GROUP BY 1),
       |r AS (SELECT c, 2 * COALESCE(CAST(SUM(nc) OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS BIGINT), 0) + nc + 1 AS ar2
       |      FROM gh),
       |rg AS (SELECT g, CAST(SUM(n * ar2) AS BIGINT) AS r2s,
       |         CAST(SUM(n) AS BIGINT) AS ng
       |       FROM h JOIN r USING (c) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn,
       |          CAST(SUM(nc * nc * nc - nc) AS BIGINT) AS tsum
       |        FROM gh),
       |hh AS (SELECT nn, tsum,
       |         12.0 / (nn::DOUBLE * (nn + 1)::DOUBLE)
       |           * SUM((r2s::DOUBLE / 2.0) * (r2s::DOUBLE / 2.0)
       |               / ng::DOUBLE)
       |           - 3.0 * (nn + 1)::DOUBLE AS hstat
       |       FROM rg, tot GROUP BY 1, 2)
       |SELECT g AS event_type, ng,
       |  ${sqlE6("r2s::DOUBLE / (2.0 * ng::DOUBLE)")} AS mean_rank_e6,
       |  ${sqlE6("hstat")} AS h_e6,
       |  ${sqlE6("CASE WHEN tsum < nn * nn * nn - nn THEN " +
            "hstat / (1.0 - tsum::DOUBLE / " +
            "(nn::DOUBLE * nn::DOUBLE * nn::DOUBLE - nn::DOUBLE)) " +
            "ELSE 0.0 END")}
       |    AS h_adj_e6
       |FROM rg, hh ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q385 — Wilcoxon signed-rank on paired per-user activity: each
  // user's cents total in the second half of the time range minus
  // the first half (split at the midpoint epoch), zero differences
  // dropped, |d| mid-ranks from the histogram spine, tie-corrected
  // normal approximation. W+ is carried as the exact 2x BIGINT; the
  // z numerator (W+ - n(n+1)/4) as the exact 4x BIGINT.
  private val q385: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts_ns div 1000").as("tus"), cents.as("c"))
    // integer floor division on both engines (Spark `/` on longs is
    // double division and cast-to-long truncates while DuckDB's CAST
    // rounds — `div` / `//` keeps the boundary microsecond exact)
    val mid = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val d = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg((sum(when(col("tus") > col("mid"), col("c")).otherwise(0L))
        - sum(when(col("tus") <= col("mid"), col("c")).otherwise(0L)))
        .as("d"))
      .filter(col("d") =!= 0L)
      .select(abs(col("d")).as("a"), (col("d") > 0L).as("pos"))
    val gh = d.groupBy(col("a")).agg(count(lit(1)).as("na"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("npos"))
    val w = Window.orderBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = gh
      .withColumn("cumlt", coalesce(sum(col("na")).over(w), lit(0L)))
      .select(col("na"), col("npos"),
        (lit(2L) * col("cumlt") + col("na") + lit(1L)).as("ar2"))
    r.agg(sum(col("na")).as("n"),
        sum(col("npos") * col("ar2")).as("w2x"),
        sum(col("na") * col("na") * col("na") - col("na")).as("tsum"))
      .select(col("n"), col("w2x"),
        e6(when(col("n") > 0L &&
            lit(2L) * col("n") * (col("n") + 1L)
              * (lit(2L) * col("n") + 1L) - col("tsum") > 0L,
          (lit(2L) * col("w2x") - col("n") * (col("n") + 1L))
            .cast("double") / lit(4.0)
            / sqrt((lit(2L) * col("n") * (col("n") + 1L)
              * (lit(2L) * col("n") + 1L) - col("tsum"))
              .cast("double") / lit(48.0))).otherwise(0.0)).as("z_e6"))
      .ordered(col("n"))
  }

  private val q385Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |mid AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS mid FROM ev),
       |d0 AS (SELECT user_id,
       |         CAST(SUM(CASE WHEN tus > mid THEN c ELSE 0 END)
       |           - SUM(CASE WHEN tus <= mid THEN c ELSE 0 END)
       |           AS BIGINT) AS d
       |       FROM ev, mid GROUP BY 1),
       |d AS (SELECT ABS(d) AS a, d > 0 AS pos FROM d0 WHERE d <> 0),
       |gh AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na,
       |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
       |           AS npos
       |       FROM d GROUP BY 1),
       |r AS (SELECT na, npos, 2 * COALESCE(CAST(SUM(na) OVER (
       |          ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND
       |          1 PRECEDING) AS BIGINT), 0) + na + 1 AS ar2
       |      FROM gh),
       |agg AS (SELECT CAST(SUM(na) AS BIGINT) AS n,
       |          CAST(SUM(npos * ar2) AS BIGINT) AS w2x,
       |          CAST(SUM(na * na * na - na) AS BIGINT) AS tsum
       |        FROM r)
       |SELECT n, w2x,
       |  ${sqlE6("CASE WHEN n > 0 AND 2*n*(n+1)*(2*n+1) - tsum > 0 " +
            "THEN (2*w2x - n*(n+1))::DOUBLE / 4.0 / " +
            "SQRT((2*n*(n+1)*(2*n+1) - tsum)::DOUBLE / 48.0) " +
            "ELSE 0.0 END")} AS z_e6
       |FROM agg ORDER BY n""".stripMargin

  // ---------------------------------------------------------------
  // q386 — Mood's median test: type-lower grand median of cents from
  // the histogram spine (the q299 selection), 2xk above/at-or-below
  // contingency counts, chi-square over cells with positive
  // expectation. Exact integer cells; only the final statistic is a
  // pinned double.
  private val q386: Q = (s, dir) => {
    // per-(group, cents) histogram once — the median bracket and the
    // contingency cells both derive from it without re-scanning events
    val gc = t(s, dir, "events")
      .select(col("event_type").as("g"), cents.as("c"))
      .groupBy(col("g"), col("c")).agg(count(lit(1)).as("ngc"))
      .localCheckpoint(false)
    val gh = gc.groupBy(col("c")).agg(sum(col("ngc")).as("nc"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = gh.agg(sum(col("nc")).as("nn"))
    val med = gh.withColumn("cum", sum(col("nc")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("cum").cast("double") >=
        ceil(col("nn").cast("double") / 2.0))
      .agg(min(col("c")).as("med"))
    val cellsG = gc.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(sum(when(col("c") > col("med"), col("ngc")).otherwise(0L))
        .as("oa"),
        sum(when(col("c") <= col("med"), col("ngc")).otherwise(0L))
          .as("ob"))
    val marg = cellsG.agg(sum(col("oa")).as("ta"), sum(col("ob")).as("tb"))
    val chi = cellsG.crossJoin(broadcast(marg))
      .select(col("g"), col("oa"), col("ob"), col("ta"), col("tb"),
        (((col("oa") + col("ob")) * col("ta")).cast("double")
          / (col("ta") + col("tb")).cast("double")).as("ea"),
        (((col("oa") + col("ob")) * col("tb")).cast("double")
          / (col("ta") + col("tb")).cast("double")).as("eb"))
      .select(col("g"), col("oa"), col("ob"),
        (when(col("ea") > 0.0,
          (col("oa").cast("double") - col("ea"))
            * (col("oa").cast("double") - col("ea")) / col("ea"))
          .otherwise(0.0)
          + when(col("eb") > 0.0,
            (col("ob").cast("double") - col("eb"))
              * (col("ob").cast("double") - col("eb")) / col("eb"))
            .otherwise(0.0)).as("cell"))
    val stat = chi.agg(sum(col("cell")).as("chi2"))
    chi.crossJoin(broadcast(stat))
      .select(col("g").as("event_type"), col("oa").as("n_above"),
        col("ob").as("n_le"), e6(col("chi2")).as("chi2_e6"))
      .ordered(col("event_type"))
  }

  private val q386Sql: String =
    s"""WITH v AS (SELECT event_type AS g,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |gh AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc FROM v GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn FROM gh),
       |med AS (SELECT MIN(c) AS med FROM (
       |          SELECT c, CAST(SUM(nc) OVER (ORDER BY c
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum FROM gh), tot
       |        WHERE cum::DOUBLE >= CEIL(nn::DOUBLE / 2.0)),
       |cg AS (SELECT g,
       |         CAST(SUM(CASE WHEN c > med THEN 1 ELSE 0 END) AS BIGINT)
       |           AS oa,
       |         CAST(SUM(CASE WHEN c <= med THEN 1 ELSE 0 END) AS BIGINT)
       |           AS ob
       |       FROM v, med GROUP BY 1),
       |marg AS (SELECT CAST(SUM(oa) AS BIGINT) AS ta,
       |           CAST(SUM(ob) AS BIGINT) AS tb FROM cg),
       |cells AS (SELECT g, oa, ob,
       |            ((oa + ob) * ta)::DOUBLE / (ta + tb)::DOUBLE AS ea,
       |            ((oa + ob) * tb)::DOUBLE / (ta + tb)::DOUBLE AS eb
       |          FROM cg, marg),
       |chi AS (SELECT g, oa, ob,
       |          (CASE WHEN ea > 0.0
       |             THEN (oa::DOUBLE - ea) * (oa::DOUBLE - ea) / ea
       |             ELSE 0.0 END)
       |          + (CASE WHEN eb > 0.0
       |             THEN (ob::DOUBLE - eb) * (ob::DOUBLE - eb) / eb
       |             ELSE 0.0 END) AS cell
       |        FROM cells),
       |stat AS (SELECT SUM(cell) AS chi2 FROM chi)
       |SELECT g AS event_type, oa AS n_above, ob AS n_le,
       |  ${sqlE6("chi2")} AS chi2_e6
       |FROM chi, stat ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q387 — Cochran's Q over the user x event-type presence matrix:
  // did the k "treatments" (event types) reach significantly
  // different shares of users? Exact integer row/column totals;
  // Q = (k-1)(k*sum(C^2) - N^2) / (k*sum(R) - sum(R^2)); the zero
  // denominator (every user saw every type) is guarded identically
  // on both engines.
  private val q387: Q = (s, dir) => {
    // presence matrix once: the row totals, column totals, and the
    // distinct-type count all derive from the checkpointed distinct
    val x = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(false)
    val rows = x.groupBy(col("user_id")).agg(count(lit(1)).as("r"))
    val k = x.select(col("event_type")).distinct().count()
    val cols_ = x.groupBy(col("event_type")).agg(count(lit(1)).as("ct"))
    val colAgg = cols_.agg(sum(col("ct")).as("nn"),
      sum(col("ct") * col("ct")).as("c2"))
    val rowAgg = rows.agg(sum(col("r")).as("rsum"),
      sum(col("r") * col("r")).as("r2sum"), count(lit(1)).as("nu"))
    val stat = colAgg.crossJoin(broadcast(rowAgg))
      .select(col("nu").as("n_users"),
        e6(when(lit(k) * col("rsum") - col("r2sum") > 0L,
          ((lit(k) - 1L) * (lit(k) * col("c2") - col("nn") * col("nn")))
            .cast("double")
            / (lit(k) * col("rsum") - col("r2sum")).cast("double"))
          .otherwise(0.0)).as("q_e6"))
    cols_.crossJoin(broadcast(stat))
      .select(col("event_type"), col("ct").as("n_users_with"),
        col("n_users"), col("q_e6"))
      .ordered(col("event_type"))
  }

  private val q387Sql: String =
    s"""WITH x AS (SELECT DISTINCT user_id, event_type FROM events),
       |k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
       |      FROM x),
       |rows_ AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r
       |          FROM x GROUP BY 1),
       |cols_ AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ct
       |          FROM x GROUP BY 1),
       |ca AS (SELECT CAST(SUM(ct) AS BIGINT) AS nn,
       |         CAST(SUM(ct * ct) AS BIGINT) AS c2 FROM cols_),
       |ra AS (SELECT CAST(SUM(r) AS BIGINT) AS rsum,
       |         CAST(SUM(r * r) AS BIGINT) AS r2sum,
       |         CAST(COUNT(*) AS BIGINT) AS nu FROM rows_),
       |stat AS (SELECT nu AS n_users,
       |  ${sqlE6("CASE WHEN k * rsum - r2sum > 0 THEN " +
            "((k - 1) * (k * c2 - nn * nn))::DOUBLE / " +
            "(k * rsum - r2sum)::DOUBLE ELSE 0.0 END")} AS q_e6
       |  FROM ca, ra, k)
       |SELECT event_type, ct AS n_users_with, n_users, q_e6
       |FROM cols_, stat ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q388 — Friedman test + Page trend statistic: blocks = users,
  // treatments = event types, observation = the user's event count
  // of that type (zero-filled via the bounded type spine). Within-
  // block average ranks are 2x-integer (min-rank window + tie
  // count over the k-row per-user partition); the tie-corrected
  // chi-square is a ratio of exact integers; Page's L (treatments
  // in alphabetical order) is an exact 2x BIGINT.
  private val q388: Q = (s, dir) => {
    // ONE events aggregation; users/types spines and the ranked grid
    // all derive from the checkpointed counts (events was re-scanned
    // per consumer before — 4+ scans at 10x)
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val types = counts.select(col("event_type")).distinct()
    val users = counts.select(col("user_id")).distinct()
    val grid = users.crossJoin(broadcast(types))
      .join(counts, Seq("user_id", "event_type"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("cnt"))
    val wTie = Window.partitionBy(col("user_id"), col("cnt"))
    val ranked = grid
      .withColumn("rmin", rank().over(wU))
      .withColumn("ties", count(lit(1)).over(wTie))
      .select(col("user_id"), col("event_type"),
        (lit(2L) * col("rmin") + col("ties") - 1L).as("r2"))
      .localCheckpoint(false)
    val k = types.count()
    val byT = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2")).as("r2x"))
    val wOrd = Window.orderBy(col("event_type"))
    val byTOrd = byT.withColumn("ord", row_number().over(wOrd))
    val nU = ranked.agg((count(lit(1)) / lit(k)).cast("long").as("n"),
      sum(col("r2") * col("r2")).as("sr22"))
    val stat = byTOrd.crossJoin(broadcast(nU))
      .groupBy(col("n"), col("sr22"))
      .agg(sum((col("r2x") - col("n") * (lit(k) + 1L))
          * (col("r2x") - col("n") * (lit(k) + 1L))).as("num"),
        sum(col("ord") * col("r2x")).as("page_l2x"))
      .select(col("n"), col("page_l2x"),
        e6(when(col("sr22") - col("n") * lit(k) * (lit(k) + 1L)
            * (lit(k) + 1L) > 0L,
          ((lit(k) - 1L) * col("num")).cast("double")
            / (col("sr22") - col("n") * lit(k) * (lit(k) + 1L)
              * (lit(k) + 1L)).cast("double")).otherwise(0.0))
          .as("chi2_e6"))
    byTOrd.crossJoin(broadcast(stat))
      .select(col("event_type"), col("r2x"), col("n").as("n_users"),
        col("chi2_e6"), col("page_l2x"))
      .ordered(col("event_type"))
  }

  private val q388Sql: String =
    s"""WITH ev AS (SELECT user_id, event_type FROM events),
       |types AS (SELECT DISTINCT event_type FROM ev),
       |users AS (SELECT DISTINCT user_id FROM ev),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
       |counts AS (SELECT user_id, event_type,
       |             CAST(COUNT(*) AS BIGINT) AS cnt
       |           FROM ev GROUP BY 1, 2),
       |grid AS (SELECT u.user_id, ty.event_type,
       |           COALESCE(c.cnt, 0) AS cnt
       |         FROM users u CROSS JOIN types ty
       |         LEFT JOIN counts c ON u.user_id = c.user_id
       |           AND ty.event_type = c.event_type),
       |ranked AS (SELECT user_id, event_type,
       |             2 * RANK() OVER (PARTITION BY user_id ORDER BY cnt)
       |               + CAST(COUNT(*) OVER (PARTITION BY user_id, cnt)
       |                 AS BIGINT) - 1 AS r2
       |           FROM grid),
       |byt AS (SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2x,
       |          ROW_NUMBER() OVER (ORDER BY event_type) AS ord
       |        FROM ranked GROUP BY event_type),
       |nu AS (SELECT CAST(COUNT(*) / k AS BIGINT) AS n,
       |         CAST(SUM(r2 * r2) AS BIGINT) AS sr22
       |       FROM ranked, k GROUP BY k),
       |stat AS (SELECT n, CAST(SUM(ord * r2x) AS BIGINT) AS page_l2x,
       |  ${sqlE6("CASE WHEN sr22 - n * k * (k + 1) * (k + 1) > 0 THEN " +
            "((k - 1) * SUM((r2x - n * (k + 1)) * (r2x - n * (k + 1))))" +
            "::DOUBLE / (sr22 - n * k * (k + 1) * (k + 1))::DOUBLE " +
            "ELSE 0.0 END")} AS chi2_e6
       |  FROM byt, nu, k GROUP BY n, sr22, k)
       |SELECT event_type, r2x, n AS n_users, chi2_e6, page_l2x
       |FROM byt, stat ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q389 — two-group log-rank test on customer order lifetimes:
  // duration = days between first and last order, event = last order
  // more than 90 days before the corpus horizon (churn), groups =
  // custkey parity. At-risk counts are reverse-cumulative sums over
  // the per-group duration histogram (domain-bounded spine, never a
  // per-subject window); O-E and the hypergeometric variance sum to
  // the one-row chi-square.
  private val q389: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("cust"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
    val per = o.groupBy(col("cust"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val mx = per.agg(max(col("d1")).as("dmax"))
    val subj = per.crossJoin(broadcast(mx))
      .select((col("cust") % 2L === 0L).as("ga"),
        (col("d1") - col("d0")).as("tt"),
        (col("d1") < col("dmax") - 90L).as("ev"))
    val hist = subj.groupBy(col("tt"), col("ga"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ev"), 1L).otherwise(0L)).as("d"))
    val times = hist.select(col("tt")).distinct()
    val grid = times
      .crossJoin(broadcast(spineB(s)))
      .join(hist, Seq("tt", "ga"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("d", coalesce(col("d"), lit(0L)))
    val wRev = Window.partitionBy(col("ga")).orderBy(col("tt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = grid.withColumn("nr", sum(col("n")).over(wRev))
    val perT = risk.groupBy(col("tt"))
      .agg(max(when(col("ga"), col("nr"))).as("n1"),
        max(when(!col("ga"), col("nr"))).as("n2"),
        max(when(col("ga"), col("d"))).as("d1"),
        max(when(!col("ga"), col("d"))).as("d2"))
      .filter(col("d1") + col("d2") > 0L)
      .select(col("d1"), (col("d1") + col("d2")).as("d"),
        col("n1"), (col("n1") + col("n2")).as("n"), col("n2"))
    perT.agg(sum(col("d1")).as("o1"),
        sum(col("d").cast("double") * col("n1").cast("double")
          / col("n").cast("double")).as("e1"),
        sum(when(col("n") > 1L,
          col("d").cast("double") * col("n1").cast("double")
            * col("n2").cast("double")
            * (col("n") - col("d")).cast("double")
            / (col("n").cast("double") * col("n").cast("double")
              * (col("n") - 1L).cast("double"))).otherwise(0.0))
          .as("v"))
      .select(col("o1"), e6(col("e1")).as("e1_e6"),
        e6(when(col("v") > 0.0,
          (col("o1").cast("double") - col("e1"))
            * (col("o1").cast("double") - col("e1")) / col("v"))
          .otherwise(0.0)).as("chi2_e6"))
      .ordered(col("o1"))
  }

  private val q389Sql: String =
    s"""WITH o AS (SELECT o_custkey AS cust,
       |        DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |          AS day FROM orders),
       |per AS (SELECT cust, MIN(day) AS d0, MAX(day) AS d1
       |        FROM o GROUP BY 1),
       |mx AS (SELECT MAX(d1) AS dmax FROM per),
       |subj AS (SELECT cust % 2 = 0 AS ga, d1 - d0 AS tt,
       |           d1 < dmax - 90 AS ev
       |         FROM per, mx),
       |hist AS (SELECT tt, ga, CAST(COUNT(*) AS BIGINT) AS n,
       |           CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
       |             AS d
       |         FROM subj GROUP BY 1, 2),
       |times AS (SELECT DISTINCT tt FROM hist),
       |grid AS (SELECT t.tt, g.ga, COALESCE(h.n, 0) AS n,
       |           COALESCE(h.d, 0) AS d
       |         FROM times t CROSS JOIN
       |           (SELECT unnest([true, false]) AS ga) g
       |         LEFT JOIN hist h ON t.tt = h.tt AND g.ga = h.ga),
       |risk AS (SELECT tt, ga, d, CAST(SUM(n) OVER (PARTITION BY ga
       |           ORDER BY tt DESC ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND CURRENT ROW) AS BIGINT) AS nr
       |         FROM grid),
       |pert AS (SELECT tt,
       |           MAX(CASE WHEN ga THEN nr END) AS n1,
       |           MAX(CASE WHEN NOT ga THEN nr END) AS n2,
       |           MAX(CASE WHEN ga THEN d END) AS d1,
       |           MAX(CASE WHEN NOT ga THEN d END) AS d2
       |         FROM risk GROUP BY 1),
       |f AS (SELECT d1, d1 + d2 AS d, n1, n1 + n2 AS n, n2
       |      FROM pert WHERE d1 + d2 > 0),
       |agg AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
       |          SUM(d::DOUBLE * n1::DOUBLE / n::DOUBLE) AS e1,
       |          SUM(CASE WHEN n > 1 THEN d::DOUBLE * n1::DOUBLE
       |            * n2::DOUBLE * (n - d)::DOUBLE
       |            / (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE)
       |            ELSE 0.0 END) AS v
       |        FROM f)
       |SELECT o1, ${sqlE6("e1")} AS e1_e6,
       |  ${sqlE6("CASE WHEN v > 0.0 THEN (o1::DOUBLE - e1) " +
            "* (o1::DOUBLE - e1) / v ELSE 0.0 END")} AS chi2_e6
       |FROM agg ORDER BY o1""".stripMargin

  // ---------------------------------------------------------------
  // q390 — Ljung-Box portmanteau (lags 1..7) on the zero-filled
  // daily order-count series. Exact integer centering z_d = D*y_d - T
  // keeps every autocovariance a sum of integer products (the D^2
  // scale cancels in rho), so the per-lag correlations are exact
  // integer ratios; only the final Q fold is a pinned double.
  private val q390: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val b = daily.agg(min(col("day")).as("dlo"), max(col("day")).as("dhi"),
      sum(col("y")).as("tot"))
    val spine = b.select(explode(sequence(col("dlo"), col("dhi")))
      .as("day"), col("tot"), (col("dhi") - col("dlo") + 1L).as("dd"))
    val z = spine.join(daily, Seq("day"), "left")
      .select(col("day"), col("tot"), col("dd"),
        (col("dd") * coalesce(col("y"), lit(0L)) - col("tot")).as("z"))
    val den = z.agg(sum(col("z") * col("z")).as("s0"),
      max(col("dd")).as("dd"))
    // lag spine 1..7 via a small literal explode, all seven lag
    // self-joins folded into ONE equi-join on the shifted day key
    val kspine = spineK(s)
    val pairs = z.select(col("day"), col("z"))
      .crossJoin(broadcast(kspine))
      .select((col("day") - col("k")).as("day"), col("k"),
        col("z").as("zlag"))
      .join(z.select(col("day"), col("z")), Seq("day"))
      .groupBy(col("k")).agg(sum(col("z") * col("zlag")).as("sk"))
    val rho = pairs.crossJoin(broadcast(den))
      .select(col("k"),
        (col("sk").cast("double") / col("s0").cast("double")).as("rho"),
        col("dd"))
    val qlb = rho.groupBy(col("dd"))
      .agg(sum(col("rho") * col("rho")
        / (col("dd") - col("k")).cast("double")).as("srho"))
      .select((col("dd").cast("double") * (col("dd") + 2L).cast("double")
        * col("srho")).as("qstat"))
    rho.crossJoin(broadcast(qlb))
      .select(col("k"), e6(col("rho")).as("rho_e6"),
        e6(col("qstat")).as("q_lb_e6"))
      .ordered(col("k"))
  }

  /** Lag spine 1..7 for q390. */
  private def spineK(s: SparkSession): DataFrame = {
    import s.implicits._
    (1L to 7L).toDF("k")
  }

  /** Boolean group spine {true, false} for q389. */
  private def spineB(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(true, false).toDF("ga")
  }

  private val q390Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day, CAST(COUNT(*) AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS dlo, MAX(day) AS dhi,
       |        CAST(SUM(y) AS BIGINT) AS tot,
       |        MAX(day) - MIN(day) + 1 AS dd FROM daily),
       |spine AS (SELECT unnest(range(dlo, dhi + 1)) AS day FROM b),
       |z AS (SELECT s.day, b.dd, b.tot,
       |        b.dd * COALESCE(d.y, 0) - b.tot AS z
       |      FROM spine s CROSS JOIN b
       |      LEFT JOIN daily d ON s.day = d.day),
       |den AS (SELECT CAST(SUM(z * z) AS BIGINT) AS s0, MAX(dd) AS dd
       |        FROM z),
       |ks AS (SELECT unnest(range(1, 8)) AS k),
       |pairs AS (SELECT ks.k,
       |            CAST(SUM(a.z * c.z) AS BIGINT) AS sk
       |          FROM z a JOIN ks ON true
       |          JOIN z c ON c.day = a.day - ks.k
       |          GROUP BY 1),
       |rho AS (SELECT k, sk::DOUBLE / s0::DOUBLE AS rho, dd
       |        FROM pairs, den),
       |qlb AS (SELECT dd::DOUBLE * (dd + 2)::DOUBLE
       |          * SUM(rho * rho / (dd - k)::DOUBLE) AS qstat
       |        FROM rho GROUP BY dd)
       |SELECT k, ${sqlE6("rho")} AS rho_e6,
       |  ${sqlE6("qstat")} AS q_lb_e6
       |FROM rho, qlb ORDER BY k""".stripMargin

  // ---------------------------------------------------------------
  // q391 — integer-exact seasonal spectrum of daily order counts at
  // periods 2/3/4/6: residue-class sums s_m = sum of counts with
  // day % p = m, and 4x the spectral power expressed EXACTLY in
  // BIGINTs via the half-integer cosine tables (cos in {±1, ±1/2, 0},
  // sin^2 in {0, 3/4} at these periods — no floating trig anywhere,
  // so both engines produce bit-identical integers).
  //   4*P(2) = 4*(s0-s1)^2
  //   4*P(3) = (2*s0-s1-s2)^2 + 3*(s1-s2)^2
  //   4*P(4) = 4*((s0-s2)^2 + (s1-s3)^2)
  //   4*P(6) = (2*(s0-s3)+(s1-s2-s4+s5))^2 + 3*(s1+s2-s4-s5)^2
  private val q391: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val res = daily
      .crossJoin(broadcast(spineP(s)))
      .groupBy(col("p"), (col("day") % col("p")).as("m"))
      .agg(sum(col("y")).as("sm"))
    val sCols = res.groupBy(col("p"))
      .agg(sum(when(col("m") === 0L, col("sm")).otherwise(0L)).as("s0"),
        sum(when(col("m") === 1L, col("sm")).otherwise(0L)).as("s1"),
        sum(when(col("m") === 2L, col("sm")).otherwise(0L)).as("s2"),
        sum(when(col("m") === 3L, col("sm")).otherwise(0L)).as("s3"),
        sum(when(col("m") === 4L, col("sm")).otherwise(0L)).as("s4"),
        sum(when(col("m") === 5L, col("sm")).otherwise(0L)).as("s5"))
    val p4 = sCols.select(col("p"),
      when(col("p") === 2L,
        lit(4L) * (col("s0") - col("s1")) * (col("s0") - col("s1")))
      .when(col("p") === 3L,
        (lit(2L) * col("s0") - col("s1") - col("s2"))
          * (lit(2L) * col("s0") - col("s1") - col("s2"))
          + lit(3L) * (col("s1") - col("s2")) * (col("s1") - col("s2")))
      .when(col("p") === 4L,
        lit(4L) * ((col("s0") - col("s2")) * (col("s0") - col("s2"))
          + (col("s1") - col("s3")) * (col("s1") - col("s3"))))
      .otherwise(
        (lit(2L) * (col("s0") - col("s3"))
          + (col("s1") - col("s2") - col("s4") + col("s5")))
          * (lit(2L) * (col("s0") - col("s3"))
            + (col("s1") - col("s2") - col("s4") + col("s5")))
          + lit(3L) * (col("s1") + col("s2") - col("s4") - col("s5"))
            * (col("s1") + col("s2") - col("s4") - col("s5")))
        .as("p4x"))
    val tot = p4.agg(sum(col("p4x")).as("ptot"))
    p4.crossJoin(broadcast(tot))
      .select(col("p"), col("p4x"),
        e6(when(col("ptot") > 0L,
          col("p4x").cast("double") / col("ptot").cast("double"))
          .otherwise(0.0)).as("share_e6"))
      .ordered(col("p"))
  }

  /** Period spine {2,3,4,6} for q391. */
  private def spineP(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(2L, 3L, 4L, 6L).toDF("p")
  }

  private val q391Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day, CAST(COUNT(*) AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |ps AS (SELECT unnest([2, 3, 4, 6]) AS p),
       |res AS (SELECT p, day % p AS m, CAST(SUM(y) AS BIGINT) AS sm
       |        FROM daily, ps GROUP BY 1, 2),
       |sc AS (SELECT p,
       |         CAST(SUM(CASE WHEN m = 0 THEN sm ELSE 0 END) AS BIGINT) AS s0,
       |         CAST(SUM(CASE WHEN m = 1 THEN sm ELSE 0 END) AS BIGINT) AS s1,
       |         CAST(SUM(CASE WHEN m = 2 THEN sm ELSE 0 END) AS BIGINT) AS s2,
       |         CAST(SUM(CASE WHEN m = 3 THEN sm ELSE 0 END) AS BIGINT) AS s3,
       |         CAST(SUM(CASE WHEN m = 4 THEN sm ELSE 0 END) AS BIGINT) AS s4,
       |         CAST(SUM(CASE WHEN m = 5 THEN sm ELSE 0 END) AS BIGINT) AS s5
       |       FROM res GROUP BY 1),
       |p4 AS (SELECT p, CAST(CASE
       |         WHEN p = 2 THEN 4 * (s0 - s1) * (s0 - s1)
       |         WHEN p = 3 THEN (2 * s0 - s1 - s2) * (2 * s0 - s1 - s2)
       |           + 3 * (s1 - s2) * (s1 - s2)
       |         WHEN p = 4 THEN 4 * ((s0 - s2) * (s0 - s2)
       |           + (s1 - s3) * (s1 - s3))
       |         ELSE (2 * (s0 - s3) + (s1 - s2 - s4 + s5))
       |           * (2 * (s0 - s3) + (s1 - s2 - s4 + s5))
       |           + 3 * (s1 + s2 - s4 - s5) * (s1 + s2 - s4 - s5)
       |         END AS BIGINT) AS p4x
       |       FROM sc),
       |tot AS (SELECT CAST(SUM(p4x) AS BIGINT) AS ptot FROM p4)
       |SELECT p, p4x,
       |  ${sqlE6("CASE WHEN ptot > 0 THEN p4x::DOUBLE / ptot::DOUBLE " +
            "ELSE 0.0 END")} AS share_e6
       |FROM p4, tot ORDER BY p""".stripMargin

  // ---------------------------------------------------------------
  // q392 — pass@k estimator: tasks = users, samples = the user's
  // first 20 events (deterministic (ts, event_id) order), "correct"
  // = value > 250. The unbiased estimator 1 - C(n-c,k)/C(n,k) is an
  // EXACT integer rational per task (numerator/denominator products
  // folded over the bounded k-spine, n <= 20 so both fit BIGINT);
  // only the cross-task mean is a pinned double. The evaluator every
  // sampled-generation benchmark (HumanEval-style) reports.
  private val q392: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
        col("event_id"), (cents > 25000L).as("ok"))
    val first20 = ev.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))))
      .filter(col("rn") <= 20)
    val tasks = first20.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("c"))
    val ks = spineKs(s)
    val perTask = tasks.crossJoin(broadcast(ks))
      .filter(col("n") >= col("k"))
      .select(col("k"),
        when(col("n") - col("c") < col("k"), lit(1.0)).otherwise(
          lit(1.0) -
            aggregate(sequence(lit(0L), col("k") - 1L), lit(1L),
              (acc, j) => acc * (col("n") - col("c") - j))
              .cast("double") /
            aggregate(sequence(lit(0L), col("k") - 1L), lit(1L),
              (acc, j) => acc * (col("n") - j)).cast("double"))
          .as("pk"))
    perTask.groupBy(col("k"))
      .agg(count(lit(1)).as("n_tasks"), e6(avg(col("pk")))
        .as("mean_pass_e6"))
      .ordered(col("k"))
  }

  /** k spine {1, 5, 10} for q392. */
  private def spineKs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(1L, 5L, 10L).toDF("k")
  }

  private val q392Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
       |        CAST(ROUND(value * 100) AS BIGINT) > 25000 AS ok
       |      FROM events),
       |f20 AS (SELECT user_id, ok FROM (
       |          SELECT user_id, ok, ROW_NUMBER() OVER (
       |            PARTITION BY user_id ORDER BY tus, event_id) AS rn
       |          FROM ev) WHERE rn <= 20),
       |tasks AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
       |            CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
       |              AS c
       |          FROM f20 GROUP BY 1),
       |ks AS (SELECT unnest([1, 5, 10]) AS k),
       |pt AS (SELECT k,
       |         CASE WHEN n - c < k THEN 1.0
       |           ELSE 1.0 -
       |             list_reduce(list_prepend(CAST(1 AS BIGINT),
       |               list_transform(range(0, k),
       |                 jj -> (n - c - jj)::BIGINT)),
       |               (a, x) -> a * x)::DOUBLE /
       |             list_reduce(list_prepend(CAST(1 AS BIGINT),
       |               list_transform(range(0, k),
       |                 jj -> (n - jj)::BIGINT)),
       |               (a, x) -> a * x)::DOUBLE
       |           END AS pk
       |       FROM tasks CROSS JOIN ks WHERE n >= k)
       |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_tasks,
       |  ${sqlE6("AVG(pk)")} AS mean_pass_e6
       |FROM pt GROUP BY k ORDER BY k""".stripMargin

  // ---------------------------------------------------------------
  // q393 — Bradley-Terry strength ratings from within-order brand
  // "contests": brand a beats brand b inside an order when its
  // quantity is strictly larger (ties skipped). Two MM iterations
  // from the uniform start — p1_i = W_i / (N_i/2), then
  // p2_i = W_i / sum_j n_ij/(p1_i + p1_j) — over the bounded 25-brand
  // pair table; exact integer win/contest counts.
  private val q393: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_brand"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val pair = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") < col("b.p_brand"))
      .filter(col("a.q") =!= col("b.q"))
      .groupBy(col("a.p_brand").as("ba"), col("b.p_brand").as("bb"))
      .agg(sum(when(col("a.q") > col("b.q"), 1L).otherwise(0L)).as("wa"),
        count(lit(1)).as("n"))
      .localCheckpoint(false)
    val sym = pair.select(col("ba").as("i"), col("bb").as("j2"),
        col("wa").as("w"), col("n"))
      .unionByName(pair.select(col("bb").as("i"), col("ba").as("j2"),
        (col("n") - col("wa")).as("w"), col("n")))
    val items = sym.groupBy(col("i"))
      .agg(sum(col("w")).as("wt"), sum(col("n")).as("nt"))
      .select(col("i"), col("wt"), col("nt"),
        (lit(2.0) * col("wt").cast("double")
          / col("nt").cast("double")).as("p1"))
      .localCheckpoint(false)
    val denom2 = sym
      .join(items.select(col("i"), col("p1")), "i")
      .join(items.select(col("i").as("j2"), col("p1").as("p1j")), "j2")
      .groupBy(col("i"))
      .agg(sum(when(col("p1") + col("p1j") > 0.0,
        col("n").cast("double") / (col("p1") + col("p1j")))
        .otherwise(0.0)).as("den"))
    items.join(denom2, "i")
      .select(col("i").as("brand"), col("wt"), col("nt"),
        e6(col("p1")).as("p1_e6"),
        e6(when(col("den") > 0.0,
          col("wt").cast("double") / col("den")).otherwise(0.0))
          .as("p2_e6"))
      .ordered(col("brand"))
  }

  private val q393Sql: String =
    s"""WITH li AS (SELECT l_orderkey, p_brand,
       |        CAST(SUM(l_quantity) AS BIGINT) AS q
       |      FROM lineitem JOIN part ON l_partkey = p_partkey
       |      GROUP BY 1, 2),
       |pair AS (SELECT a.p_brand AS ba, b.p_brand AS bb,
       |           CAST(SUM(CASE WHEN a.q > b.q THEN 1 ELSE 0 END)
       |             AS BIGINT) AS wa,
       |           CAST(COUNT(*) AS BIGINT) AS n
       |         FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |           AND a.p_brand < b.p_brand AND a.q <> b.q
       |         GROUP BY 1, 2),
       |sym AS (SELECT ba AS i, bb AS j2, wa AS w, n FROM pair
       |        UNION ALL
       |        SELECT bb AS i, ba AS j2, n - wa AS w, n FROM pair),
       |items AS (SELECT i, CAST(SUM(w) AS BIGINT) AS wt,
       |            CAST(SUM(n) AS BIGINT) AS nt,
       |            2.0 * SUM(w)::DOUBLE / SUM(n)::DOUBLE AS p1
       |          FROM sym GROUP BY 1),
       |d2 AS (SELECT s.i,
       |         SUM(CASE WHEN a.p1 + b.p1 > 0.0
       |           THEN s.n::DOUBLE / (a.p1 + b.p1) ELSE 0.0 END) AS den
       |       FROM sym s JOIN items a ON s.i = a.i
       |       JOIN items b ON s.j2 = b.i
       |       GROUP BY 1)
       |SELECT items.i AS brand, wt, nt, ${sqlE6("p1")} AS p1_e6,
       |  ${sqlE6("CASE WHEN den > 0.0 THEN wt::DOUBLE / den " +
            "ELSE 0.0 END")} AS p2_e6
       |FROM items JOIN d2 ON items.i = d2.i ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------
  // q394 — AMS F2 sketch vs the exact second frequency moment of the
  // user_id stream: 8 independent ±1 md5-sign sketches, Z_r =
  // sum(count_x * s_r(x)) — every quantity an exact BIGINT (Z, Z^2,
  // the 8-sketch sum, and exact F2 = sum(count^2)), so the sketch
  // audit hashes identically everywhere. The mergeable two-level
  // shape (per-key counts -> per-sketch signed sums) is the 100 TB
  // layout: partials combine by addition.
  private val q394: Q = (s, dir) => {
    val cnt = t(s, dir, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val f2 = cnt.agg(sum(col("cnt") * col("cnt")).as("f2"))
    val z = cnt.crossJoin(broadcast(spineR(s)))
      .select(col("r"), col("cnt"),
        when(CurationOps.md5Hash32(concat(lit("ams"),
          col("r").cast("string"), lit(":"),
          col("user_id").cast("string"))) % 2L === 0L, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy(col("r")).agg(sum(col("cnt") * col("sgn")).as("z"))
    val est = z.agg(sum(col("z") * col("z")).as("est8"))
    z.crossJoin(broadcast(f2)).crossJoin(broadcast(est))
      .select(col("r"), col("z"), (col("z") * col("z")).as("z2"),
        col("f2"),
        e6(abs(col("est8").cast("double") / 8.0
          / col("f2").cast("double") - 1.0)).as("rel_err_e6"))
      .ordered(col("r"))
  }

  /** Sketch-index spine 0..7 for q394. */
  private def spineR(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L to 7L).toDF("r")
  }

  private val q394Sql: String =
    s"""WITH cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM events GROUP BY 1),
       |f2 AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS f2 FROM cnt),
       |rs AS (SELECT unnest(range(0, 8)) AS r),
       |z AS (SELECT r, CAST(SUM(cnt * (CASE WHEN
       |        ${OracleSql.hex32("md5('ams' || r::VARCHAR || ':' || user_id::VARCHAR)")} % 2 = 0
       |        THEN 1 ELSE -1 END)) AS BIGINT) AS z
       |      FROM cnt CROSS JOIN rs GROUP BY 1),
       |est AS (SELECT CAST(SUM(z * z) AS BIGINT) AS est8 FROM z)
       |SELECT r, z, CAST(z * z AS BIGINT) AS z2, f2,
       |  ${sqlE6("ABS(est8::DOUBLE / 8.0 / f2::DOUBLE - 1.0)")}
       |    AS rel_err_e6
       |FROM z, f2, est ORDER BY r""".stripMargin

  // ---------------------------------------------------------------
  // q395 — TwoNN intrinsic-dimension estimate of the embedding table
  // (Facco et al. 2017): mu = d2/d1 over the two nearest Euclidean
  // neighbors of each probe point (ABSOLUTE md5-rank cap of 128 —
  // see probeCap: the exact eval stays O(n * 128), linear at any
  // corpus size), ID = n / sum(ln mu). Distances are the
  // bit-identical left-to-right folds of the q28 family; d1 = 0
  // (verbatim-duplicate vectors) is excluded on both engines.
  private val q395: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.twoNNIntrinsicDim(
        probeCap(emb, 128, "p395"), emb,
        "vec_id", "embedding")
      .select(col("n_used"), e6(col("id_hat")).as("id_e6"))
      .ordered(col("n_used"))
  }

  private val q395Sql: String = {
    val dist = "sqrt(" + OracleSql.foldSum(
      "list_transform(range(1, 65), i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))") + ")"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |qs AS (SELECT * FROM e ${sqlProbeCap(128, "p395")}),
       |d AS (SELECT q.vec_id AS qid, c.vec_id AS nid, $dist AS d
       |      FROM qs q JOIN e c ON q.vec_id <> c.vec_id),
       |t2 AS (SELECT qid,
       |         MIN(CASE WHEN rk = 1 THEN d END) AS d1,
       |         MIN(CASE WHEN rk = 2 THEN d END) AS d2
       |       FROM (SELECT qid, d, ROW_NUMBER() OVER (
       |               PARTITION BY qid ORDER BY d, nid) AS rk FROM d)
       |       WHERE rk <= 2 GROUP BY 1),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
       |          SUM(LN(d2 / d1)) AS slog
       |        FROM t2 WHERE d1 > 0.0)
       |SELECT n_used,
       |  ${sqlE6("CASE WHEN slog > 0.0 THEN n_used::DOUBLE / slog " +
            "ELSE 0.0 END")} AS id_e6
       |FROM agg ORDER BY n_used""".stripMargin
  }

  // ---------------------------------------------------------------
  // q396 — pinball (quantile) loss of a trailing-7-day empirical-
  // quantile forecast of daily order counts, at q = 0.1 / 0.5 / 0.9:
  // forecast = the ceil(7q)-th smallest of the previous 7 days
  // (sorted bounded array), loss x10 = q10*(y-f) or (10-q10)*(f-y) —
  // every loss an exact BIGINT on the zero-filled day spine.
  private val q396: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val b = daily.agg(min(col("day")).as("dlo"), max(col("day")).as("dhi"))
    val spine = b.select(explode(sequence(col("dlo"), col("dhi")))
      .as("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    val fc = z.withColumn("trail", collect_list(col("y")).over(w))
      .filter(size(col("trail")) === 7)
      .withColumn("sorted", array_sort(col("trail")))
    val qs = fc.crossJoin(broadcast(spineQ(s)))
      .select(col("q10"), col("y"),
        element_at(col("sorted"), col("kq").cast("int")).as("f"))
      .select(col("q10"),
        when(col("y") >= col("f"), col("q10") * (col("y") - col("f")))
          .otherwise((lit(10L) - col("q10")) * (col("f") - col("y")))
          .as("loss10"))
    qs.groupBy(col("q10"))
      .agg(count(lit(1)).as("n_days"), sum(col("loss10")).as("loss10x"))
      .select(col("q10"), col("n_days"), col("loss10x"),
        e6(col("loss10x").cast("double") / 10.0
          / col("n_days").cast("double")).as("mean_loss_e6"))
      .ordered(col("q10"))
  }

  /** (q x 10, order statistic index) spine for q396: ceil(7q)-th
    * smallest of 7 -> (1,1), (5,4), (9,7). */
  private def spineQ(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, 1L), (5L, 4L), (9L, 7L)).toDF("q10", "kq")
  }

  private val q396Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day, CAST(COUNT(*) AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS dlo, MAX(day) AS dhi FROM daily),
       |spine AS (SELECT unnest(range(dlo, dhi + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.y, 0) AS y
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |fc AS (SELECT day, y, list_sort(trail) AS sorted FROM (
       |         SELECT day, y, list(y) OVER (ORDER BY day
       |           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail
       |         FROM z)
       |       WHERE len(trail) = 7),
       |qs AS (SELECT q10, CASE WHEN y >= sorted[kq]
       |           THEN q10 * (y - sorted[kq])
       |           ELSE (10 - q10) * (sorted[kq] - y) END AS loss10
       |       FROM fc CROSS JOIN (SELECT unnest([1, 5, 9]) AS q10,
       |         unnest([1, 4, 7]) AS kq))
       |SELECT q10, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(loss10) AS BIGINT) AS loss10x,
       |  ${sqlE6("SUM(loss10)::DOUBLE / 10.0 / COUNT(*)::DOUBLE")}
       |    AS mean_loss_e6
       |FROM qs GROUP BY q10 ORDER BY q10""".stripMargin

  // ---------------------------------------------------------------
  // q397 — EWMA control chart (lambda = 0.2) on daily order counts:
  // the smoothed series is ONE sequential array fold (identical fp
  // op order on both engines — the holt_winters discipline), control
  // limits from exact integer power sums (at lambda = 0.2 the
  // asymptotic 3-sigma EWMA band is exactly sigma: 3*sqrt(1/9)).
  // Output = violation days only.
  private val q397: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val b = daily.agg(min(col("day")).as("dlo"), max(col("day")).as("dhi"))
    val z = b.select(explode(sequence(col("dlo"), col("dhi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
    val folded = z
      .agg(expr("sort_array(collect_list(struct(day AS d, y AS v)))")
        .as("a"),
        sum(col("y")).as("s1"), sum(col("y") * col("y")).as("s2"),
        count(lit(1)).as("dd"), min(col("day")).as("d0"))
      .withColumn("ys", expr("transform(a, e -> CAST(e.v AS DOUBLE))"))
      .withColumn("zs", expr(
        """aggregate(slice(ys, 2, size(ys) - 1),
          |  array(element_at(ys, 1)),
          |  (acc, x) -> concat(acc,
          |    array(element_at(acc, -1)
          |      + 0.2D * (x - element_at(acc, -1)))))""".stripMargin))
      .withColumn("mu", col("s1").cast("double") / col("dd").cast("double"))
      .withColumn("band", sqrt(
        (col("s2").cast("double") - col("s1").cast("double")
          * col("s1").cast("double") / col("dd").cast("double"))
        / (col("dd") - 1L).cast("double")))
    folded.select(col("d0"), col("mu"), col("band"),
        posexplode(col("zs")).as(Seq("pos", "zv")))
      .filter(abs(col("zv") - col("mu")) > col("band"))
      .select((col("d0") + col("pos")).as("day"), e6(col("zv")).as("z_e6"),
        e6(col("zv") - col("mu")).as("dev_e6"))
      .ordered(col("day"))
  }

  private val q397Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day, CAST(COUNT(*) AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS dlo, MAX(day) AS dhi FROM daily),
       |spine AS (SELECT unnest(range(dlo, dhi + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.y, 0) AS y
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |folded AS (SELECT MIN(day) AS d0,
       |         CAST(SUM(y) AS BIGINT) AS s1,
       |         CAST(SUM(y * y) AS BIGINT) AS s2,
       |         CAST(COUNT(*) AS BIGINT) AS dd,
       |         list(y ORDER BY day) AS ys
       |       FROM z),
       |st AS (SELECT d0, s1, s2, dd,
       |         list_reduce(
       |           [[ys[1]::DOUBLE]] ||
       |             list_transform(ys[2:], v -> [v::DOUBLE]),
       |           (acc, x) -> list_append(acc,
       |             acc[-1] + 0.2 * (x[1] - acc[-1]))) AS zs,
       |         s1::DOUBLE / dd::DOUBLE AS mu,
       |         SQRT((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / dd::DOUBLE)
       |           / (dd - 1)::DOUBLE) AS band
       |       FROM folded)
       |SELECT d0 + pos - 1 AS day, ${sqlE6("zv")} AS z_e6,
       |  ${sqlE6("zv - mu")} AS dev_e6
       |FROM (SELECT d0, mu, band,
       |        unnest(zs) AS zv,
       |        generate_subscripts(zs, 1) AS pos
       |      FROM st)
       |WHERE ABS(zv - mu) > band
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q398 — Jonckheere-Terpstra trend test across the alphabetically
  // ordered event types: per ordered group pair, the Mann-Whitney
  // count U (with half-credit ties) computed from the zero-filled
  // (group x cents) histogram grid — 2x-integer exact per pair; the
  // z uses the standard no-tie null variance (documented).
  private val q398: Q = (s, dir) => {
    val v = t(s, dir, "events")
      .select(col("event_type").as("g"), cents.as("c"))
    // histogram once — value spine, group spine, zero-filled grid and
    // group sizes all derive from it (4 events scans before)
    val h = v.groupBy(col("g"), col("c")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val cs = h.select(col("c")).distinct()
    val gs = h.select(col("g")).distinct()
      .withColumn("go", row_number().over(Window.orderBy(col("g"))))
    val grid = cs.crossJoin(broadcast(gs))
      .join(h, Seq("g", "c"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wG = Window.partitionBy(col("g")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("cumlt", coalesce(sum(col("n")).over(wG), lit(0L)))
    val pairs = cum.as("a").join(cum.as("b"),
        col("a.c") === col("b.c") && col("a.go") < col("b.go"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(sum(col("b.n") * (lit(2L) * col("a.cumlt") + col("a.n")))
        .as("u2x"))
    val sizes = h.groupBy(col("g")).agg(sum(col("n")).as("ng"))
    val mv = sizes.agg(sum(col("ng")).as("nn"),
        sum(col("ng") * col("ng")).as("sn2"),
        sum(col("ng") * col("ng") * (lit(2L) * col("ng") + 3L))
          .as("sn23"))
      .select(col("nn"), col("sn2"), col("sn23"),
        ((col("nn") * col("nn") - col("sn2")).cast("double") / 4.0)
          .as("ej"),
        ((col("nn").cast("double") * col("nn").cast("double")
          * (lit(2L) * col("nn") + 3L).cast("double")
          - col("sn23").cast("double")) / 72.0).as("vj"))
    val j2 = pairs.agg(sum(col("u2x")).as("j2x"))
    pairs.crossJoin(broadcast(j2)).crossJoin(broadcast(mv))
      .select(col("ga"), col("gb"), col("u2x"), col("j2x"),
        e6(when(col("vj") > 0.0,
          (col("j2x").cast("double") / 2.0 - col("ej"))
            / sqrt(col("vj"))).otherwise(0.0)).as("z_e6"))
      .ordered(col("ga"), col("gb"))
  }

  private val q398Sql: String =
    s"""WITH v AS (SELECT event_type AS g,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |h AS (SELECT g, c, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM v GROUP BY 1, 2),
       |cs AS (SELECT DISTINCT c FROM h),
       |gs AS (SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS go
       |       FROM (SELECT DISTINCT g FROM h)),
       |grid AS (SELECT cs.c, gs.g, gs.go, COALESCE(h.n, 0) AS n
       |         FROM cs CROSS JOIN gs
       |         LEFT JOIN h ON cs.c = h.c AND gs.g = h.g),
       |cum AS (SELECT c, g, go, n,
       |          COALESCE(CAST(SUM(n) OVER (PARTITION BY g ORDER BY c
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |            AS BIGINT), 0) AS cumlt
       |        FROM grid),
       |pairs AS (SELECT a.g AS ga, b.g AS gb,
       |            CAST(SUM(b.n * (2 * a.cumlt + a.n)) AS BIGINT)
       |              AS u2x
       |          FROM cum a JOIN cum b ON a.c = b.c AND a.go < b.go
       |          GROUP BY 1, 2),
       |sizes AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng
       |          FROM h GROUP BY 1),
       |mv AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn,
       |         CAST(SUM(ng * ng) AS BIGINT) AS sn2,
       |         CAST(SUM(ng * ng * (2 * ng + 3)) AS BIGINT) AS sn23
       |       FROM sizes),
       |mv2 AS (SELECT nn, sn2, sn23,
       |          (nn * nn - sn2)::DOUBLE / 4.0 AS ej,
       |          (nn::DOUBLE * nn::DOUBLE * (2 * nn + 3)::DOUBLE
       |            - sn23::DOUBLE) / 72.0 AS vj
       |        FROM mv),
       |j2 AS (SELECT CAST(SUM(u2x) AS BIGINT) AS j2x FROM pairs)
       |SELECT ga, gb, u2x, j2x,
       |  ${sqlE6("CASE WHEN vj > 0.0 THEN (j2x::DOUBLE / 2.0 - ej) " +
            "/ SQRT(vj) ELSE 0.0 END")} AS z_e6
       |FROM pairs, j2, mv2 ORDER BY ga, gb""".stripMargin

  // ---------------------------------------------------------------
  // q399 — greedy k-center coreset over the embedding table
  // (SimilarityOps.kCenterCoreset, k = 4): the diverse-sample
  // selector for curation — k bounded scan rounds, 1-row argmax
  // driver state only, bit-identical left-to-right distance folds.
  private val q399: Q = (s, dir) => {
    SimilarityOps.kCenterCoreset(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4)
      .select(col("iter").cast("long").as("iter"), col("center_id"),
        e6(col("radius")).as("radius_e6"))
      .ordered(col("iter"))
  }

  private val q399Sql: String = {
    def dist(a: String, b: String) = "sqrt(" + OracleSql.foldSum(
      s"list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))") + ")"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |c1 AS (SELECT MIN(vec_id) AS id FROM e),
       |d1 AS (SELECT a.vec_id, a.v, ${dist("a.v", "b.v")} AS d
       |       FROM e a CROSS JOIN c1 JOIN e b ON b.vec_id = c1.id),
       |c2 AS (SELECT vec_id AS id, d AS r FROM d1, c1
       |       WHERE vec_id <> c1.id ORDER BY d DESC, vec_id LIMIT 1),
       |d2 AS (SELECT a.vec_id, a.v, LEAST(a.d, ${dist("a.v", "b.v")})
       |           AS d
       |       FROM d1 a CROSS JOIN c2 JOIN e b ON b.vec_id = c2.id),
       |c3 AS (SELECT vec_id AS id, d AS r FROM d2, c1, c2
       |       WHERE vec_id <> c1.id AND vec_id <> c2.id
       |       ORDER BY d DESC, vec_id LIMIT 1),
       |d3 AS (SELECT a.vec_id, a.v, LEAST(a.d, ${dist("a.v", "b.v")})
       |           AS d
       |       FROM d2 a CROSS JOIN c3 JOIN e b ON b.vec_id = c3.id),
       |c4 AS (SELECT vec_id AS id, d AS r FROM d3, c1, c2, c3
       |       WHERE vec_id <> c1.id AND vec_id <> c2.id
       |         AND vec_id <> c3.id
       |       ORDER BY d DESC, vec_id LIMIT 1)
       |SELECT CAST(1 AS BIGINT) AS iter, c1.id AS center_id,
       |    CAST(0 AS BIGINT) AS radius_e6 FROM c1
       |UNION ALL SELECT CAST(2 AS BIGINT), id, ${sqlE6("r")} FROM c2
       |UNION ALL SELECT CAST(3 AS BIGINT), id, ${sqlE6("r")} FROM c3
       |UNION ALL SELECT CAST(4 AS BIGINT), id, ${sqlE6("r")} FROM c4
       |ORDER BY iter""".stripMargin
  }

  // ---------------------------------------------------------------
  // q400 — on-time shipment share per order priority: an order is
  // on time when its SLOWEST line shipped within 60 days of the
  // order date. Exact integer lag maxima; the per-priority share and
  // mean worst-lag are pinned rationals.
  private val q400: Q = (s, dir) => {
    val lag = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(max(datediff(col("l_shipdate"), col("o_orderdate"))
        .cast("long")).as("lag_max"))
    lag.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("lag_max") <= 60L, 1L).otherwise(0L))
          .as("n_ontime"),
        sum(col("lag_max")).as("lag_sum"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_ontime"),
        e6(col("n_ontime").cast("double")
          / col("n_orders").cast("double")).as("ontime_share_e6"),
        e6(col("lag_sum").cast("double")
          / col("n_orders").cast("double")).as("mean_worst_lag_e6"))
      .ordered(col("o_orderpriority"))
  }

  private val q400Sql: String =
    s"""WITH lag AS (SELECT o_orderkey, o_orderpriority,
       |        CAST(MAX(DATE_DIFF('day', o_orderdate, l_shipdate))
       |          AS BIGINT) AS lag_max
       |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |      GROUP BY 1, 2),
       |a AS (SELECT o_orderpriority,
       |        CAST(COUNT(*) AS BIGINT) AS n_orders,
       |        CAST(SUM(CASE WHEN lag_max <= 60 THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_ontime,
       |        CAST(SUM(lag_max) AS BIGINT) AS lag_sum
       |      FROM lag GROUP BY 1)
       |SELECT o_orderpriority, n_orders, n_ontime,
       |  ${sqlE6("n_ontime::DOUBLE / n_orders::DOUBLE")}
       |    AS ontime_share_e6,
       |  ${sqlE6("lag_sum::DOUBLE / n_orders::DOUBLE")}
       |    AS mean_worst_lag_e6
       |FROM a ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------
  // q401 — Croston's method for intermittent demand, per brand:
  // demand epochs = ship days with any quantity, EWMA (alpha = 0.1)
  // of demand sizes and inter-demand gaps, forecast = z/p. The
  // smoothing recursion is ONE sequential array fold over the
  // day-ordered (day, qty) pairs — identical fp op order on both
  // engines (the holt_winters discipline; state = [z, p, prev_day,
  // i] with the first two epochs initializing z and the raw first
  // gap). Demand series are day-domain-bounded per brand.
  private val q401: Q = (s, dir) => {
    val daily = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val folded = daily.groupBy(col("brand"))
      .agg(expr("sort_array(collect_list(struct(day AS d, qty AS q)))")
        .as("a"), count(lit(1)).as("m"))
      .withColumn("st", expr(
        """aggregate(a, array(0D, 0D, 0D, 0D), (acc, e) -> CASE
          |  WHEN element_at(acc, 4) = 0D THEN
          |    array(CAST(e.q AS DOUBLE), 0D, CAST(e.d AS DOUBLE), 1D)
          |  WHEN element_at(acc, 4) = 1D THEN array(
          |    element_at(acc, 1)
          |      + 0.1D * (CAST(e.q AS DOUBLE) - element_at(acc, 1)),
          |    CAST(e.d AS DOUBLE) - element_at(acc, 3),
          |    CAST(e.d AS DOUBLE), 2D)
          |  ELSE array(
          |    element_at(acc, 1)
          |      + 0.1D * (CAST(e.q AS DOUBLE) - element_at(acc, 1)),
          |    element_at(acc, 2) + 0.1D * ((CAST(e.d AS DOUBLE)
          |      - element_at(acc, 3)) - element_at(acc, 2)),
          |    CAST(e.d AS DOUBLE), element_at(acc, 4) + 1D)
          |  END)""".stripMargin))
    folded.select(col("brand"), col("m"),
        e6(expr("element_at(st, 1)")).as("z_e6"),
        e6(expr("element_at(st, 2)")).as("p_e6"),
        e6(when(expr("element_at(st, 2)") > 0.0,
          expr("element_at(st, 1) / element_at(st, 2)"))
          .otherwise(0.0)).as("croston_e6"))
      .ordered(col("brand"))
  }

  private val q401Sql: String =
    s"""WITH daily AS (SELECT p_brand AS brand,
       |        DATE_DIFF('day', TIMESTAMP '1970-01-01', l_shipdate)
       |          AS day,
       |        CAST(SUM(l_quantity) AS BIGINT) AS qty
       |      FROM lineitem JOIN part ON l_partkey = p_partkey
       |      GROUP BY 1, 2),
       |arrs AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS m,
       |           list(day ORDER BY day) AS ds,
       |           list(qty ORDER BY day) AS qs
       |         FROM daily GROUP BY 1),
       |folded AS (SELECT brand, m,
       |         list_reduce(
       |           list_prepend([0.0, 0.0, 0.0, 0.0],
       |             list_transform(range(1, len(ds) + 1),
       |               ii -> [ds[ii]::DOUBLE, qs[ii]::DOUBLE])),
       |           (acc, x) -> CASE
       |             WHEN acc[4] = 0.0 THEN [x[2], 0.0, x[1], 1.0]
       |             WHEN acc[4] = 1.0 THEN [
       |               acc[1] + 0.1 * (x[2] - acc[1]),
       |               x[1] - acc[3], x[1], 2.0]
       |             ELSE [
       |               acc[1] + 0.1 * (x[2] - acc[1]),
       |               acc[2] + 0.1 * ((x[1] - acc[3]) - acc[2]),
       |               x[1], acc[4] + 1.0]
       |             END) AS st
       |       FROM arrs)
       |SELECT brand, m, ${sqlE6("st[1]")} AS z_e6,
       |  ${sqlE6("st[2]")} AS p_e6,
       |  ${sqlE6("CASE WHEN st[2] > 0.0 THEN st[1] / st[2] " +
            "ELSE 0.0 END")} AS croston_e6
       |FROM folded ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------
  // q402 — curriculum phase assignment by quality quartile: the q22
  // quality score pinned to micro-units, type-lower quartile
  // boundaries from the qe6 histogram (the q299 selection), docs
  // binned into 4 training phases with per-phase doc counts, token
  // budgets, and mean quality. The "easy-to-hard" data schedule a
  // curriculum trainer consumes.
  private val q402: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        e6(TextOps.qualityScoreRaw(col("text"), NorthStar.Stopwords))
          .as("qe6"),
        TextOps.tokenCount(col("text")).cast("long").as("toks"))
      .localCheckpoint(false)
    val gh = d.groupBy(col("qe6")).agg(count(lit(1)).as("nc"))
    val w = Window.orderBy(col("qe6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = gh.agg(sum(col("nc")).as("nn"))
    val cum = gh.withColumn("cum", sum(col("nc")).over(w))
      .crossJoin(broadcast(tot))
    def bnd(j: Int) = cum
      .filter(col("cum").cast("double") >=
        ceil(col("nn").cast("double") * lit(j) / 4.0))
      .agg(min(col("qe6")).as(s"b$j"))
    val phased = d.crossJoin(broadcast(bnd(1)))
      .crossJoin(broadcast(bnd(2))).crossJoin(broadcast(bnd(3)))
      .select(col("qe6"), col("toks"),
        (lit(1L) + when(col("qe6") > col("b1"), 1L).otherwise(0L)
          + when(col("qe6") > col("b2"), 1L).otherwise(0L)
          + when(col("qe6") > col("b3"), 1L).otherwise(0L))
          .as("phase"))
    phased.groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tok_budget"),
        sum(col("qe6")).as("qsum"))
      .select(col("phase"), col("n_docs"), col("tok_budget"),
        round(col("qsum").cast("double") / col("n_docs").cast("double"),
          0).cast("long").as("mean_q_micro"))
      .ordered(col("phase"))
  }

  private val q402Sql: String =
    s"""WITH d0 AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, len(toks) AS toks_n,
       |         len(list_filter(toks, t -> list_contains(
       |           ['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text,
       |           '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM d0),
       |d AS (
       |  SELECT doc_id, CAST(toks_n AS BIGINT) AS toks,
       |         CAST(ROUND((LEAST(mean_len / 8.0, 1.0)
       |           + (1.0 - stop_ratio)
       |           + (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 * 1e6,
       |           0) AS BIGINT) AS qe6
       |  FROM m),
       |gh AS (SELECT qe6, CAST(COUNT(*) AS BIGINT) AS nc
       |       FROM d GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn FROM gh),
       |cum AS (SELECT qe6, CAST(SUM(nc) OVER (ORDER BY qe6
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS cum
       |        FROM gh),
       |b1 AS (SELECT MIN(qe6) AS b1 FROM cum, tot
       |       WHERE cum::DOUBLE >= CEIL(nn::DOUBLE * 1 / 4.0)),
       |b2 AS (SELECT MIN(qe6) AS b2 FROM cum, tot
       |       WHERE cum::DOUBLE >= CEIL(nn::DOUBLE * 2 / 4.0)),
       |b3 AS (SELECT MIN(qe6) AS b3 FROM cum, tot
       |       WHERE cum::DOUBLE >= CEIL(nn::DOUBLE * 3 / 4.0)),
       |ph AS (SELECT qe6, toks,
       |         1 + (CASE WHEN qe6 > b1 THEN 1 ELSE 0 END)
       |           + (CASE WHEN qe6 > b2 THEN 1 ELSE 0 END)
       |           + (CASE WHEN qe6 > b3 THEN 1 ELSE 0 END) AS phase
       |       FROM d, b1, b2, b3)
       |SELECT CAST(phase AS BIGINT) AS phase,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS tok_budget,
       |  CAST(ROUND(SUM(qe6)::DOUBLE / COUNT(*)::DOUBLE, 0) AS BIGINT)
       |    AS mean_q_micro
       |FROM ph GROUP BY 1 ORDER BY phase""".stripMargin

  // ---------------------------------------------------------------
  // q403 — Neyman optimal allocation of a 1000-doc sample across
  // sources vs proportional: n_h ~ N_h * S_h (S from exact integer
  // power sums of n_chars), integerized by the deterministic
  // largest-remainder method (floor + remainder rank, source
  // tiebreak), and the design-variance ratio of the two allocations.
  private val q403: Q = (s, dir) => {
    val st = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"), sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("source"), col("nh"),
        sqrt((col("s2").cast("double") - col("s1").cast("double")
          * col("s1").cast("double") / col("nh").cast("double"))
          / (col("nh") - 1L).cast("double")).as("sh"))
    val tots = st.agg(sum(col("nh").cast("double")).as("wprop_tot"),
      sum(col("nh").cast("double") * col("sh")).as("wney_tot"))
    def apportion(df: DataFrame, wCol: Column, totCol: Column,
                  out: String): DataFrame = {
      val withShare = df.withColumn("__sh", wCol / totCol * lit(1000.0))
        .withColumn("__base", floor(col("__sh")).cast("long"))
        .withColumn("__rem", col("__sh") - col("__base").cast("double"))
      val left = withShare.agg((lit(1000L) - sum(col("__base")))
        .as("__left"))
      withShare.crossJoin(broadcast(left))
        .withColumn("__rk", row_number().over(
          Window.orderBy(col("__rem").desc, col("source"))))
        .withColumn(out, col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
        .drop("__sh", "__base", "__rem", "__rk", "__left")
    }
    val both = apportion(
      apportion(st.crossJoin(broadcast(tots)),
        col("nh").cast("double"), col("wprop_tot"), "n_prop"),
      col("nh").cast("double") * col("sh"), col("wney_tot"), "n_ney")
      .localCheckpoint(false)
    val vr = both.agg(
        sum(when(col("n_ney") > 0L, col("nh").cast("double")
          * col("nh").cast("double") * col("sh") * col("sh")
          / col("n_ney").cast("double")).otherwise(0.0)).as("vn"),
        sum(when(col("n_prop") > 0L, col("nh").cast("double")
          * col("nh").cast("double") * col("sh") * col("sh")
          / col("n_prop").cast("double")).otherwise(0.0)).as("vp"))
      .select(e6(when(col("vp") > 0.0, col("vn") / col("vp"))
        .otherwise(0.0)).as("var_ratio_e6"))
    both.crossJoin(broadcast(vr))
      .select(col("source"), col("nh"), e6(col("sh")).as("sh_e6"),
        col("n_prop"), col("n_ney"), col("var_ratio_e6"))
      .ordered(col("source"))
  }

  private val q403Sql: String =
    s"""WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
       |        SQRT((SUM(n_chars * n_chars)::DOUBLE
       |          - SUM(n_chars)::DOUBLE * SUM(n_chars)::DOUBLE
       |            / COUNT(*)::DOUBLE)
       |          / (COUNT(*) - 1)::DOUBLE) AS sh
       |      FROM documents GROUP BY 1),
       |tots AS (SELECT SUM(nh::DOUBLE) AS wprop_tot,
       |           SUM(nh::DOUBLE * sh) AS wney_tot FROM st),
       |p1 AS (SELECT source, nh, sh,
       |         nh::DOUBLE / wprop_tot * 1000.0 AS shp
       |       FROM st, tots),
       |p2 AS (SELECT source, nh, sh, CAST(FLOOR(shp) AS BIGINT)
       |           AS basep, shp - FLOOR(shp) AS remp
       |       FROM p1),
       |pl AS (SELECT 1000 - CAST(SUM(basep) AS BIGINT) AS leftp
       |       FROM p2),
       |pr AS (SELECT source, nh, sh, basep +
       |         (CASE WHEN ROW_NUMBER() OVER (ORDER BY remp DESC,
       |            source) <= leftp THEN 1 ELSE 0 END) AS n_prop
       |       FROM p2, pl),
       |n1 AS (SELECT source, nh, sh, n_prop,
       |         nh::DOUBLE * sh / wney_tot * 1000.0 AS shn
       |       FROM pr, tots),
       |n2 AS (SELECT source, nh, sh, n_prop,
       |         CAST(FLOOR(shn) AS BIGINT) AS basen,
       |         shn - FLOOR(shn) AS remn
       |       FROM n1),
       |nl AS (SELECT 1000 - CAST(SUM(basen) AS BIGINT) AS leftn
       |       FROM n2),
       |nr AS (SELECT source, nh, sh, n_prop, basen +
       |         (CASE WHEN ROW_NUMBER() OVER (ORDER BY remn DESC,
       |            source) <= leftn THEN 1 ELSE 0 END) AS n_ney
       |       FROM n2, nl),
       |vr AS (SELECT
       |         SUM(CASE WHEN n_ney > 0 THEN nh::DOUBLE * nh::DOUBLE
       |           * sh * sh / n_ney::DOUBLE ELSE 0.0 END) AS vn,
       |         SUM(CASE WHEN n_prop > 0 THEN nh::DOUBLE * nh::DOUBLE
       |           * sh * sh / n_prop::DOUBLE ELSE 0.0 END) AS vp
       |       FROM nr)
       |SELECT source, nh, ${sqlE6("sh")} AS sh_e6,
       |  CAST(n_prop AS BIGINT) AS n_prop, CAST(n_ney AS BIGINT) AS n_ney,
       |  ${sqlE6("CASE WHEN vp > 0.0 THEN vn / vp ELSE 0.0 END")}
       |    AS var_ratio_e6
       |FROM nr, vr ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q404 — exact Shapley attribution over the 3-channel exposure
  // game (click / view / signup; conversion = purchase): users are
  // bucketed by exact exposure subset (8 masks, zero-filled),
  // v(S) = conversion rate of that bucket, and each channel's
  // Shapley value is the weighted marginal sum over the 4 subsets
  // excluding it — |S|!(3-|S|-1)!/3! with the exact integer weights
  // {2, 1, 1, 2}/6. The game-theoretic counterpart of the q199/q200
  // touch heuristics.
  private val q404: Q = (s, dir) => {
    val pres = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("hc"),
        max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("hv"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L))
          .as("hs"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val sub = pres
      .groupBy((col("hc") + lit(2L) * col("hv") + lit(4L) * col("hs"))
        .as("mask"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
    val masks = spineMask(s).join(sub, Seq("mask"), "left")
      .select(col("mask"),
        when(coalesce(col("n"), lit(0L)) > 0L,
          col("nc").cast("double") / col("n").cast("double"))
          .otherwise(0.0).as("v"))
      .localCheckpoint(false)
    val phi = spineChan(s)
      .join(masks.select(col("mask").as("smask"), col("v")),
        col("smask").bitwiseAND(col("bit")) === 0L)
      .join(masks.select(col("mask").as("smaski"), col("v").as("vi")),
        col("smaski") === col("smask") + col("bit"))
      .withColumn("w", when(col("smask") === 0L, 2.0)
        .when(col("smask").isin(3L, 5L, 6L), 2.0).otherwise(1.0))
      .groupBy(col("channel"))
      .agg(sum(col("w") * (col("vi") - col("v"))).as("phi6"))
    phi.select(col("channel"), e6(col("phi6") / 6.0).as("phi_e6"))
      .ordered(col("channel"))
  }

  /** 8-row exposure-mask spine for q404. */
  private def spineMask(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L to 7L).toDF("mask")
  }

  /** Channel bit spine for q404 (click=1, view=2, signup=4). */
  private def spineChan(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("click", 1L), ("view", 2L), ("signup", 4L))
      .toDF("channel", "bit")
  }

  private val q404Sql: String =
    s"""WITH pres AS (SELECT user_id,
       |        MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |          AS hc,
       |        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |          AS hv,
       |        MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
       |          AS hs,
       |        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |          AS conv
       |      FROM events GROUP BY 1),
       |sub AS (SELECT hc + 2 * hv + 4 * hs AS mask,
       |          CAST(COUNT(*) AS BIGINT) AS n,
       |          CAST(SUM(conv) AS BIGINT) AS nc
       |        FROM pres GROUP BY 1),
       |masks AS (SELECT ms.mask,
       |            CASE WHEN COALESCE(sub.n, 0) > 0
       |              THEN sub.nc::DOUBLE / sub.n::DOUBLE
       |              ELSE 0.0 END AS v
       |          FROM (SELECT unnest(range(0, 8)) AS mask) ms
       |          LEFT JOIN sub ON ms.mask = sub.mask),
       |chan AS (SELECT unnest(['click', 'signup', 'view']) AS channel,
       |           unnest([1, 4, 2]) AS bit),
       |phi AS (SELECT channel,
       |          SUM((CASE WHEN a.mask IN (0) THEN 2.0
       |               WHEN a.mask IN (3, 5, 6) THEN 2.0
       |               ELSE 1.0 END) * (b.v - a.v)) AS phi6
       |        FROM chan JOIN masks a ON (a.mask & bit) = 0
       |        JOIN masks b ON b.mask = a.mask + bit
       |        GROUP BY 1)
       |SELECT channel, ${sqlE6("phi6 / 6.0")} AS phi_e6
       |FROM phi ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------
  // q405 — two-model uplift by market segment: treatment = customer-
  // key parity (the q389 assignment), outcome = repeat purchase
  // (>= 2 orders), uplift = treatment minus control repeat rate per
  // c_mktsegment — all exact integer counts, pinned rationals.
  private val q405: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_custkey") % 2L === 0L).as("treat"))
    val ords = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("no"))
    val j = cust.join(ords, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"), col("treat"),
        (coalesce(col("no"), lit(0L)) >= 2L).as("rep"))
    j.groupBy(col("c_mktsegment"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat") && col("rep"), 1L).otherwise(0L))
          .as("r_t"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treat") && col("rep"), 1L).otherwise(0L))
          .as("r_c"))
      .select(col("c_mktsegment"), col("n_t"), col("r_t"), col("n_c"),
        col("r_c"),
        e6(when(col("n_t") > 0L && col("n_c") > 0L,
          col("r_t").cast("double") / col("n_t").cast("double")
            - col("r_c").cast("double") / col("n_c").cast("double"))
          .otherwise(0.0)).as("uplift_e6"))
      .ordered(col("c_mktsegment"))
  }

  private val q405Sql: String =
    s"""WITH cust AS (SELECT c_custkey, c_mktsegment,
       |        c_custkey % 2 = 0 AS treat FROM customer),
       |ords AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS no
       |         FROM orders GROUP BY 1),
       |j AS (SELECT c_mktsegment, treat,
       |        COALESCE(no, 0) >= 2 AS rep
       |      FROM cust LEFT JOIN ords ON c_custkey = o_custkey),
       |a AS (SELECT c_mktsegment,
       |        CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_t,
       |        CAST(SUM(CASE WHEN treat AND rep THEN 1 ELSE 0 END)
       |          AS BIGINT) AS r_t,
       |        CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_c,
       |        CAST(SUM(CASE WHEN NOT treat AND rep THEN 1 ELSE 0 END)
       |          AS BIGINT) AS r_c
       |      FROM j GROUP BY 1)
       |SELECT c_mktsegment, n_t, r_t, n_c, r_c,
       |  ${sqlE6("CASE WHEN n_t > 0 AND n_c > 0 THEN " +
            "r_t::DOUBLE / n_t::DOUBLE - r_c::DOUBLE / n_c::DOUBLE " +
            "ELSE 0.0 END")} AS uplift_e6
       |FROM a ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------
  // q406 — kNN density audit of the embedding space: for a sampled
  // query set (absolute 128-probe md5-rank cap), the 4th-NN radius
  // (micro-pinned), per-label mean radius, and the count of "core"
  // points (radius <= the global type-lower median radius) — the
  // density screen a DBSCAN-style curation pass starts from.
  private val q406: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // ABSOLUTE md5-rank probe cap (see probeCap): exact eval at
    // O(n * 128), linear in corpus size
    val q = probeCap(emb, 128, "p406")
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val r4 = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("qlab"),
        sqrt(SimilarityOps.sqDist(col("qv"), col("nv"))).as("d"),
        col("nid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("nid"))))
      .filter(col("rk") === 4)
      .select(col("qid"), col("qlab"), e6(col("d")).as("re6"))
      .localCheckpoint(false)
    val gh = r4.groupBy(col("re6")).agg(count(lit(1)).as("nc"))
    val tot = gh.agg(sum(col("nc")).as("nn"))
    val med = gh.withColumn("cum", sum(col("nc")).over(
        Window.orderBy(col("re6"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .filter(col("cum").cast("double") >=
        ceil(col("nn").cast("double") / 2.0))
      .agg(min(col("re6")).as("med"))
    r4.crossJoin(broadcast(med))
      .groupBy(col("qlab").as("label"))
      .agg(count(lit(1)).as("n_q"),
        round(avg(col("re6").cast("double")), 0).cast("long")
          .as("mean_r4_micro"),
        sum(when(col("re6") <= col("med"), 1L).otherwise(0L))
          .as("n_core"))
      .ordered(col("label"))
  }

  private val q406Sql: String = {
    val dist = "sqrt(" + OracleSql.foldSum(
      "list_transform(range(1, 65), i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))") + ")"
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |qs AS (SELECT * FROM e ${sqlProbeCap(128, "p406")}),
       |r4 AS (SELECT qid, qlab, CAST(ROUND(d * 1e6, 0) AS BIGINT)
       |           AS re6
       |       FROM (SELECT q.vec_id AS qid, q.label AS qlab, $dist AS d,
       |               ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                 ORDER BY $dist, c.vec_id) AS rk
       |             FROM qs q JOIN e c ON q.vec_id <> c.vec_id)
       |       WHERE rk = 4),
       |gh AS (SELECT re6, CAST(COUNT(*) AS BIGINT) AS nc
       |       FROM r4 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn FROM gh),
       |med AS (SELECT MIN(re6) AS med FROM (
       |          SELECT re6, CAST(SUM(nc) OVER (ORDER BY re6
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum FROM gh), tot
       |        WHERE cum::DOUBLE >= CEIL(nn::DOUBLE / 2.0))
       |SELECT qlab AS label, CAST(COUNT(*) AS BIGINT) AS n_q,
       |  CAST(ROUND(AVG(re6::DOUBLE), 0) AS BIGINT) AS mean_r4_micro,
       |  CAST(SUM(CASE WHEN re6 <= med THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_core
       |FROM r4, med GROUP BY 1 ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q407 — heavy-hitter drift between the two halves of the event
  // stream: top-20 users by activity in each half (count-desc,
  // id tiebreak), overlap count and the implied top-set Jaccard —
  // the cheap "did the head of the distribution move" monitor.
  private val q407: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts_ns div 1000").as("tus"))
    // integer floor division on both engines (see q385)
    val mid = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val marked = ev.crossJoin(broadcast(mid))
      .select(col("user_id"), (col("tus") > col("mid")).as("h2"))
    def top20(h2: Boolean) = marked.filter(col("h2") === h2)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("user_id"))))
      .filter(col("rk") <= 20).select(col("user_id"))
    val common = top20(false).join(top20(true), "user_id")
      .agg(count(lit(1)).as("n_common"))
    common.select(col("n_common"),
        e6(col("n_common").cast("double")
          / (lit(40L) - col("n_common")).cast("double"))
          .as("jaccard_e6"))
      .ordered(col("n_common"))
  }

  private val q407Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
       |mid AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS mid FROM ev),
       |t1 AS (SELECT user_id FROM (
       |         SELECT user_id, ROW_NUMBER() OVER (
       |           ORDER BY COUNT(*) DESC, user_id) AS rk
       |         FROM ev, mid WHERE tus <= mid GROUP BY user_id, mid.mid)
       |       WHERE rk <= 20),
       |t2 AS (SELECT user_id FROM (
       |         SELECT user_id, ROW_NUMBER() OVER (
       |           ORDER BY COUNT(*) DESC, user_id) AS rk
       |         FROM ev, mid WHERE tus > mid GROUP BY user_id, mid.mid)
       |       WHERE rk <= 20),
       |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
       |      FROM t1 JOIN t2 USING (user_id))
       |SELECT n_common,
       |  ${sqlE6("n_common::DOUBLE / (40 - n_common)::DOUBLE")}
       |    AS jaccard_e6
       |FROM c ORDER BY n_common""".stripMargin

  // ---------------------------------------------------------------
  // q408 — T5-style span-corruption masking plan: deterministic
  // md5-seeded span starts (~5% of token positions), each start
  // masking a 3-token window; mask coverage and merged-island span
  // counts aggregated per source. The masking schedule a
  // denoising-objective data loader materializes — reproducible
  // across engines, workers, and re-runs because the seed is
  // (doc_id, position), not an RNG.
  private val q408: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("source"), (col("p0") + 1L).as("pos"))
    val started = toks.withColumn("st",
      when(CurationOps.md5Hash32(concat(lit("sc:"),
        col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string"))) < 214748364L, 1L).otherwise(0L))
    val wSpan = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-2, 0)
    val wLag = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val masked = started
      .withColumn("mk", max(col("st")).over(wSpan))
      .withColumn("isl", when(col("mk") === 1L &&
        coalesce(lag(col("mk"), 1).over(wLag), lit(0L)) === 0L, 1L)
        .otherwise(0L))
    masked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("mk")).as("n_masked"),
        sum(col("isl")).as("n_spans"))
      .select(col("source"), col("n_tokens"), col("n_masked"),
        col("n_spans"),
        e6(col("n_masked").cast("double")
          / col("n_tokens").cast("double")).as("mask_ratio_e6"))
      .ordered(col("source"))
  }

  private val q408Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |      FROM documents),
       |pos AS (SELECT doc_id, source,
       |          unnest(range(1, len(toks) + 1)) AS pos
       |        FROM d),
       |st AS (SELECT doc_id, source, pos,
       |         CASE WHEN ${OracleSql.hex32("md5('sc:' || doc_id::VARCHAR || ':' || pos::VARCHAR)")} < 214748364
       |           THEN 1 ELSE 0 END AS st
       |       FROM pos),
       |mk AS (SELECT doc_id, source, pos, st,
       |         MAX(st) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mk
       |       FROM st),
       |isl AS (SELECT source, mk,
       |          CASE WHEN mk = 1 AND COALESCE(LAG(mk, 1) OVER (
       |            PARTITION BY doc_id ORDER BY pos), 0) = 0
       |            THEN 1 ELSE 0 END AS isl
       |        FROM mk)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(mk) AS BIGINT) AS n_masked,
       |  CAST(SUM(isl) AS BIGINT) AS n_spans,
       |  ${sqlE6("SUM(mk)::DOUBLE / COUNT(*)::DOUBLE")}
       |    AS mask_ratio_e6
       |FROM isl GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q409 — interpolated Kneser-Ney bigram probabilities (d = 0.75)
  // for the 20 most frequent bigrams: discounted ML term plus the
  // continuation-probability backoff — all counts exact integers
  // (pair counts, context totals, follow/precede type counts, the
  // global bigram-type total), only the final probability is a
  // pinned double. The smoothing every n-gram LM data prep runs.
  private val q409: Q = (s, dir) => {
    val toks = TextOps.tokens(col("text"))
    val big = t(s, dir, "documents")
      .select(explode(TextOps.shinglesFromTokens(toks, 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c12"))
      .select(substring_index(col("b"), " ", 1).as("w1"),
        substring_index(col("b"), " ", -1).as("w2"), col("c12"))
      .localCheckpoint(false)
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nfollow"))
    val pre = big.groupBy(col("w2")).agg(count(lit(1)).as("nprec"))
    val tt = big.agg(count(lit(1)).as("tt"))
    val top = big.withColumn("rk", row_number().over(
        Window.orderBy(col("c12").desc, col("w1"), col("w2"))))
      .filter(col("rk") <= 20)
    top.join(ctx, "w1").join(pre, "w2").crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"), col("c12"),
        e6((greatest(col("c12").cast("double") - 0.75, lit(0.0))
          / col("c1").cast("double"))
          + (lit(0.75) * col("nfollow").cast("double")
            / col("c1").cast("double"))
          * (col("nprec").cast("double") / col("tt").cast("double")))
          .as("pkn_e6"))
      .ordered(col("c12").desc, col("w1"), col("w2"))
  }

  private val q409Sql: String =
    s"""WITH d AS (SELECT
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |      FROM documents),
       |bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS b
       |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |             FROM d)),
       |big AS (SELECT string_split(b, ' ')[1] AS w1,
       |          string_split(b, ' ')[2] AS w2,
       |          CAST(COUNT(*) AS BIGINT) AS c12
       |        FROM bg GROUP BY b),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |          CAST(COUNT(*) AS BIGINT) AS nfollow
       |        FROM big GROUP BY 1),
       |pre AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nprec
       |        FROM big GROUP BY 1),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM big),
       |top AS (SELECT w1, w2, c12 FROM (
       |          SELECT w1, w2, c12, ROW_NUMBER() OVER (
       |            ORDER BY c12 DESC, w1, w2) AS rk FROM big)
       |        WHERE rk <= 20)
       |SELECT top.w1, top.w2, c12,
       |  ${sqlE6("(GREATEST(c12::DOUBLE - 0.75, 0.0) / c1::DOUBLE) " +
            "+ (0.75 * nfollow::DOUBLE / c1::DOUBLE) " +
            "* (nprec::DOUBLE / tt::DOUBLE)")} AS pkn_e6
       |FROM top JOIN ctx ON top.w1 = ctx.w1
       |JOIN pre ON top.w2 = pre.w2 CROSS JOIN tt
       |ORDER BY c12 DESC, top.w1, top.w2""".stripMargin

  // ---------------------------------------------------------------
  // q410 — importance-weight health per source: effective sample
  // size (sum w)^2 / sum w^2, max-weight share, and coefficient of
  // variation of the micro-pinned quality weights — the diagnostics
  // that decide whether a DSIR-style reweighting is usable or
  // degenerate. All power sums exact BIGINTs.
  private val q410: Q = (s, dir) => {
    val w = t(s, dir, "documents")
      .select(col("source"),
        (e6(TextOps.qualityScoreRaw(col("text"), NorthStar.Stopwords))
          + 1L).as("w"))
    w.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("s1"),
        sum(col("w") * col("w")).as("s2"), max(col("w")).as("wmax"))
      .select(col("source"), col("n"),
        e6(col("s1").cast("double") * col("s1").cast("double")
          / col("s2").cast("double")
          / col("n").cast("double")).as("ess_frac_e6"),
        e6(col("wmax").cast("double") / col("s1").cast("double"))
          .as("max_share_e6"),
        e6(sqrt(col("n").cast("double") * col("s2").cast("double")
          / (col("s1").cast("double") * col("s1").cast("double"))
          - 1.0)).as("cv_e6"))
      .ordered(col("source"))
  }

  private val q410Sql: String =
    s"""WITH d0 AS (
       |  SELECT source, text,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT source,
       |         len(list_filter(toks, t -> list_contains(
       |           ['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text,
       |           '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM d0),
       |w AS (
       |  SELECT source,
       |         CAST(ROUND((LEAST(mean_len / 8.0, 1.0)
       |           + (1.0 - stop_ratio)
       |           + (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 * 1e6,
       |           0) AS BIGINT) + 1 AS w
       |  FROM m),
       |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(w) AS BIGINT) AS s1,
       |        CAST(SUM(w * w) AS BIGINT) AS s2,
       |        CAST(MAX(w) AS BIGINT) AS wmax
       |      FROM w GROUP BY 1)
       |SELECT source, n,
       |  ${sqlE6("s1::DOUBLE * s1::DOUBLE / s2::DOUBLE / n::DOUBLE")}
       |    AS ess_frac_e6,
       |  ${sqlE6("wmax::DOUBLE / s1::DOUBLE")} AS max_share_e6,
       |  ${sqlE6("SQRT(n::DOUBLE * s2::DOUBLE / " +
            "(s1::DOUBLE * s1::DOUBLE) - 1.0)")} AS cv_e6
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q411 — OCR/garble screen per (source, lang) via the native
  // single-pass CharClassCount expression (digits, space runs, vowel
  // runs — no regexp_replace copies): vowel-runs-per-word and digit
  // density, with docs flagged when the vowel density collapses or
  // digits dominate. The cheap "is this extraction garbage" gate.
  private val q411: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("len"),
        TextOps.charClassCount(col("text"), 0).as("digits"),
        (TextOps.charClassCount(col("text"), 2) + 1L).as("words"),
        TextOps.charClassCount(col("text"), 4).as("vruns"))
      .select(col("source"), col("lang"),
        (col("vruns").cast("double") / col("words").cast("double"))
          .as("vpw"),
        (col("digits").cast("double")
          / greatest(col("len"), lit(1L)).cast("double")).as("dr"))
    d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vpw") < 0.8 || col("dr") > 0.3, 1L)
          .otherwise(0L)).as("n_flagged"),
        e6(avg(col("vpw"))).as("mean_vpw_e6"),
        e6(avg(col("dr"))).as("mean_digit_ratio_e6"))
      .ordered(col("source"), col("lang"))
  }

  private val q411Sql: String =
    s"""WITH d AS (SELECT source, lang,
       |        CAST(length(text) AS BIGINT) AS len,
       |        CAST(length(text) - length(regexp_replace(text,
       |          '[0-9]', '', 'g')) AS BIGINT) AS digits,
       |        CAST(len(regexp_extract_all(text, ' +')) AS BIGINT) + 1
       |          AS words,
       |        CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
       |          AS BIGINT) AS vruns
       |      FROM documents),
       |r AS (SELECT source, lang,
       |        vruns::DOUBLE / words::DOUBLE AS vpw,
       |        digits::DOUBLE / GREATEST(len, 1)::DOUBLE AS dr
       |      FROM d)
       |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN vpw < 0.8 OR dr > 0.3 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_flagged,
       |  ${sqlE6("AVG(vpw)")} AS mean_vpw_e6,
       |  ${sqlE6("AVG(dr)")} AS mean_digit_ratio_e6
       |FROM r GROUP BY 1, 2 ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------
  // q412 — net revenue retention by first-order cohort: customers
  // cohorted by first order year, exact cents revenue per cohort
  // year, NDR(age) = cohort revenue at age / at age 0 for ages 0..3.
  // The dollar-weighted counterpart of the q113 count retention.
  private val q412: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("cust"),
        year(col("o_orderdate")).cast("long").as("yr"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
    val coh = o.groupBy(col("cust")).agg(min(col("yr")).as("cyr"))
    val j = o.join(coh, "cust")
      .withColumn("age", col("yr") - col("cyr"))
      .filter(col("age") <= 3L)
    val cell = j.groupBy(col("cyr"), col("age"))
      .agg(countDistinct(col("cust")).as("n_cust"),
        sum(col("cents")).as("rev"))
      .localCheckpoint(false)
    val base = cell.filter(col("age") === 0L)
      .select(col("cyr"), col("rev").as("rev0"))
    cell.join(base, "cyr")
      .select(col("cyr").as("cohort_year"), col("age"), col("n_cust"),
        col("rev"),
        e6(col("rev").cast("double") / col("rev0").cast("double"))
          .as("ndr_e6"))
      .ordered(col("cohort_year"), col("age"))
  }

  private val q412Sql: String =
    s"""WITH o AS (SELECT o_custkey AS cust,
       |        CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       |        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
       |      FROM orders),
       |coh AS (SELECT cust, MIN(yr) AS cyr FROM o GROUP BY 1),
       |j AS (SELECT o.cust, cyr, yr - cyr AS age, cents
       |      FROM o JOIN coh ON o.cust = coh.cust
       |      WHERE yr - cyr <= 3),
       |cell AS (SELECT cyr, age,
       |           CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_cust,
       |           CAST(SUM(cents) AS BIGINT) AS rev
       |         FROM j GROUP BY 1, 2),
       |base AS (SELECT cyr, rev AS rev0 FROM cell WHERE age = 0)
       |SELECT cell.cyr AS cohort_year, age, n_cust, rev,
       |  ${sqlE6("rev::DOUBLE / rev0::DOUBLE")} AS ndr_e6
       |FROM cell JOIN base ON cell.cyr = base.cyr
       |ORDER BY cohort_year, age""".stripMargin

  // ---------------------------------------------------------------
  // q413 — top brand TRIPLE itemsets by within-order support, with
  // exact triple lift against the independence baseline — the 3-way
  // extension of the q216 pair lift, canonicalized b1 < b2 < b3 so
  // each triple is enumerated once (wedge-join discipline).
  private val q413: Q = (s, dir) => {
    val ob = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
      .localCheckpoint(false)
    // 1-row broadcast aggregate, folded into the plan — not a
    // driver-side .count() action (one job fewer, same value)
    val nOrd = ob.agg(countDistinct(col("ok")).as("n_ord"))
    val singles = ob.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val triples = ob.as("x").join(ob.as("y"),
        col("x.ok") === col("y.ok") && col("x.b") < col("y.b"))
      .join(ob.as("z"),
        col("y.ok") === col("z.ok") && col("y.b") < col("z.b"))
      .groupBy(col("x.b").as("b1"), col("y.b").as("b2"),
        col("z.b").as("b3"))
      .agg(count(lit(1)).as("supp"))
    val top = triples.withColumn("rk", row_number().over(
        Window.orderBy(col("supp").desc, col("b1"), col("b2"),
          col("b3"))))
      .filter(col("rk") <= 10)
    top
      .join(singles.select(col("b").as("b1"), col("cs").as("c1")), "b1")
      .join(singles.select(col("b").as("b2"), col("cs").as("c2")), "b2")
      .join(singles.select(col("b").as("b3"), col("cs").as("c3")), "b3")
      .crossJoin(broadcast(nOrd))
      .select(col("b1"), col("b2"), col("b3"), col("supp"),
        e6(col("supp").cast("double") * col("n_ord").cast("double")
          * col("n_ord").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double")
            * col("c3").cast("double"))).as("lift_e6"))
      .ordered(col("supp").desc, col("b1"), col("b2"), col("b3"))
  }

  private val q413Sql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_ord
       |      FROM ob),
       |singles AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cs
       |            FROM ob GROUP BY 1),
       |triples AS (SELECT x.b AS b1, y.b AS b2, z.b AS b3,
       |              CAST(COUNT(*) AS BIGINT) AS supp
       |            FROM ob x JOIN ob y ON x.ok = y.ok AND x.b < y.b
       |            JOIN ob z ON y.ok = z.ok AND y.b < z.b
       |            GROUP BY 1, 2, 3),
       |top AS (SELECT b1, b2, b3, supp FROM (
       |          SELECT b1, b2, b3, supp, ROW_NUMBER() OVER (
       |            ORDER BY supp DESC, b1, b2, b3) AS rk FROM triples)
       |        WHERE rk <= 10)
       |SELECT b1, b2, b3, supp,
       |  ${sqlE6("supp::DOUBLE * n_ord::DOUBLE * n_ord::DOUBLE / " +
            "(s1.cs::DOUBLE * s2.cs::DOUBLE * s3.cs::DOUBLE)")}
       |    AS lift_e6
       |FROM top JOIN singles s1 ON b1 = s1.b
       |JOIN singles s2 ON b2 = s2.b JOIN singles s3 ON b3 = s3.b
       |CROSS JOIN n
       |ORDER BY supp DESC, b1, b2, b3""".stripMargin

  // ---------------------------------------------------------------
  // q414 — Gumbel-top-k weighted sampling without replacement
  // (k = 100) against the exact top-k by weight: keys g = ln(w) -
  // ln(-ln(u)) with md5-derived uniforms u = (h + 0.5)/2^32 — the
  // one-pass distributed WOR sampler (Efraimidis-Spirakis via
  // Gumbel) every weighted data mix uses; the audit reports the
  // per-source composition of both samples and their overlap.
  private val q414: Q = (s, dir) => {
    val w = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (e6(TextOps.qualityScoreRaw(col("text"), NorthStar.Stopwords))
          + 1L).as("w"))
      .withColumn("u",
        (CurationOps.md5Hash32(concat(lit("gk:"),
          col("doc_id").cast("string"))).cast("double") + 0.5)
          / 4294967296.0)
      .withColumn("g", log(col("w").cast("double")) - log(-log(col("u"))))
      .localCheckpoint(false)
    val topG = w.withColumn("rk", row_number().over(
        Window.orderBy(col("g").desc, col("doc_id"))))
      .filter(col("rk") <= 100).select(col("doc_id"), col("source"))
    val topW = w.withColumn("rk", row_number().over(
        Window.orderBy(col("w").desc, col("doc_id"))))
      .filter(col("rk") <= 100).select(col("doc_id").as("doc_id2"),
        col("source").as("source2"))
    val ov = topG.join(topW, col("doc_id") === col("doc_id2"))
      .agg(count(lit(1)).as("n_overlap"))
    val gSrc = topG.groupBy(col("source"))
      .agg(count(lit(1)).as("n_gumbel"))
    val wSrc = topW.groupBy(col("source2").as("source"))
      .agg(count(lit(1)).as("n_exact"))
    gSrc.join(wSrc, Seq("source"), "full_outer")
      .crossJoin(broadcast(ov))
      .select(col("source"),
        coalesce(col("n_gumbel"), lit(0L)).as("n_gumbel"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("n_overlap"))
      .ordered(col("source"))
  }

  private val q414Sql: String =
    s"""WITH d0 AS (
       |  SELECT doc_id, source, text,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source,
       |         len(list_filter(toks, t -> list_contains(
       |           ['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text,
       |           '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM d0),
       |w AS (
       |  SELECT doc_id, source,
       |         CAST(ROUND((LEAST(mean_len / 8.0, 1.0)
       |           + (1.0 - stop_ratio)
       |           + (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 * 1e6,
       |           0) AS BIGINT) + 1 AS w,
       |         (${OracleSql.hex32("md5('gk:' || doc_id::VARCHAR)")}::DOUBLE + 0.5)
       |           / 4294967296.0 AS u
       |  FROM m),
       |g AS (SELECT doc_id, source, w,
       |        LN(w::DOUBLE) - LN(-LN(u)) AS g
       |      FROM w),
       |tg AS (SELECT doc_id, source FROM (
       |         SELECT doc_id, source, ROW_NUMBER() OVER (
       |           ORDER BY g DESC, doc_id) AS rk FROM g)
       |       WHERE rk <= 100),
       |tw AS (SELECT doc_id, source FROM (
       |         SELECT doc_id, source, ROW_NUMBER() OVER (
       |           ORDER BY w DESC, doc_id) AS rk FROM g)
       |       WHERE rk <= 100),
       |ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
       |       FROM tg JOIN tw USING (doc_id)),
       |gs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gumbel
       |       FROM tg GROUP BY 1),
       |ws AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
       |       FROM tw GROUP BY 1)
       |SELECT COALESCE(gs.source, ws.source) AS source,
       |  COALESCE(n_gumbel, 0) AS n_gumbel,
       |  COALESCE(n_exact, 0) AS n_exact, n_overlap
       |FROM gs FULL OUTER JOIN ws ON gs.source = ws.source
       |CROSS JOIN ov
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q415 — successive-halving brand tournament on shipped revenue:
  // round 1 ranks all 25 brands on first-tercile mean line revenue
  // (exact cents), keeps the top 13; round 2 re-ranks survivors on
  // the first two terciles, keeps 7; round 3 ranks the finalists on
  // the full horizon. The deterministic multi-armed "explore only
  // the promising arms" schedule, expressed as three conditional
  // aggregations over ONE scan.
  private val q415: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("c"))
    val b = li.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"), col("d1"),
        (col("d0") + (col("d1") - col("d0")) / lit(3L)).as("t1"),
        (col("d0") + lit(2L) * (col("d1") - col("d0")) / lit(3L))
          .as("t2"))
    val stats = li.crossJoin(broadcast(b))
      .groupBy(col("brand"))
      .agg(sum(when(col("day") <= col("t1"), col("c")).otherwise(0L))
        .as("s1"),
        sum(when(col("day") <= col("t1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("day") <= col("t2"), col("c")).otherwise(0L))
          .as("s2"),
        sum(when(col("day") <= col("t2"), 1L).otherwise(0L)).as("n2"),
        sum(col("c")).as("s3"), count(lit(1)).as("n3"))
      .select(col("brand"),
        when(col("n1") > 0L, col("s1").cast("double")
          / col("n1").cast("double")).otherwise(-1.0).as("m1"),
        when(col("n2") > 0L, col("s2").cast("double")
          / col("n2").cast("double")).otherwise(-1.0).as("m2"),
        (col("s3").cast("double") / col("n3").cast("double")).as("m3"))
      .localCheckpoint(false)
    val r1 = stats.withColumn("rk1", row_number().over(
      Window.orderBy(col("m1").desc, col("brand"))))
    val r2 = r1.filter(col("rk1") <= 13).withColumn("rk2",
      row_number().over(Window.orderBy(col("m2").desc, col("brand"))))
    val r3 = r2.filter(col("rk2") <= 7).withColumn("rk3",
      row_number().over(Window.orderBy(col("m3").desc, col("brand"))))
      .select(col("brand"), col("rk3"))
    r1.join(r2.select(col("brand"), col("rk2")), Seq("brand"), "left")
      .join(r3, Seq("brand"), "left")
      .select(col("brand"),
        when(col("rk2").isNull, 1L)
          .when(col("rk3").isNull, 2L).otherwise(3L)
          .as("round_reached"),
        coalesce(col("rk3").cast("long"), lit(0L)).as("final_rank"))
      .ordered(col("brand"))
  }

  private val q415Sql: String =
    s"""WITH li AS (SELECT p_brand AS brand,
       |        DATE_DIFF('day', TIMESTAMP '1970-01-01', l_shipdate)
       |          AS day,
       |        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |b AS (SELECT MIN(day) + (MAX(day) - MIN(day)) // 3 AS t1,
       |        MIN(day) + 2 * (MAX(day) - MIN(day)) // 3 AS t2
       |      FROM li),
       |stats AS (SELECT brand,
       |      CASE WHEN SUM(CASE WHEN day <= t1 THEN 1 ELSE 0 END) > 0
       |        THEN SUM(CASE WHEN day <= t1 THEN c ELSE 0 END)::DOUBLE
       |          / SUM(CASE WHEN day <= t1 THEN 1 ELSE 0 END)::DOUBLE
       |        ELSE -1.0 END AS m1,
       |      CASE WHEN SUM(CASE WHEN day <= t2 THEN 1 ELSE 0 END) > 0
       |        THEN SUM(CASE WHEN day <= t2 THEN c ELSE 0 END)::DOUBLE
       |          / SUM(CASE WHEN day <= t2 THEN 1 ELSE 0 END)::DOUBLE
       |        ELSE -1.0 END AS m2,
       |      SUM(c)::DOUBLE / COUNT(*)::DOUBLE AS m3
       |    FROM li, b GROUP BY brand, t1, t2),
       |r1 AS (SELECT brand, m2, m3, ROW_NUMBER() OVER (
       |         ORDER BY m1 DESC, brand) AS rk1 FROM stats),
       |r2 AS (SELECT brand, m3, ROW_NUMBER() OVER (
       |         ORDER BY m2 DESC, brand) AS rk2
       |       FROM r1 WHERE rk1 <= 13),
       |r3 AS (SELECT brand, ROW_NUMBER() OVER (
       |         ORDER BY m3 DESC, brand) AS rk3
       |       FROM r2 WHERE rk2 <= 7)
       |SELECT r1.brand,
       |  CAST(CASE WHEN r2.brand IS NULL THEN 1
       |    WHEN r3.brand IS NULL THEN 2 ELSE 3 END AS BIGINT)
       |    AS round_reached,
       |  CAST(COALESCE(rk3, 0) AS BIGINT) AS final_rank
       |FROM r1 LEFT JOIN r2 ON r1.brand = r2.brand
       |LEFT JOIN r3 ON r1.brand = r3.brand
       |ORDER BY r1.brand""".stripMargin

  // ---------------------------------------------------------------
  // q416 — SAX symbolization of the daily order-count series: global
  // z-parameters from exact integer power sums (counts are domain-
  // small, so sum(y^2) never leaves BIGINT-exact range at any
  // replication factor — the revenue-cents variant overflows at 10x),
  // 32 PAA segments (integer-division spine — exact BIGINT segment
  // sums), each mapped to a 4-letter alphabet at the standard
  // Gaussian breakpoints +-0.6745 / 0. The symbolic compression
  // indexing and motif search run on at 100 TB — day-DOMAIN bounded,
  // so the output is constant-size regardless of row count.
  private val q416: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("rev"))
    val b = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val z = b.select(explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"), (col("d1") - col("d0") + 1L).as("dd"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), col("d0"), col("dd"),
        coalesce(col("rev"), lit(0L)).as("rev"))
    val st = z.agg(sum(col("rev")).as("s1"),
      sum(col("rev") * col("rev")).as("s2"), max(col("dd")).as("dd"))
      .select(
        (col("s1").cast("double") / col("dd").cast("double")).as("mu"),
        sqrt(col("s2").cast("double") / col("dd").cast("double")
          - (col("s1").cast("double") / col("dd").cast("double"))
          * (col("s1").cast("double") / col("dd").cast("double")))
          .as("sd"))
    val segs = z.groupBy(expr("(day - d0) * 32 div dd").as("seg"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("srev"))
    segs.crossJoin(broadcast(st))
      .select(col("seg"), col("n_days"),
        ((col("srev").cast("double") / col("n_days").cast("double")
          - col("mu")) / col("sd")).as("paa"))
      .select(col("seg"), col("n_days"), e6(col("paa")).as("paa_e6"),
        when(col("paa") < -0.6745, "a")
          .when(col("paa") < 0.0, "b")
          .when(col("paa") < 0.6745, "c").otherwise("d").as("symbol"))
      .ordered(col("seg"))
  }

  private val q416Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(COUNT(*) AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
       |        MAX(day) - MIN(day) + 1 AS dd FROM daily),
       |spine AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, b.d0, b.dd, COALESCE(d.rev, 0) AS rev
       |      FROM spine s CROSS JOIN b
       |      LEFT JOIN daily d ON s.day = d.day),
       |st AS (SELECT
       |         SUM(rev)::DOUBLE / MAX(dd)::DOUBLE AS mu,
       |         SQRT(SUM(rev * rev)::DOUBLE / MAX(dd)::DOUBLE
       |           - (SUM(rev)::DOUBLE / MAX(dd)::DOUBLE)
       |           * (SUM(rev)::DOUBLE / MAX(dd)::DOUBLE)) AS sd
       |       FROM z),
       |segs AS (SELECT (day - d0) * 32 // dd AS seg,
       |           CAST(COUNT(*) AS BIGINT) AS n_days,
       |           CAST(SUM(rev) AS BIGINT) AS srev
       |         FROM z GROUP BY 1),
       |paa AS (SELECT seg, n_days,
       |          (srev::DOUBLE / n_days::DOUBLE - mu) / sd AS paa
       |        FROM segs, st)
       |SELECT seg, n_days, ${sqlE6("paa")} AS paa_e6,
       |  CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
       |    WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS symbol
       |FROM paa ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------
  // q417 — matrix-profile-style motif discovery on daily order
  // counts: all non-overlapping pairs of z-normalized 7-day windows,
  // top-5 closest by squared Euclidean distance (native VectorSqDist
  // codegen over the materialized normalized arrays). Window count
  // is bounded by the day DOMAIN, so the all-pairs join is constant
  // work at ANY corpus scale — the rare brute force that is
  // legitimately scale-free. Two-layer top-k: both engines rank by
  // the bit-identical raw distance with full (i, j) tiebreak.
  private val q417: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val b = daily.agg(min(col("day")).as("dlo"), max(col("day")).as("dhi"))
    val z = b.select(explode(sequence(col("dlo"), col("dhi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("y"), lit(0L)).cast("double")
        .as("y"))
    val wWin = Window.orderBy(col("day")).rowsBetween(0, 6)
    val wins = z.withColumn("w", collect_list(col("y")).over(wWin))
      .filter(size(col("w")) === 7)
      .withColumn("mu", expr(
        "aggregate(w, 0D, (a, x) -> a + x) / 7.0D"))
      .withColumn("sd", sqrt(
        expr("aggregate(w, 0D, (a, x) -> a + x * x) / 7.0D")
          - col("mu") * col("mu")))
      .filter(col("sd") > 0.0)
      .select(col("day").as("i"),
        expr("transform(w, x -> (x - mu) / sd)").as("zn"))
      .localCheckpoint(false)
    val pairs = wins.select(col("i"), col("zn").as("zna"))
      .join(wins.select(col("i").as("j"), col("zn").as("znb")),
        col("j") >= col("i") + 7L)
      .select(col("i"), col("j"),
        SimilarityOps.sqDist(col("zna"), col("znb")).as("d2"))
    pairs.orderBy(col("d2"), col("i"), col("j")).limit(5)
      .select(col("i"), col("j"), e6(col("d2")).as("d2_e6"))
      .ordered(col("d2_e6"), col("i"), col("j"))
  }

  private val q417Sql: String = {
    val dist = OracleSql.foldSum(
      "list_transform(range(1, 8), q -> (a.zn[q] - c.zn[q]) * (a.zn[q] - c.zn[q]))")
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day, CAST(COUNT(*) AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS dlo, MAX(day) AS dhi FROM daily),
       |spine AS (SELECT unnest(range(dlo, dhi + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.y, 0)::DOUBLE AS y
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |w0 AS (SELECT day, list(y) OVER (ORDER BY day
       |         ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS w
       |       FROM z),
       |w1 AS (SELECT day, w,
       |         ${OracleSql.foldSum("w")} / 7.0 AS mu,
       |         SQRT(${OracleSql.foldSum(
              "list_transform(w, x -> x * x)")} / 7.0
       |           - (${OracleSql.foldSum("w")} / 7.0)
       |           * (${OracleSql.foldSum("w")} / 7.0)) AS sd
       |       FROM w0 WHERE len(w) = 7),
       |wins AS (SELECT day AS i,
       |           list_transform(w, x -> (x - mu) / sd) AS zn
       |         FROM w1 WHERE sd > 0.0),
       |pairs AS (SELECT a.i AS i, c.i AS j, $dist AS d2
       |          FROM wins a JOIN wins c ON c.i >= a.i + 7),
       |top AS (SELECT i, j, d2 FROM pairs
       |        ORDER BY d2, i, j LIMIT 5)
       |SELECT i, j, ${sqlE6("d2")} AS d2_e6
       |FROM top ORDER BY d2_e6, i, j""".stripMargin
  }

  // ---------------------------------------------------------------
  // q418 — broadcast-join advisor over the dimension tables: exact
  // estimated in-memory bytes (string lengths + 8 bytes per numeric
  // column + 16 per-row overhead) against the classic 10 MB
  // autoBroadcastJoinThreshold — the planning decision every
  // fact-dim join starts from, expressed as an auditable query.
  private val q418: Q = (s, dir) => {
    def est(name: String, strCols: Seq[String], numCols: Int)
        : DataFrame = {
      val d = t(s, dir, name)
      val strBytes = strCols.map(c => sum(length(col(c)).cast("long")))
        .reduceOption(_ + _).getOrElse(lit(0L))
      d.agg(count(lit(1)).as("n_rows"),
          (strBytes + count(lit(1)) * lit(8L * numCols + 16L))
            .as("est_bytes"))
        .select(lit(name).as("tbl"), col("n_rows"), col("est_bytes"))
    }
    est("region", Seq("r_name"), 1)
      .unionByName(est("nation", Seq("n_name"), 2))
      .unionByName(est("supplier", Seq("s_name"), 3))
      .unionByName(est("customer", Seq("c_name", "c_mktsegment"), 3))
      .unionByName(est("part", Seq("p_name", "p_brand", "p_type"), 3))
      .select(col("tbl"), col("n_rows"), col("est_bytes"),
        (col("est_bytes") <= 10485760L).as("broadcastable"))
      .ordered(col("tbl"))
  }

  private val q418Sql: String =
    s"""WITH u AS (
       |  SELECT 'region' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(length(r_name)) + COUNT(*) * 24 AS BIGINT)
       |      AS est_bytes FROM region
       |  UNION ALL
       |  SELECT 'nation', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(length(n_name)) + COUNT(*) * 32 AS BIGINT)
       |    FROM nation
       |  UNION ALL
       |  SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(length(s_name)) + COUNT(*) * 40 AS BIGINT)
       |    FROM supplier
       |  UNION ALL
       |  SELECT 'customer', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(length(c_name) + length(c_mktsegment))
       |      + COUNT(*) * 40 AS BIGINT) FROM customer
       |  UNION ALL
       |  SELECT 'part', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(length(p_name) + length(p_brand) + length(p_type))
       |      + COUNT(*) * 40 AS BIGINT) FROM part)
       |SELECT tbl, n_rows, est_bytes,
       |  est_bytes <= 10485760 AS broadcastable
       |FROM u ORDER BY tbl""".stripMargin

  // ---------------------------------------------------------------
  // q419 — language diversity per source: Simpson index 1 - sum p^2,
  // effective number of languages n^2 / sum n_l^2, and the dominant
  // language (count-desc, lang tiebreak) — exact integer counts, the
  // mix snapshot a multilingual data card reports.
  private val q419: Q = (s, dir) => {
    val lc = t(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("nl"))
    val dom = lc.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("nl").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("dominant"))
    lc.groupBy(col("source"))
      .agg(sum(col("nl")).as("n"), count(lit(1)).as("n_langs"),
        sum(col("nl") * col("nl")).as("sq"))
      .join(dom, "source")
      .select(col("source"), col("n"), col("n_langs"), col("dominant"),
        e6(lit(1.0) - col("sq").cast("double")
          / (col("n").cast("double") * col("n").cast("double")))
          .as("simpson_e6"),
        e6(col("n").cast("double") * col("n").cast("double")
          / col("sq").cast("double")).as("enl_e6"))
      .ordered(col("source"))
  }

  private val q419Sql: String =
    s"""WITH lc AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
       |      FROM documents GROUP BY 1, 2),
       |dom AS (SELECT source, lang AS dominant FROM (
       |          SELECT source, lang, ROW_NUMBER() OVER (
       |            PARTITION BY source ORDER BY nl DESC, lang) AS rk
       |          FROM lc) WHERE rk = 1),
       |a AS (SELECT source, CAST(SUM(nl) AS BIGINT) AS n,
       |        CAST(COUNT(*) AS BIGINT) AS n_langs,
       |        CAST(SUM(nl * nl) AS BIGINT) AS sq
       |      FROM lc GROUP BY 1)
       |SELECT a.source, n, n_langs, dominant,
       |  ${sqlE6("1.0 - sq::DOUBLE / (n::DOUBLE * n::DOUBLE)")}
       |    AS simpson_e6,
       |  ${sqlE6("n::DOUBLE * n::DOUBLE / sq::DOUBLE")} AS enl_e6
       |FROM a JOIN dom ON a.source = dom.source
       |ORDER BY a.source""".stripMargin

  // ---------------------------------------------------------------
  // q420 — Qini curve of the q405 uplift policy at spend deciles:
  // customers ranked by exact total spend, decile boundaries from
  // the cents histogram (the q299 type-lower selection — never a
  // row-level rank window), cumulative treated/control conversions
  // from the top, Qini(k) = Rt - Rc * Nt/Nc. The uplift-targeting
  // evaluation curve.
  private val q420: Q = (s, dir) => {
    val spend = t(s, dir, "customer")
      .select(col("c_custkey").as("cust"),
        (col("c_custkey") % 2L === 0L).as("treat"))
      .join(t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("no"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .as("cents")),
        col("cust") === col("o_custkey"), "left")
      .select(col("cust"), col("treat"),
        coalesce(col("cents"), lit(0L)).as("c"),
        (coalesce(col("no"), lit(0L)) >= 2L).as("rep"))
      .localCheckpoint(false)
    val gh = spend.groupBy(col("c")).agg(count(lit(1)).as("nc"))
    val tot = gh.agg(sum(col("nc")).as("nn"))
    val cum = gh.withColumn("cum", sum(col("nc")).over(
        Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
    def bnd(k: Int) = cum
      .filter(col("cum").cast("double") >=
        ceil(col("nn").cast("double") * lit(k) / 10.0))
      .agg(min(col("c")).as(s"b$k"))
    val withB = (1 to 9).foldLeft(spend)((df, k) =>
      df.crossJoin(broadcast(bnd(k))))
    val dec = withB.select(col("treat"), col("rep"),
      (lit(1L) + (1 to 9).map(k =>
        when(col("c") > col(s"b$k"), 1L).otherwise(0L))
        .reduce(_ + _)).as("d"))
    val dt = dec.groupBy(col("d"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat") && col("rep"), 1L).otherwise(0L))
          .as("rt"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("nc2"),
        sum(when(!col("treat") && col("rep"), 1L).otherwise(0L))
          .as("rc"))
      .localCheckpoint(false)
    spineK10(s).join(dt, col("d") >= lit(11L) - col("k"))
      .groupBy(col("k"))
      .agg(sum(col("nt")).as("n_t"), sum(col("rt")).as("r_t"),
        sum(col("nc2")).as("n_c"), sum(col("rc")).as("r_c"))
      .select(col("k"), col("n_t"), col("r_t"), col("n_c"), col("r_c"),
        e6(when(col("n_c") > 0L, col("r_t").cast("double")
          - col("r_c").cast("double") * col("n_t").cast("double")
          / col("n_c").cast("double")).otherwise(0.0)).as("qini_e6"))
      .ordered(col("k"))
  }

  /** Top-k-decile spine 1..10 for q420. */
  private def spineK10(s: SparkSession): DataFrame = {
    import s.implicits._
    (1L to 10L).toDF("k")
  }

  private val q420Sql: String = {
    val bnds = (1 to 9).map(k =>
      s"b$k AS (SELECT MIN(c) AS b$k FROM cum, tot " +
        s"WHERE cum::DOUBLE >= CEIL(nn::DOUBLE * $k / 10.0))")
      .mkString(",\n")
    val dsum = (1 to 9).map(k =>
      s"(CASE WHEN c > b$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH spend AS (SELECT c_custkey AS cust,
       |        c_custkey % 2 = 0 AS treat,
       |        COALESCE(o.cents, 0) AS c,
       |        COALESCE(o.no, 0) >= 2 AS rep
       |      FROM customer LEFT JOIN (
       |        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS no,
       |          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS cents
       |        FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
       |gh AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc
       |       FROM spend GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn FROM gh),
       |cum AS (SELECT c, CAST(SUM(nc) OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS cum FROM gh),
       |$bnds,
       |dec AS (SELECT treat, rep, 1 + $dsum AS d
       |        FROM spend, b1, b2, b3, b4, b5, b6, b7, b8, b9),
       |dt AS (SELECT d,
       |         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
       |           AS nt,
       |         CAST(SUM(CASE WHEN treat AND rep THEN 1 ELSE 0 END)
       |           AS BIGINT) AS rt,
       |         CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END)
       |           AS BIGINT) AS nc2,
       |         CAST(SUM(CASE WHEN NOT treat AND rep THEN 1 ELSE 0
       |           END) AS BIGINT) AS rc
       |       FROM dec GROUP BY 1),
       |ks AS (SELECT unnest(range(1, 11)) AS k)
       |SELECT k, CAST(SUM(nt) AS BIGINT) AS n_t,
       |  CAST(SUM(rt) AS BIGINT) AS r_t,
       |  CAST(SUM(nc2) AS BIGINT) AS n_c,
       |  CAST(SUM(rc) AS BIGINT) AS r_c,
       |  ${sqlE6("CASE WHEN SUM(nc2) > 0 THEN SUM(rt)::DOUBLE " +
            "- SUM(rc)::DOUBLE * SUM(nt)::DOUBLE / SUM(nc2)::DOUBLE " +
            "ELSE 0.0 END")} AS qini_e6
       |FROM ks JOIN dt ON d >= 11 - k
       |GROUP BY k ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------
  // q421 — bloom-filter sizing planner for the four join keys: exact
  // distinct cardinalities, optimal bits m = ceil(n * ln(1/p)/ln^2 2)
  // at p = 1% (the constant inlined as ONE shared double literal so
  // both engines ceil the identical product), k = round(m/n * ln 2),
  // and the resulting megabytes. The q101/q380 sizing decision as an
  // auditable query.
  private val q421: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val keys = li.agg(countDistinct(col("l_orderkey")).as("nd"))
      .select(lit("l_orderkey").as("key"), col("nd"))
      .unionByName(li.agg(countDistinct(col("l_partkey")).as("nd"))
        .select(lit("l_partkey").as("key"), col("nd")))
      .unionByName(li.agg(countDistinct(col("l_suppkey")).as("nd"))
        .select(lit("l_suppkey").as("key"), col("nd")))
      .unionByName(t(s, dir, "orders")
        .agg(countDistinct(col("o_custkey")).as("nd"))
        .select(lit("o_custkey").as("key"), col("nd")))
    keys.select(col("key"), col("nd"),
        ceil(col("nd").cast("double") * lit(9.585962623247995))
          .cast("long").as("m_bits"))
      .select(col("key"), col("nd"), col("m_bits"),
        round(col("m_bits").cast("double") / col("nd").cast("double")
          * lit(0.6931471805599453), 0).cast("long").as("k_hash"),
        e6(col("m_bits").cast("double") / 8.0 / 1048576.0)
          .as("mbytes_e6"))
      .ordered(col("key"))
  }

  private val q421Sql: String =
    s"""WITH keys AS (
       |  SELECT 'l_orderkey' AS key,
       |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'l_partkey', CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'l_suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'o_custkey', CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
       |  FROM orders),
       |m AS (SELECT key, nd,
       |        CAST(CEIL(nd::DOUBLE * 9.585962623247995) AS BIGINT)
       |          AS m_bits
       |      FROM keys)
       |SELECT key, nd, m_bits,
       |  CAST(ROUND(m_bits::DOUBLE / nd::DOUBLE
       |    * 0.6931471805599453, 0) AS BIGINT) AS k_hash,
       |  ${sqlE6("m_bits::DOUBLE / 8.0 / 1048576.0")} AS mbytes_e6
       |FROM m ORDER BY key""".stripMargin

  // ---------------------------------------------------------------
  // q422 — 1-bit (b-bit) minhash audit on the md5-parity candidate
  // pairs: keep only the low bit of each of the 8 signature hashes,
  // estimate J = 2*(agreement - 1/2), and report MAE and signed bias
  // against the exact Jaccard — the memory/accuracy trade Li &
  // Konig's b-bit minwise hashing formalized, measured on this
  // corpus.
  private val q422: Q = (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
    val withJ = DedupOps.minhashLshDedupParity(docs, "doc_id", "text",
        shingleN = 2, k = 8, bands = 4, threshold = 0.0)
      .select(col("id1"), col("id2"), col("jaccard"))
    val sig = DedupOps.minhashSignatureTable(docs, "doc_id", "text",
        shingleN = 2, k = 8)
      .select(col("doc_id"),
        transform(col("sig"),
          h => conv(substring(h, 1, 1), 16, 10).cast("long") % 2L)
          .as("bits"))
    val est = withJ
      .join(sig.select(col("doc_id").as("id1"), col("bits").as("ba")),
        "id1")
      .join(sig.select(col("doc_id").as("id2"), col("bits").as("bb")),
        "id2")
      .select(col("jaccard"),
        (lit(2.0) * (aggregate(zip_with(col("ba"), col("bb"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, v) => a + v).cast("double") / 8.0 - 0.5))
          .as("est"))
    est.agg(count(lit(1)).as("n_pairs"),
        e6(sum(abs(col("est") - col("jaccard")))
          / count(lit(1)).cast("double")).as("mae_e6"),
        e6(sum(col("est") - col("jaccard"))
          / count(lit(1)).cast("double")).as("bias_e6"))
      .ordered(col("n_pairs"))
  }

  private val q422Sql: String =
    s"""WITH ${NorthStar.minhashParityCtes},
       |bits AS (SELECT doc_id,
       |           list_transform(sig, h ->
       |             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
       |               % 2) AS bits
       |         FROM g),
       |est AS (SELECT ver.jaccard,
       |          2.0 * (len(list_filter(range(1, 9),
       |            q -> x.bits[q] = y.bits[q]))::DOUBLE / 8.0 - 0.5)
       |            AS est
       |        FROM ver JOIN bits x ON ver.id1 = x.doc_id
       |        JOIN bits y ON ver.id2 = y.doc_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${sqlE6("SUM(ABS(est - jaccard)) / COUNT(*)::DOUBLE")}
       |    AS mae_e6,
       |  ${sqlE6("SUM(est - jaccard) / COUNT(*)::DOUBLE")} AS bias_e6
       |FROM est ORDER BY n_pairs""".stripMargin

  // ---------------------------------------------------------------
  // q423 — 5-NN label classifier evaluation on the embedding table:
  // probe queries (absolute 128-probe md5-rank cap), neighbors by the native
  // squared-distance codegen, majority vote with (count-desc, label)
  // tiebreak, and the resulting confusion grid + overall accuracy.
  // The "are these labels learnable from geometry" sanity eval.
  private val q423: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // ABSOLUTE md5-rank probe cap (see probeCap): exact eval at
    // O(n * 128), linear in corpus size
    val q = probeCap(emb, 128, "p423")
      .select(col("vec_id").as("qid"), col("label").as("tl"),
        col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("nid"), col("label").as("nl"),
      col("embedding").as("nv"))
    val top5 = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("tl"), col("nl"),
        SimilarityOps.sqDist(col("qv"), col("nv")).as("d"), col("nid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("nid"))))
      .filter(col("rk") <= 5)
    val pred = top5.groupBy(col("qid"), col("tl"), col("nl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col("nl"))))
      .filter(col("vrk") === 1)
      .select(col("qid"), col("tl"), col("nl").as("pl"))
      .localCheckpoint(false)
    val acc = pred.agg(
      e6(sum(when(col("tl") === col("pl"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("acc_e6"))
    pred.groupBy(col("tl"), col("pl")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(acc))
      .select(col("tl").cast("long").as("true_label"),
        col("pl").cast("long").as("pred_label"), col("n"),
        col("acc_e6"))
      .ordered(col("true_label"), col("pred_label"))
  }

  private val q423Sql: String = {
    val dist = OracleSql.foldSum(
      "list_transform(range(1, 65), i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |qs AS (SELECT * FROM e ${sqlProbeCap(128, "p423")}),
       |top5 AS (SELECT qid, tl, nl FROM (
       |           SELECT q.vec_id AS qid, q.label AS tl,
       |             c.label AS nl, $dist AS d,
       |             ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |               ORDER BY $dist, c.vec_id) AS rk
       |           FROM qs q JOIN e c ON q.vec_id <> c.vec_id)
       |         WHERE rk <= 5),
       |pred AS (SELECT qid, tl, nl AS pl FROM (
       |           SELECT qid, tl, nl, ROW_NUMBER() OVER (
       |             PARTITION BY qid
       |             ORDER BY COUNT(*) DESC, nl) AS vrk
       |           FROM top5 GROUP BY qid, tl, nl)
       |         WHERE vrk = 1),
       |acc AS (SELECT ${sqlE6("SUM(CASE WHEN tl = pl THEN 1 ELSE 0 " +
            "END)::DOUBLE / COUNT(*)::DOUBLE")} AS acc_e6 FROM pred)
       |SELECT CAST(tl AS BIGINT) AS true_label,
       |  CAST(pl AS BIGINT) AS pred_label,
       |  CAST(COUNT(*) AS BIGINT) AS n, acc_e6
       |FROM pred, acc GROUP BY 1, 2, acc_e6
       |ORDER BY true_label, pred_label""".stripMargin
  }

  // ---------------------------------------------------------------
  // q424 — equi-depth histogram selectivity audit: 16 type-lower
  // bucket boundaries from the order-total cents histogram, 10 fixed
  // domain ranges estimated by uniform-within-bucket interpolation
  // vs their exact counts, reported as q-error. The optimizer-
  // statistics quality check an engine's cardinality estimation
  // stands on.
  private val q424: Q = (s, dir) => {
    val v = t(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val gh = v.groupBy(col("c")).agg(count(lit(1)).as("nc"))
      .localCheckpoint(false)
    val tot = gh.agg(sum(col("nc")).as("nn"), min(col("c")).as("cmin"),
      max(col("c")).as("cmax"))
    val cum = gh.withColumn("cum", sum(col("nc")).over(
        Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
    // bucket upper bounds b_1..b_16 (type-lower 1/16 quantiles)
    val bnds = cum
      .crossJoin(broadcast(spineSeg(s, 16)))
      .filter(col("cum").cast("double") >=
        ceil(col("nn").cast("double") * col("sk") / 16.0))
      .groupBy(col("sk")).agg(min(col("c")).as("ub"),
        max(col("cmin")).as("cmin"))
    val buckets = bnds
      .withColumn("lb", coalesce(lag(col("ub"), 1).over(
        Window.orderBy(col("sk"))), col("cmin")))
      .localCheckpoint(false)
    // buckets with (lb, ub]: counts by boundary comparison
    val bcnt = v.crossJoin(broadcast(buckets
        .select(col("sk"), col("lb"), col("ub"))))
      .filter((col("sk") === 1L && col("c") <= col("ub")) ||
        (col("sk") > 1L && col("c") > col("lb") &&
          col("c") <= col("ub")))
      .groupBy(col("sk"), col("lb"), col("ub"))
      .agg(count(lit(1)).as("bn"))
      .localCheckpoint(false)
    // 10 fixed ranges [rlo, rhi) over the raw domain twelfths
    val ranges = tot.crossJoin(broadcast(spineSeg(s, 10)))
      .select(col("sk").as("j"),
        expr("cmin + (sk - 1) * (cmax - cmin) div 12").as("rlo"),
        expr("cmin + (sk + 1) * (cmax - cmin) div 12").as("rhi"))
      .localCheckpoint(false)
    val exact = v.crossJoin(broadcast(ranges))
      .filter(col("c") >= col("rlo") && col("c") < col("rhi"))
      .groupBy(col("j")).agg(count(lit(1)).as("exact"))
    // uniform-within-bucket overlap estimate; bucket value span is
    // (lb, ub] with width ub - lb (>= 1 by construction)
    val est = bcnt.crossJoin(broadcast(ranges))
      .select(col("j"),
        (greatest(lit(0.0),
          (least(col("rhi").cast("double") - 0.5,
            col("ub").cast("double") + 0.5)
            - greatest(col("rlo").cast("double") - 0.5,
              col("lb").cast("double") + 0.5))
          / (col("ub").cast("double") - col("lb").cast("double")))
          * col("bn").cast("double")).as("part"))
      .groupBy(col("j")).agg(sum(col("part")).as("est"))
    ranges.select(col("j"))
      .join(exact, Seq("j"), "left")
      .join(est, Seq("j"), "left")
      .select(col("j"), coalesce(col("exact"), lit(0L)).as("exact"),
        e6(coalesce(col("est"), lit(0.0))).as("est_e6"),
        e6(when(coalesce(col("exact"), lit(0L)) > 0L &&
            coalesce(col("est"), lit(0.0)) > 0.0,
          greatest(col("est") / col("exact").cast("double"),
            col("exact").cast("double") / col("est")))
          .otherwise(0.0)).as("qerr_e6"))
      .ordered(col("j"))
  }

  /** 1..n spine (shared by the bucket/range grids). */
  private def spineSeg(s: SparkSession, n: Int): DataFrame = {
    import s.implicits._
    (1L to n.toLong).toDF("sk")
  }

  private val q424Sql: String =
    s"""WITH v AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |        AS c FROM orders),
       |gh AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc
       |       FROM v GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn,
       |          MIN(c) AS cmin, MAX(c) AS cmax FROM gh),
       |cum AS (SELECT c, CAST(SUM(nc) OVER (ORDER BY c
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS cum FROM gh),
       |sk16 AS (SELECT unnest(range(1, 17)) AS sk),
       |bnds AS (SELECT sk, MIN(c) AS ub FROM cum, tot, sk16
       |         WHERE cum::DOUBLE >= CEIL(nn::DOUBLE * sk / 16.0)
       |         GROUP BY 1),
       |bkts AS (SELECT sk, ub, COALESCE(LAG(ub, 1) OVER (
       |           ORDER BY sk), (SELECT cmin FROM tot)) AS lb
       |         FROM bnds),
       |bcnt AS (SELECT b.sk, b.lb, b.ub, CAST(COUNT(*) AS BIGINT)
       |           AS bn
       |         FROM v JOIN bkts b ON
       |           (b.sk = 1 AND v.c <= b.ub) OR
       |           (b.sk > 1 AND v.c > b.lb AND v.c <= b.ub)
       |         GROUP BY 1, 2, 3),
       |sk10 AS (SELECT unnest(range(1, 11)) AS j),
       |ranges AS (SELECT j,
       |             cmin + (j - 1) * (cmax - cmin) // 12 AS rlo,
       |             cmin + (j + 1) * (cmax - cmin) // 12 AS rhi
       |           FROM tot, sk10),
       |ex AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS exact
       |       FROM v JOIN ranges ON v.c >= rlo AND v.c < rhi
       |       GROUP BY 1),
       |est AS (SELECT j, SUM(GREATEST(0.0,
       |          (LEAST(rhi::DOUBLE - 0.5, ub::DOUBLE + 0.5)
       |            - GREATEST(rlo::DOUBLE - 0.5, lb::DOUBLE + 0.5))
       |          / (ub::DOUBLE - lb::DOUBLE)) * bn::DOUBLE) AS est
       |        FROM bcnt CROSS JOIN ranges GROUP BY 1)
       |SELECT r.j, COALESCE(exact, 0) AS exact,
       |  ${sqlE6("COALESCE(est, 0.0)")} AS est_e6,
       |  ${sqlE6("CASE WHEN COALESCE(exact, 0) > 0 AND " +
            "COALESCE(est, 0.0) > 0.0 THEN " +
            "GREATEST(est / exact::DOUBLE, exact::DOUBLE / est) " +
            "ELSE 0.0 END")} AS qerr_e6
       |FROM ranges r LEFT JOIN ex ON r.j = ex.j
       |LEFT JOIN est ON r.j = est.j
       |ORDER BY r.j""".stripMargin

  // ---------------------------------------------------------------
  // q425 — join cardinality estimator audit: the textbook
  // |A||B|/max(dA,dB) equi-join estimate vs the exact join count for
  // the four fact-dim keys. The estimate every cost-based join
  // reorder starts from, graded against truth.
  private val q425: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").localCheckpoint(false)
    val ords = t(s, dir, "orders")
    def audit(name: String, a: DataFrame, ak: String, b: DataFrame,
              bk: String): DataFrame = {
      val st = a.agg(count(lit(1)).as("na"),
          countDistinct(col(ak)).as("da"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("nb"),
          countDistinct(col(bk)).as("db"))))
      val ex = a.select(col(ak).as("k")).join(
        b.select(col(bk).as("k")), "k").agg(count(lit(1)).as("exact"))
      st.crossJoin(broadcast(ex))
        .select(lit(name).as("join_key"), col("na"), col("nb"),
          col("exact"),
          round(col("na").cast("double") * col("nb").cast("double")
            / greatest(col("da"), col("db")).cast("double"), 0)
            .cast("long").as("est"))
    }
    audit("l_orderkey=o_orderkey", li, "l_orderkey", ords, "o_orderkey")
      .unionByName(audit("l_partkey=p_partkey", li, "l_partkey",
        t(s, dir, "part"), "p_partkey"))
      .unionByName(audit("l_suppkey=s_suppkey", li, "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .unionByName(audit("o_custkey=c_custkey", ords, "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .select(col("join_key"), col("na"), col("nb"), col("exact"),
        col("est"),
        e6(when(col("exact") > 0L, greatest(
          col("est").cast("double") / col("exact").cast("double"),
          col("exact").cast("double") / col("est").cast("double")))
          .otherwise(0.0)).as("qerr_e6"))
      .ordered(col("join_key"))
  }

  private val q425Sql: String = {
    def one(name: String, a: String, ak: String, b: String, bk: String) =
      s"""SELECT '$name' AS join_key,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $a) AS na,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $b) AS nb,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $a JOIN $b
         |     ON $ak = $bk) AS exact,
         |  CAST(ROUND((SELECT COUNT(*) FROM $a)::DOUBLE
         |    * (SELECT COUNT(*) FROM $b)::DOUBLE
         |    / GREATEST((SELECT COUNT(DISTINCT $ak) FROM $a),
         |        (SELECT COUNT(DISTINCT $bk) FROM $b))::DOUBLE, 0)
         |    AS BIGINT) AS est""".stripMargin
    s"""WITH u AS (
       |${one("l_orderkey=o_orderkey", "lineitem", "l_orderkey",
          "orders", "o_orderkey")}
       |UNION ALL
       |${one("l_partkey=p_partkey", "lineitem", "l_partkey",
          "part", "p_partkey")}
       |UNION ALL
       |${one("l_suppkey=s_suppkey", "lineitem", "l_suppkey",
          "supplier", "s_suppkey")}
       |UNION ALL
       |${one("o_custkey=c_custkey", "orders", "o_custkey",
          "customer", "c_custkey")})
       |SELECT join_key, na, nb, exact, est,
       |  ${sqlE6("CASE WHEN exact > 0 THEN GREATEST(est::DOUBLE / " +
            "exact::DOUBLE, exact::DOUBLE / est::DOUBLE) " +
            "ELSE 0.0 END")} AS qerr_e6
       |FROM u ORDER BY join_key""".stripMargin
  }

  // ---------------------------------------------------------------
  // q426 — foreign-key discovery audit: distinct-value containment
  // of the child column in the parent plus parent-key uniqueness for
  // the four true FKs and one deliberate negative control — the
  // constraint-inference pass a catalog-less lakehouse runs before
  // trusting join paths.
  private val q426: Q = (s, dir) => {
    def audit(name: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
      val cd = child.select(col(ck).as("k")).distinct()
        .localCheckpoint(false)
      val pd = parent.select(col(pk).as("k"))
      val stats = cd.agg(count(lit(1)).as("d_child"))
        .crossJoin(broadcast(
          cd.join(pd.distinct(), Seq("k"), "left_semi")
            .agg(count(lit(1)).as("d_contained"))))
        .crossJoin(broadcast(pd.agg(count(lit(1)).as("n_parent"),
          countDistinct(col("k")).as("d_parent"))))
      stats.select(lit(name).as("candidate"), col("d_child"),
        col("d_contained"),
        e6(col("d_contained").cast("double")
          / col("d_child").cast("double")).as("containment_e6"),
        e6(col("d_parent").cast("double")
          / col("n_parent").cast("double")).as("parent_unique_e6"),
        (col("d_contained") === col("d_child") &&
          col("d_parent") === col("n_parent")).as("is_fk"))
    }
    audit("lineitem.l_partkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"),
        "p_partkey")
      .unionByName(audit("lineitem.l_suppkey->supplier.s_suppkey",
        t(s, dir, "lineitem"), "l_suppkey", t(s, dir, "supplier"),
        "s_suppkey"))
      .unionByName(audit("orders.o_custkey->customer.c_custkey",
        t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"),
        "c_custkey"))
      .unionByName(audit("lineitem.l_orderkey->orders.o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"),
        "o_orderkey"))
      .unionByName(audit("lineitem.l_suppkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_suppkey", t(s, dir, "part"),
        "p_partkey"))
      .ordered(col("candidate"))
  }

  private val q426Sql: String = {
    def one(name: String, c: String, ck: String, p: String, pk: String) =
      s"""SELECT '$name' AS candidate,
         |  (SELECT CAST(COUNT(DISTINCT $ck) AS BIGINT) FROM $c)
         |    AS d_child,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |     (SELECT DISTINCT $ck FROM $c) cc
         |     WHERE $ck IN (SELECT $pk FROM $p)) AS d_contained,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $p) AS n_parent,
         |  (SELECT CAST(COUNT(DISTINCT $pk) AS BIGINT) FROM $p)
         |    AS d_parent""".stripMargin
    s"""WITH u AS (
       |${one("lineitem.l_orderkey->orders.o_orderkey", "lineitem",
          "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${one("lineitem.l_partkey->part.p_partkey", "lineitem",
          "l_partkey", "part", "p_partkey")}
       |UNION ALL
       |${one("lineitem.l_suppkey->part.p_partkey", "lineitem",
          "l_suppkey", "part", "p_partkey")}
       |UNION ALL
       |${one("lineitem.l_suppkey->supplier.s_suppkey", "lineitem",
          "l_suppkey", "supplier", "s_suppkey")}
       |UNION ALL
       |${one("orders.o_custkey->customer.c_custkey", "orders",
          "o_custkey", "customer", "c_custkey")})
       |SELECT candidate, d_child, d_contained,
       |  ${sqlE6("d_contained::DOUBLE / d_child::DOUBLE")}
       |    AS containment_e6,
       |  ${sqlE6("d_parent::DOUBLE / n_parent::DOUBLE")}
       |    AS parent_unique_e6,
       |  d_contained = d_child AND d_parent = n_parent AS is_fk
       |FROM u ORDER BY candidate""".stripMargin
  }

  // ---------------------------------------------------------------
  // q427 — incremental view maintenance pin: per-brand (count, qty
  // sum, min/max price cents) computed as TWO partial aggregates
  // (base = 2/3 of lineitem, delta = 1/3) MERGED by the mergeable-
  // aggregate algebra (+, +, least, greatest). The oracle computes
  // the direct full aggregation, so a green row proves base+delta
  // maintenance converges to recompute — the IVM contract.
  private val q427: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_orderkey"),
        col("l_quantity").cast("long").as("q"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("c"))
    def part(f: DataFrame) = f.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        min(col("c")).as("mn"), max(col("c")).as("mx"))
    val base = part(li.filter(pmod(col("l_orderkey"), lit(3L)) =!= 0L))
    val delta = part(li.filter(pmod(col("l_orderkey"), lit(3L)) === 0L))
    base.select(col("brand"), col("n"), col("sq"), col("mn"), col("mx"))
      .unionByName(delta.select(col("brand"), col("n"), col("sq"),
        col("mn"), col("mx")))
      .groupBy(col("brand"))
      .agg(sum(col("n")).as("n_lines"), sum(col("sq")).as("qty_sum"),
        min(col("mn")).as("min_cents"), max(col("mx")).as("max_cents"))
      .ordered(col("brand"))
  }

  private val q427Sql: String =
    """SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
      |  CAST(MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |    AS BIGINT) AS min_cents,
      |  CAST(MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |    AS BIGINT) AS max_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------
  // q428 — penny-ledger reconciliation: per-line half-up rounding of
  // extendedprice*(1-discount)*(1+tax) vs rounding the order total
  // once — the distribution of per-order cent discrepancies plus the
  // net drift. The financial-exactness audit that decides where the
  // rounding boundary must live.
  private val q428: Q = (s, dir) => {
    // exact integer micro-units end to end: u = ext_cents *
    // (100 - discount_pct) * (100 + tax_pct) is an exact BIGINT on
    // both engines (<= ~4e11 per line), so per-line and per-order
    // half-up cent rounding are integer (u + 5000) div 10000 — no
    // cross-engine double-SUM fold-order dependence anywhere.
    val l = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100.0, 0).cast("long")
          * (lit(100L) - round(col("l_discount") * 100.0, 0).cast("long"))
          * (lit(100L) + round(col("l_tax") * 100.0, 0).cast("long")))
          .as("u"))
    val per = l.groupBy(col("l_orderkey"))
      .agg(sum(expr("(u + 5000) div 10000")).as("line_cents"),
        expr("(sum(u) + 5000) div 10000").as("order_cents"))
      .select((col("line_cents") - col("order_cents")).as("diff"))
    val tot = per.agg(sum(col("diff")).as("net_drift"),
      count(lit(1)).as("n_orders"))
    per.groupBy(col("diff")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("diff"), col("n"), col("n_orders"), col("net_drift"))
      .ordered(col("diff"))
  }

  private val q428Sql: String =
    s"""WITH l AS (SELECT l_orderkey,
       |        CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)
       |          * (100 - CAST(ROUND(l_discount * 100.0, 0) AS BIGINT))
       |          * (100 + CAST(ROUND(l_tax * 100.0, 0) AS BIGINT)) AS u
       |      FROM lineitem),
       |per AS (SELECT
       |          CAST(SUM((u + 5000) // 10000) AS BIGINT)
       |          - CAST((CAST(SUM(u) AS BIGINT) + 5000) // 10000
       |              AS BIGINT) AS diff
       |        FROM l GROUP BY l_orderkey),
       |tot AS (SELECT CAST(SUM(diff) AS BIGINT) AS net_drift,
       |          CAST(COUNT(*) AS BIGINT) AS n_orders FROM per)
       |SELECT diff, CAST(COUNT(*) AS BIGINT) AS n, n_orders, net_drift
       |FROM per, tot GROUP BY 1, 3, 4 ORDER BY diff""".stripMargin

  // ---------------------------------------------------------------
  // q429 — watermark lateness profile: with arrival order = event_id
  // and event time = ts, how far behind the per-user running-max
  // event time do events arrive? Bucketed lateness counts — the
  // measurement that sizes a streaming watermark delay.
  private val q429: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("tus"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev.withColumn("wm", max(col("tus")).over(w))
      .select(when(col("wm").isNull || col("tus") >= col("wm"), 0L)
        .otherwise(col("wm") - col("tus")).as("late_us"))
    late.select(when(col("late_us") === 0L, "a_on_time")
        .when(col("late_us") <= 60000000L, "b_within_1m")
        .when(col("late_us") <= 3600000000L, "c_within_1h")
        .otherwise("d_over_1h").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .ordered(col("bucket"))
  }

  private val q429Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus
       |      FROM events),
       |late AS (SELECT CASE WHEN wm IS NULL OR tus >= wm THEN 0
       |           ELSE wm - tus END AS late_us
       |         FROM (SELECT tus, MAX(tus) OVER (
       |                 PARTITION BY user_id ORDER BY event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND
       |                 1 PRECEDING) AS wm
       |               FROM ev))
       |SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
       |    WHEN late_us <= 60000000 THEN 'b_within_1m'
       |    WHEN late_us <= 3600000000 THEN 'c_within_1h'
       |    ELSE 'd_over_1h' END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n
       |FROM late GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q430 — session-gap threshold sweep: session counts and mean
  // session size at inactivity thresholds 60 s / 10 min / 1 h from
  // ONE per-user gap computation (thresholds are a literal spine
  // against the gap rows — the q57 single-threshold operator swept
  // the way a pipeline actually tunes it).
  private val q430: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val gaps = ev.withColumn("gap",
        col("tus") - lag(col("tus"), 1).over(w))
      .localCheckpoint(false)
    val tot = gaps.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    gaps.crossJoin(broadcast(spineT(s)))
      .groupBy(col("t_us"))
      .agg(sum(when(col("gap").isNull || col("gap") > col("t_us"), 1L)
        .otherwise(0L)).as("n_sessions"))
      .crossJoin(broadcast(tot))
      .select(col("t_us"), col("n_sessions"),
        e6(col("n_events").cast("double")
          / col("n_sessions").cast("double")).as("mean_events_e6"))
      .ordered(col("t_us"))
  }

  /** Inactivity thresholds (micros) for q430. */
  private def spineT(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(60000000L, 600000000L, 3600000000L).toDF("t_us")
  }

  private val q430Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_id
       |      FROM events),
       |gaps AS (SELECT user_id, tus - LAG(tus, 1) OVER (
       |           PARTITION BY user_id ORDER BY tus, event_id)
       |           AS gap
       |         FROM ev),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       |          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |        FROM gaps),
       |ts AS (SELECT unnest([60000000, 600000000, 3600000000])
       |         AS t_us),
       |a AS (SELECT t_us, CAST(SUM(CASE WHEN gap IS NULL OR
       |          gap > t_us THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_sessions
       |      FROM gaps CROSS JOIN ts GROUP BY 1)
       |SELECT a.t_us, n_sessions,
       |  ${sqlE6("n_events::DOUBLE / n_sessions::DOUBLE")}
       |    AS mean_events_e6
       |FROM a, tot ORDER BY a.t_us""".stripMargin

  // ---------------------------------------------------------------
  // q431 — exact-integer Kolmogorov-Smirnov distance between the
  // deterministic md5 20% sample and the full corpus on event-value
  // cents: D's numerator max|cumS*nF - cumF*nS| is an exact BIGINT
  // over the value histogram, so the sampling-bias audit hashes
  // identically everywhere — no sup-over-doubles ambiguity.
  private val q431: Q = (s, dir) => {
    val v = t(s, dir, "events")
      .select(cents.as("c"),
        (CurationOps.md5Hash32(concat(lit("ks:"),
          col("event_id").cast("string"))) < 858993459L).as("inS"))
    val gh = v.groupBy(col("c"))
      .agg(count(lit(1)).as("nf"),
        sum(when(col("inS"), 1L).otherwise(0L)).as("ns"))
      .localCheckpoint(false)
    val tot = gh.agg(sum(col("nf")).as("tf"), sum(col("ns")).as("ts2"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gh.withColumn("cf", sum(col("nf")).over(w))
      .withColumn("cs", sum(col("ns")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("tf"), col("ts2"),
        abs(col("cs") * col("tf") - col("cf") * col("ts2")).as("num"))
      .groupBy(col("tf"), col("ts2")).agg(max(col("num")).as("ks_num"))
      .select(col("tf").as("n_full"), col("ts2").as("n_samp"),
        col("ks_num"),
        e6(when(col("ts2") > 0L, col("ks_num").cast("double")
          / (col("tf").cast("double") * col("ts2").cast("double")))
          .otherwise(0.0)).as("ks_e6"))
      .ordered(col("n_full"))
  }

  private val q431Sql: String =
    s"""WITH v AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
       |        ${OracleSql.hex32("md5('ks:' || event_id::VARCHAR)")}
       |          < 858993459 AS inS
       |      FROM events),
       |gh AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nf,
       |         CAST(SUM(CASE WHEN inS THEN 1 ELSE 0 END) AS BIGINT)
       |           AS ns
       |       FROM v GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nf) AS BIGINT) AS tf,
       |          CAST(SUM(ns) AS BIGINT) AS ts2 FROM gh),
       |cum AS (SELECT c,
       |          CAST(SUM(nf) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
       |            PRECEDING AND CURRENT ROW) AS BIGINT) AS cf,
       |          CAST(SUM(ns) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
       |            PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
       |        FROM gh),
       |agg AS (SELECT tf, ts2,
       |          CAST(MAX(ABS(cs * tf - cf * ts2)) AS BIGINT)
       |            AS ks_num
       |        FROM cum, tot GROUP BY 1, 2)
       |SELECT tf AS n_full, ts2 AS n_samp, ks_num,
       |  ${sqlE6("CASE WHEN ts2 > 0 THEN ks_num::DOUBLE / " +
            "(tf::DOUBLE * ts2::DOUBLE) ELSE 0.0 END")} AS ks_e6
       |FROM agg ORDER BY n_full""".stripMargin

  // ---------------------------------------------------------------
  // q432 — chi-square keyword selection per source: for every
  // (source, token) presence pair the exact 2x2 contingency chi2
  // (N(ad-bc)^2 / marginal product), top-5 tokens per source by
  // (chi2 desc, token). The supervised feature-selection pass a
  // source classifier (or a contamination hunt) starts from — all
  // cells exact BIGINTs.
  private val q432: Q = (s, dir) => {
    val dt = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(TextOps.tokens(col("text"))))
          .as("tok"))
      .localCheckpoint(false)
    val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("nn"))
    val nSrc = t(s, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("ns"))
    val dfAll = dt.groupBy(col("tok")).agg(countDistinct(col("doc_id"))
      .as("dfa"))
    val a = dt.groupBy(col("source"), col("tok"))
      .agg(countDistinct(col("doc_id")).as("a"))
    val chi = a.join(dfAll, "tok").join(nSrc, "source")
      .crossJoin(broadcast(nDocs))
      .select(col("source"), col("tok"), col("a"),
        (col("dfa") - col("a")).as("b"), (col("ns") - col("a")).as("c"),
        (col("nn") - col("ns") - col("dfa") + col("a")).as("d"),
        col("nn"))
      .select(col("source"), col("tok"), col("a"),
        when((col("a") + col("b")) * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d")) > 0L,
          col("nn").cast("double")
            * (col("a") * col("d") - col("b") * col("c")).cast("double")
            * (col("a") * col("d") - col("b") * col("c")).cast("double")
            / ((col("a") + col("b")) * (col("c") + col("d"))).cast("double")
            / ((col("a") + col("c")) * (col("b") + col("d"))).cast("double"))
          .otherwise(0.0).as("chi2"))
    chi.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("chi2").desc, col("tok"))))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("tok"), col("a").as("df_in_source"),
        e6(col("chi2")).as("chi2_e6"))
      .ordered(col("source"), col("rk"))
  }

  private val q432Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |      FROM documents),
       |dt AS (SELECT DISTINCT doc_id, source, unnest(toks) AS tok
       |       FROM d),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
       |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
       |       FROM documents GROUP BY 1),
       |dfa AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       |          AS dfa FROM dt GROUP BY 1),
       |a AS (SELECT source, tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       |        AS a FROM dt GROUP BY 1, 2),
       |cells AS (SELECT a.source, a.tok, a.a, dfa - a.a AS b,
       |            ns - a.a AS c, nn - ns - dfa + a.a AS d, nn
       |          FROM a JOIN dfa USING (tok) JOIN ns USING (source),
       |            nn),
       |chi AS (SELECT source, tok, a,
       |          CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
       |            THEN nn::DOUBLE * (a * d - b * c)::DOUBLE
       |              * (a * d - b * c)::DOUBLE
       |              / ((a + b) * (c + d))::DOUBLE
       |              / ((a + c) * (b + d))::DOUBLE
       |            ELSE 0.0 END AS chi2
       |        FROM cells)
       |SELECT source, CAST(rk AS BIGINT) AS rk, tok,
       |  a AS df_in_source, ${sqlE6("chi2")} AS chi2_e6
       |FROM (SELECT source, tok, a, chi2, ROW_NUMBER() OVER (
       |        PARTITION BY source ORDER BY chi2 DESC, tok) AS rk
       |      FROM chi)
       |WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------
  // q433 — near-zero-variance feature screen (the caret NZV rule):
  // for four numeric columns, the top-1/top-2 frequency ratio and
  // the unique-value fraction from exact value histograms; a column
  // is flagged when freq_ratio > 19 and unique fraction < 10%.
  private val q433: Q = (s, dir) => {
    def screen(name: String, v: DataFrame): DataFrame = {
      val gh = v.groupBy(col("x")).agg(count(lit(1)).as("nc"))
      val top2 = gh.orderBy(col("nc").desc, col("x")).limit(2)
        .agg(max(col("nc")).as("f1"), min(col("nc")).as("f2"),
          count(lit(1)).as("ntop"))
      gh.agg(sum(col("nc")).as("n"), count(lit(1)).as("d"))
        .crossJoin(broadcast(top2))
        .select(lit(name).as("col_name"), col("n"), col("d"),
          e6(when(col("ntop") >= 2L && col("f2") > 0L,
            col("f1").cast("double") / col("f2").cast("double"))
            .otherwise(0.0)).as("freq_ratio_e6"),
          e6(col("d").cast("double") / col("n").cast("double"))
            .as("unique_frac_e6"),
          (col("ntop") >= 2L &&
            col("f1").cast("double") > lit(19.0) * col("f2").cast("double") &&
            col("d").cast("double") * 10.0 < col("n").cast("double"))
            .as("nzv"))
    }
    val li = t(s, dir, "lineitem")
    screen("l_quantity", li.select(col("l_quantity").cast("long").as("x")))
      .unionByName(screen("l_discount_e2",
        li.select(expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("x"))))
      .unionByName(screen("l_tax_e2",
        li.select(expr("CAST(ROUND(l_tax * 100) AS BIGINT)").as("x"))))
      .unionByName(screen("event_value_cents",
        t(s, dir, "events").select(cents.as("x"))))
      .ordered(col("col_name"))
  }

  private val q433Sql: String = {
    def one(name: String, src: String, ex: String) =
      s"""SELECT '$name' AS col_name, n, d, freq_ratio_e6,
         |  unique_frac_e6, nzv FROM (
         |  WITH gh AS (SELECT $ex AS x, CAST(COUNT(*) AS BIGINT) AS nc
         |              FROM $src GROUP BY 1),
         |  t2 AS (SELECT MAX(nc) AS f1, MIN(nc) AS f2,
         |           CAST(COUNT(*) AS BIGINT) AS ntop FROM (
         |           SELECT nc FROM gh ORDER BY nc DESC, x LIMIT 2)),
         |  ag AS (SELECT CAST(SUM(nc) AS BIGINT) AS n,
         |           CAST(COUNT(*) AS BIGINT) AS d FROM gh)
         |  SELECT n, d,
         |    ${sqlE6("CASE WHEN ntop >= 2 AND f2 > 0 THEN " +
              "f1::DOUBLE / f2::DOUBLE ELSE 0.0 END")} AS freq_ratio_e6,
         |    ${sqlE6("d::DOUBLE / n::DOUBLE")} AS unique_frac_e6,
         |    ntop >= 2 AND f1::DOUBLE > 19.0 * f2::DOUBLE
         |      AND d::DOUBLE * 10.0 < n::DOUBLE AS nzv
         |  FROM ag, t2)""".stripMargin
    s"""WITH u AS (
       |${one("l_quantity", "lineitem", "CAST(l_quantity AS BIGINT)")}
       |UNION ALL
       |${one("l_discount_e2", "lineitem",
          "CAST(ROUND(l_discount * 100) AS BIGINT)")}
       |UNION ALL
       |${one("l_tax_e2", "lineitem",
          "CAST(ROUND(l_tax * 100) AS BIGINT)")}
       |UNION ALL
       |${one("event_value_cents", "events",
          "CAST(ROUND(value * 100) AS BIGINT)")})
       |SELECT * FROM u ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------
  // q434 — leave-one-out target-encoding diagnostics per brand
  // (target = returnflag 'R'): the LOO mean collapses to the plain
  // rate algebraically, and the LOO variance has the closed binary
  // form s(n-s)/(n*(n-1)^2) — both exact rationals from (n, s),
  // no per-row encoding pass. Encoder health without the leakage.
  private val q434: Q = (s, dir) => {
    val y = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    y.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s2"))
      .select(col("brand"), col("n"), col("s2").as("s"),
        e6(col("s2").cast("double") / col("n").cast("double"))
          .as("mean_e6"),
        e6(when(col("n") > 1L,
          col("s2").cast("double")
            * (col("n") - col("s2")).cast("double")
            / (col("n").cast("double")
              * (col("n") - 1L).cast("double")
              * (col("n") - 1L).cast("double"))).otherwise(0.0))
          .as("loo_var_e6"))
      .ordered(col("brand"))
  }

  private val q434Sql: String =
    s"""WITH y AS (SELECT p_brand AS brand,
       |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |a AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(y) AS BIGINT) AS s
       |      FROM y GROUP BY 1)
       |SELECT brand, n, s,
       |  ${sqlE6("s::DOUBLE / n::DOUBLE")} AS mean_e6,
       |  ${sqlE6("CASE WHEN n > 1 THEN s::DOUBLE * (n - s)::DOUBLE " +
            "/ (n::DOUBLE * (n - 1)::DOUBLE * (n - 1)::DOUBLE) " +
            "ELSE 0.0 END")} AS loo_var_e6
       |FROM a ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------
  // q435 — sample-ratio-mismatch guardrail for the custkey-parity
  // assignment: per market segment (and the pooled total), the
  // 50/50 chi-square (nA-nB)^2/(nA+nB) with the 3.84 (p=0.05, 1 dof)
  // flag — the first sanity check every A/B readout must pass.
  private val q435: Q = (s, dir) => {
    val c = t(s, dir, "customer")
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2L === 0L).as("ga"))
    val per = c.groupBy(col("seg"))
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("nb"))
    val all2 = per.agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      .select(lit("__all").as("seg"), col("na"), col("nb"))
    per.unionByName(all2)
      .select(col("seg"), col("na"), col("nb"),
        e6(when(col("na") + col("nb") > 0L,
          (col("na") - col("nb")).cast("double")
            * (col("na") - col("nb")).cast("double")
            / (col("na") + col("nb")).cast("double")).otherwise(0.0))
          .as("chi2_e6"),
        ((col("na") - col("nb")).cast("double")
          * (col("na") - col("nb")).cast("double")
          > lit(3.84) * (col("na") + col("nb")).cast("double"))
          .as("srm_flag"))
      .ordered(col("seg"))
  }

  private val q435Sql: String =
    s"""WITH c AS (SELECT c_mktsegment AS seg,
       |        c_custkey % 2 = 0 AS ga FROM customer),
       |per AS (SELECT seg,
       |          CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT)
       |            AS na,
       |          CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END)
       |            AS BIGINT) AS nb
       |        FROM c GROUP BY 1),
       |u AS (SELECT seg, na, nb FROM per
       |      UNION ALL
       |      SELECT '__all', CAST(SUM(na) AS BIGINT),
       |        CAST(SUM(nb) AS BIGINT) FROM per)
       |SELECT seg, na, nb,
       |  ${sqlE6("CASE WHEN na + nb > 0 THEN (na - nb)::DOUBLE " +
            "* (na - nb)::DOUBLE / (na + nb)::DOUBLE ELSE 0.0 END")}
       |    AS chi2_e6,
       |  (na - nb)::DOUBLE * (na - nb)::DOUBLE
       |    > 3.84 * (na + nb)::DOUBLE AS srm_flag
       |FROM u ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------
  // q436 — order-stream outage audit per year: the largest gap
  // between consecutive active days and the count of gaps over 3
  // days, from the per-year distinct-day sequence — the data-
  // freshness check a pipeline SLA dashboard runs.
  private val q436: Q = (s, dir) => {
    val days = t(s, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
    days.withColumn("gap", col("day") - lag(col("day"), 1).over(w))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_active_days"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap"),
        sum(when(col("gap") > 3L, 1L).otherwise(0L)).as("n_outages"))
      .ordered(col("yr"))
  }

  private val q436Sql: String =
    s"""WITH days AS (SELECT DISTINCT
       |        CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       |        DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |          AS day
       |      FROM orders),
       |g AS (SELECT yr, day - LAG(day, 1) OVER (
       |        PARTITION BY yr ORDER BY day) AS gap
       |      FROM days)
       |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_active_days,
       |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap,
       |  CAST(SUM(CASE WHEN gap > 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outages
       |FROM g GROUP BY 1 ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------
  // q437 — dictionary-encoding advisor: per categorical column the
  // exact value entropy (bits) and raw-vs-dictionary byte estimates
  // (1-byte codes — every audited column has < 256 distinct values).
  // The encoding decision a columnar writer makes, as an auditable
  // query.
  private val q437: Q = (s, dir) => {
    def profile(name: String, v: DataFrame): DataFrame = {
      val gh = v.groupBy(col("x")).agg(count(lit(1)).as("nc"),
        max(length(col("x"))).cast("long").as("len"))
      val tot = gh.agg(sum(col("nc")).as("n"), count(lit(1)).as("d"),
        sum(col("len")).as("dict_str"),
        sum(col("nc") * col("len")).as("raw_bytes"))
      val ent = gh.crossJoin(broadcast(tot))
        .select((col("nc").cast("double") / col("n").cast("double"))
          .as("p"))
        .agg(sum(-col("p") * log(col("p")) / math.log(2.0)).as("h"))
      tot.crossJoin(broadcast(ent))
        .select(lit(name).as("col_name"), col("n"), col("d"),
          e6(col("h")).as("entropy_e6"), col("raw_bytes"),
          (col("dict_str") + col("n")).as("dict_bytes"))
    }
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    profile("l_returnflag", li.select(col("l_returnflag").as("x")))
      .unionByName(profile("l_linestatus",
        li.select(col("l_linestatus").as("x"))))
      .unionByName(profile("o_orderstatus",
        o.select(col("o_orderstatus").as("x"))))
      .unionByName(profile("o_orderpriority",
        o.select(col("o_orderpriority").as("x"))))
      .unionByName(profile("p_brand",
        t(s, dir, "part").select(col("p_brand").as("x"))))
      .unionByName(profile("c_mktsegment",
        t(s, dir, "customer").select(col("c_mktsegment").as("x"))))
      .ordered(col("col_name"))
  }

  private val q437Sql: String = {
    def one(name: String, src: String, ex: String) =
      s"""SELECT '$name' AS col_name, n, d, entropy_e6, raw_bytes,
         |  dict_bytes FROM (
         |  WITH gh AS (SELECT $ex AS x, CAST(COUNT(*) AS BIGINT) AS nc,
         |                CAST(MAX(length($ex)) AS BIGINT) AS len
         |              FROM $src GROUP BY 1),
         |  tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n,
         |            CAST(COUNT(*) AS BIGINT) AS d,
         |            CAST(SUM(len) AS BIGINT) AS dict_str,
         |            CAST(SUM(nc * len) AS BIGINT) AS raw_bytes
         |          FROM gh),
         |  ent AS (SELECT SUM(-(nc::DOUBLE / n::DOUBLE)
         |            * LN(nc::DOUBLE / n::DOUBLE)
         |            / ${math.log(2.0)}) AS h
         |          FROM gh, tot)
         |  SELECT n, d, ${sqlE6("h")} AS entropy_e6, raw_bytes,
         |    dict_str + n AS dict_bytes
         |  FROM tot, ent)""".stripMargin
    s"""WITH u AS (
       |${one("l_returnflag", "lineitem", "l_returnflag")}
       |UNION ALL
       |${one("l_linestatus", "lineitem", "l_linestatus")}
       |UNION ALL
       |${one("o_orderstatus", "orders", "o_orderstatus")}
       |UNION ALL
       |${one("o_orderpriority", "orders", "o_orderpriority")}
       |UNION ALL
       |${one("p_brand", "part", "p_brand")}
       |UNION ALL
       |${one("c_mktsegment", "customer", "c_mktsegment")})
       |SELECT * FROM u ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------

  val queries: Seq[Query] = Seq(
    Query("q384_kruskal_wallis", q384, q384Sql),
    Query("q385_wilcoxon_signed", q385, q385Sql),
    Query("q386_mood_median", q386, q386Sql),
    Query("q387_cochran_q", q387, q387Sql),
    Query("q388_friedman_page", q388, q388Sql),
    Query("q389_logrank", q389, q389Sql),
    Query("q390_ljung_box", q390, q390Sql),
    Query("q391_seasonal_spectrum", q391, q391Sql),
    Query("q392_pass_at_k", q392, q392Sql),
    Query("q393_bradley_terry", q393, q393Sql),
    Query("q394_ams_f2", q394, q394Sql),
    Query("q395_twonn_id", q395, q395Sql),
    Query("q396_pinball_loss", q396, q396Sql),
    Query("q397_ewma_chart", q397, q397Sql),
    Query("q398_jonckheere", q398, q398Sql),
    Query("q399_kcenter_coreset", q399, q399Sql),
    Query("q400_otif_priority", q400, q400Sql),
    Query("q401_croston", q401, q401Sql),
    Query("q402_curriculum_phases", q402, q402Sql),
    Query("q403_neyman_alloc", q403, q403Sql),
    Query("q404_shapley_attribution", q404, q404Sql),
    Query("q405_uplift_segment", q405, q405Sql),
    Query("q406_knn_density", q406, q406Sql),
    Query("q407_hitter_drift", q407, q407Sql),
    Query("q408_span_corruption", q408, q408Sql),
    Query("q409_kneser_ney", q409, q409Sql),
    Query("q410_weight_ess", q410, q410Sql),
    Query("q411_garble_audit", q411, q411Sql),
    Query("q412_revenue_ndr", q412, q412Sql),
    Query("q413_triple_itemsets", q413, q413Sql),
    Query("q414_gumbel_topk", q414, q414Sql),
    Query("q415_successive_halving", q415, q415Sql),
    Query("q416_sax_symbols", q416, q416Sql),
    Query("q417_motif_discovery", q417, q417Sql),
    Query("q418_broadcast_advisor", q418, q418Sql),
    Query("q419_lang_diversity", q419, q419Sql),
    Query("q420_qini_curve", q420, q420Sql),
    Query("q421_bloom_planner", q421, q421Sql),
    Query("q422_bbit_minhash", q422, q422Sql),
    Query("q423_knn_label_eval", q423, q423Sql),
    Query("q424_equidepth_est", q424, q424Sql),
    Query("q425_join_card_est", q425, q425Sql),
    Query("q426_fk_discovery", q426, q426Sql),
    Query("q427_ivm_merge", q427, q427Sql),
    Query("q428_penny_ledger", q428, q428Sql),
    Query("q429_lateness_profile", q429, q429Sql),
    Query("q430_gap_sweep", q430, q430Sql),
    Query("q431_sampling_ks", q431, q431Sql),
    Query("q432_chi2_keywords", q432, q432Sql),
    Query("q433_nzv_screen", q433, q433Sql),
    Query("q434_loo_encode", q434, q434Sql),
    Query("q435_srm_check", q435, q435Sql),
    Query("q436_outage_gaps", q436, q436Sql),
    Query("q437_dict_advisor", q437, q437Sql))
}
