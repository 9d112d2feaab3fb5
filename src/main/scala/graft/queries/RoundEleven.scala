package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, TextOps}
import graft.sources.{IvfVectorStore, NearDupGraphStore}
import graft.streaming.NearDupStreamIngest

/** Round-11 query surface: the streaming-ingest store pin plus this
  * round's analytics additions. House exactness discipline throughout:
  * integer counts/sums end to end, per-row e6 rounding BEFORE integer
  * aggregation where a double is unavoidable, ratios of integers under
  * the final e6 pin, identical expression shapes on both engines. */
object RoundEleven {
  // ---------------------------------------------------------------
  // q458 — CONTINUOUS dedup ingest pin: the odd-id half corpus fed
  // through NearDupStreamIngest.ingestBatch (the exact foreachBatch
  // handler the streaming sink runs) in 3 doc_id%3 micro-batch
  // slices PLUS an at-least-once replay of slice 1 — then the q438
  // band profile read from the resulting store. The oracle is the
  // plain one-shot full derivation over the same half corpus, so a
  // green row pins (a) streamed micro-batch ingest == batch build at
  // doc-pair granularity and (b) the replayed batch landed ZERO rows
  // (the store-level anti-join). StorageStreamingSpec drives the same
  // handler through a real MemoryStream query with watermark dedup.
  private val q458: Q = (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") % 2L === 1L)
    val path = tmpStorePath("graft-ndg-stream-q458", dir)
    // fresh build each run: a stale store from a prior run would
    // anti-join everything out and silently serve old data
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val slices = (0L to 2L).map(i =>
      docs.filter(col("doc_id") % 3L === i))
    // empty componentThresholds = the continuous-ingest cadence
    // policy: no per-batch iterative-CC label rebuild (this audit
    // reads only the pair graph; a label consumer calls
    // rebuildComponents on its own cadence). The replay arrives
    // under BOTH replay shapes the epoch protocol distinguishes:
    // same-epoch (engine retry — short-circuits on the commit
    // marker) and new-epoch (beyond-watermark duplicate — lands
    // zero rows via the members anti-join).
    slices.zipWithIndex.foreach { case (b, i) =>
      NearDupStreamIngest.ingestBatch(b, "doc_id", "text",
        n = 3, baseT = 0.3, componentThresholds = Seq(), path,
        epoch = i.toLong)
    }
    NearDupStreamIngest.ingestBatch(slices(1), "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq(), path,
      epoch = 1L)
    NearDupStreamIngest.ingestBatch(slices(1), "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq(), path,
      epoch = 3L)
    NearDupGraphStore.groupPairs(s, path, 0.3)
      .select(
        least(floor(col("jaccard") * 10.0), lit(9.0)).cast("long")
          .as("jband"),
        when(col("rid1") === col("rid2"),
          expr("g1 * (g1 - 1) div 2"))
          .otherwise(col("g1") * col("g2")).as("npairs"),
        round(col("jaccard") * 1e6, 0).cast("long").as("je6"))
      .groupBy(col("jband"))
      .agg(sum(col("npairs")).as("n_doc_pairs"),
        sum(col("npairs") * col("je6")).as("j_e6_sum"))
      .ordered(col("jband"))
  }

  private val q458Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents WHERE doc_id % 2 = 1),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= 3
       |      THEN list_distinct(list_transform(range(1, len(tk) - 1),
       |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |      ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |pr AS (
       |  SELECT id1, id2, shared * 1.0 / (x.n + y.n - shared) AS j
       |  FROM pp JOIN sz x ON id1 = x.doc_id
       |  JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.3),
       |b AS (SELECT LEAST(CAST(FLOOR(j * 10) AS BIGINT), 9) AS jband,
       |        CAST(ROUND(j * 1e6, 0) AS BIGINT) AS je6 FROM pr)
       |SELECT jband, CAST(COUNT(*) AS BIGINT) AS n_doc_pairs,
       |  CAST(SUM(je6) AS BIGINT) AS j_e6_sum
       |FROM b GROUP BY 1 ORDER BY jband""".stripMargin

  // ---------------------------------------------------------------
  // q459 — encoding DECISION table: the dictionary (q437) / FOR
  // (q456) advisors folded into one argmin per column — estimated
  // bits for raw 64-bit, dictionary (n·bitlen(ndv-1) + ndv·64 dict
  // entries), and frame-of-reference (per-2048-key-block span bits +
  // 64-bit frame base), with the winner named. Bit widths via
  // length(bin(x)) — identical string semantics both engines, no
  // log2 ulp edge. The decision a columnar layout job makes per
  // column at write time.
  private val q459: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      expr("l_orderkey div 2048").as("blk"),
      expr("stack(3, 'l_partkey', l_partkey, 'l_suppkey', l_suppkey," +
        " 'l_extprice_cents', CAST(ROUND(l_extendedprice * 100)" +
        " AS BIGINT)) AS (col_name, val)"))
      .localCheckpoint(false)
    val overall = li.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("val")).as("ndv"))
    val forBits = li.groupBy(col("col_name"), col("blk"))
      .agg(count(lit(1)).as("n"),
        (max(col("val")) - min(col("val"))).as("span"))
      .groupBy(col("col_name"))
      .agg(sum(col("n") * length(bin(col("span"))).cast("long") + 64L)
        .as("for_bits"))
    overall.join(forBits, "col_name")
      .select(col("col_name"), col("n_rows"), col("ndv"),
        (col("n_rows") * 64L).as("raw_bits"),
        (col("n_rows") * length(bin(col("ndv") - 1L)).cast("long")
          + col("ndv") * 64L).as("dict_bits"),
        col("for_bits"))
      .withColumn("winner",
        when(col("dict_bits") <= col("for_bits") &&
            col("dict_bits") <= col("raw_bits"), lit("dict"))
          .when(col("for_bits") <= col("raw_bits"), lit("for"))
          .otherwise(lit("raw")))
      .ordered(col("col_name"))
  }

  private val q459Sql: String =
    s"""WITH long AS (
       |  SELECT l_orderkey // 2048 AS blk, 'l_partkey' AS col_name,
       |    l_partkey AS val FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey // 2048, 'l_suppkey', l_suppkey
       |  FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey // 2048, 'l_extprice_cents',
       |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) FROM lineitem),
       |o AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |        CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
       |      FROM long GROUP BY 1),
       |fb AS (SELECT col_name,
       |         CAST(SUM(n * length(bin(span)) + 64) AS BIGINT)
       |           AS for_bits
       |       FROM (SELECT col_name, blk, CAST(COUNT(*) AS BIGINT)
       |               AS n, MAX(val) - MIN(val) AS span
       |             FROM long GROUP BY 1, 2) blocks GROUP BY 1),
       |e AS (SELECT o.col_name, n_rows, ndv,
       |        CAST(n_rows * 64 AS BIGINT) AS raw_bits,
       |        CAST(n_rows * length(bin(ndv - 1)) + ndv * 64
       |          AS BIGINT) AS dict_bits,
       |        for_bits
       |      FROM o JOIN fb ON o.col_name = fb.col_name)
       |SELECT col_name, n_rows, ndv, raw_bits, dict_bits, for_bits,
       |  CASE WHEN dict_bits <= for_bits AND dict_bits <= raw_bits
       |    THEN 'dict' WHEN for_bits <= raw_bits THEN 'for'
       |    ELSE 'raw' END AS winner
       |FROM e ORDER BY col_name""".stripMargin

  // ---------------------------------------------------------------
  // q460 — Cliff's delta effect size for every event-type pair:
  // #(x>y), #(x<y), #(x=y) from the shared value-histogram spine
  // (the q442 grid — cumulative counts give the full concordance
  // census without enumerating row pairs), delta = (gt - lt) /
  // (n1·n2). The ordinal effect-size companion of Kendall (q326) and
  // the distance pair family (q442/q443/q446): all counts exact
  // BIGINT, only the final ratio is a double under the e6 pin.
  private val q460: Q = (s, dir) => {
    val gh = t(s, dir, "events")
      .select(col("event_type").as("g"), cents.as("c"))
      .groupBy(col("g"), col("c")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val types = gh.groupBy(col("g")).agg(sum(col("n")).as("ng"))
    val vals = gh.select(col("c")).distinct()
    val grid = vals.crossJoin(broadcast(types))
      .join(gh, Seq("g", "c"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wCum = Window.partitionBy(col("g")).orderBy(col("c"))
    val cum = grid
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("cumlt", col("cum") - col("n"))
    val pairs = cum.as("x").join(cum.as("y"),
        col("x.c") === col("y.c") && col("x.g") < col("y.g"))
      .select(col("x.g").as("g1"), col("y.g").as("g2"),
        col("x.ng").as("n1"), col("y.ng").as("n2"),
        (col("x.n") * col("y.cumlt")).as("gt_c"),
        (col("x.n") * (col("y.ng") - col("y.cum"))).as("lt_c"),
        (col("x.n") * col("y.n")).as("tie_c"))
    pairs.groupBy(col("g1"), col("g2"), col("n1"), col("n2"))
      .agg(sum(col("gt_c")).as("n_gt"), sum(col("lt_c")).as("n_lt"),
        sum(col("tie_c")).as("n_tie"))
      .select(col("g1"), col("g2"), col("n_gt"), col("n_lt"),
        col("n_tie"),
        e6((col("n_gt") - col("n_lt")).cast("double")
          / (col("n1") * col("n2")).cast("double")).as("delta_e6"))
      .ordered(col("g1"), col("g2"))
  }

  private val q460Sql: String =
    s"""WITH gh AS (SELECT event_type AS g,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM events GROUP BY 1, 2),
       |types AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng
       |          FROM gh GROUP BY 1),
       |vals AS (SELECT DISTINCT c FROM gh),
       |grid AS (SELECT t.g, v.c, t.ng, COALESCE(gh.n, 0) AS n
       |         FROM vals v CROSS JOIN types t
       |         LEFT JOIN gh ON gh.g = t.g AND gh.c = v.c),
       |cum AS (SELECT g, c, ng, n,
       |          CAST(SUM(n) OVER (PARTITION BY g ORDER BY c)
       |            AS BIGINT) AS cum
       |        FROM grid),
       |cu AS (SELECT g, c, ng, n, cum, cum - n AS cumlt FROM cum),
       |pairs AS (SELECT x.g AS g1, y.g AS g2, x.ng AS n1, y.ng AS n2,
       |            x.n * y.cumlt AS gt_c,
       |            x.n * (y.ng - y.cum) AS lt_c,
       |            x.n * y.n AS tie_c
       |          FROM cu x JOIN cu y ON x.c = y.c AND x.g < y.g)
       |SELECT g1, g2, CAST(SUM(gt_c) AS BIGINT) AS n_gt,
       |  CAST(SUM(lt_c) AS BIGINT) AS n_lt,
       |  CAST(SUM(tie_c) AS BIGINT) AS n_tie,
       |  ${sqlE6("(SUM(gt_c) - SUM(lt_c))::DOUBLE" +
          " / (n1 * n2)::DOUBLE")} AS delta_e6
       |FROM pairs GROUP BY g1, g2, n1, n2 ORDER BY g1, g2""".stripMargin

  // ---------------------------------------------------------------
  // q461 — Spearman rank correlation between quantity and discount
  // per return flag: 2x mid-ranks from the per-flag value histograms
  // (the q384/q443 rank-spine discipline — both domains are small
  // integer grids, so ranks come from cumulative counts, never a
  // row-level sort), then Pearson over the 550-cell (flag, qty,
  // discount) grid with exact DECIMAL/HUGEINT moments (the q448
  // 128-bit pattern: rank moments overflow BIGINT at replication
  // scale). Only the final rho is a double.
  private val q461: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("xv"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("yv"))
      .localCheckpoint(false)
    def ranks2x(v: String, out: String): DataFrame = {
      val h = li.groupBy(col("g"), col(v))
        .agg(count(lit(1)).as("nv"))
      val w = Window.partitionBy(col("g")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("cumlt", coalesce(sum(col("nv")).over(w), lit(0L)))
        .select(col("g"), col(v),
          (lit(2L) * col("cumlt") + col("nv") + 1L).as(out))
    }
    val cells = li.groupBy(col("g"), col("xv"), col("yv"))
      .agg(count(lit(1)).as("nc"))
      .join(ranks2x("xv", "rx"), Seq("g", "xv"))
      .join(ranks2x("yv", "ry"), Seq("g", "yv"))
      .select(col("g"), col("nc").cast("decimal(12,0)").as("ncd"),
        col("rx").cast("decimal(12,0)").as("rxd"),
        col("ry").cast("decimal(12,0)").as("ryd"))
    cells.groupBy(col("g"))
      .agg(sum(col("ncd")).as("n"),
        sum(col("ncd") * col("rxd")).as("sx"),
        sum(col("ncd") * col("ryd")).as("sy"),
        sum(col("ncd") * col("rxd") * col("rxd")).as("sx2"),
        sum(col("ncd") * col("ryd") * col("ryd")).as("sy2"),
        sum(col("ncd") * col("rxd") * col("ryd")).as("sxy"))
      .select(col("g"), col("n").cast("long").as("n_rows"),
        e6 {
          val num = (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          val den = sqrt(
            (col("n") * col("sx2") - col("sx") * col("sx"))
              .cast("double")
            * (col("n") * col("sy2") - col("sy") * col("sy"))
              .cast("double"))
          when(den > 0.0, num / den).otherwise(lit(0.0))
        }.as("rho_e6"))
      .ordered(col("g"))
  }

  private val q461Sql: String = {
    def rk(v: String, out: String): String =
      s"""(SELECT g, $v,
         |   2 * COALESCE(SUM(nv) OVER (PARTITION BY g ORDER BY $v
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |     + nv + 1 AS $out
         | FROM (SELECT g, $v, CAST(COUNT(*) AS BIGINT) AS nv
         |       FROM li GROUP BY 1, 2))""".stripMargin
    s"""WITH li AS (SELECT l_returnflag AS g,
       |        CAST(ROUND(l_quantity) AS BIGINT) AS xv,
       |        CAST(ROUND(l_discount * 100) AS BIGINT) AS yv
       |      FROM lineitem),
       |rx AS ${rk("xv", "rxv")},
       |ry AS ${rk("yv", "ryv")},
       |cells AS (SELECT g, xv, yv, CAST(COUNT(*) AS BIGINT) AS nc
       |          FROM li GROUP BY 1, 2, 3),
       |j AS (SELECT c.g, CAST(nc AS HUGEINT) AS ncd,
       |        CAST(rxv AS HUGEINT) AS rxd,
       |        CAST(ryv AS HUGEINT) AS ryd
       |      FROM cells c
       |      JOIN rx ON rx.g = c.g AND rx.xv = c.xv
       |      JOIN ry ON ry.g = c.g AND ry.yv = c.yv),
       |a AS (SELECT g, SUM(ncd) AS n,
       |        SUM(ncd * rxd) AS sx, SUM(ncd * ryd) AS sy,
       |        SUM(ncd * rxd * rxd) AS sx2,
       |        SUM(ncd * ryd * ryd) AS sy2,
       |        SUM(ncd * rxd * ryd) AS sxy
       |      FROM j GROUP BY 1)
       |SELECT g, CAST(n AS BIGINT) AS n_rows,
       |  ${sqlE6("CASE WHEN (n * sx2 - sx * sx) > 0 AND" +
          " (n * sy2 - sy * sy) > 0 THEN" +
          " (n * sxy - sx * sy)::DOUBLE / SQRT(" +
          "(n * sx2 - sx * sx)::DOUBLE * (n * sy2 - sy * sy)::DOUBLE)" +
          " ELSE 0.0 END")} AS rho_e6
       |FROM a ORDER BY g""".stripMargin
  }

  // ---------------------------------------------------------------
  // q462 — Lin's concordance correlation coefficient (CCC) between
  // quantity and discount-pct per return flag: agreement with the
  // 45-degree line, ccc = 2(n·sxy − sx·sy) / ((n·sx2 − sx²) +
  // (n·sy2 − sy²) + (sx − sy)²) — the whole expression is exact
  // 128-bit integers (DECIMAL / HUGEINT, the q448 pattern) with ONE
  // double cast each of numerator and denominator. Completes the
  // agreement family (Fleiss q302-era kappa, Cohen/Matthews q445)
  // with the continuous-scale member.
  private val q462: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
      expr("CAST(CAST(ROUND(l_quantity) AS BIGINT) AS DECIMAL(12,0))")
        .as("x"),
      expr("CAST(CAST(ROUND(l_discount * 100) AS BIGINT)" +
        " AS DECIMAL(12,0))").as("y"))
    li.groupBy(col("g"))
      .agg(count(lit(1)).cast("decimal(12,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("g"), col("n").cast("long").as("n_rows"),
        e6 {
          val num = (lit(2) * (col("n") * col("sxy")
            - col("sx") * col("sy"))).cast("double")
          val den = ((col("n") * col("sx2") - col("sx") * col("sx"))
            + (col("n") * col("sy2") - col("sy") * col("sy"))
            + (col("sx") - col("sy")) * (col("sx") - col("sy")))
            .cast("double")
          when(den > 0.0, num / den).otherwise(lit(0.0))
        }.as("ccc_e6"))
      .ordered(col("g"))
  }

  private val q462Sql: String =
    s"""WITH li AS (SELECT l_returnflag AS g,
       |        CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
       |          AS x,
       |        CAST(CAST(ROUND(l_discount * 100) AS BIGINT)
       |          AS HUGEINT) AS y
       |      FROM lineitem),
       |a AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
       |        SUM(x) AS sx, SUM(y) AS sy,
       |        SUM(x * x) AS sx2, SUM(y * y) AS sy2,
       |        SUM(x * y) AS sxy
       |      FROM li GROUP BY 1)
       |SELECT g, CAST(n AS BIGINT) AS n_rows,
       |  ${sqlE6("CASE WHEN ((n * sx2 - sx * sx) + (n * sy2 - sy * sy)" +
          " + (sx - sy) * (sx - sy)) > 0 THEN" +
          " (2 * (n * sxy - sx * sy))::DOUBLE /" +
          " ((n * sx2 - sx * sx) + (n * sy2 - sy * sy)" +
          " + (sx - sy) * (sx - sy))::DOUBLE ELSE 0.0 END")} AS ccc_e6
       |FROM a ORDER BY g""".stripMargin

  // ---------------------------------------------------------------
  // q463 — Benford first-digit audit on order totals: observed
  // first-digit shares of FLOOR(o_totalprice) vs the Benford
  // expectation log10(1 + 1/d), carried as ONE shared table of e6
  // literals on both engines (no runtime log10 — no transcendental
  // ulp edge). The fraud/data-quality screen a finance pipeline runs
  // on every ingested ledger.
  private val q463: Q = (s, dir) => {
    import s.implicits._
    val exp = Seq((1L, 301030L), (2L, 176091L), (3L, 124939L),
      (4L, 96910L), (5L, 79181L), (6L, 66947L), (7L, 57992L),
      (8L, 51153L), (9L, 45757L)).toDF("digit", "benford_e6")
    val d = t(s, dir, "orders")
      .select(expr("CAST(substring(CAST(CAST(FLOOR(o_totalprice)" +
        " AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = d.agg(sum(col("n_obs")).as("n"))
    d.crossJoin(broadcast(tot)).join(broadcast(exp), Seq("digit"))
      .withColumn("share_e6",
        e6(col("n_obs").cast("double") / col("n").cast("double")))
      .withColumn("dev_e6", abs(col("share_e6") - col("benford_e6")))
      .select(col("digit"), col("n_obs"), col("share_e6"),
        col("benford_e6"), col("dev_e6"))
      .ordered(col("digit"))
  }

  private val q463Sql: String =
    s"""WITH exp AS (SELECT CAST(digit AS BIGINT) AS digit,
       |        CAST(benford_e6 AS BIGINT) AS benford_e6
       |      FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
       |        (4, 96910), (5, 79181), (6, 66947), (7, 57992),
       |        (8, 51153), (9, 45757)) b(digit, benford_e6)),
       |d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice)
       |        AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |        CAST(COUNT(*) AS BIGINT) AS n_obs
       |      FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM d),
       |sh AS (SELECT digit, n_obs,
       |         ${sqlE6("n_obs::DOUBLE / n::DOUBLE")} AS share_e6,
       |         benford_e6
       |       FROM d JOIN exp USING (digit) CROSS JOIN tot)
       |SELECT digit, n_obs, share_e6, benford_e6,
       |  ABS(share_e6 - benford_e6) AS dev_e6
       |FROM sh ORDER BY digit""".stripMargin

  // ---------------------------------------------------------------
  // q464 — vocabulary coverage curve: the smallest top-ranked
  // vocabulary (tokens ordered by frequency desc, token asc — a
  // total order) whose cumulative mass reaches 50/90/99% of all
  // token occurrences. The tokenizer-budget planning number (how big
  // a vocab do we need) next to Heaps (q15x) and Zipf; all integer
  // ranks/counts. Scale shape = the q122 distinct-frequency closed
  // form (TextOps.vocabCoverage): NO per-term global window — a
  // 100 TB web corpus's distinct vocabulary is 1e8-1e9 rows and one
  // task must never sort it. Terms aggregate once (term-keyed), then
  // collapse to the distinct-FREQUENCY table (n, g_terms — ~n^0.5
  // rows on Zipfian corpora); the cumulative walk runs on that tiny
  // table, and within the crossing frequency group the minimal rank
  // is closed-form: every term there contributes exactly f tokens,
  // so j = ceil((pct*t_total - 100*cum_before) / (100*f)) terms
  // close the gap — rank order inside the group (tok asc) cannot
  // matter. Exactly the original row_number semantics, integer
  // arithmetic end to end, <=1 single-partition exchange
  // (PlanShapeSpec-pinned).
  private val q464: Q = (s, dir) => {
    import s.implicits._
    val freq = t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val gc = freq.groupBy(col("f"))
      .agg(count(lit(1)).as("g_terms"))
      .withColumn("toks", col("f") * col("g_terms"))
    val byFreq = Window.orderBy(col("f").desc)
    val walk = gc
      .withColumn("cum_end", sum(col("toks")).over(
        byFreq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_before", col("cum_end") - col("toks"))
      .withColumn("terms_before",
        coalesce(sum(col("g_terms")).over(
          byFreq.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("t_total", sum(col("toks")).over(byFreq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("vocab_n", sum(col("g_terms")).over(
        byFreq.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val th = Seq(50L, 90L, 99L).toDF("pct")
    walk.crossJoin(broadcast(th))
      .filter(col("cum_end") * 100L >= col("pct") * col("t_total") &&
        col("cum_before") * 100L < col("pct") * col("t_total"))
      .withColumn("j", expr(
        "(pct * t_total - 100 * cum_before + 100 * f - 1) DIV (100 * f)"))
      .select(col("pct"),
        (col("terms_before") + col("j")).as("vocab_rank"),
        (col("cum_before") + col("j") * col("f")).as("cum_tokens"),
        col("t_total"), col("vocab_n"),
        e6((col("terms_before") + col("j")).cast("double") /
          col("vocab_n").cast("double")).as("rank_share_e6"))
      .ordered(col("pct"))
  }

  private val q464Sql: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)),
       |    '\\s+')) AS tok FROM documents),
       |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
       |         FROM toks GROUP BY 1),
       |ranked AS (SELECT tok, f,
       |    CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS BIGINT)
       |      AS rk,
       |    CAST(SUM(f) OVER (ORDER BY f DESC, tok) AS BIGINT) AS cum
       |  FROM freq),
       |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t_total,
       |          CAST(COUNT(*) AS BIGINT) AS vocab_n FROM freq),
       |th AS (SELECT CAST(pct AS BIGINT) AS pct
       |       FROM (VALUES (50), (90), (99)) t(pct)),
       |hit AS (SELECT pct, MIN(rk) AS vocab_rank, t_total, vocab_n
       |        FROM ranked, tot, th
       |        WHERE cum * 100 >= pct * t_total
       |        GROUP BY pct, t_total, vocab_n)
       |SELECT pct, vocab_rank, r.cum AS cum_tokens, t_total, vocab_n,
       |  ${sqlE6("vocab_rank::DOUBLE / vocab_n::DOUBLE")}
       |    AS rank_share_e6
       |FROM hit JOIN ranked r ON r.rk = hit.vocab_rank
       |ORDER BY pct""".stripMargin

  // ---------------------------------------------------------------
  // q465 — trigram novelty by corpus decile: docs bucketed into ten
  // doc_id-order deciles, per decile the distinct trigrams seen and
  // the fraction whose FIRST appearance is that decile — the
  // data-freshness curve that tells a training pipeline how much new
  // n-gram material each incremental corpus slice actually adds
  // (the incremental companion of the dedup-impact audits). Exact
  // integer counts; distinct per-doc trigrams via the stagedShingles
  // kernel the dedup store uses.
  private val q465: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id")).as("mxid"))
    val td = DedupOps.stagedShingles(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 3)
      .select(col("doc_id"), explode(col("sh")).as("tri"))
      .crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 div (mxid + 1)").as("decile"),
        col("tri"))
      .distinct()
      .localCheckpoint(false)
    val firstd = td.groupBy(col("tri")).agg(min(col("decile")).as("fd"))
    td.join(firstd, Seq("tri"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("decile") === col("fd"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("decile"), col("n_tri"), col("n_novel"),
        e6(col("n_novel").cast("double") / col("n_tri").cast("double"))
          .as("novelty_e6"))
      .ordered(col("decile"))
  }

  private val q465Sql: String =
    s"""WITH mx AS (SELECT MAX(doc_id) AS mxid FROM documents),
       |d AS (SELECT doc_id,
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |      FROM documents),
       |s AS (SELECT doc_id,
       |        CASE WHEN len(tk) >= 3
       |          THEN list_distinct(list_transform(
       |                 range(1, len(tk) - 1),
       |                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |          ELSE [] END AS sh
       |      FROM d),
       |td AS (SELECT DISTINCT doc_id * 10 // (mxid + 1) AS decile,
       |         unnest(sh) AS tri
       |       FROM s, mx),
       |fd AS (SELECT tri, MIN(decile) AS fd FROM td GROUP BY 1)
       |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_tri,
       |  CAST(SUM(CASE WHEN decile = fd THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  ${sqlE6("SUM(CASE WHEN decile = fd THEN 1 ELSE 0 END)" +
          "::DOUBLE / COUNT(*)::DOUBLE")} AS novelty_e6
       |FROM td JOIN fd USING (tri)
       |GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  // q466 — brand co-purchase LIFT table: for every brand pair, the
  // observed co-occurrence across orders vs the independence
  // expectation, lift = n_ab·N / (n_a·n_b) — the associations the
  // q374 co-purchase graph ranks, now with the calibrated strength a
  // recommender threshold needs. The grid is brand-DOMAIN-bounded
  // (25 brands, <= 300 pairs); all counts exact BIGINT.
  private val q466: Q = (s, dir) => {
    val ob = t(s, dir, "lineitem")
      .join(t(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
      .localCheckpoint(false)
    val tot = ob.agg(countDistinct(col("o")).as("n_orders"))
    val na = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
      .localCheckpoint(false)
    val pairs = ob.as("x").join(ob.as("y"),
        col("x.o") === col("y.o") && col("x.b") < col("y.b"))
      .select(col("x.b").as("b1"), col("y.b").as("b2"))
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(na.select(col("b").as("b1"), col("nb").as("n_a")), "b1")
      .join(na.select(col("b").as("b2"), col("nb").as("n_b")), "b2")
      .crossJoin(broadcast(tot))
      .select(col("b1"), col("b2"), col("n_ab"), col("n_a"),
        col("n_b"),
        e6((col("n_ab") * col("n_orders")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift_e6"))
      .ordered(col("b1"), col("b2"))
  }

  private val q466Sql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders
       |        FROM ob),
       |na AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb
       |       FROM ob GROUP BY 1),
       |pairs AS (SELECT x.b AS b1, y.b AS b2,
       |            CAST(COUNT(*) AS BIGINT) AS n_ab
       |          FROM ob x JOIN ob y
       |            ON x.o = y.o AND x.b < y.b
       |          GROUP BY 1, 2)
       |SELECT b1, b2, n_ab, a.nb AS n_a, c.nb AS n_b,
       |  ${sqlE6("(n_ab * n_orders)::DOUBLE / (a.nb * c.nb)::DOUBLE")}
       |    AS lift_e6
       |FROM pairs JOIN na a ON a.b = b1 JOIN na c ON c.b = b2, tot
       |ORDER BY b1, b2""".stripMargin

  // ---------------------------------------------------------------
  // q467 — Cramér's V association matrix over three categorical
  // pairs (lineitem flag x status, orders status x priority,
  // documents lang x source): chi-square from exact integer
  // contingency counts with the per-cell e6 discipline (each cell's
  // obs²·n/(row·col) term rounded to e6 BEFORE integer summation —
  // identical shape both engines), V = sqrt(chi2 / (n·(min(r,c)−1))).
  // The categorical companion of the q256 correlation matrix.
  private val q467: Q = (s, dir) => {
    val cat = t(s, dir, "lineitem")
      .select(lit("li_flag_status").as("lbl"),
        col("l_returnflag").as("a"), col("l_linestatus").as("b"))
      .unionByName(t(s, dir, "orders")
        .select(lit("ord_status_prio").as("lbl"),
          col("o_orderstatus").as("a"), col("o_orderpriority").as("b")))
      .unionByName(t(s, dir, "documents")
        .select(lit("doc_lang_source").as("lbl"),
          col("lang").as("a"), col("source").as("b")))
    val cells = cat.groupBy(col("lbl"), col("a"), col("b"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(false)
    val ra = cells.groupBy(col("lbl"), col("a"))
      .agg(sum(col("obs")).as("ra"))
    val cb = cells.groupBy(col("lbl"), col("b"))
      .agg(sum(col("obs")).as("cb"))
    val nn = cells.groupBy(col("lbl"))
      .agg(sum(col("obs")).as("n"), countDistinct(col("a")).as("r"),
        countDistinct(col("b")).as("c"))
    cells.join(ra, Seq("lbl", "a")).join(cb, Seq("lbl", "b"))
      .join(nn, Seq("lbl"))
      .withColumn("term_e6",
        e6(col("obs").cast("double") * col("obs").cast("double")
          * col("n").cast("double")
          / (col("ra") * col("cb")).cast("double")))
      .groupBy(col("lbl"), col("n"), col("r"), col("c"))
      .agg(sum(col("term_e6")).as("sum_e6"))
      .select(col("lbl"), col("n"), col("r"), col("c"),
        (col("sum_e6") - col("n") * 1000000L).as("chi2_e6"),
        e6(when(col("n") > 0L && least(col("r"), col("c")) > 1L,
          sqrt(greatest(lit(0.0),
            (col("sum_e6") - col("n") * 1000000L).cast("double") / 1e6
              / (col("n") * (least(col("r"), col("c")) - 1L))
                .cast("double"))))
          .otherwise(lit(0.0))).as("v_e6"))
      .ordered(col("lbl"))
  }

  private val q467Sql: String =
    s"""WITH cat AS (
       |  SELECT 'li_flag_status' AS lbl, l_returnflag AS a,
       |    l_linestatus AS b FROM lineitem
       |  UNION ALL
       |  SELECT 'ord_status_prio', o_orderstatus, o_orderpriority
       |  FROM orders
       |  UNION ALL
       |  SELECT 'doc_lang_source', lang, source FROM documents),
       |cells AS (SELECT lbl, a, b, CAST(COUNT(*) AS BIGINT) AS obs
       |          FROM cat GROUP BY 1, 2, 3),
       |ra AS (SELECT lbl, a, CAST(SUM(obs) AS BIGINT) AS ra
       |       FROM cells GROUP BY 1, 2),
       |cb AS (SELECT lbl, b, CAST(SUM(obs) AS BIGINT) AS cb
       |       FROM cells GROUP BY 1, 2),
       |nn AS (SELECT lbl, CAST(SUM(obs) AS BIGINT) AS n,
       |         CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
       |         CAST(COUNT(DISTINCT b) AS BIGINT) AS c
       |       FROM cells GROUP BY 1),
       |terms AS (SELECT cells.lbl, n, r, c,
       |            ${sqlE6("obs::DOUBLE * obs::DOUBLE * n::DOUBLE" +
          " / (ra.ra * cb.cb)::DOUBLE")} AS term_e6
       |          FROM cells
       |          JOIN ra ON ra.lbl = cells.lbl AND ra.a = cells.a
       |          JOIN cb ON cb.lbl = cells.lbl AND cb.b = cells.b
       |          JOIN nn ON nn.lbl = cells.lbl),
       |agg AS (SELECT lbl, n, r, c,
       |          CAST(SUM(term_e6) AS BIGINT) AS sum_e6
       |        FROM terms GROUP BY 1, 2, 3, 4)
       |SELECT lbl, n, r, c,
       |  CAST(sum_e6 - n * 1000000 AS BIGINT) AS chi2_e6,
       |  ${sqlE6("CASE WHEN n > 0 AND LEAST(r, c) > 1 THEN" +
          " SQRT(GREATEST(0.0, (sum_e6 - n * 1000000)::DOUBLE / 1e6" +
          " / (n * (LEAST(r, c) - 1))::DOUBLE)) ELSE 0.0 END")}
       |    AS v_e6
       |FROM agg ORDER BY lbl""".stripMargin

  // ---------------------------------------------------------------
  // q468 — Brunner-Munzel test between the 'click' and 'error' value
  // distributions: the heteroscedastic rank test (no equal-variance
  // assumption — the modern replacement for Mann-Whitney when
  // spreads differ). Placements from the combined cents histogram
  // (2x integers: W2x = 2·#(other group < v) + #(other group = v)),
  // p̂ = ΣW₂/(2·n1·n2), placement variances from exact 128-bit
  // moments (n·m2 − m1², the q448/q461 DECIMAL-HUGEINT pattern),
  // se² = S1²/(n1·n2²) + S2²/(n2·n1²), t = (p̂ − ½)/se. Completes
  // the two-sample family: location (q385), scale (q443),
  // distribution (q442/q446), now stochastic superiority.
  private val q468: Q = (s, dir) => {
    val gh = t(s, dir, "events")
      .filter(col("event_type").isin("click", "error"))
      .select(col("event_type").as("g"), cents.as("c"))
      .groupBy(col("c"))
      .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1c"),
        sum(when(col("g") === "error", 1L).otherwise(0L)).as("n2c"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = gh
      .withColumn("cl1", coalesce(sum(col("n1c")).over(w), lit(0L)))
      .withColumn("cl2", coalesce(sum(col("n2c")).over(w), lit(0L)))
      .select(
        col("n1c").cast("decimal(12,0)").as("n1c"),
        col("n2c").cast("decimal(12,0)").as("n2c"),
        (lit(2L) * col("cl2") + col("n2c")).cast("decimal(12,0)")
          .as("w1"),
        (lit(2L) * col("cl1") + col("n1c")).cast("decimal(12,0)")
          .as("w2"))
    placed.agg(
        sum(col("n1c")).as("n1"), sum(col("n2c")).as("n2"),
        sum(col("n1c") * col("w1")).as("m1_1"),
        sum(col("n1c") * col("w1") * col("w1")).as("m2_1"),
        sum(col("n2c") * col("w2")).as("m1_2"),
        sum(col("n2c") * col("w2") * col("w2")).as("m2_2"))
      .select(
        col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        e6(col("m1_2").cast("double")
          / (lit(2.0) * col("n1").cast("double")
            * col("n2").cast("double"))).as("phat_e6"),
        e6 {
          val n1d = col("n1").cast("double")
          val n2d = col("n2").cast("double")
          val s1sq = (col("n1") * col("m2_1")
            - col("m1_1") * col("m1_1")).cast("double") /
            (n1d * (n1d - 1.0)) / 4.0
          val s2sq = (col("n2") * col("m2_2")
            - col("m1_2") * col("m1_2")).cast("double") /
            (n2d * (n2d - 1.0)) / 4.0
          val se = sqrt(s1sq / (n1d * n2d * n2d)
            + s2sq / (n2d * n1d * n1d))
          val phat = col("m1_2").cast("double") / (lit(2.0) * n1d * n2d)
          when(se > 0.0, (phat - 0.5) / se).otherwise(lit(0.0))
        }.as("t_e6"))
      .ordered(col("n1"))
  }

  private val q468Sql: String =
    s"""WITH ev AS (SELECT event_type AS g,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
       |      WHERE event_type IN ('click', 'error')),
       |gh AS (SELECT c,
       |         CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n1c,
       |         CAST(SUM(CASE WHEN g = 'error' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n2c
       |       FROM ev GROUP BY 1),
       |pl AS (SELECT
       |         CAST(n1c AS HUGEINT) AS n1c,
       |         CAST(n2c AS HUGEINT) AS n2c,
       |         CAST(2 * COALESCE(SUM(n2c) OVER (ORDER BY c
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |             0) + n2c AS HUGEINT) AS w1,
       |         CAST(2 * COALESCE(SUM(n1c) OVER (ORDER BY c
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |             0) + n1c AS HUGEINT) AS w2
       |       FROM gh),
       |a AS (SELECT SUM(n1c) AS n1, SUM(n2c) AS n2,
       |        SUM(n1c * w1) AS m1_1, SUM(n1c * w1 * w1) AS m2_1,
       |        SUM(n2c * w2) AS m1_2, SUM(n2c * w2 * w2) AS m2_2
       |      FROM pl)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  ${sqlE6("m1_2::DOUBLE / (2.0 * n1::DOUBLE * n2::DOUBLE)")}
       |    AS phat_e6,
       |  ${sqlE6("CASE WHEN" +
          " SQRT((n1 * m2_1 - m1_1 * m1_1)::DOUBLE" +
          " / (n1::DOUBLE * (n1::DOUBLE - 1.0)) / 4.0" +
          " / (n1::DOUBLE * n2::DOUBLE * n2::DOUBLE)" +
          " + (n2 * m2_2 - m1_2 * m1_2)::DOUBLE" +
          " / (n2::DOUBLE * (n2::DOUBLE - 1.0)) / 4.0" +
          " / (n2::DOUBLE * n1::DOUBLE * n1::DOUBLE)) > 0.0 THEN" +
          " (m1_2::DOUBLE / (2.0 * n1::DOUBLE * n2::DOUBLE) - 0.5)" +
          " / SQRT((n1 * m2_1 - m1_1 * m1_1)::DOUBLE" +
          " / (n1::DOUBLE * (n1::DOUBLE - 1.0)) / 4.0" +
          " / (n1::DOUBLE * n2::DOUBLE * n2::DOUBLE)" +
          " + (n2 * m2_2 - m1_2 * m1_2)::DOUBLE" +
          " / (n2::DOUBLE * (n2::DOUBLE - 1.0)) / 4.0" +
          " / (n2::DOUBLE * n1::DOUBLE * n1::DOUBLE))" +
          " ELSE 0.0 END")} AS t_e6
       |FROM a ORDER BY n1""".stripMargin

  // ---------------------------------------------------------------
  // q469 — IVF store COMPACTION pin (the q453 contract for the third
  // store): write (vec_id%4 in {0,1}) + two delta appends (%4 = 2,
  // %4 = 3) cover the whole corpus, compact() rewrites the cell
  // directories to one file each and pre-folds the angular radii,
  // then searchTopKExact reads FROM THE COMPACTED FILES. The oracle
  // is centroid-free brute force — a green row pins
  // write+append+append+compact == scan AND exactness end to end in
  // the driver-checked surface (the spec pins the file-count drop).
  private val q469: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = tmpStorePath("graft-ivf-compact-q469", dir)
    IvfVectorStore.write(s, emb.filter(col("vec_id") % 4L < 2L),
      "vec_id", "embedding", nCentroids = 16, path)
    IvfVectorStore.append(s, emb.filter(col("vec_id") % 4L === 2L),
      "vec_id", "embedding", path)
    IvfVectorStore.append(s, emb.filter(col("vec_id") % 4L === 3L),
      "vec_id", "embedding", path)
    IvfVectorStore.compact(s, path)
    IvfVectorStore.searchTopKExact(s, path,
        emb.filter(col("vec_id") >= 16L && col("vec_id") < 32L),
        "vec_id", "embedding", k = 5, nProbes = 2)
      .select(col("qid"), col("nid"), e6(col("cos")).as("cos_e6"))
      .ordered(col("qid"), col("cos_e6").desc, col("nid"))
  }

  private val q469Sql: String = {
    val dot = OracleSql.foldSum(
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])")
    val nrm = "sqrt(" + OracleSql.foldSum(
      "list_transform(range(1, 65), i -> v[i] * v[i])") + ")"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |n AS (SELECT vec_id, v, $nrm AS nm FROM e),
       |d AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |        ($dot) / (q.nm * c.nm) AS cos
       |      FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |      WHERE q.vec_id >= 16 AND q.vec_id < 32),
       |r AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM d)
       |SELECT qid, nid, ${sqlE6("cos")} AS cos_e6
       |FROM r WHERE rk <= 5
       |ORDER BY qid, cos_e6 DESC, nid""".stripMargin
  }

  // ---------------------------------------------------------------
  // q470 — join-strategy advisor: for the four canonical FK joins,
  // the build-side bytes estimate (declared q454 per-row widths)
  // against the 10 MiB broadcast threshold and a 4 GiB single-node
  // hash budget — the broadcast/shuffle-hash/sort-merge decision the
  // planner makes, materialized as an auditable table (the q450
  // join-ORDER audit's sibling for join STRATEGY).
  private val q470: Q = (s, dir) => {
    def row(jn: String, probe: String, build: String, w: Long) =
      t(s, dir, probe).agg(count(lit(1)).as("probe_rows"))
        .crossJoin(broadcast(
          t(s, dir, build).agg(count(lit(1)).as("build_rows"))))
        .select(lit(jn).as("join_name"), col("probe_rows"),
          col("build_rows"), (col("build_rows") * w).as("build_bytes"))
    row("lineitem_orders", "lineitem", "orders", 64L)
      .unionByName(row("lineitem_part", "lineitem", "part", 64L))
      .unionByName(row("lineitem_supplier", "lineitem", "supplier",
        56L))
      .unionByName(row("orders_customer", "orders", "customer", 72L))
      .withColumn("strategy",
        when(col("build_bytes") <= 10485760L, lit("broadcast"))
          .when(col("build_bytes") <= 4294967296L, lit("shuffle_hash"))
          .otherwise(lit("sort_merge")))
      .ordered(col("join_name"))
  }

  private val q470Sql: String =
    s"""WITH a AS (
       |  SELECT 'lineitem_orders' AS join_name,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
       |      AS probe_rows,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
       |      AS build_rows,
       |    (SELECT CAST(COUNT(*) * 64 AS BIGINT) FROM orders)
       |      AS build_bytes
       |  UNION ALL
       |  SELECT 'lineitem_part',
       |    (SELECT COUNT(*) FROM lineitem),
       |    (SELECT COUNT(*) FROM part),
       |    (SELECT COUNT(*) * 64 FROM part)
       |  UNION ALL
       |  SELECT 'lineitem_supplier',
       |    (SELECT COUNT(*) FROM lineitem),
       |    (SELECT COUNT(*) FROM supplier),
       |    (SELECT COUNT(*) * 56 FROM supplier)
       |  UNION ALL
       |  SELECT 'orders_customer',
       |    (SELECT COUNT(*) FROM orders),
       |    (SELECT COUNT(*) FROM customer),
       |    (SELECT COUNT(*) * 72 FROM customer))
       |SELECT join_name, probe_rows, build_rows, build_bytes,
       |  CASE WHEN build_bytes <= 10485760 THEN 'broadcast'
       |       WHEN build_bytes <= 4294967296 THEN 'shuffle_hash'
       |       ELSE 'sort_merge' END AS strategy
       |FROM a ORDER BY join_name""".stripMargin

  // ---------------------------------------------------------------
  // q471 — AQE coalesce advisor: events shuffled by pmod(user_id, 32)
  // (the engine-neutral q455 partitioner shape), per-bucket estimated
  // in-flight bytes (the q454 row model: 48 B fixed + actual props
  // bytes), buckets under the 1 MiB small-partition threshold
  // flagged, and the recommended post-shuffle partition count at the
  // 64 MiB coalesce target (integer ceil). Completes the shuffle
  // trio: q454 sizes the shuffle, q455 finds the skew, q471 decides
  // the coalesce.
  private val q471: Q = (s, dir) => {
    val b = t(s, dir, "events")
      .select(pmod(col("user_id"), lit(32L)).as("bucket"),
        (lit(48L) + length(col("props")).cast("long")).as("bytes"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("bytes")).as("est_bytes"))
      .localCheckpoint(false)
    val tot = b.agg(sum(col("est_bytes")).as("total_bytes"))
    b.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_rows"), col("est_bytes"),
        (col("est_bytes") < 1048576L).as("small"),
        greatest(lit(1L),
          expr("(total_bytes + 67108863) div 67108864"))
          .as("rec_partitions"))
      .ordered(col("bucket"))
  }

  private val q471Sql: String =
    s"""WITH b AS (SELECT user_id % 32 AS bucket,
       |        CAST(COUNT(*) AS BIGINT) AS n_rows,
       |        CAST(SUM(48 + length(props)) AS BIGINT) AS est_bytes
       |      FROM events GROUP BY 1),
       |tot AS (SELECT CAST(SUM(est_bytes) AS BIGINT) AS total_bytes
       |        FROM b)
       |SELECT bucket, n_rows, est_bytes,
       |  est_bytes < 1048576 AS small,
       |  CAST(GREATEST(1, (total_bytes + 67108863) // 67108864)
       |    AS BIGINT) AS rec_partitions
       |FROM b CROSS JOIN tot ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q472 — revenue waterfall per return flag, ZERO rounding: gross
  // cents, discount amount in 1e-4 dollars (cents x integer pct),
  // net-of-discount in 1e-4 dollars, tax amount and final total in
  // 1e-6 dollars via the q428 exact micro-unit product
  // u = ext_cents·(100−d)·(100+t) — every column is an exact BIGINT
  // sum of integer products, no division anywhere (headroom proven
  // by q428's 10x artifact).
  private val q472: Q = (s, dir) => {
    t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("ec"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("d"),
        expr("CAST(ROUND(l_tax * 100) AS BIGINT)").as("tx"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("ec")).as("gross_cents"),
        sum(col("ec") * col("d")).as("discount_u4"),
        sum(col("ec") * (lit(100L) - col("d"))).as("net1_u4"),
        sum(col("ec") * (lit(100L) - col("d")) * col("tx"))
          .as("tax_u6"),
        sum(col("ec") * (lit(100L) - col("d"))
          * (lit(100L) + col("tx"))).as("total_u6"))
      .ordered(col("g"))
  }

  private val q472Sql: String =
    s"""WITH li AS (SELECT l_returnflag AS g,
       |        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ec,
       |        CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
       |        CAST(ROUND(l_tax * 100) AS BIGINT) AS tx
       |      FROM lineitem)
       |SELECT g, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(ec) AS BIGINT) AS gross_cents,
       |  CAST(SUM(ec * d) AS BIGINT) AS discount_u4,
       |  CAST(SUM(ec * (100 - d)) AS BIGINT) AS net1_u4,
       |  CAST(SUM(ec * (100 - d) * tx) AS BIGINT) AS tax_u6,
       |  CAST(SUM(ec * (100 - d) * (100 + tx)) AS BIGINT) AS total_u6
       |FROM li GROUP BY g ORDER BY g""".stripMargin

  // ---------------------------------------------------------------
  // q473 — customer revenue concentration per market segment: CR4
  // (top-4 customer share) and HHI from exact per-customer cent
  // totals. Squared revenues overflow BIGINT at replication scale,
  // so the HHI numerator rides DECIMAL/HUGEINT 128-bit sums (the
  // q448 discipline); ranks select the top 4 deterministically
  // (revenue desc, custkey). The demand-side companion of the q377
  // supplier-HHI audit.
  private val q473: Q = (s, dir) => {
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_custkey").as("ck"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("seg"), col("ck"))
      .agg(sum(col("cents")).as("rev"))
      .localCheckpoint(false)
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("rev").desc, col("ck"))
    rev.withColumn("rk", row_number().over(w))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("rev")).as("tot_cents"),
        sum(when(col("rk") <= 4, col("rev")).otherwise(0L))
          .as("top4_cents"),
        sum(col("rev").cast("decimal(18,0)")
          * col("rev").cast("decimal(18,0)")).as("sq"))
      .select(col("seg"), col("n_cust"), col("tot_cents"),
        e6(col("top4_cents").cast("double")
          / col("tot_cents").cast("double")).as("cr4_e6"),
        e6(col("sq").cast("double")
          / (col("tot_cents").cast("double")
            * col("tot_cents").cast("double"))).as("hhi_e6"))
      .ordered(col("seg"))
  }

  private val q473Sql: String =
    s"""WITH rev AS (SELECT c_mktsegment AS seg, o_custkey AS ck,
       |        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |          AS BIGINT) AS rev
       |      FROM orders JOIN customer ON o_custkey = c_custkey
       |      GROUP BY 1, 2),
       |r AS (SELECT seg, ck, rev, ROW_NUMBER() OVER (
       |        PARTITION BY seg ORDER BY rev DESC, ck) AS rk
       |      FROM rev),
       |a AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |        CAST(SUM(rev) AS BIGINT) AS tot_cents,
       |        CAST(SUM(CASE WHEN rk <= 4 THEN rev ELSE 0 END)
       |          AS BIGINT) AS top4_cents,
       |        SUM(CAST(rev AS HUGEINT) * rev) AS sq
       |      FROM r GROUP BY 1)
       |SELECT seg, n_cust, tot_cents,
       |  ${sqlE6("top4_cents::DOUBLE / tot_cents::DOUBLE")} AS cr4_e6,
       |  ${sqlE6("sq::DOUBLE / (tot_cents::DOUBLE *" +
          " tot_cents::DOUBLE)")} AS hhi_e6
       |FROM a ORDER BY seg""".stripMargin

  // ---------------------------------------------------------------
  // q474 — quantile drift audit: the event-value decile EDGES of the
  // first half of the stream (by event_id arrival order) vs the
  // second half — where exactly the distribution moved, in cents,
  // not just that it moved (the PSI/KS audits' actionable
  // companion). Edges are exact integer rank selections from the
  // per-half cents histograms: edge(d) = min c with cum·10 >= d·n.
  private val q474: Q = (s, dir) => {
    import s.implicits._
    val mx = t(s, dir, "events").agg(max(col("event_id")).as("mxid"))
    val h = t(s, dir, "events").crossJoin(broadcast(mx))
      .select(when(col("event_id") * 2L <= col("mxid"), lit(0L))
        .otherwise(lit(1L)).as("half"), cents.as("c"))
      .groupBy(col("half"), col("c")).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("half")).orderBy(col("c"))
    val cum = h.withColumn("cum", sum(col("n")).over(wCum))
    val nh = h.groupBy(col("half")).agg(sum(col("n")).as("nh"))
    val dec = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L).toDF("decile")
    val edges = cum.join(nh, Seq("half"))
      .crossJoin(broadcast(dec))
      .filter(col("cum") * 10L >= col("decile") * col("nh"))
      .groupBy(col("half"), col("decile"))
      .agg(min(col("c")).as("edge"))
    edges.filter(col("half") === 0L)
      .select(col("decile"), col("edge").as("edge_first"))
      .join(edges.filter(col("half") === 1L)
        .select(col("decile"), col("edge").as("edge_second")),
        Seq("decile"))
      .select(col("decile"), col("edge_first"), col("edge_second"),
        (col("edge_second") - col("edge_first")).as("shift_cents"))
      .ordered(col("decile"))
  }

  private val q474Sql: String =
    s"""WITH mx AS (SELECT MAX(event_id) AS mxid FROM events),
       |h AS (SELECT CASE WHEN event_id * 2 <= mxid THEN 0 ELSE 1 END
       |        AS half,
       |        CAST(ROUND(value * 100) AS BIGINT) AS c,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM events, mx GROUP BY 1, 2),
       |cum AS (SELECT half, c,
       |          CAST(SUM(n) OVER (PARTITION BY half ORDER BY c)
       |            AS BIGINT) AS cum
       |        FROM h),
       |nh AS (SELECT half, CAST(SUM(n) AS BIGINT) AS nh
       |       FROM h GROUP BY 1),
       |dec AS (SELECT CAST(d AS BIGINT) AS decile FROM (VALUES (1),
       |  (2), (3), (4), (5), (6), (7), (8), (9)) t(d)),
       |edges AS (SELECT half, decile, MIN(c) AS edge
       |          FROM cum JOIN nh USING (half) CROSS JOIN dec
       |          WHERE cum * 10 >= decile * nh
       |          GROUP BY 1, 2)
       |SELECT f.decile AS decile, f.edge AS edge_first,
       |  s.edge AS edge_second,
       |  CAST(s.edge - f.edge AS BIGINT) AS shift_cents
       |FROM edges f JOIN edges s
       |  ON f.decile = s.decile AND f.half = 0 AND s.half = 1
       |ORDER BY f.decile""".stripMargin

  // ---------------------------------------------------------------
  // q475 — date-partition layout advisor: if orders were partitioned
  // by calendar month, how would six canonical probe ranges fare —
  // partitions read (month-key intersection), rows read (pruned scan)
  // vs rows actually matched (read amplification), and the prune
  // ratio. The partition-layout counterpart of the q440 zone-map
  // audit: zone maps assume clustering, this audits the directory
  // layout itself. Month keys are integers (year·12+month); probe
  // bounds are timestamp literals identical on both engines.
  private val q475: Q = (s, dir) => {
    import s.implicits._
    val o = t(s, dir, "orders")
      .select(col("o_orderdate").as("d"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
      .localCheckpoint(false)
    val months = o.groupBy(col("mkey")).agg(count(lit(1)).as("n_rows"))
      .localCheckpoint(false)
    val tot = months.agg(count(lit(1)).as("parts_total"),
      sum(col("n_rows")).as("rows_total"))
    val probes = Seq(
      ("p1_q1_1995", "1995-01-01", "1995-04-01"),
      ("p2_year_1996", "1996-01-01", "1997-01-01"),
      ("p3_cross_month", "1995-03-15", "1995-04-15"),
      ("p4_single_day", "2000-06-15", "2000-06-16"),
      ("p5_tail_2001", "2001-01-01", "2002-01-01"),
      ("p6_full_range", "1995-01-01", "2002-01-01"))
      .toDF("probe", "lo", "hi")
      .select(col("probe"), to_timestamp(col("lo")).as("lo_ts"),
        to_timestamp(col("hi")).as("hi_ts"))
      .withColumn("mk_lo",
        (year(col("lo_ts")) * 12 + month(col("lo_ts"))).cast("long"))
      .withColumn("mk_hi", (year(expr("hi_ts - INTERVAL 1 DAY")) * 12
        + month(expr("hi_ts - INTERVAL 1 DAY"))).cast("long"))
    val read = months.crossJoin(broadcast(probes))
      .filter(col("mkey") >= col("mk_lo") && col("mkey") <= col("mk_hi"))
      .groupBy(col("probe"))
      .agg(count(lit(1)).as("parts_read"), sum(col("n_rows")).as("rows_read"))
    val matched = o.crossJoin(broadcast(probes))
      .filter(col("d") >= col("lo_ts") && col("d") < col("hi_ts"))
      .groupBy(col("probe")).agg(count(lit(1)).as("rows_match"))
    read.join(matched, Seq("probe"), "left")
      .withColumn("rows_match", coalesce(col("rows_match"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("probe"), col("parts_read"), col("parts_total"),
        col("rows_read"), col("rows_match"),
        e6(lit(1.0) - col("parts_read").cast("double")
          / col("parts_total").cast("double")).as("prune_e6"),
        when(col("rows_match") > 0L,
          e6(col("rows_read").cast("double")
            / col("rows_match").cast("double"))).otherwise(lit(0L))
          .as("read_amp_e6"))
      .ordered(col("probe"))
  }

  private val q475Sql: String =
    s"""WITH o AS (SELECT o_orderdate AS d,
       |        CAST(year(o_orderdate) * 12 + month(o_orderdate)
       |          AS BIGINT) AS mkey
       |      FROM orders),
       |months AS (SELECT mkey, CAST(COUNT(*) AS BIGINT) AS n_rows
       |           FROM o GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS parts_total,
       |          CAST(SUM(n_rows) AS BIGINT) AS rows_total
       |        FROM months),
       |probes AS (SELECT probe, CAST(lo AS TIMESTAMP) AS lo_ts,
       |             CAST(hi AS TIMESTAMP) AS hi_ts,
       |             CAST(year(CAST(lo AS TIMESTAMP)) * 12
       |               + month(CAST(lo AS TIMESTAMP)) AS BIGINT)
       |               AS mk_lo,
       |             CAST(year(CAST(hi AS TIMESTAMP)
       |                 - INTERVAL 1 DAY) * 12
       |               + month(CAST(hi AS TIMESTAMP)
       |                 - INTERVAL 1 DAY) AS BIGINT) AS mk_hi
       |           FROM (VALUES
       |             ('p1_q1_1995', '1995-01-01', '1995-04-01'),
       |             ('p2_year_1996', '1996-01-01', '1997-01-01'),
       |             ('p3_cross_month', '1995-03-15', '1995-04-15'),
       |             ('p4_single_day', '2000-06-15', '2000-06-16'),
       |             ('p5_tail_2001', '2001-01-01', '2002-01-01'),
       |             ('p6_full_range', '1995-01-01', '2002-01-01'))
       |             v(probe, lo, hi)),
       |rd AS (SELECT probe, CAST(COUNT(*) AS BIGINT) AS parts_read,
       |         CAST(SUM(n_rows) AS BIGINT) AS rows_read
       |       FROM months CROSS JOIN probes
       |       WHERE mkey >= mk_lo AND mkey <= mk_hi
       |       GROUP BY 1),
       |mt AS (SELECT probe, CAST(COUNT(*) AS BIGINT) AS rows_match
       |       FROM o CROSS JOIN probes
       |       WHERE d >= lo_ts AND d < hi_ts
       |       GROUP BY 1)
       |SELECT rd.probe, parts_read, parts_total, rows_read,
       |  COALESCE(rows_match, 0) AS rows_match,
       |  ${sqlE6("1.0 - parts_read::DOUBLE / parts_total::DOUBLE")}
       |    AS prune_e6,
       |  CASE WHEN COALESCE(rows_match, 0) > 0 THEN
       |    ${sqlE6("rows_read::DOUBLE / rows_match::DOUBLE")}
       |  ELSE 0 END AS read_amp_e6
       |FROM rd LEFT JOIN mt ON rd.probe = mt.probe CROSS JOIN tot
       |ORDER BY rd.probe""".stripMargin

  // ---------------------------------------------------------------
  // q476 — cohort LTV curve (daily): users bucketed by first-seen
  // day, cumulative purchase cents per (cohort, days-since) cell —
  // the classic LTV triangle, all integers (day keys via epoch_us
  // div 86400000000, cumulative sums over the age-ordered window
  // partitioned by cohort). Complements the retention grid with the
  // value dimension.
  private val q476: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"),
        expr("(ts_ns div 1000) div 86400000000").as("day"),
        when(col("event_type") === "purchase", cents).otherwise(0L)
          .as("pc"))
      .localCheckpoint(false)
    val minDay = ev.agg(min(col("day")).as("d0"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cd"))
    val cells = ev.join(cohort, Seq("user_id"))
      .crossJoin(broadcast(minDay))
      .select((col("cd") - col("d0")).as("cohort_day"),
        (col("day") - col("cd")).as("age"), col("pc"), col("user_id"))
      .groupBy(col("cohort_day"), col("age"))
      .agg(sum(col("pc")).as("cents"),
        countDistinct(col("user_id")).as("n_active"))
    val sizes = ev.join(cohort, Seq("user_id"))
      .crossJoin(broadcast(minDay))
      .groupBy((col("cd") - col("d0")).as("cohort_day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val wCum = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
    cells.join(sizes, Seq("cohort_day"))
      .withColumn("cum_cents", sum(col("cents")).over(wCum))
      .select(col("cohort_day"), col("age"), col("n_users"),
        col("n_active"), col("cum_cents"),
        e6(col("cum_cents").cast("double")
          / col("n_users").cast("double")).as("ltv_cents_e6"))
      .ordered(col("cohort_day"), col("age"))
  }

  private val q476Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |        CASE WHEN event_type = 'purchase'
       |          THEN CAST(ROUND(value * 100) AS BIGINT)
       |          ELSE 0 END AS pc
       |      FROM events),
       |d0 AS (SELECT MIN(day) AS d0 FROM ev),
       |cohort AS (SELECT user_id, MIN(day) AS cd FROM ev GROUP BY 1),
       |cells AS (SELECT cd - d0.d0 AS cohort_day, day - cd AS age,
       |            CAST(SUM(pc) AS BIGINT) AS cents,
       |            CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
       |              AS n_active
       |          FROM ev JOIN cohort ON ev.user_id = cohort.user_id
       |          CROSS JOIN d0
       |          GROUP BY 1, 2),
       |sizes AS (SELECT cd - d0.d0 AS cohort_day,
       |            CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
       |              AS n_users
       |          FROM ev JOIN cohort ON ev.user_id = cohort.user_id
       |          CROSS JOIN d0
       |          GROUP BY 1),
       |cum AS (SELECT c.cohort_day, age, n_users, n_active,
       |          CAST(SUM(cents) OVER (PARTITION BY c.cohort_day
       |            ORDER BY age) AS BIGINT) AS cum_cents
       |        FROM cells c JOIN sizes s
       |          ON c.cohort_day = s.cohort_day)
       |SELECT cohort_day, age, n_users, n_active, cum_cents,
       |  ${sqlE6("cum_cents::DOUBLE / n_users::DOUBLE")}
       |    AS ltv_cents_e6
       |FROM cum ORDER BY cohort_day, age""".stripMargin

  // ---------------------------------------------------------------
  // q477 — mediation decomposition per return flag: total effect of
  // discount on line revenue split into the direct path and the
  // indirect path through quantity (product-of-paths). All five
  // centered moment terms (n·sxy − sx·sy, …) are exact 128-bit
  // DECIMAL/HUGEINT integers cast to double ONCE; the OLS identity
  // total = direct + indirect then holds to double rounding — a
  // built-in self-check the e6 pins expose. Extends the causal
  // family (DiD, QTE, uplift) with path decomposition.
  private val q477: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
      expr("CAST(CAST(ROUND(l_discount * 100) AS BIGINT)" +
        " AS DECIMAL(12,0))").as("x"),
      expr("CAST(CAST(ROUND(l_quantity) AS BIGINT)" +
        " AS DECIMAL(12,0))").as("m"),
      expr("CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)" +
        " AS DECIMAL(12,0))").as("y"))
    li.groupBy(col("g"))
      .agg(count(lit(1)).cast("decimal(12,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("m")).as("sm"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("m") * col("m")).as("smm"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("m")).as("sxm"),
        sum(col("m") * col("y")).as("smy"))
      .select(col("g"), col("n").cast("long").as("n_rows"), {
        val cxx = (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")
        val cmm = (col("n") * col("smm") - col("sm") * col("sm"))
          .cast("double")
        val cxy = (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double")
        val cxm = (col("n") * col("sxm") - col("sx") * col("sm"))
          .cast("double")
        val cmy = (col("n") * col("smy") - col("sm") * col("sy"))
          .cast("double")
        val den2 = cxx * cmm - cxm * cxm
        struct(
          e6(when(cxx > 0.0, cxy / cxx).otherwise(lit(0.0)))
            .as("total_e6"),
          e6(when(den2 > 0.0,
            (cxy * cmm - cmy * cxm) / den2).otherwise(lit(0.0)))
            .as("direct_e6"),
          e6(when(cxx > 0.0 && den2 > 0.0,
            (cxm / cxx) * ((cmy * cxx - cxy * cxm) / den2))
            .otherwise(lit(0.0))).as("indirect_e6"))
      }.as("r"))
      .select(col("g"), col("n_rows"), col("r.total_e6"),
        col("r.direct_e6"), col("r.indirect_e6"))
      .ordered(col("g"))
  }

  private val q477Sql: String = {
    val cxx = "(n * sxx - sx * sx)::DOUBLE"
    val cmm = "(n * smm - sm * sm)::DOUBLE"
    val cxy = "(n * sxy - sx * sy)::DOUBLE"
    val cxm = "(n * sxm - sx * sm)::DOUBLE"
    val cmy = "(n * smy - sm * sy)::DOUBLE"
    val den2 = s"($cxx * $cmm - $cxm * $cxm)"
    s"""WITH li AS (SELECT l_returnflag AS g,
       |        CAST(CAST(ROUND(l_discount * 100) AS BIGINT)
       |          AS HUGEINT) AS x,
       |        CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
       |          AS m,
       |        CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
       |          AS HUGEINT) AS y
       |      FROM lineitem),
       |a AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
       |        SUM(x) AS sx, SUM(m) AS sm, SUM(y) AS sy,
       |        SUM(x * x) AS sxx, SUM(m * m) AS smm,
       |        SUM(x * y) AS sxy, SUM(x * m) AS sxm,
       |        SUM(m * y) AS smy
       |      FROM li GROUP BY 1)
       |SELECT g, CAST(n AS BIGINT) AS n_rows,
       |  ${sqlE6(s"CASE WHEN $cxx > 0.0 THEN $cxy / $cxx" +
          " ELSE 0.0 END")} AS total_e6,
       |  ${sqlE6(s"CASE WHEN $den2 > 0.0 THEN" +
          s" ($cxy * $cmm - $cmy * $cxm) / $den2 ELSE 0.0 END")}
       |    AS direct_e6,
       |  ${sqlE6(s"CASE WHEN $cxx > 0.0 AND $den2 > 0.0 THEN" +
          s" ($cxm / $cxx) * (($cmy * $cxx - $cxy * $cxm) / $den2)" +
          " ELSE 0.0 END")} AS indirect_e6
       |FROM a ORDER BY g""".stripMargin
  }

  // ---------------------------------------------------------------
  // q478 — IPF raking (2 fixed iterations): calibrate the
  // (returnflag, linestatus) cell weights to UNIFORM row and column
  // margins — the survey-weighting primitive. Stage weights follow
  // the per-cell e6-before-integer-aggregation discipline: w1_e6 is
  // rounded from an exact integer ratio, column sums of w1_e6 are
  // exact BIGINT (no double summation order anywhere), and w2_e6 is
  // one identical double expression of those integers on both
  // engines.
  private val q478: Q = (s, dir) => {
    val cells = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(false)
    val tot = cells.agg(sum(col("n_ab")).as("n"),
      countDistinct(col("a")).as("r"), countDistinct(col("b")).as("c"))
    val rs = cells.groupBy(col("a")).agg(sum(col("n_ab")).as("rs"))
    val w1 = cells.join(rs, Seq("a")).crossJoin(broadcast(tot))
      .withColumn("w1_e6",
        round(col("n_ab").cast("double") * col("n").cast("double")
          * lit(1e6)
          / (col("r") * col("rs")).cast("double"), 0).cast("long"))
    val cs = w1.groupBy(col("b")).agg(sum(col("w1_e6")).as("cs"))
    w1.join(cs, Seq("b"))
      .withColumn("w2_e6",
        round(col("w1_e6").cast("double") * col("n").cast("double")
          * lit(1e6)
          / (col("c") * col("cs")).cast("double"), 0).cast("long"))
      .select(col("a"), col("b"), col("n_ab"), col("w1_e6"),
        col("w2_e6"))
      .ordered(col("a"), col("b"))
  }

  private val q478Sql: String =
    s"""WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b,
       |        CAST(COUNT(*) AS BIGINT) AS n_ab
       |      FROM lineitem GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
       |          CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
       |          CAST(COUNT(DISTINCT b) AS BIGINT) AS c
       |        FROM cells),
       |rs AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS rs
       |       FROM cells GROUP BY 1),
       |w1 AS (SELECT cells.a, b, n_ab, n, c,
       |         CAST(ROUND(n_ab::DOUBLE * n::DOUBLE * 1e6
       |           / (r * rs.rs)::DOUBLE, 0) AS BIGINT) AS w1_e6
       |       FROM cells JOIN rs ON cells.a = rs.a CROSS JOIN tot),
       |cs AS (SELECT b, CAST(SUM(w1_e6) AS BIGINT) AS cs
       |       FROM w1 GROUP BY 1)
       |SELECT a, w1.b AS b, n_ab, w1_e6,
       |  CAST(ROUND(w1_e6::DOUBLE * n::DOUBLE * 1e6
       |    / (c * cs.cs)::DOUBLE, 0) AS BIGINT) AS w2_e6
       |FROM w1 JOIN cs ON w1.b = cs.b
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------
  // q479 — Wilson score intervals for the per-type high-value rate
  // (cents >= 500): the bootstrap-free exact-count confidence bound
  // a monitoring dashboard should use instead of the normal
  // approximation at small n. z = 1.959964 as ONE shared double
  // literal; everything else is exact counts in one identical
  // double expression per bound.
  private val q479: Q = (s, dir) => {
    val z = 1.959964
    val agg = t(s, dir, "events")
      .select(col("event_type"), (cents >= 500L).as("hv"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hv"), 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / nD
      + z2 / (lit(4.0) * nD * nD))
    agg.select(col("event_type"), col("n"), col("k"),
        e6(p).as("rate_e6"),
        e6((center - margin) / denom).as("wilson_lo_e6"),
        e6((center + margin) / denom).as("wilson_hi_e6"))
      .ordered(col("event_type"))
  }

  private val q479Sql: String = {
    val p = "(k::DOUBLE / n::DOUBLE)"
    val z = "1.959964"
    val z2 = s"($z * $z)"
    val denom = s"(1.0 + $z2 / n::DOUBLE)"
    val center = s"($p + $z2 / (2.0 * n::DOUBLE))"
    val margin = s"($z * SQRT($p * (1.0 - $p) / n::DOUBLE" +
      s" + $z2 / (4.0 * n::DOUBLE * n::DOUBLE)))"
    s"""WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
       |          >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS k
       |      FROM events GROUP BY 1)
       |SELECT event_type, n, k,
       |  ${sqlE6(p)} AS rate_e6,
       |  ${sqlE6(s"($center - $margin) / $denom")} AS wilson_lo_e6,
       |  ${sqlE6(s"($center + $margin) / $denom")} AS wilson_hi_e6
       |FROM a ORDER BY event_type""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q458_stream_ingest_pin", q458, q458Sql),
    Query("q459_encoding_decision", q459, q459Sql),
    Query("q460_cliffs_delta", q460, q460Sql),
    Query("q461_spearman_rho", q461, q461Sql),
    Query("q462_lin_ccc", q462, q462Sql),
    Query("q463_benford_audit", q463, q463Sql),
    Query("q464_vocab_coverage", q464, q464Sql),
    Query("q465_trigram_novelty", q465, q465Sql),
    Query("q466_brand_lift", q466, q466Sql),
    Query("q467_cramers_v", q467, q467Sql),
    Query("q468_brunner_munzel", q468, q468Sql),
    Query("q469_ivf_compaction_pin", q469, q469Sql),
    Query("q470_join_strategy_advisor", q470, q470Sql),
    Query("q471_aqe_coalesce_advisor", q471, q471Sql),
    Query("q472_revenue_waterfall", q472, q472Sql),
    Query("q473_segment_concentration", q473, q473Sql),
    Query("q474_quantile_drift", q474, q474Sql),
    Query("q475_partition_layout_advisor", q475, q475Sql),
    Query("q476_cohort_ltv", q476, q476Sql),
    Query("q477_mediation_paths", q477, q477Sql),
    Query("q478_ipf_raking", q478, q478Sql),
    Query("q479_wilson_intervals", q479, q479Sql))
}
