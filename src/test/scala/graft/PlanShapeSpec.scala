package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.SimilarityOps

/** Physical-plan shape assertions — the properties that keep these
  * queries viable at 100 TB: predicate pushdown into the scan, column
  * pruning, broadcast joins for dimensions (never cartesian products),
  * and map-side partial aggregation. A correctness-green query with the
  * wrong plan shape is a regression these tests catch. */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {
  private val dir = sf("sf0.01")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("q01: shipdate predicate is pushed to the parquet scan") {
    val p = q("q01_grouped_stats").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("q01: scan is pruned to the referenced columns only") {
    val p = plan(q("q01_grouped_stats"))
    assert(!p.contains("l_partkey") && !p.contains("l_suppkey") &&
      !p.contains("l_tax"), "scan reads columns the query never uses")
  }

  test("q13: all dimension joins broadcast; no shuffle join of dims") {
    val p = plan(q("q13_join_agg"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // partial + final aggregation (map-side combine before the shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q02: two-level aggregation keeps map-side partials") {
    val p = plan(q("q02_two_level_agg"))
    assert("HashAggregate".r.findAllIn(p).size >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("brute-force topK broadcasts the query side, not the corpus") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.bruteForceTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", 5))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side should broadcast:\n$p")
  }

  test("simhash band pairing: pairs ride a hash equi-join on " +
      "(band, bucket), never a cartesian or collect_list expansion") {
    // The pair expansion self-joins the banded signature relation on
    // (band, bucket). At this scale the banded side broadcasts (BHJ):
    // pair expansion then parallelizes over probe-side INPUT rows, so
    // hot buckets cannot pin a single task the way the former
    // collect_list + in-expression combination expansion did. Past
    // the broadcast threshold the same plan becomes an SMJ whose
    // identical exchanges AQE stage-reuses and skew-splits.
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.DedupOps.simhashNearDupParity(
      docs, "doc_id", "text", maxHamming = 8))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"pair expansion should be an equi-join:\n$p")
    assert(!p.contains("collect_list"),
      "pair expansion regressed to the collect_list form")
  }

  test("whole-stage codegen covers the scalar query pipeline") {
    // codegen stages render as "*(n) Operator" in the plan string
    val p = plan(q("q04_deadband_clamp"))
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("semi/anti joins plan as joins, not subquery re-evaluation") {
    assert(plan(q("q14_semi_join")).contains("LeftSemi"))
    assert(plan(q("q15_anti_join")).contains("LeftAnti"))
  }

  test("as-of join plans as one union + one window — no join operator") {
    val p = plan(q("q42_asof_join"))
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"), "expected the LOCF window")
    // one shuffle for the window partitioning; the final orderBy adds a
    // range exchange — but no per-row join exchange
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"too many exchanges for a single-pass as-of:\n$p")
  }

  test("range join is a bucket equi-join, never a cartesian or " +
      "pure-inequality nested loop") {
    val p = plan(q("q43_range_join"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to O(n^2):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
  }

  test("stratified sample is a scan-side filter with pruned columns") {
    val p = plan(q("q45_stratified_sample"))
    assert(p.contains("Filter"), "sample must plan as a filter")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"sampling should not shuffle (beyond the output sort):\n$p")
  }

  test("IVF assignment is a pure projection: corpus side has no " +
      "window or repartition exchange before the probe join") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.ivfTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", 5))
    // probe join broadcasts the assigned query side; the only
    // exchange(s) serve the final per-query top-k window
    assert(p.contains("BroadcastHashJoin"),
      s"probe join should broadcast the query side:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"corpus cell assignment must not shuffle:\n$p")
  }

  test("gap sessionization plans one sort and one window stage") {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("tus", org.apache.spark.sql.functions.expr("ts_ns div 1000"))
    val p = plan(graft.operators.WindowOps.gapSessionize(
      ev, Seq("user_id"), Seq("tus", "event_id"), "tus", 3600000000L))
    // lag + running sum share a (key, order) spec: Spark splits the
    // two frames into two Window operators, but both reuse ONE
    // exchange and ONE sort — the properties that matter at scale
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange:\n$p")
    assert("Sort \\[".r.findAllIn(p).size == 1,
      s"expected exactly one sort shared by both windows:\n$p")
  }

  test("contamination: probe-size join broadcasts; shared counts keep partials") {
    val docs = Tables.load(spark, dir, "documents")
    val c = org.apache.spark.sql.functions.col("doc_id")
    val p = plan(graft.operators.DedupOps.crossCorpusContamination(
      docs.filter(c < 450), docs.filter(c >= 450), "doc_id", "text", 2, 0.3))
    assert(p.contains("BroadcastHashJoin"),
      s"probe sizes should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final shared-shingle counts:\n$p")
  }

  test("minhash LSH signature aggregation keeps map-side partials") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.DedupOps.minhashLshCandidates(
      docs, "doc_id", "text", shingleN = 2, k = 16, bands = 16))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final signature aggregation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("int8 quantization plans as a pure projection — zero exchanges") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.int8Quantize(emb, "vec_id", "embedding"))
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
  }

  test("int8 ANN: both passes broadcast the query side; no shuffle join") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.int8TopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", 5))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-wide shuffle join expected at this scale:\n$p")
  }

  test("LSH verify joins broadcast the small checkpointed shingle " +
      "table") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.DedupOps.minhashLshDedup(
      docs, "doc_id", "text", shingleN = 2, k = 16, bands = 16,
      threshold = 0.1))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"verify joins should broadcast the small shingle table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"small-corpus verify must not sort-merge:\n$p")
  }

  test("localCheckpoint keeps its origin plan's size estimate") {
    // The operators join checkpointed tables without size hints: the
    // planner's broadcast decision reads the checkpoint's statistics,
    // which LogicalRDD carries over from the origin plan.
    val grouped = Tables.load(spark, dir, "documents")
      .groupBy(org.apache.spark.sql.functions.col("source")).count()
    def est(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val origin = est(grouped)
    assert(origin < spark.sessionState.conf.defaultSizeInBytes)
    for (eager <- Seq(false, true))
      assert(est(grouped.localCheckpoint(eager)) == origin,
        s"localCheckpoint($eager) no longer keeps the origin plan's " +
          "sizeInBytes (LogicalRDD.originStats): every checkpointed " +
          "small-table join in the operators would sort-merge")
  }

  test("LSH verify join keeps the shuffle join when the shingle table " +
      "exceeds the broadcast threshold") {
    val docs = Tables.load(spark, dir, "documents")
    val shingles = graft.operators.DedupOps.stagedShingles(
      docs, "doc_id", "text", 2)
    val est = shingles.queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (est / 4).toString)
    val p =
      try plan(graft.operators.DedupOps.minhashLshDedup(
        docs, "doc_id", "text", shingleN = 2, k = 16, bands = 16,
        threshold = 0.1))
      finally spark.conf.set(key, prev)
    assert(p.contains("SortMergeJoin"),
      s"a shingle table above the threshold must not broadcast:\n$p")
  }

  test("semantic dedup: the cluster self-join broadcasts despite the " +
      "join-product estimate of the tagged table") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
      k = 8, iters = 1))
    assert("BroadcastHashJoin \\[cid#\\d+, sub#\\d+\\]".r.findFirstIn(p)
      .nonEmpty, s"the (cid, sub) self-join should broadcast:\n$p")
  }

  test("temperature mix: per-source cuts broadcast; selection is a filter") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.temperatureMix(
      docs, "source", "doc_id", alpha = 0.5, budget = 100L, salt = "s"))
    assert(p.contains("BroadcastHashJoin"),
      s"source cuts should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"mix must not shuffle the corpus:\n$p")
  }

  test("dup n-gram coverage: no self-join blowup; dup grams broadcast " +
      "back when small") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.DedupOps.dupNgramCoverage(
      docs, "doc_id", "text", n = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"coverage must stay equi-join shaped:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny dup-gram set should broadcast despite the checkpoint:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("bigram surprisal: probability table broadcasts; counts keep " +
      "partials") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.bigramSurprisal(
      docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized probability table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final count aggregation:\n$p")
  }

  test("prefix sum: the per-row window is partitioned (offsets side " +
      "broadcasts)") {
    val docs = Tables.load(spark, dir, "documents")
    val d = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      graft.operators.TextOps.tokenCount(
        org.apache.spark.sql.functions.col("text")).as("n"))
    val p = plan(graft.operators.CurationOps.prefixSum(d, "doc_id", "n"))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets should broadcast:\n$p")
    // exactly one single-partition exchange is allowed: the <=nBuckets
    // offset rows; the full table must never be globally sorted
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"full-table global window detected:\n$p")
  }

  test("zipf fit: top-K via TakeOrdered, never a full vocabulary sort") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.zipfFit(docs, "text", 100))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K should plan as TakeOrdered:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final frequency aggregation:\n$p")
  }

  test("naive bayes: vocab-sized model broadcasts; no doc-by-class " +
      "shuffle join") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.naiveBayesLang(
      docs, "doc_id", "text", "lang"))
    assert(p.contains("BroadcastHashJoin"),
      s"pivoted model table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final term-count aggregation:\n$p")
  }

  test("PCA projection is scan-speed: zero exchanges in the output plan") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.pcaProject(emb, "vec_id", "embedding"))
    assert(!p.contains("Exchange"),
      s"projection onto the literal component must not shuffle:\n$p")
  }

  test("JL random projection is scan-speed: zero exchanges") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.randomProject(emb, "vec_id", "embedding", 8))
    assert(!p.contains("Exchange"),
      s"literal-plane projection must not shuffle:\n$p")
  }

  test("winsorize: bracket rows are filtered BEFORE the bounds " +
      "aggregation; bounds broadcast back") {
    val ev = Tables.load(spark, dir, "events")
    val df = graft.operators.StatsOps.winsorize(
      ev, Seq("event_type"), "value", 0.05, 0.95)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"per-key bounds should broadcast back:\n$p")
    // the optimized plan must place a Filter between the rank windows
    // and the bounds aggregate (only <=4 rows per key reach the agg)
    val opt = df.queryExecution.optimizedPlan.toString
    val aggIdx = opt.indexOf("Aggregate")
    val winIdx = opt.indexOf("Window")
    val filterBetween = opt.substring(aggIdx, winIdx).contains("Filter")
    assert(aggIdx >= 0 && winIdx > aggIdx && filterBetween,
      s"bracket filter must sit between windows and the aggregate:\n$opt")
  }

  test("CMS sketch and exact side keep map-side partials; the " +
      "estimate join is broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.cmsHeavyHitters(
      docs, "text"))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final pairs for sketch and exact counts:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"top-K x sketch join should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("source KL: the corpus never shuffles twice — grid joins stay " +
      "broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.sourceKlDivergence(
      docs, "source", "text"))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"vocab-sized grid joins should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  // Every query where a BroadcastNestedLoopJoin is the DELIBERATE plan:
  // a tiny broadcast side against an inequality/cross-shaped predicate
  // (1x1 scalar pairs, the brute-force ANN baseline, scalar min/max
  // brackets). Growing this list is a design decision, not a tweak.
  private val DeliberateBnlj = Set(
    "q460_cliffs_delta",  // 5-row type-totals broadcast vs the value
                          // grid (the q442 dense-spine shape)
    "q463_benford_audit", // 1-row grand total vs the 9-digit table
    "q464_vocab_coverage", // 3-row threshold spine vs the
                           // distinct-frequency walk (q122 shape)
    "q466_brand_lift",    // 1-row distinct-order total vs the <=300
                          // brand-pair grid
    "q470_join_strategy_advisor", // four 1-row x 1-row table-count
                                  // brackets combined
    "q471_aqe_coalesce_advisor", // 1-row total-bytes bracket vs the
                                 // 32-bucket histogram
    "q474_quantile_drift", // 1-row max-id bracket + 9-row decile
                           // spine vs the per-half value histogram
    "q475_partition_layout_advisor", // 6-row probe spine (range
                          // intersection) vs the month table + rows
    "q476_cohort_ltv",    // 1-row min-day bracket vs the event rows
    "q478_ipf_raking",    // 1-row margin-target bracket vs the
                          // 6-cell contingency table
    "q03_welch_t",        // 1x1 per-arm scalar pair
    "q28_cosine_topk",    // brute-force ANN: query side broadcast
    "q60_histogram",      // global min/max scalar bracket
    "q65_int8_topk",      // int8 rerank: quantization scalars
    "q87_source_kl",      // 1-row total against source grid
    "q100_pq_topk",       // PQ ADC: tiny query-LUT side broadcast
    "q122_vocab_coverage", // |thresholds|-row broadcast against the
                           // distinct-frequency walk
    "q127_rank_blend",    // 1-row corpus count against ranked docs
    "q129_ks_drift",      // <=bins-row live-bin grid against keys
    "q130_collocations",  // 1-row unigram/bigram totals vs pair table
    "q131_calibration",   // 1-row corpus count against ranked scores
    "q137_rrf_fusion",    // brute-force retriever side: query broadcast
                          // (the q28 shape feeding the fusion)
    "q139_cluster_agreement", // three 1-row pair-sum brackets combined
    "q141_mixture_reweight", // 1-row corpus token total vs group table
    "q145_centroid_skew", // 1-row global-centroid list vs label rows
    "q148_lang_centroid_skew", // same 1-row global-centroid bracket
    "q152_quantile_norm", // 1-row corpus count vs per-group ranks
    "q154_source_chi2", // <=nBins-row global grid + 1-row total
    "q162_dataset_card", // five 1-row summary aggregates combined
    "q165_method_agreement", // three 1-row pair-count brackets
    "q166_dedup_sensitivity", // 5-row threshold spine vs pair list
    "q167_source_centroid_pairs", // label-count-sized centroid
                                  // inequality self-join (broadcast)
    "q168_event_rate_ma", // hour-spine broadcast vs type list
    "q181_ann_recall",    // truth side IS bruteForceTopK (the q28
                          // shape); the LSH side stays equi-joined
    "q183_psi_drift",     // <=nBins-row global grid + 1-row total
                          // (the q154 dense-grid shape)
    "q184_epoch_plan",    // 1-row corpus token total inside the
                          // embedded q141 rate chain
    "q188_trunc_recall",  // BOTH eval sides are bruteForceTopK (the
                          // deliberate q28 broadcast shape)
    "q200_multi_touch",   // 1-row conv-total x 1-row touched-total
                          // bracket for the "(none)" remainder row
    "q204_revenue_share",  // 1-row grand-total bracket vs nation rows
    "q207_weighted_jaccard", // group-count-sized totals inequality
                             // self-join (broadcast pair spine)
    "q208_cusum_shift",   // hour-spine broadcast vs type list (the
                          // q168 dense-grid shape)
    "q209_benford",       // 1-row observed-total bracket vs 9 digits
    "q211_cuped",         // 1-row midpoint + 1-row pooled-theta
                          // brackets vs per-unit rows
    "q212_snake_shards",  // 1-row token grand-total bracket vs bins
    "q213_cramers_v",     // r-row x c-row dense-grid cross (r,c <= 5)
                          // + 1-row grand-N bracket
    "q216_basket_lift",   // 1-row basket grand-total bracket vs pairs
    "q217_kaplan_meier",  // 1-row unit grand-total bracket vs the
                          // distinct-duration table
    "q219_daily_acf",     // 1-row series mean/denominator brackets +
                          // 30-row day-table lag inequality self-join
    "q220_dow_seasonality", // 1-row overall-mean bracket vs 7 dows
    "q222_holt_forecast", // 1-row folded (level, trend) state x
                          // horizon spine
    "q223_skew_advisor",  // 1-row total-rows bracket vs key rows
    "q224_card_est",      // three 1-row count brackets combined
    "q226_pareto_abc",    // 1-row revenue grand-total bracket vs the
                          // 25-row brand table
    "q227_rolling_dau",   // 30-row distinct-day grid broadcast with
                          // the 7-day range predicate (bounded fan-out)
    "q236_dow_hour_heatmap", // 1-row grand-total bracket vs 168 cells
    "q241_hill_tail",     // 1-row x_(k+1) bracket vs the top-k rows
    "q242_theil_index",   // 1-row mean bracket vs per-customer rows
    "q243_churn_label",   // 1-row max-day bracket vs per-user rows
    "q245_trigram_coverage", // 1-row mass grand-total vs 3 head rows
    "q252_jsd_drift",     // 1-row corpus-half totals vs vocab rows
    "q254_stump_split",   // 9-row threshold grid + 1-row parent
                          // bracket vs the collapsed per-value table
    "q261_integrity_audit", // 1-row orphan-count bracket vs the 1-row
                          // reconciliation aggregate
    "q270_two_way_anova", // 1-row grand/SS brackets vs the bounded
                          // 35-cell table
    "q272_order_size_dispersion", // 1-row moment bracket vs the
                          // <=7-row histogram
    "q278_kde_profile",   // 25-row grid broadcast vs the $100-bin
                          // histogram (grid x bins kernel sum)
    "q279_gaussian_nb",   // 5-class stats table broadcast vs docs
    "q280_poisson_bootstrap", // 1-row base-mean bracket vs the 1-row
                          // replicate aggregate
    "q281_whale_share",   // 1-row p99-threshold bracket vs orders
    "q283_gains_table",   // 1-row user/conv totals vs the ~20-row
                          // score histogram
    "q287_aging_buckets", // 1-row as-of-day bracket vs orders
    "q288_holt_winters",  // 1-row d0/d1 spine bracket feeding the
                          // single-row array fold
    "q291_decay_popularity", // 1-row max-day + score-total brackets
                          // vs the bounded (type, day) grid
    "q292_uncertainty_audit", // 5-class stats table broadcast vs docs
                          // (the q279 scoring shape)
    "q294_completeness_audit", // 1-row span bracket x the 5-priority
                          // spine expansion
    "q296_lorenz_gini",   // 1-row total/Gini brackets vs the value
                          // histogram
    "q297_hurst_exponent", // 1-row spine + OLS-slope brackets vs the
                          // 4-size R/S table
    "q298_binseg_break",  // 1-row (n, S, SST) bracket vs the day spine
    "q299_qte_deciles",   // 9-row decile grid broadcast vs the per-arm
                          // cents histogram
    "q300_negative_sampling", // 1-row table-count bracket (the modulo
                          // base) vs anchors
    "q302_ece_calibration", // 5-class stats broadcast (q279 shape)
    "q303_simpson_audit", // 1-row pooled-corr bracket vs nation rows
    "q304_levene_test",   // 1-row grand-total bracket vs the 5-group
                          // deviation table
    "q306_did_estimate",  // 1-row midpoint-day bracket vs events
    "q308_peak_days",     // 1-row mean/sigma bracket vs the day spine
    "q310_qq_normality",  // 19-row z-grid + 1-row moment brackets vs
                          // the cents histogram
    "q311_pareto_frontier", // 25x25 dominance inequality self-join
                          // (broadcast skyline)
    "q314_churn_hazard",  // 1-row horizon-week bracket vs users
    "q317_theil_sen",     // 1-row n/median/OLS brackets vs the slope
                          // histogram
    "q318_abc_xyz",       // 1-row revenue grand-total bracket vs the
                          // 25-brand table
    "q319_knee_detection", // 1-row total + knee brackets vs the
                          // bounded curve
    "q323_effect_sizes",  // 1-row moment + midrank-U brackets
    "q324_mutual_information", // 1-row total/entropy brackets vs the
                          // 30-cell grid
    "q327_kendall_tau",   // bounded 550-cell grid inequality
                          // self-join + 1-row tie brackets
    "q329_design_effect", // 1-row grand-total x cluster brackets
    "q331_mann_kendall",  // ~80-month grid inequality self-join +
                          // 1-row tie/count brackets
    "q332_runs_test",     // 1-row exact-median bracket vs the spine
    "q334_score_cindex",  // bounded (score, buys) grid inequality
                          // self-join
    "q335_topsis_rank",   // 1-row norm/ideal brackets vs 25 brands
    "q336_het_test",      // 1-row OLS-beta bracket vs lineitem
    "q337_shift_share",   // 1-row national-total bracket vs nations
    "q339_durbin_watson", // 1-row residual sum-of-squares bracket vs
                          // the daily revenue spine
    "q342_mcnemar",       // 1-row discordant-count bracket vs the
                          // paired-period user grid
    "q346_markov_loglik", // 1-row vocab-size bracket vs the bounded
                          // trigram grid
    "q349_markov_homogeneity", // 1-row midpoint bracket vs events
    "q350_cronbach_alpha", // 1-row user-count + total-var brackets
    "q352_chow_test",     // 1-row midpoint bracket vs the day spine
    "q354_grubbs_test",   // 1-row mean/sd bracket vs the day spine
    "q356_beta_binomial", // 1-row MoM alpha/beta bracket vs 25 brands
    "q361_brier_decomp",  // 1-row shipdate-midpoint + base-rate
                          // brackets vs the brand grid
    "q363_pacf_check",    // 1-row grand-mean bracket vs the day spine
    "q383_store_append", // 1-row closure-stats bracket (the q368
                         // shape) read from the NearDupGraphStore
    "q368_transitivity_audit", // 1-row closure-stats bracket vs the
                          // direct-pair count
    "q370_keep_policy",   // 1-row byte-budget brackets vs the
                          // cluster choice table
    "q375_gate_attribution", // 1-row corpus-totals bracket vs the
                          // 4-row gate table
    "q384_kruskal_wallis", // 1-row N/tie-sum + H brackets vs the
                          // 5-row group rank table
    "q385_wilcoxon_signed", // 1-row midpoint-epoch bracket vs events
    "q386_mood_median",   // 1-row grand-median + margin brackets vs
                          // the event rows / 5-row cell table
    "q387_cochran_q",     // 1-row row/column-total brackets
    "q388_friedman_page", // 1-row n/tie brackets vs the 5-row rank
                          // sums; bounded type-spine cross join
    "q389_logrank",       // 1-row horizon bracket vs per-customer
                          // durations; 2-row group spine
    "q390_ljung_box",     // 1-row denominator bracket + 7-row lag
                          // spine vs the day series
    "q391_seasonal_spectrum", // 4-row period spine vs daily counts;
                          // 1-row total-power bracket
    "q392_pass_at_k",     // 3-row k spine vs the per-user task table
    "q394_ams_f2",        // 8-row sketch spine vs per-user counts;
                          // 1-row F2/est brackets
    "q395_twonn_id",      // deliberate brute-force query-vs-corpus
                          // inequality join (the q28 ANN baseline)
    "q396_pinball_loss",  // 3-row quantile spine vs the day series
    "q398_jonckheere",    // 5-row group spine vs the cents histogram;
                          // 1-row J/variance brackets
    "q402_curriculum_phases", // 1-row quartile-boundary brackets vs
                          // the per-doc quality table
    "q403_neyman_alloc",  // 1-row weight-total/leftover brackets vs
                          // the 5-source allocation table
    "q404_shapley_attribution", // bitmask-condition join over the
                          // 8-row subset spine (bounded game table)
    "q406_knn_density",   // brute-force query-vs-corpus inequality
                          // join (q28 baseline) + 1-row median bracket
    "q407_hitter_drift",  // 1-row midpoint-epoch bracket vs events
    "q409_kneser_ney",    // 1-row bigram-type-total bracket vs the
                          // top-20 bigram table
    "q413_triple_itemsets", // 1-row order-count bracket vs the
                          // top-10 triple table (folded the former
                          // driver-side .count() into the plan)
    "q414_gumbel_topk",   // 1-row overlap-count bracket vs the
                          // per-source sample composition
    "q416_sax_symbols",   // 1-row z-parameter bracket vs the 32-seg
                          // PAA table
    "q417_motif_discovery", // deliberate all-pairs window join — the
                          // day-DOMAIN-bounded (constant-size) motif
                          // search, never data-sized
    "q420_qini_curve",    // 1-row decile-boundary brackets + 10-row
                          // top-k spine over the decile table
    "q423_knn_label_eval", // brute-force query-vs-corpus inequality
                          // join (q28 baseline) + 1-row accuracy
                          // bracket
    "q424_equidepth_est", // 16-row bucket / 10-row range spines with
                          // boundary-comparison predicates
    "q425_join_card_est", // 1-row count/distinct stat brackets per
                          // audited join
    "q426_fk_discovery",  // 1-row containment/uniqueness brackets
    "q428_penny_ledger",  // 1-row net-drift bracket vs the diff
                          // histogram
    "q430_gap_sweep",     // 3-row threshold spine vs per-user gaps
    "q431_sampling_ks",   // 1-row total-counts bracket vs the value
                          // histogram
    "q432_chi2_keywords", // 1-row corpus-size bracket vs the
                          // (source, token) contingency cells
    "q433_nzv_screen",    // 1-row top-2-frequency brackets per
                          // audited column
    "q437_dict_advisor",  // 1-row totals/entropy brackets per
                          // audited column
    "q440_zone_map_audit", // 1-row kmax bracket + 8-row probe-range
                          // spine vs the 32-row zone table / orders
    "q441_corr_selectivity", // 9-row predicate-grid spine vs lineitem
    "q442_wasserstein_pairs", // 5-row type spine vs the bounded
                          // distinct-cents value spine
    "q443_ansari_bradley", // 1-row N/n1 bracket vs the score histogram
    "q446_cvm_two_sample", // 1-row n1/n2 bracket vs the value
                          // histogram
    "q449_substring_vs_token", // 5-row keyword spine vs documents
    "q451_safety_stock",  // 25-row brand spine vs the day-domain
                          // spine (bounded grid, never lineitem-sized)
    "q452_price_endings", // 1-row n/sum-sq bracket vs the 100-row
                          // ending histogram
    "q455_skew_bucket_audit", // 1-row max/median bracket vs the
                          // 32-row bucket histogram
    "q457_state_sizing",  // 1-row peak/window-count bracket vs the
                          // bounded window table
    "q450_join_order_audit") // six 1-row cardinality brackets
                          // combined into the single output row

  test("full declared-query sweep: every plan builds, zero cartesian " +
      "products, BNLJ only where deliberate") {
    // plan health for the WHOLE 91-query surface, so a regression
    // anywhere fails CI instead of waiting for the next manual
    // PlanAudit run. sf0.001 keeps the driver-side constructions
    // (kmeans/BPE/PCA collect during query building) cheap; plan
    // SHAPE does not depend on the scale factor.
    val tiny = sf("sf0.001")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p =
        try fn(spark, tiny).queryExecution.executedPlan.toString
        catch {
          case e: Throwable =>
            failures += s"$name: failed to plan (${e.getClass.getSimpleName})"
            ""
        }
      if (p.contains("CartesianProduct"))
        failures += s"$name: CartesianProduct in plan"
      if (p.contains("BroadcastNestedLoopJoin") &&
          !DeliberateBnlj.contains(name))
        failures += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q73 curated stage (hidden behind the query's localCheckpoint) " +
      "stays cartesian-free") {
    // q73 checkpoints its curate+dedup subtree, which replaces it with
    // a LogicalRDD in the query's own plan — audit the stage directly
    // so a regression inside it cannot hide from the sweep above.
    val p = plan(graft.queries.NorthStar.q73CuratedStage(spark, sf("sf0.001")))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad stage plan:\n$p")
  }

  test("hll sketch: two partial-aggregated stages, no window, no " +
      "single-partition funnel") {
    val ev = Tables.load(spark, dir, "events")
    val p = plan(graft.operators.StatsOps.hllDistinct(
      ev, "event_type", "user_id"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final register aggregation:\n$p")
    assert(!p.contains("Window") && !p.contains("Exchange SinglePartition"),
      s"sketch must stay keyed end-to-end:\n$p")
  }

  test("vocab coverage: the only single-partition work is the " +
      "distinct-frequency table; terms are never globally sorted") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.TextOps.vocabCoverage(
      docs, "text", Seq(95)))
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"per-term global sort detected:\n$p")
    assert(!p.contains("CartesianProduct"), s"bad join shape:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final term-frequency aggregation:\n$p")
  }

  test("q464 coverage curve: rebuilt on the distinct-frequency " +
      "closed form — no vocabulary-wide global window") {
    // the r11 shape ranked the whole distinct-token table through one
    // single-partition row_number/running-sum window (1e8-1e9 rows at
    // 100 TB); the rebuild walks the distinct-frequency table instead,
    // so the only single-partition work is that tiny walk plus the
    // ordered 3-row output — and no ranking window over per-term rows
    // may survive anywhere
    val p = plan(SparkEntry.queries("q464_vocab_coverage")(spark, dir))
    assert(!p.contains("row_number"),
      s"per-term ranking window detected in q464:\n$p")
    assert("windowspecdefinition\\([^)]*tok".r.findFirstIn(p).isEmpty,
      s"window keyed on the raw token column detected in q464:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2,
      s"more single-partition work than the frequency walk + the " +
        s"3-row output sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"bad join shape:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final term-frequency aggregation:\n$p")
  }

  test("boilerplate grams: per-group doc counts broadcast; gram work " +
      "stays equi-join shaped") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.CurationOps.boilerplateGrams(
      docs, "doc_id", "text", "source"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source doc counts should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$p")
  }

  test("ngram novelty: inverted-index shape — gram-keyed partial " +
      "aggs, no cartesian") {
    val docs = Tables.load(spark, dir, "documents")
    val p = plan(graft.operators.DedupOps.ngramNovelty(
      docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"bad join shape:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final gram aggregation:\n$p")
  }

  test("ks drift: keyed windows only — no full-table funnel, no " +
      "cartesian on data-sized tables") {
    val docs = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        graft.operators.TextOps.tokenCount(
          org.apache.spark.sql.functions.col("text")).cast("long").as("n"))
    val p = plan(graft.operators.StatsOps.ksDrift(docs, "source", "n"))
    assert(!p.contains("Exchange SinglePartition"),
      s"full-table funnel detected:\n$p")
    assert(!p.contains("CartesianProduct"), s"bad join shape:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final bin-count aggregation:\n$p")
  }

  test("global rank: bucketed — offsets broadcast, ranking window " +
      "partitioned, no full-table funnel") {
    val docs = Tables.load(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.TextOps.tokenCount(
          org.apache.spark.sql.functions.col("text")).as("n"))
    val p = plan(graft.operators.CurationOps.globalRank(
      docs, "n", "doc_id", "rank"))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets should broadcast:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"full-table global sort detected:\n$p")
  }

  test("prototypicality: centroids broadcast; the only window is " +
      "partitioned by cluster") {
    val emb = Tables.load(spark, dir, "embeddings")
    val p = plan(SimilarityOps.clusterPrototypicality(
      emb, "vec_id", "embedding", k = 8, iters = 3))
    assert(p.contains("BroadcastHashJoin"),
      s"k x dims centroid table should broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global funnel detected:\n$p")
    assert(!p.contains("CartesianProduct"), s"bad join shape:\n$p")
  }
}
