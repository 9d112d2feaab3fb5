package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * (hash-based) sampling and TF-IDF term scoring. Both are pure
  * scan-shaped or single-shuffle plans — no driver-side state, no RNG —
  * so a re-run over 100 TB selects the same rows, which is what makes
  * hash sampling the standard for reproducible dataset releases.
  */
object CurationOps {

  /** ANALYZE-shape table profiler: per column — row count, non-null
    * count, exact distinct count, min/max (cast to string so one
    * result schema fits every column type; typed comparison happens
    * BEFORE the cast, so numeric min/max are numeric). ONE scan of
    * the source: all statistics ride a single aggregate row (Spark
    * plans the multi-distinct via Expand — an n_cols-way row
    * amplification inside one stage, the standard ANALYZE trade; for
    * very wide tables profile column batches), which is then melted
    * driver-side into one row per column. Feeds layout decisions —
    * bucketing/bloom sizing (ndv), partition pruning viability
    * (min/max), null-handling audits. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileTable needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__ndv_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nRows = r.getLong(r.fieldIndex("__rows"))
    cols.map { c =>
      (c, nRows, r.getLong(r.fieldIndex(s"__nn_$c")),
        r.getLong(r.fieldIndex(s"__ndv_$c")),
        Option(r.getString(r.fieldIndex(s"__min_$c"))),
        Option(r.getString(r.fieldIndex(s"__max_$c"))))
    }.toDF("column", "n_rows", "n_nonnull", "ndv", "min_str", "max_str")
  }

  /** First 8 hex digits of md5 of the input string, as a 32-bit value
    * in a long — THE cross-engine hash idiom of this library (mirrored
    * by the DuckDB oracle generator's sqlHex32). Every consumer of a
    * deterministic uniform hash must go through this one definition so
    * the Spark and oracle sides cannot drift apart. Native codegen
    * expression ([[graft.functions.Md5Hash32]]), bit-identical to the
    * previous `conv(substring(md5(s), 1, 8), 16, 10)` composition but
    * without the per-row hex-string alloc + radix parse (spec-pinned
    * equal in GraftFunctionsSpec, interpreted AND codegen paths). */
  def md5Hash32(s: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.Md5Hash32(
        org.apache.spark.sql.GraftExprBridge.expression(s)))

  /** Deterministic inclusion predicate: keep a row iff
    * md5Hash32(salt + ":" + id) falls below rate * 2^32. Cross-engine
    * reproducible (md5 + integer compare — no engine RNG involved) and
    * stable under repartitioning, re-runs, and scale changes. */
  def hashKeep(id: Column, rate: Double, salt: String): Column = {
    val threshold = math.floor(rate * 4294967296.0).toLong
    md5Hash32(concat(lit(s"$salt:"), id.cast("string"))) < lit(threshold)
  }

  /** Stratified deterministic sample: per-stratum rates, one scan, no
    * shuffle (the sample is a filter, so it composes with pushdown —
    * at 100 TB the sample runs at scan speed). Strata absent from
    * `rates` get `defaultRate`. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, r).otherwise(acc)
    }
    // rate is data-dependent, so inline the threshold comparison
    val hash32 =
      md5Hash32(concat(lit(s"$salt:"), col(idCol).cast("string")))
    df.filter(hash32 < floor(rate * 4294967296.0).cast("long"))
  }

  /** Stratified k-fold assignment: rows are ordered within each
    * stratum by (md5(salt:id), id) — a reproducible shuffle with a
    * total-order tiebreak — and dealt round-robin into `k` folds, so
    * every fold holds floor/ceil(n_stratum / k) rows of each stratum
    * (exact stratification, unlike independent-hash splits whose
    * per-stratum fold sizes are binomial). One window partitioned by
    * the stratum — scales with strata count, no global sort. Adds a
    * `fold` column in [0, k). */
  def stratifiedKFold(df: DataFrame, stratumCol: String, idCol: String,
                      k: Int, salt: String): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))),
        col(idCol))
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("long"))
  }

  /** Weighted sample WITHOUT replacement, n rows per group, via
    * priority sampling (Duffield–Lund–Thorup, JACM 54(6) 2007): each
    * row draws priority w/u with u a uniform integer in [1, 2^32],
    * and the n highest-priority rows per group are the sample —
    * heavier rows win proportionally more often, and the scheme
    * yields unbiased subset-sum estimators. Determinism: u is the
    * md5 hash of (salt, id), and the priority is ONE IEEE division
    * of two exact integers — correctly rounded by the standard, so
    * every engine computes the bit-identical double (no
    * transcendentals, unlike the exp-jitter u^(1/w) formulation).
    * Scale shape: the per-group cut is the bounded
    * [[graft.functions.TopKRows]] aggregate — map-side partials hold
    * <= 2n entries and only n-row states cross the one shuffle; no
    * sort window over the full corpus, no per-group value buffer.
    * Output: group, id, priority (ties broken id asc, so the sampled
    * set is total-order deterministic). */
  /** The priority expression shared by the batch and streaming
    * samplers — w/u with u an md5-derived uniform in [1, 2^32]. ONE
    * definition so the two paths cannot drift. */
  def samplePriority(idCol: String, weightCol: String, salt: String)
      : Column = {
    val u = md5Hash32(concat(lit(s"$salt:"), col(idCol).cast("string"))) +
      lit(1L) // [1, 2^32]: never zero, division always finite
    col(weightCol).cast("double") / u.cast("double")
  }

  def prioritySample(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, n: Int, salt: String)
      : DataFrame = {
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(groupCol).as("group"), col(idCol).cast("long").as("id"),
        samplePriority(idCol, weightCol, salt).as("pri"))
      .groupBy(col("group"))
      .agg(graft.functions.TopKRows.topK(col("pri"), col("id"), n).as("top"))
      .select(col("group"), explode(col("top")).as("t"))
      .select(col("group"), col("t.id").as("id"),
        col("t.score").as("priority"))
  }

  /** Deterministic train/val/test split assignment: the md5-hash
    * fraction of each id picks the split whose cumulative weight range
    * contains it. Reproducible across engines/runs/repartitioning and
    * disjoint by construction — the standard way to pin dataset splits
    * for a 100 TB corpus without a shuffle (it is a pure projection).
    * `weights` need not sum to 1; they are normalized. */
  def assignSplit(id: Column, weights: Seq[(String, Double)],
                  salt: String): Column = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0) &&
      weights.map(_._2).sum > 0, s"bad weights $weights")
    val total = weights.map(_._2).sum
    val h = md5Hash32(concat(lit(s"$salt:"), id.cast("string")))
    // cumulative integer thresholds over the 32-bit hash space
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }
      .tail.map(c => math.floor(c / total * 4294967296.0).toLong)
    weights.map(_._1).zip(cuts).reverse
      .foldLeft(lit(weights.last._1)) { case (acc, (name, cut)) =>
        when(h < cut, name).otherwise(acc)
      }
  }

  /** Deterministic per-group cap: keep at most `cap` rows per group,
    * chosen by md5-hash rank (a reproducible "random" subset — rank by
    * id would bias toward early documents). The standard fairness op
    * for web corpora: no single domain/source may dominate the
    * training mix. One hash-shuffle on the group key; selection is a
    * rank-filter, so the output is stable under repartitioning,
    * re-runs, and engine changes. */
  def groupCap(df: DataFrame, groupCol: String, idCol: String,
               cap: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))),
        col(idCol))
    df.withColumn("_gc_rk", row_number().over(w))
      .filter(col("_gc_rk") <= cap)
      .drop("_gc_rk")
  }

  /** Distributed inclusive prefix sum of `valueCol` in `orderCol`
    * order, WITHOUT a global single-partition window (the naive
    * `Window.orderBy(key)` with no partition spec funnels the whole
    * table through one task — the classic scale cliff). Two cheap
    * passes instead:
    *
    *  1. bucket each row by a fixed range of the (unique, numeric)
    *     order key; per-bucket totals are a tiny aggregate whose
    *     running sum (over <= nBuckets rows) gives each bucket's
    *     exclusive offset;
    *  2. broadcast-join the offsets back and run the cumsum window
    *     PARTITIONED by bucket — every partition sums independently.
    *
    * Integer addition is associative, so the result is identical to
    * the single-task form at any bucket count. Adds columns `cumsum`
    * (inclusive) and keeps the input columns. `orderCol` must be
    * UNIQUE and NON-NULL: a null order key has no position in the
    * total order (such rows would silently drop at the offsets
    * join). */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = df.agg(min(col(orderCol)).cast("long"),
      max(col(orderCol)).cast("long")).head()
    if (stats.isNullAt(0)) return df.withColumn("cumsum", lit(0L))
    val lo = stats.getLong(0)
    val width = math.max((stats.getLong(1) - lo) / nBuckets + 1, 1L)
    val bucketed = df.withColumn("_psb",
      ((col(orderCol).cast("long") - lit(lo)) / lit(width)).cast("long"))
    val offsets = bucketed.groupBy(col("_psb"))
      .agg(sum(col(valueCol)).as("_pst"))
      .withColumn("_pso",
        coalesce(sum(col("_pst")).over(
          Window.orderBy(col("_psb"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_psb"), col("_pso"))
    bucketed
      .join(broadcast(offsets), "_psb")
      .withColumn("cumsum",
        col("_pso") + sum(col(valueCol)).over(
          Window.partitionBy(col("_psb")).orderBy(col(orderCol))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_psb", "_pso")
  }

  /** Sequence packing for LLM pretraining (concat-and-cut): documents
    * are concatenated in `orderCol` order and cut every `maxTokens`
    * tokens; each document is tagged with the sequence its FIRST token
    * lands in (`seq_id`) and its offset within that sequence
    * (`seq_off`). Built on [[prefixSum]], so there is no global
    * single-task window at any corpus size. Documents longer than the
    * remaining room straddle a cut — exactly the GPT-style packing
    * semantics where sequence boundaries ignore document boundaries. */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
                    maxTokens: Int): DataFrame = {
    val start = col("cumsum") - col(tokenCol)
    prefixSum(df, orderCol, tokenCol)
      .withColumn("seq_id",
        floor(start / lit(maxTokens.toDouble)).cast("long"))
      .withColumn("seq_off", pmod(start, lit(maxTokens.toLong)))
  }

  /** Per-document unigram rarity / surprisal — the CCNet/C4-style
    * "does this doc look like the corpus" quality signal, self-trained
    * on the corpus itself (no external LM): per token instance the
    * corpus frequency c, per document the instance count, the exact
    * integer sum and min of c (rare-token detector), and the mean
    * surprisal `ln N - mean(ln c)` in nats (higher = rarer content).
    *
    * Two token-keyed shuffles (corpus frequencies, then the
    * instance-frequency join) + one doc-keyed aggregation, all
    * partial-aggregated; the corpus token total is the only
    * driver-side scalar (the [[graft.operators.StatsOps]] histogram
    * idiom). The tokenize pipeline runs twice (both join sides) —
    * cheaper at scale than materializing the exploded token table. */
  def unigramRarity(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("t"))
    // checkpoint the (vocab-sized) frequency table: the corpus total
    // derives from it and the probe join reuses it, so the tokenize
    // pipeline runs exactly twice (freq build + probe side)
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val totalRow = freq.agg(sum(col("c"))).head()
    // empty corpus: the output is empty regardless; 1.0 keeps ln finite
    val total = if (totalRow.isNullAt(0)) 1.0 else totalRow.getLong(0).toDouble
    tok.join(freq, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("c")).as("freq_sum"),
        min(col("c")).as("freq_min"),
        (lit(math.log(total)) -
          sum(log(col("c"))) / count(lit(1))).as("surprisal"))
  }

  /** Per-document TF-IDF top terms: tf = term count / doc tokens,
    * idf = ln((N + 1) / (df + 1)) + 1 (smoothed, never negative),
    * ranked per doc by (tfidf desc, term asc). Two shuffles: term
    * frequencies (doc_id, term) and document frequencies (term) — both
    * partial-aggregated map-side; N is a scalar broadcast. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("doc_len", sum(col("cnt"))
        .over(Window.partitionBy(col("doc_id"))))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = df.count()
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        (col("cnt").cast("double") / col("doc_len")) *
          (log((lit(n.toDouble) + 1.0) / (col("df") + 1.0)) + 1.0))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("rk"), col("tfidf"))
  }

  /** BM25 relevance of every document against a fixed query term set
    * (Robertson & Zaragoza 2009 — the Okapi scorer retrieval-based
    * curation runs when selecting training documents by relevance to
    * seed queries):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *
    * Scale shape: the token explode FILTERS to the query terms before
    * any aggregation, so the (doc, term) frequency table is bounded by
    * |Q|·matching-docs, never corpus vocabulary; document lengths are
    * one partial-agg pass; the per-term idf table is ≤|Q| rows and
    * broadcasts; N and avgdl are the only driver scalars (one combined
    * aggregate action — the tfidf precedent). Only documents matching
    * at least one term are returned. */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // checkpoint the one-row-per-doc lengths table: it feeds both the
    // n/avgdl scalar action and the final join, and each consumer
    // would otherwise re-tokenize the corpus (unigramRarity precedent)
    val lens = toks.select(col("doc_id"),
      size(col("toks")).cast("double").as("dl")).localCheckpoint(false)
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .head()
    // empty corpus: no doc can match a term, output is empty anyway
    val nDocs = stats.getLong(0).toDouble
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)
    // tokens() lowercases the corpus — normalize the terms to match,
    // so mixed-case callers don't silently score nothing
    val qset = array(queryTerms.map(t => lit(t.toLowerCase)): _*)
    val tf = toks
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(array_contains(qset, col("t"))) // prune before the agg
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy(col("t"))
      .agg(count(lit(1)).cast("double").as("nd"))
      .select(col("t"),
        log(lit(1.0) + (lit(nDocs) - col("nd") + 0.5) /
          (col("nd") + 0.5)).as("idf"))
    tf.join(broadcast(idf), "t")
      .join(lens, "doc_id")
      .select(col("doc_id"),
        (col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
          .as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("bm25"))
  }

  /** Token-budget source mixing — [[temperatureMix]]'s contract at the
    * granularity pretraining actually budgets by: each source gets a
    * TOKEN budget ∝ (its token count)^alpha (normalized over the whole
    * corpus, so alpha<1 up-weights small sources), and documents are
    * kept in deterministic md5 order until the inclusive token running
    * sum fills the budget. Reproducible across engines, runs, and
    * repartitioning; returns the kept (source, id, n_toks) rows.
    *
    * Scale shape: the per-source running sum does NOT use a naive
    * per-source window (one task per source — a 10 TB source would
    * funnel through a single task). It is the prefixSum idiom applied
    * per key: the first 2 md5 hex chars give 256 range buckets that
    * are ORDER-ALIGNED with the md5 string order, per-(source, bucket)
    * totals roll into exclusive offsets with a tiny <=256-row-per-
    * source window, and the within-bucket cumsum window partitions by
    * (source, bucket) — per-task work is 1/256th of a source. Integer
    * addition is associative, so the result is identical to the flat
    * window (the DuckDB oracle's form). The per-source budget table
    * and offsets are broadcast; weights are integerized to micro-units
    * before normalizing so the budget boundaries derive from exact
    * integer operands in every engine (see the inline comment).
    * Rows with a NULL id hash to a NULL bucket and are dropped by the
    * offsets join — ids must be non-null (the prefixSum contract). */
  def tokenBudgetMix(df: DataFrame, sourceCol: String, idCol: String,
                     textCol: String, alpha: Double, budgetTokens: Long,
                     salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = df.select(col(sourceCol), col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_toks"),
      md5(concat(lit(s"$salt:"), col(idCol).cast("string"))).as("_tb_h"))
    // integerize the weights (micro-units) so the normalizing total is
    // an EXACT integer sum: double sums are order-dependent, and Spark
    // (partial-agg order) vs DuckDB (scan order) genuinely differ in
    // the last ulp — enough to flip a floor at a budget boundary. With
    // BIGINT weights both engines derive the budgets from the same
    // floor(budget * w_e6 / tw) double expression over identical
    // integer operands, so the boundary cannot diverge.
    val totals = lens.groupBy(col(sourceCol))
      .agg(sum(col("n_toks")).as("t_total"))
      .withColumn("w_e6",
        round(pow(col("t_total").cast("double"), alpha) * 1e6)
          .cast("long"))
    val twRow = totals.agg(sum(col("w_e6"))).head()
    // empty input: no sources, the joins below are empty anyway
    val tw = if (twRow.isNullAt(0)) 1L else twRow.getLong(0)
    val budgets = totals.withColumn("b_src",
        floor(lit(budgetTokens.toDouble) * col("w_e6") / lit(tw.toDouble))
          .cast("long"))
      .select(col(sourceCol), col("b_src"))
    val bucketed = lens.withColumn("_tb_b",
      conv(substring(col("_tb_h"), 1, 2), 16, 10).cast("int"))
    val wOff = Window.partitionBy(col(sourceCol)).orderBy(col("_tb_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy(col(sourceCol), col("_tb_b"))
      .agg(sum(col("n_toks")).as("_tb_bt"))
      .withColumn("_tb_off", coalesce(sum(col("_tb_bt")).over(wOff), lit(0L)))
      .select(col(sourceCol), col("_tb_b"), col("_tb_off"))
    val wIn = Window.partitionBy(col(sourceCol), col("_tb_b"))
      .orderBy(col("_tb_h"), col(idCol))
    bucketed
      .join(broadcast(offs), Seq(sourceCol, "_tb_b"))
      .withColumn("_tb_cum", col("_tb_off") + sum(col("n_toks")).over(wIn))
      .join(broadcast(budgets), sourceCol)
      .filter(col("_tb_cum") <= col("b_src"))
      .select(col(sourceCol), col(idCol), col("n_toks"))
  }

  /** Quality-temperature sampling: rank each row's `scoreCol` into
    * |rates| equal-probability quantile buckets (exact percentile
    * bounds) and keep rows by a per-bucket deterministic md5 rate —
    * the curation move that concentrates the token budget on
    * high-quality strata while keeping a floor of low-quality text
    * for robustness. `rates(0)` applies to the lowest-score bucket.
    * Returns the kept rows with their `bucket` index (0-based).
    *
    * Scale shape: one exact-percentile aggregate action yields the
    * nb−1 bounds (driver scalars, the tfidf precedent); bucket
    * assignment and the md5 threshold are scan-speed expressions —
    * zero shuffles beyond the bounds aggregate. Cross-engine
    * determinism: score ties at a bound all fall the same side of a
    * strict `>`, so with an integer-pinned score (e6 micro-units) the
    * bucketing cannot diverge between engines. */
  def quantileBucketSample(df: DataFrame, scoreCol: String, idCol: String,
                           rates: Seq[Double], salt: String): DataFrame = {
    require(rates.nonEmpty && rates.forall(r => r >= 0.0 && r <= 1.0),
      "rates must be non-empty keep probabilities in [0, 1]")
    val nb = rates.size
    val bounds: Seq[Double] =
      if (nb == 1) Seq.empty
      else {
        val probs = (1 until nb).map(i => s"${i.toDouble / nb}D")
          .mkString(", ")
        val row = df.agg(expr(s"percentile($scoreCol, array($probs))"))
          .head()
        // empty input: no bounds needed, the filter below sees no rows
        if (row.isNullAt(0)) Seq.empty else row.getSeq[Double](0)
      }
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(scoreCol) > lit(b), 1).otherwise(0) }
    val cuts = array(rates.map(r =>
      lit(math.floor(r * 4294967296.0).toLong)): _*)
    df.withColumn("bucket", bucket)
      .filter(md5Hash32(concat(lit(s"$salt:"), col(idCol).cast("string"))) <
        element_at(cuts, col("bucket") + 1))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under a TARGET
    * unigram model than under the RAW-corpus model,
    *
    *   logw(d) = Σ_{w∈d} tf(d,w) · [ln p_tgt(w) − ln p_raw(w)]
    *   p(w)    = (c(w) + α) / (N + α·V)       (add-α, shared vocab V)
    *
    * where the target counts come from the rows matching `isTarget`
    * (e.g. a trusted high-quality slice) and the raw counts from the
    * whole input. Documents are then kept by sampling ∝ exp(logw) —
    * the caller composes that with hashKeep/temperatureMix.
    *
    * Scale shape: ONE tokenize pass feeds a vocab-keyed partial
    * aggregate that carries both counts (c_all plus a conditional
    * c_tgt — no second corpus scan for the target model); the
    * frequency table is checkpointed so the totals action and the
    * probe join reuse it (the unigramRarity precedent); the per-token
    * log-ratio joins the (doc, term) tf table term-keyed — the planner
    * broadcasts the vocab-sized side while it fits the broadcast
    * threshold and shuffles both sides beyond it. Only the three total
    * scalars are collected. */
  def dsirImportanceWeights(df: DataFrame, idCol: String, textCol: String,
                            isTarget: Column, alpha: Double = 0.5)
      : DataFrame = {
    require(alpha > 0.0, "alpha must be positive (unsmoothed models " +
      "give -inf weights for tokens unseen in the target)")
    val tok = df.select(col(idCol).as("doc_id"), isTarget.as("is_tgt"),
        explode(TextOps.tokens(col(textCol))).as("t"))
    val cs = tok.groupBy(col("t"))
      .agg(count(lit(1)).cast("double").as("c_all"),
        sum(when(col("is_tgt"), 1.0).otherwise(0.0)).as("c_tgt"))
      .localCheckpoint(false)
    val tot = cs.agg(sum(col("c_all")), sum(col("c_tgt")),
      count(lit(1)).cast("double")).head()
    // empty corpus: output is empty regardless; 1.0 keeps ln finite
    val (nAll, nTgt, v) =
      if (tot.isNullAt(0)) (1.0, 1.0, 1.0)
      else (tot.getDouble(0), tot.getDouble(1), tot.getDouble(2))
    val lr = cs.select(col("t"),
      (log((col("c_tgt") + alpha) / (nTgt + alpha * v)) -
        log((col("c_all") + alpha) / (nAll + alpha * v))).as("llr"))
    tok.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(lr, "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_toks"),
        sum(col("tf") * col("llr")).as("dsir_logw"))
  }

  /** Per-document repetition statistics — the Gopher-style repetition
    * signals (Rae et al. 2021, "Scaling Language Models", table A1)
    * that catch boilerplate and degenerate generations: duplicate-token
    * fraction, most-frequent-token fraction, duplicate-2-gram fraction,
    * plus token count and mean token length for the length rules.
    *
    * Relational formulation: tokens explode once into (doc, term)
    * counts -> per-doc rollup; 2-grams explode once into a per-doc
    * DISTINCT count. The total 2-gram count needs no second pipeline
    * pass at all — it is exactly n_tokens - 1 (0 below 2 tokens).
    * (An array-expression 2-gram side was dropped: referencing the
    * shingle array from both size() and size(array_distinct()) ran the
    * tokenizer+shingle build twice per row after projection collapse.)
    * One join keyed by doc_id puts the sides together — at 100 TB both
    * inputs are already hash-partitioned by doc_id from their
    * aggregations, so AQE plans it without an extra exchange; the join
    * is LEFT because sub-2-token docs produce no 2-gram rows. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val tokAgg = toks
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"),
        sum(length(col("t")) * col("c")).as("len_sum"))
    val gramDistinct = toks
      .select(col("doc_id"),
        explode(TextOps.shinglesFromTokens(col("toks"), 2)).as("g"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n2d"))
    val n2 = greatest(col("n_tokens") - 1, lit(0L))
    tokAgg.join(gramDistinct, Seq("doc_id"), "left").select(
      col("doc_id"), col("n_tokens"),
      (col("len_sum").cast("double") / col("n_tokens"))
        .as("mean_token_len"),
      (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
        .as("dup_token_frac"),
      (col("top_c").cast("double") / col("n_tokens"))
        .as("top_token_frac"),
      when(n2 <= 0, lit(0.0))
        .otherwise(lit(1.0) -
          coalesce(col("n2d"), lit(0L)).cast("double") / n2)
        .as("dup_2gram_frac"))
  }

  /** Gopher-style quality gate over [[repetitionStats]] columns:
    * token count and mean token length inside sane bounds, repetition
    * fractions below caps. Thresholds are corpus-tunable arguments;
    * the defaults are the Gopher rules rescaled to short synthetic
    * docs. Pure predicate — composes with pushdown. */
  def gopherKeep(nTokens: Column, meanTokenLen: Column,
                 topTokenFrac: Column, dup2gramFrac: Column,
                 minTokens: Int = 20, maxTokens: Int = 100000,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 maxTopFrac: Double = 0.1,
                 maxDup2gram: Double = 0.25): Column =
    nTokens.between(minTokens, maxTokens) &&
      meanTokenLen.between(minMeanLen, maxMeanLen) &&
      topTokenFrac <= maxTopFrac && dup2gramFrac <= maxDup2gram

  /** Corpus-wide top-k token n-grams by occurrence count (the vocab /
    * BPE-merge-candidate builder): one explode + one count aggregation
    * with map-side combine, then a global top-k (TakeOrderedAndProject
    * — each partition keeps k rows, the driver merges; no full sort).
    * Ties broken lexicographically for a total order. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int)
      : DataFrame =
    df.select(TextOps.tokens(col(textCol)).as("toks"))
      .select(explode(TextOps.shinglesFromTokens(col("toks"), n))
        .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)

  /** Token-distribution drift between two corpora (snapshot
    * monitoring: did this week's crawl change vocabulary?): per token,
    * both counts and the Laplace-smoothed log-probability ratio
    * `ln((ca+1)/(na+V)) - ln((cb+1)/(nb+V))`; the top `k` drifted
    * tokens ranked by EXACT integer count difference (|ca-cb| desc,
    * token asc — fp never decides membership or order). Two
    * token-keyed partial-agg shuffles + a vocab-sized full-outer
    * join; the three scalars (token totals, vocab size) come off the
    * checkpointed join, so each corpus is tokenized once. */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String, topK: Int)
      : DataFrame = {
    def freqs(df: DataFrame, as: String) = df
      .select(explode(TextOps.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as(as))
    val j = freqs(a, "ca").join(freqs(b, "cb"), Seq("t"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
      .localCheckpoint(false)
    val tot = j.agg(sum(col("ca")), sum(col("cb")), count(lit(1))).head()
    // empty corpora: sums are NULL; the join is empty so the scalars
    // are unused — v=1 just keeps the ln argument finite
    val (na, nb, v) =
      if (tot.isNullAt(0)) (0L, 0L, 1L)
      else (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    j.withColumn("lr",
        log((col("ca").cast("double") + 1.0d) / lit((na + v).toDouble)) -
          log((col("cb").cast("double") + 1.0d) / lit((nb + v).toDouble)))
      .orderBy(abs(col("ca") - col("cb")).desc, col("t"))
      .limit(topK)
      .select(col("t"), col("ca"), col("cb"), col("lr"))
  }

  /** Distributed BPE merge training — the tokenizer-training step of
    * an LLM data pipeline. Standard algorithm: train on the WORD
    * FREQUENCY table (vocabulary-sized — the corpus is scanned once to
    * build it, never again), where each word is a symbol sequence
    * starting at characters; each round counts adjacent symbol pairs
    * weighted by word frequency (one partial-aggregated shuffle),
    * takes the most frequent pair (count desc, pair asc — a total
    * order over exact integers, so the learned merges are
    * reproducible in any engine), and rewrites the sequences with a
    * left-to-right greedy merge fold.
    *
    * Returns the merge table (rank, pair, cnt) — `nMerges` rows. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame =
    bpeTrain(df, textCol, nMerges, batch = 1)

  /** Batched variant: up to `batch` merges are selected per Spark
    * round instead of one. A real tokenizer is 32k merges — at one
    * driver round (pair-count job + rewrite job) per merge that is
    * 32k Spark jobs; batching brings it to nMerges/batch rounds.
    *
    * Standard batched-BPE selection: the round's pair counts are
    * ranked once, then candidates join the batch greedily only if
    * NEITHER of their symbols appears in an earlier pick of the same
    * batch — disjoint symbol sets mean the merges cannot interact, so
    * replaying them in rank order inside one rewrite pass is
    * well-defined. It remains an approximation of exact BPE: counts
    * recorded for later picks are pre-batch counts (the trade every
    * batched trainer makes). `batch = 1` IS exact BPE — the selection
    * degenerates to the single argmax and the recorded counts are the
    * true per-merge maxima. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int, batch: Int)
      : DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = df.sparkSession
    // word-frequency table; each word as its character sequence
    // (sequence + substr — mirrors the oracle's substr-based split)
    var cur = df
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      // blank docs tokenize to one empty token; drop it — Spark's
      // sequence(1, 0) would return a DESCENDING [1, 0] and fabricate
      // two phantom empty symbols (the oracle's range(1, 1) is empty)
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("c"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("s"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val want = math.min(batch, nMerges - merges.length)
      // over-fetch so the disjointness filter usually still fills the
      // batch; bounded, so the driver collect stays tiny
      val top = cur
        .select(col("c"),
          explode(zip_with(col("s"),
            slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
            (x, y) => concat(x, lit(" "), y))).as("pair"))
        // zip_with pads the shorter slice with null -> the last element
        // becomes a null pair; drop it (concat propagates the null)
        .filter(col("pair").isNotNull)
        .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(if (want == 1) 1 else want * 4)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = top.iterator.flatMap { r =>
          val pair = r.getString(0)
          val Array(a, b) = pair.split(" ", 2)
          if (used(a) || used(b)) None
          else { used += a; used += b; Some((pair, a, b, r.getLong(1))) }
        }.take(want).toSeq
        picked.foreach { case (pair, _, _, cnt) =>
          merges += ((merges.length + 1, pair, cnt))
        }
        // one rewrite pass replays the batch in rank order
        val rewritten = picked.foldLeft(col("s")) { case (s, (_, a, b, _)) =>
          split(trim(mergeFold(s, a, b)), " ")
        }
        cur = cur.select(col("c"), rewritten.as("s"))
          .localCheckpoint(false)
      }
    }
    spark.createDataFrame(merges.toSeq).toDF("rank", "pair", "cnt")
  }

  /** Per-document bigram surprisal — the KenLM/CCNet-style fluency
    * signal one level up from [[unigramRarity]]: a bigram language
    * model with add-one (Laplace) smoothing is trained on the corpus
    * itself, and each document is scored by its mean negative
    * log-likelihood in nats:
    *
    *   nll(doc) = -mean over bigrams (a b) of
    *              ln((c(a b) + 1) / (c(a) + V))
    *
    * where c(·) are exact corpus counts and V is the vocabulary size.
    * High nll = improbable token transitions (gibberish, OCR noise,
    * boilerplate soup); low nll = fluent, corpus-typical text. This is
    * the standard perplexity-filtering shape (CCNet trains KenLM on a
    * reference corpus; self-training keeps the operator closed over
    * its input, like [[unigramRarity]]).
    *
    * Plan shape at 100 TB: the bigram and unigram count tables are
    * token-keyed partial aggregations (vocab-sized outputs, corpus-
    * sized inputs); the probability table is their join on the history
    * token (vocab²-bounded but corpus-bounded in practice — only
    * OBSERVED bigrams exist); the per-doc score is one instance join
    * on the bigram string + one doc-keyed aggregation. V is the only
    * driver scalar. Documents with fewer than 2 tokens have no bigram
    * and drop out (score them with [[unigramRarity]] instead). */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // the corpus bigram table feeds BOTH the probability build and the
    // per-doc probe — materialize it once (the gram-table precedent in
    // DedupOps: the rebuild costs more than re-reading the rows)
    val bigrams = df.select(col(idCol).as("doc_id"),
        explode(TextOps.shinglesFromTokens(toks, 2)).as("b"))
      .localCheckpoint(false)
    val uni = df.select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("ca"))
      .localCheckpoint(false)
    val vocab = uni.count().max(1L)
    // probability table keyed by the bigram string: tokens never
    // contain whitespace (split on \s+), so the history token is
    // unambiguously everything before the separator space
    val probs = bigrams
      .groupBy(col("b")).agg(count(lit(1)).as("cab"))
      .withColumn("t", substring_index(col("b"), " ", 1))
      .join(uni, "t")
      .select(col("b"),
        (-log((col("cab").cast("double") + 1.0) /
          (col("ca").cast("double") + vocab.toDouble))).as("nll"))
      .localCheckpoint(false)
    bigrams.join(probs, "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nll")) / count(lit(1))).as("nll"))
  }

  /** Temperature-based source mixing — the multilingual/multi-domain
    * sampling scheme (Conneau & Lample 2019; mT5): source `s` with
    * `n_s` documents gets mixing weight `w_s = n_s^alpha / sum n_t^
    * alpha` (alpha < 1 upsamples the tail relative to its natural
    * share), and a document budget `B` turns the weights into
    * per-source keep rates `r_s = min(1, B * w_s / n_s)`. Selection is
    * the deterministic md5-threshold of [[hashKeep]], so the mix is
    * reproducible across runs, engines, and repartitioning.
    *
    * One tiny source-keyed aggregation (broadcast back), then a pure
    * filter — the mix runs at scan speed on 100 TB, like
    * [[stratifiedSample]]. Returns the kept rows with `n_total` (the
    * source's original size) attached. Oversupplied rates clamp to 1;
    * budgets are EXPECTED counts (hash thresholds select
    * binomially-close, not exact, subsets). */
  def temperatureMix(df: DataFrame, sourceCol: String, idCol: String,
                     alpha: Double, budget: Long, salt: String)
      : DataFrame = {
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("w", pow(col("n_total").cast("double"), alpha))
    val twRow = counts.agg(sum(col("w"))).head()
    // empty input: no sources, the joins below are empty anyway
    val tw = if (twRow.isNullAt(0)) 1.0 else twRow.getDouble(0)
    val cuts = counts.withColumn("cut",
        floor(least(lit(1.0),
          lit(budget.toDouble) * col("w") / lit(tw) /
            col("n_total").cast("double")) * lit(4294967296.0))
          .cast("long"))
      .select(col(sourceCol), col("n_total"), col("cut"))
    df.join(broadcast(cuts), sourceCol)
      .filter(md5Hash32(concat(lit(s"$salt:"), col(idCol).cast("string")))
        < col("cut"))
      .drop("cut")
  }

  /** BPE encoding — the apply side of [[bpeTrain]]: each corpus word
    * starts as its character sequence and the ordered merge list is
    * replayed over it with the SAME greedy left-to-right fold used in
    * training, yielding the word's subword count. Per document the
    * operator returns the whitespace-token count and the total subword
    * count — the numbers a 100 TB pipeline actually needs from its
    * tokenizer (cost estimation, packing budgets, per-doc length
    * filters).
    *
    * Scale shape: encoding happens once per DISTINCT word (the
    * vocab-sized aggregate), not once per token instance — the merge
    * replay is a chain of `nMerges` fold expressions over a short
    * array, so doing it on the vocabulary and joining back is orders
    * of magnitude cheaper than encoding every instance of "the". The
    * instance join is token-keyed (broadcast when the vocab is small);
    * the per-doc rollup is one partial-aggregated shuffle. Empty
    * tokens (blank docs) are outside the trained vocabulary and drop,
    * as in [[bpeTrain]]. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[String]): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val encoded = merges.foldLeft(chars) { (s, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      split(trim(mergeFold(s, a, b)), " ")
    }
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"), size(encoded).cast("long").as("n_sub"))
      .localCheckpoint(false)
    toks.join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("n_sub")).as("n_subwords"))
  }

  /** Count–min-sketch frequency estimation checked against exact
    * counts: builds a depth×width CMS over the token stream (md5 row
    * hashes — the cross-engine hash idiom) and reports, for the topK
    * exact heavy hitters, both the exact count and the sketch
    * estimate (always ≥ exact; equal when no collision).
    *
    * Scale shape: the sketch is the POINT — a fixed depth×width
    * integer grid regardless of corpus size, built in one token-keyed
    * partial-agg shuffle (each task reduces to ≤ depth·width partial
    * cells before shuffling) and trivially mergeable across days or
    * shards. The exact side here exists to verify the estimate; a
    * production monitor ships only the grid. */
  def cmsHeavyHitters(df: DataFrame, textCol: String,
                      depth: Int = 4, width: Int = 256,
                      topK: Int = 20): DataFrame = {
    // deliberately NOT checkpointed: materializing the exploded token
    // stream would write the whole corpus to disk; re-tokenizing for
    // the (verification-only) exact side is the cheaper trade
    val tok = df.select(explode(TextOps.tokens(col(textCol))).as("t"))
    val top = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(topK)
    cmsEstimate(cmsSketch(df, textCol, depth, width), top, "t",
        depth, width)
      .join(top, "t")
      .select(col("t"), col("c"), col("est"))
  }

  /** The deterministic CMS bucket for hash row `j`: md5Hash32 over a
    * row-salted term, mod width — one definition shared by sketch
    * build and estimation so they cannot drift. */
  private def cmsBucket(j: Int, t: Column, width: Int): Column =
    pmod(md5Hash32(concat(lit(s"cms$j:"), t)), lit(width.toLong))

  /** Count-min sketch TABLE for a corpus's token stream: one row per
    * (hash row j, bucket b) with the occurrence count n. depth x width
    * rows regardless of corpus size; cells are counters, so two
    * sketches of the same depth/width merge exactly by summing `n`
    * per (j, b). */
  def cmsSketch(df: DataFrame, textCol: String, depth: Int = 4,
                width: Int = 256): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("t"))
      .select(posexplode(array((0 until depth)
        .map(j => cmsBucket(j, col("t"), width)): _*)).as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("n"))

  /** Point estimates from a [[cmsSketch]] table for candidate terms:
    * min over the term's depth buckets (the classic CMS upper-bound
    * estimate). The candidate side is exploded depth ways and
    * LEFT-joined bucket-keyed against the depth x width sketch —
    * never against the corpus — with absent buckets counting as zero,
    * so a term the sketch never saw correctly estimates 0 instead of
    * vanishing from the output (or, worse, taking its min over only
    * the non-empty buckets it happens to collide into).
    * Output: t, est. */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, termCol: String,
                  depth: Int = 4, width: Int = 256): DataFrame =
    terms.select(col(termCol).as("t")).distinct()
      .select(col("t"), posexplode(array((0 until depth)
        .map(j => cmsBucket(j, col("t"), width)): _*)).as(Seq("j", "b")))
      .join(sketch, Seq("j", "b"), "left")
      .groupBy(col("t"))
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))

  /** Per-source KL divergence from the whole-corpus token
    * distribution (Laplace-smoothed over the corpus vocabulary) — the
    * source-level drift/outlier monitor: a source whose text stops
    * looking like the corpus (spam burst, scraper breakage, language
    * shift) jumps in KL.
    *
    * One token-keyed partial-agg shuffle builds (source, token)
    * counts; everything after is vocabulary-sized: corpus frequencies
    * derive from the checkpointed counts (no second corpus pass), the
    * vocab × sources grid left-joins the counts so unseen (source,
    * token) pairs contribute their smoothed mass, and per-source
    * totals broadcast. The grid is |vocab| × |sources| rows — the
    * monitoring table's natural size; sample the vocabulary first if
    * both are extreme. */
  def sourceKlDivergence(df: DataFrame, srcCol: String, textCol: String)
      : DataFrame = {
    val tok = df.select(col(srcCol).as("source"),
      explode(TextOps.tokens(col(textCol))).as("t"))
    val ct = tok.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val corpus = ct.groupBy(col("t")).agg(sum(col("c")).as("cc"))
    val srcTotals = ct.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val Array(vocabV, totalN) = {
      val r = corpus.agg(count(lit(1)), sum(col("cc"))).head()
      if (r.isNullAt(1)) Array(1.0, 0.0)
      else Array(r.getLong(0).toDouble, r.getLong(1).toDouble)
    }
    val ps = (coalesce(col("c"), lit(0L)).cast("double") + 1.0d) /
      (col("ns").cast("double") + lit(vocabV))
    val pc = (col("cc").cast("double") + 1.0d) / lit(totalN + vocabV)
    corpus.crossJoin(broadcast(srcTotals))
      .join(ct, Seq("source", "t"), "left")
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_toks"),
        sum(ps * log(ps / pc)).as("kl"))
  }

  /** Distributed binary logistic regression by full-batch gradient
    * descent — the quality-classifier training step of a curation
    * pipeline (fastText-style doc scoring), expressed Spark-first:
    * the weight vector lives driver-side (d+1 doubles — the only
    * state), and each iteration is ONE aggregation over the cached
    * feature projection computing sum_rows (sigmoid(w·x) - y) * x_j
    * per feature with map-side partial aggregation. Per-iteration
    * cluster traffic is partitions × (d+2) doubles, independent of
    * corpus size; features never leave the cluster. z is built
    * strictly left-to-right (b + w1·x1 + ... ) and the update is
    * w_j - lr * sum_j / n, so an engine replaying the same arithmetic
    * (see the unrolled-CTE DuckDB oracle) reproduces the weights to
    * float noise.
    *
    * Returns ONE row: w0 (bias), w1..wd, acc (training accuracy at
    * the z >= 0 decision boundary), n. */
  def logisticRegressionGd(df: DataFrame, features: Seq[Column],
      label: Column, iters: Int, lr: Double): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val d = features.size
    val data = df.select(label.cast("double").as("y") +:
        features.zipWithIndex.map { case (c, i) =>
          c.cast("double").as(s"x$i") }: _*)
      .localCheckpoint(false) // scanned once per iteration + once final
    val w = gdWeights(data, d, iters, lr)
    val zf = zOf(w, d)
    val correct = sum(when((zf >= 0.0) === (col("y") === 1.0), 1L)
      .otherwise(0L))
    val outCols = count(lit(1)).as("n") +: correct.as("n_correct") +:
      (0 to d).map(j => min(lit(w(j))).as(s"w$j"))
    data.agg(outCols.head, outCols.tail: _*)
      .select((0 to d).map(j => col(s"w$j")) ++ Seq(
        (col("n_correct").cast("double") / col("n")).as("acc"),
        col("n")): _*)
  }

  /** ((w0 + w1*x0) + w2*x1) + … — the fold order every engine mirrors
    * (the oracle parenthesizes identically, so the doubles match
    * bit-for-bit given equal weights). */
  private def zOf(w: Array[Double], d: Int): Column =
    (0 until d).foldLeft(lit(w(0)): Column) { (acc, j) =>
      acc + lit(w(j + 1)) * col(s"x$j")
    }

  /** The GD training loop shared by [[logisticRegressionGd]] and
    * [[logisticTrainScore]]: one map-side-combined aggregation job per
    * iteration; the d+1 weights live as driver doubles and return as
    * plan literals. `data` must carry columns y, x0..x{d-1}. */
  private def gdWeights(data: DataFrame, d: Int, iters: Int,
      lr: Double): Array[Double] = {
    var w = Array.fill(d + 1)(0.0)
    for (_ <- 1 to iters) {
      val p = lit(1.0) / (lit(1.0) + exp(-zOf(w, d)))
      val aggs = (count(lit(1)).as("n") +: sum(p - col("y")).as("g0") +:
        (0 until d).map(j =>
          sum((p - col("y")) * col(s"x$j")).as(s"g${j + 1}")))
      val r = data.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getLong(0).toDouble
      w = Array.tabulate(d + 1)(j => w(j) - lr * r.getDouble(j + 1) / n)
    }
    w
  }

  /** The INFERENCE half of the quality-classifier loop — the
    * FineWeb/DCLM score-and-filter pattern: train the logistic model
    * (same GD loop as [[logisticRegressionGd]]), then score EVERY row
    * with the trained weights inlined as plan literals. Scoring is a
    * pure projection at scan speed: no join, no shuffle, no driver
    * funnel — exactly how a 100 TB corpus gets quality-scored by a
    * model whose weights fit in a plan. Returns (id, score) with
    * score = sigmoid((w0 + w1*x0) + w2*x1 + …). */
  def logisticTrainScore(df: DataFrame, idCol: String,
      features: Seq[Column], label: Column, iters: Int,
      lr: Double): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val d = features.size
    val data = df.select(Seq(col(idCol).as("id"),
        label.cast("double").as("y")) ++
        features.zipWithIndex.map { case (c, i) =>
          c.cast("double").as(s"x$i") }: _*)
      .localCheckpoint(false) // scanned once per iteration + once scoring
    val w = gdWeights(data, d, iters, lr)
    data.select(col("id"), col("y"),
      (lit(1.0) / (lit(1.0) + exp(-zOf(w, d)))).as("score"))
  }

  /** Per-group quality-greedy token-budget fill — downsampling a hot
    * domain to a token quota while keeping its BEST documents (the
    * complement of [[tokenBudgetMix]]'s hash-uniform fill): documents
    * rank within their group by (quality desc, id), and a document is
    * kept iff the tokens of strictly better documents haven't already
    * consumed the budget (the packSequences greedy — the boundary doc
    * may straddle the quota). Integer cumulative sums; deterministic
    * whenever the quality doubles are (libm-free signals like
    * qualityScoreRaw qualify).
    *
    * Scale shape: one window per group (rank + running sum share the
    * same spec, one Exchange + one Sort keyed by group). Groups are
    * domains/sources — if a single group outgrows a task, pre-split
    * with the [[globalRank]] value-bucket two-pass per group. Appends
    * q_rank, cum_before, kept. */
  def qualityBudgetFill(df: DataFrame, groupCol: String, idCol: String,
                        tokenCol: String, qualityCol: String,
                        budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(qualityCol).desc, col(idCol))
    df.withColumn("q_rank", row_number().over(w))
      .withColumn("cum_before",
        coalesce(sum(col(tokenCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("kept", col("cum_before") < lit(budgetTokens))
  }

  /** PMI-lift collocations (word2vec-style phrase mining, Mikolov et
    * al. 2013): the top-K token bigrams by association lift
    * N_uni^2 * c(ab) / (c(a) * c(b) * N_big) — the exp of PMI, which
    * ranks identically to PMI itself but never calls ln: every factor
    * is an exact integer, the chained divisions are IEEE ops on exact
    * operands, so the lift doubles (and therefore the ranking and the
    * e6 pin) are engine-independent. `minCount` suppresses the
    * rare-pair lift explosion (the standard PMI failure mode).
    *
    * Scale shape: one bigram-keyed and one unigram-keyed partial-
    * aggregated count, two broadcast joins of the vocabulary-sized
    * unigram table onto the bigram table keyed by each side, scalar
    * totals broadcast, and a TakeOrdered top-K — no global sort. */
  def collocations(df: DataFrame, textCol: String, minCount: Int,
                   topK: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val base = df.select(toks.as("__t"))
    val uni = base.select(explode(col("__t")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val big = base
      .select(explode(TextOps.shinglesFromTokens(col("__t"), 2))
        .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("__a", split(col("gram"), " ").getItem(0))
      .withColumn("__b", split(col("gram"), " ").getItem(1))
    val nUni = uni.agg(sum(col("cw")).as("n_uni"))
    val nBig = base
      .select((greatest(size(col("__t")) - 1, lit(0))).as("nb"))
      .agg(sum(col("nb")).as("n_big"))
    val ua = uni.select(col("w").as("__a"), col("cw").as("c_a"))
    val ub = uni.select(col("w").as("__b"), col("cw").as("c_b"))
    big.join(broadcast(ua), "__a").join(broadcast(ub), "__b")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
      .withColumn("lift",
        col("c_ab").cast("double") * col("n_uni").cast("double") *
          col("n_uni").cast("double") / col("c_a").cast("double") /
          col("c_b").cast("double") / col("n_big").cast("double"))
      .orderBy(col("lift").desc, col("gram"))
      .limit(topK)
      .select(col("gram"), col("c_ab"), col("c_a"), col("c_b"),
        col("lift"))
  }

  /** Zipf rank–frequency fit — the standard corpus-health diagnostic
    * (natural corpora fit ln(freq) ≈ icept + slope·ln(rank) with slope
    * near −1; template/boilerplate-heavy or synthetic corpora deviate).
    * Fits ordinary least squares over the `topK` most frequent tokens.
    *
    * Scale shape: one token-keyed partial-aggregated shuffle builds
    * the vocabulary-sized frequency table; the top-K selection is a
    * TakeOrdered (no full sort — only each partition's top K ships);
    * the rank window then runs over K rows, not the vocabulary. The
    * corpus itself is scanned exactly once. Output: one row
    * (n_terms, slope, icept). */
  def zipfFit(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(TextOps.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val top = freq.orderBy(col("c").desc, col("t")).limit(topK)
    val w = Window.orderBy(col("c").desc, col("t"))
    top.withColumn("rank", row_number().over(w))
      .agg(count(lit(1)).as("n_terms"),
        regr_slope(log(col("c")), log(col("rank"))).as("slope"),
        regr_intercept(log(col("c")), log(col("rank"))).as("icept"))
  }

  /** Corpus-self-trained multinomial Naive Bayes classifier — the
    * classic cheap quality/language classifier of data pipelines
    * (fastText-shaped: linear over token counts). Trains on
    * (`labelCol`, token) counts with Laplace smoothing and scores
    * every document against every class:
    *
    *   score(d, l) = ln(docs_l / N) + Σ_t cnt(d,t) · ln((c(l,t)+1) /
    *                 (tokens_l + V))
    *
    * Output: (doc_id, label, pred, scr) — the true label, the argmax
    * class (ties broken by smaller class name on the ROUNDED score, so
    * the decision is engine-independent), and the winning score.
    *
    * Scale shape: the model is vocabulary-sized — class-conditional
    * counts pivot into one row per token (classes are a collected
    * handful), broadcast-joined (when small) against the
    * per-document token counts; class priors and totals are collected
    * scalars. The corpus pays two token-keyed partial-agg shuffles
    * (model build + doc-term counts) and one doc-keyed final
    * aggregation — nothing is ever keyed by (doc × class) except the
    * final K-column projection. */
  def naiveBayesLang(df: DataFrame, idCol: String, textCol: String,
                     labelCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      col(labelCol).as("label"), col(textCol).as("text"))
    nbTrainScore(base, base.select(col("doc_id"), col("text")))
      .join(base.select(col("doc_id"), col("label")), "doc_id")
      .select(col("doc_id"), col("label"), col("pred"), col("scr"))
  }

  /** The train/score core behind [[naiveBayesLang]] and
    * [[detectLanguage]]: fit the multinomial model on `train`
    * (doc_id, label, text) and score `score` (doc_id, text) — the two
    * may differ, which is what lets the default lang-id path train on
    * the labeled subset and predict the whole corpus. Returns
    * (doc_id, pred, scr) for every score doc with >= 1 token (every
    * token scores — out-of-vocabulary ones via the Laplace floor, so
    * only token-less docs drop out and fall to the caller's fallback).
    * Empty/unlabeled train => empty result (schema preserved). */
  private def nbTrainScore(train: DataFrame, score: DataFrame): DataFrame = {
    val tok = train.select(col("doc_id"), col("label"),
      explode(TextOps.tokens(col("text"))).as("t"))
    // classes with doc priors: a handful of rows (needed first — the
    // pivot's value list pins the model's column set)
    val classes = train.groupBy(col("label"))
      .agg(count(lit(1)).as("nd")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    if (classes.isEmpty)
      return score.select(col("doc_id"), lit("").as("pred"),
        lit(0.0d).as("scr")).where(lit(false))
    val nDocs = classes.map(_._2).sum.toDouble
    // the whole trained model is ONE vocab-sized wide table, built in
    // a single token-keyed shuffle (pivot = conditional counts);
    // per-class token totals and the vocabulary size are a single tiny
    // aggregate over the (checkpointed) model — no second corpus pass
    val wide = tok.groupBy(col("t"))
      .pivot("label", classes.map(_._1)).agg(count(lit(1)))
      .localCheckpoint(false)
    val statsRow = wide.agg(count(lit(1)).as("v"),
      classes.map { case (l, _) => sum(col(s"`$l`")).as(s"t_$l") }: _*)
      .head()
    val vocabV = statsRow.getLong(0).toDouble
    val tokTotals = classes.indices
      .map(i => classes(i)._1 ->
        (if (statsRow.isNullAt(i + 1)) 0L else statsRow.getLong(i + 1)))
      .toMap
    val dt = score
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("cnt"))
    // LEFT join so out-of-vocabulary tokens (impossible when score ==
    // train, routine otherwise) still contribute their Laplace-floor
    // log-probability instead of silently dropping the token
    val scored = dt.join(wide, Seq("t"), "left")
    val scoreCols = classes.map { case (l, nd) =>
      val denom = tokTotals.getOrElse(l, 0L).toDouble + vocabV
      (lit(math.log(nd / nDocs)) +
        sum(col("cnt") *
          log((coalesce(col(s"`$l`"), lit(0L)).cast("double") + 1.0d) /
            lit(denom)))).as(s"s_$l")
    }
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    // argmax with deterministic ties: min of (-rounded score, class)
    val best = array_min(array(classes.map { case (l, _) =>
      struct((-round(col(s"`s_$l`"), 4)).as("ns"), lit(l).as("l"))
    }: _*))
    perDoc
      .withColumn("pred", best.getField("l"))
      .withColumn("scr", -best.getField("ns"))
      .select(col("doc_id"), col("pred"), col("scr"))
  }

  /** The DEFAULT language-ID path: train the corpus-self-supervised
    * Naive Bayes model on the rows where `labelCol` is present and
    * predict every document with it; documents the model cannot score
    * (no tokens, or an empty/absent training set) fall back to the
    * zero-training keyword vote ([[TextOps.langId]]). Pass `labelCol =
    * None` for the pure keyword path — the thin adapter mode the
    * keyword-era queries keep their contract through.
    *
    * Returns (doc_id, lang_pred, lang_src) with lang_src in
    * {"nb", "keyword"} so downstream filters can weight the two
    * sources differently. Scale shape: the NB side is the
    * vocabulary-sized model of [[naiveBayesLang]] (two token-keyed
    * shuffles + one doc-keyed aggregation); the keyword vote is a
    * scan-speed expression; the stitch is one left join on doc id. */
  def detectLanguage(df: DataFrame, idCol: String, textCol: String,
                     labelCol: Option[String],
                     markers: Seq[(String, Seq[String])],
                     default: String = "und"): DataFrame = {
    val kw = TextOps.langId(col("text"), markers, default)
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    labelCol match {
      case None =>
        base.select(col("doc_id"), kw.as("lang_pred"),
          lit("keyword").as("lang_src"))
      case Some(lc) =>
        val train = df.filter(col(lc).isNotNull)
          .select(col(idCol).as("doc_id"), col(lc).as("label"),
            col(textCol).as("text"))
        base.join(nbTrainScore(train, base), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("pred"), kw).as("lang_pred"),
            when(col("pred").isNotNull, lit("nb"))
              .otherwise(lit("keyword")).as("lang_src"))
    }
  }

  /** Greedy left-to-right BPE merge of adjacent (a, b) symbols inside
    * a symbol array, as a string fold both engines can express
    * identically: the accumulator is a space-joined symbol string with
    * a leading space, so an `ends_with(acc, " a")` test matches only
    * the WHOLE last symbol. */
  private def mergeFold(s: Column, a: String, b: String): Column = {
    // Spark's length()/substr() count CODE POINTS; JVM String.length
    // counts UTF-16 units — they disagree on astral-plane characters
    val aCp = a.codePointCount(0, a.length)
    aggregate(s, lit(" "), (acc, x) =>
      when(lit(b) === x && endswith(acc, lit(" " + a)),
        concat(acc.substr(lit(1), length(acc) - lit(aCp + 1)),
          lit(" " + a + b)))
      .otherwise(concat(acc, lit(" "), x)))
  }

  /** Exact global rank (1-based, total order by (value, id)) WITHOUT
    * a global sort — the building block for rank-normalized quality
    * ensembling (blend signals by rank instead of raw scale, the
    * FineWeb-style multi-signal filter). The winsorize bucketing: the
    * global value range splits into `nBuckets` order-aligned buckets
    * (two driver scalars), per-bucket counts roll into exclusive
    * offsets over a <= nBuckets-row window, and row_number runs
    * partitioned per bucket — per-task work is ~1/nBuckets of the
    * table, never the whole column through one task. Ranks are exact
    * integers, engine-independent whenever the value doubles are
    * (IEEE-deterministic arithmetic, no libm — e.g. qualityScoreRaw).
    * Rows with NULL values are dropped (no rank). Appends `outCol`. */
  def globalRank(df: DataFrame, valueCol: String, idCol: String,
                 outCol: String = "rank", nBuckets: Int = 256)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("__grv", col(valueCol).cast("double"))
    val gRow = base.agg(min(col("__grv")), max(col("__grv"))).head()
    if (gRow.isNullAt(0))
      return base.withColumn(outCol, lit(null).cast("long"))
        .drop("__grv")
    val (lo, hi) = (gRow.getDouble(0), gRow.getDouble(1))
    val bucketed =
      if (hi == lo) base.withColumn("__grb", lit(0))
      else base.withColumn("__grb",
        least(lit(nBuckets - 1),
          floor((col("__grv") - lit(lo)) * nBuckets / lit(hi - lo))
            .cast("int")))
    val offsets = bucketed.groupBy(col("__grb"))
      .agg(count(lit(1)).as("__grc"))
      .withColumn("__gro",
        coalesce(sum(col("__grc")).over(
          Window.orderBy(col("__grb"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__grb"), col("__gro"))
    bucketed.join(broadcast(offsets), "__grb")
      .withColumn(outCol,
        col("__gro") + row_number().over(
          Window.partitionBy(col("__grb"))
            .orderBy(col("__grv"), col(idCol))))
      .drop("__grv", "__grb", "__gro")
  }

  /** Boilerplate / template detection by within-group document
    * frequency (the CCNet line-dedup idea, generalized to n-grams for
    * corpora without line structure): an n-gram is boilerplate inside
    * its `groupCol` (domain / source) when it appears in at least
    * `pctThreshold`% of that group's documents. Emits per-doc
    * n_grams (distinct), n_boiler, and an `is_template` flag (more
    * than half the doc's grams are group-boilerplate).
    *
    * Scale shape: gram-doc pairs are aggregated gram-keyed (partial
    * agg) against a broadcast per-group doc count; the flagged
    * boilerplate set is inherently small (each gram must recur across
    * >= pct% of a group's docs, so the set is bounded by
    * 100/pct x grams-per-doc per group — template material, not
    * corpus material), so the count-back join broadcasts under AQE.
    * Documents shorter than n tokens have no grams and no output row
    * (same as the oracle). Integer outputs only. */
  def boilerplateGrams(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, n: Int = 2,
                       pctThreshold: Int = 20): DataFrame = {
    require(n >= 1 && pctThreshold >= 1 && pctThreshold <= 100,
      s"bad n=$n or pctThreshold=$pctThreshold")
    val toks = TextOps.tokens(col(textCol))
    val g = df.select(col(idCol).as("__id"), col(groupCol).as("__g"),
        explode(array_distinct(
          TextOps.shinglesFromTokens(toks, n))).as("__gram"))
    val groupDocs = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__nd"))
    val boiler = g.groupBy(col("__g"), col("__gram"))
      .agg(count(lit(1)).as("__df"))
      .join(broadcast(groupDocs), "__g")
      .filter(col("__df") * 100 >= col("__nd") * pctThreshold)
      .select(col("__g"), col("__gram"))
    val base = g.groupBy(col("__id")).agg(count(lit(1)).as("n_grams"))
    val nb = g.join(boiler, Seq("__g", "__gram"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__nb"))
    base.join(nb, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_grams"),
        coalesce(col("__nb"), lit(0L)).as("n_boiler"))
      .withColumn("is_template",
        col("n_boiler") * 100 >= col("n_grams") * 50)
  }

  /** Quantile normalization across groups (the batch-effect remover):
    * each row's value is replaced by the GLOBAL value at the same
    * rank fraction, so every group ends up with an identical score
    * distribution — "a 90th-percentile doc from a verbose source and
    * one from a terse source now carry the same normalized score".
    * Rank-based and integer-exact: within-group rank r of n_g maps to
    * global rank ceil(r * N / n_g), all in BIGINT arithmetic, then one
    * equi-join picks the global value — no floating interpolation, so
    * the result is engine-independent whenever `valueCol` is integer.
    *
    * Scale shape: the global side is [[globalRank]] (bucketed rank —
    * no single-partition sort); the per-group rank is a window over
    * data already shuffled by group; group sizes join broadcast. The
    * rank-lookup equi-join shuffles by global rank — uniform by
    * construction. Ties order by (value, id) on both sides.
    *
    * Output: group, id, value, norm (global value at the mapped
    * rank). */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("group"),
      col(idCol).as("id"), col(valueCol).as("value"))
    val g = globalRank(base, "value", "id", "grank")
      .select(col("grank"), col("value").as("norm"))
    val sizes = base.groupBy(col("group"))
      .agg(count(lit(1)).as("__ng"))
    val total = base.agg(count(lit(1)).as("__n"))
    base
      .withColumn("__r", row_number().over(Window.partitionBy(col("group"))
        .orderBy(col("value"), col("id"))))
      .join(broadcast(sizes), "group")
      .crossJoin(broadcast(total))
      .withColumn("grank",
        expr("(__r * __n + __ng - 1) DIV __ng"))
      .join(g, "grank")
      .select(col("group"), col("id"), col("value"), col("norm"))
  }

  /** Data-mixing reweighting: given per-group target mixture shares
    * (the "pretraining mix" table — e.g. 30% en, 25% code, ...),
    * compute each group's natural weight share and the sampling rate
    * that would realize the target from this corpus, capped at
    * `maxRate` effective epochs (the standard "don't repeat a small
    * source more than N times" rule). Groups absent from `targets`
    * get target share 0 (rate 0 — excluded from the mix); targets
    * naming groups ABSENT from the corpus surface as zero-weight
    * rows (n_rows 0, rate 0) instead of silently vanishing, so a
    * declared share that cannot be realized is visible in the output.
    *
    * Scale shape: one weight aggregation over the corpus (map-side
    * combined), a broadcast join against the tiny targets table, and
    * a broadcast of the single-row total — no windows, no
    * single-partition exchange. Weights are exact integer sums, so
    * nat_share / rate / expected weight are each one IEEE division or
    * multiply on exact operands — engine-independent.
    *
    * Output per group: n_rows, weight (sum of weightCol), tgt_share
    * (echoed), nat_share, rate (min(maxRate, tgt*total/weight)),
    * exp_weight (round(rate*weight) — the token count the mix would
    * draw from this group). */
  def mixtureReweight(df: DataFrame, groupCol: String, weightCol: Column,
                      targets: Seq[(String, Double)],
                      maxRate: Double): DataFrame = {
    require(maxRate > 0, s"maxRate must be > 0, got $maxRate")
    val spark = df.sparkSession
    import spark.implicits._
    val w = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"),
        sum(weightCol.cast("long")).as("weight"))
    val tgt = targets.toDF("group", "tgt_share")
    val total = w.agg(sum(col("weight")).as("__total"))
    // full outer (tgt side is a handful of rows — the exchange is
    // noise next to the corpus aggregation feeding `w`): targets for
    // absent groups must surface, not drop
    w.join(tgt, Seq("group"), "full_outer")
      .crossJoin(broadcast(total))
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
      .withColumn("weight", coalesce(col("weight"), lit(0L)))
      .withColumn("tgt_share", coalesce(col("tgt_share"), lit(0.0)))
      .withColumn("nat_share",
        col("weight").cast("double") / col("__total"))
      // weight 0 (group absent, or all-zero weights) => rate 0, not
      // the maxRate that least(maxRate, x/0 = Inf) would produce
      .withColumn("rate",
        when(col("weight") > 0,
          least(lit(maxRate),
            col("tgt_share") * col("__total") / col("weight")))
          .otherwise(lit(0.0)))
      .withColumn("exp_weight",
        round(col("rate") * col("weight"), 0).cast("long"))
      .select(col("group"), col("n_rows"), col("weight"),
        col("nat_share"), col("tgt_share"), col("rate"),
        col("exp_weight"))
  }

  /** Per-group z-score feature normalization + composite ranking: the
    * "normalize quality signals within each language, then take the
    * best K docs per language" selection step. Signals MUST be
    * integer-valued columns (counts, lengths): group moments are then
    * exact BIGINT sums, and mean / sd / z are a fixed sequence of IEEE
    * ops on exact operands — engine-independent, unlike
    * stddev_samp-style streaming accumulators whose result depends on
    * partial-aggregation order.
    *
    * sd uses the sample form sqrt((ss - s*s/n) / (n-1)) computed in
    * DOUBLE; a zero-variance or singleton group contributes z = 0.
    * composite = sum_i weight_i * z_i, folded left-to-right in signal
    * order. One corpus scan, one group aggregation (broadcast back),
    * one per-group top-K window over rows already shuffled by group.
    *
    * Output: group, id, the raw signals, composite, rank (1..topK by
    * composite desc, id asc tiebreak). */
  def zScoreRank(df: DataFrame, groupCol: String, idCol: String,
                 signals: Seq[(String, Column, Double)],
                 topK: Int): DataFrame = {
    require(signals.nonEmpty && topK >= 1,
      s"need signals and topK >= 1, got ${signals.size}, $topK")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(
      col(groupCol).as("group") +: col(idCol).as("id") +:
        signals.map { case (n, c, _) => c.cast("long").as(n) }: _*)
    val momentAggs = signals.flatMap { case (n, _, _) =>
      Seq(sum(col(n)).as(s"__s_$n"),
        sum(col(n) * col(n)).as(s"__ss_$n"))
    }
    val allAggs = count(lit(1)).as("__n") +: momentAggs
    val moments = base.groupBy(col("group"))
      .agg(allAggs.head, allAggs.tail: _*)
    val zCols = signals.map { case (n, _, _) =>
      val nn = col("__n").cast("double")
      val s = col(s"__s_$n").cast("double")
      val ss = col(s"__ss_$n").cast("double")
      val mean = s / nn
      // gate on the (exact-operand) variance numerator, not the sd:
      // sqrt never runs on a <= 0 argument, so zero-variance groups
      // can't diverge across engines on NaN semantics
      val varNum = ss - s * s / nn
      val sd = sqrt(varNum / (nn - lit(1.0)))
      when(col("__n") > 1 && varNum > 0,
        (col(n).cast("double") - mean) / sd).otherwise(lit(0.0))
        .as(s"__z_$n")
    }
    val composite = signals.map { case (n, _, w) =>
      lit(w) * col(s"__z_$n")
    }.reduceLeft(_ + _)
    val ranked = base.join(moments, "group")
      .select(col("group") +: col("id") +:
        (signals.map { case (n, _, _) => col(n) } ++ zCols): _*)
      .withColumn("composite", composite)
      .withColumn("rank", row_number().over(Window.partitionBy(col("group"))
        .orderBy(col("composite").desc, col("id"))))
      .filter(col("rank") <= topK)
    ranked.select(col("group") +: col("id") +:
      (signals.map { case (n, _, _) => col(n) } :+
        col("composite") :+ col("rank")): _*)
  }

  /** k-anonymity audit over quasi-identifier columns — the privacy
    * pre-release check a training-data pipeline runs after redaction:
    * rows whose quasi-identifier combination is shared by fewer than
    * `k` rows are re-identifiable ("at risk"). `quasi` are the
    * (name, expression) quasi-identifier columns (bucket continuous
    * values first — a raw length column makes every row unique and
    * the audit vacuous); `report` is the (name, expression) grouping
    * the risk report aggregates over.
    *
    * Scale shape: one (report, quasi*)-keyed partial-agg count over
    * the corpus, then one report-keyed rollup of the (bounded)
    * equivalence-class table. No windows, no driver collection; at
    * 100 TB the class table is the cardinality of the quasi grid, not
    * the corpus.
    *
    * Output per report group: n_rows, n_classes (distinct quasi
    * combos), min_class (smallest class size), n_small (classes with
    * < k rows), rows_at_risk (rows in those classes), risk ratio =
    * rows_at_risk / n_rows (double — pin at the call site). */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[(String, Column)],
                      report: (String, Column), k: Int): DataFrame = {
    require(quasi.nonEmpty && k >= 2, s"need quasi cols and k >= 2")
    val classes = df
      .select(report._2.as("__r") +:
        quasi.map { case (n, c) => c.as(s"__q_$n") }: _*)
      .groupBy(col("__r") +: quasi.map { case (n, _) =>
        col(s"__q_$n") }: _*)
      .agg(count(lit(1)).as("__cn"))
    classes.groupBy(col("__r").as(report._1))
      .agg(sum(col("__cn")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__cn")).as("min_class"),
        sum(when(col("__cn") < k, 1L).otherwise(0L)).as("n_small"),
        sum(when(col("__cn") < k, col("__cn")).otherwise(0L))
          .as("rows_at_risk"))
      .withColumn("risk",
        col("rows_at_risk").cast("double") / col("n_rows"))
  }

  /** Materialize a [[mixtureReweight]] mix into an explicit epoch
    * plan: every document emits floor(rate) full copies plus one
    * Bernoulli(frac(rate)) extra copy decided by the md5 hash of
    * (salt, id) — the deterministic realization of "repeat this
    * source 2.3 times" that a training-data writer consumes. The
    * expected emitted weight per group equals mixtureReweight's
    * exp_weight; zero-rate groups (no target, or absent) emit
    * nothing.
    *
    * Scale shape: the per-group rate table is broadcast back onto the
    * corpus scan (group count is mix-sized); each row expands via one
    * sequence-explode of at most ceil(maxRate) copy ids — no shuffle
    * beyond the rate aggregation itself. Determinism: copy count is
    * floor of an exact-operand double; the Bernoulli draw is the
    * [[hashKeep]] integer-threshold compare.
    *
    * Output: (group, id, copy) — copy 0..floor(rate), one row per
    * emitted copy. */
  def materializeMixture(df: DataFrame, groupCol: String, idCol: String,
                         weightCol: Column,
                         targets: Seq[(String, Double)],
                         maxRate: Double, salt: String): DataFrame = {
    val rates = mixtureReweight(df, groupCol, weightCol, targets,
        maxRate)
      .select(col("group"), col("rate"))
    val nFull = floor(col("rate")).cast("long")
    val frac = col("rate") - floor(col("rate"))
    val extraKeep = md5Hash32(concat(lit(s"$salt:"),
      col("id").cast("string"))) <
      floor(frac * lit(4294967296.0)).cast("long")
    df.select(col(groupCol).as("group"), col(idCol).cast("long").as("id"))
      .join(broadcast(rates), "group")
      .select(col("group"), col("id"),
        explode(when(nFull > 0 || extraKeep,
            sequence(lit(0L), nFull))
          .otherwise(array().cast("array<long>"))).as("copy"))
      .filter(col("copy") < nFull ||
        (col("copy") === nFull && extraKeep))
  }

  /** Differentially-private noisy group counts with DETERMINISTIC
    * (seeded) Laplace noise — the privacy-preserving release of a
    * histogram over sensitive groupings, reproducible across engines
    * and re-runs: u32 = md5Hash32(salt + ":" + group key);
    * u = (u32 + 0.5) / 2^32 in (0, 1); noise = -(1/eps) * sign(u-.5)
    * * ln(1 - 2|u-.5|) — the standard inverse-CDF Laplace draw with
    * the RNG replaced by the hash (same discipline as every sampler
    * in this file; a production release would swap in a true RNG,
    * the query shape is identical). Counts have sensitivity 1, so
    * scale 1/eps gives eps-DP per group.
    *
    * One partial-agg count over the corpus, then per-group scalar
    * math — nothing else. Output: group key columns, n (true count —
    * drop it in an actual release; kept here for the oracle), noisy
    * (double; pin at call site). */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
                    epsilon: Double, salt: String): DataFrame = {
    require(groupCols.nonEmpty && epsilon > 0,
      s"need group cols and epsilon > 0, got $epsilon")
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val key = concat_ws("|", groupCols.map(col): _*)
    val u = (md5Hash32(concat(lit(s"$salt:"), key)).cast("double") +
      lit(0.5)) / lit(4294967296.0)
    val c = u - lit(0.5)
    val noise = (-lit(1.0) / lit(epsilon)) * signum(c) *
      log(lit(1.0) - lit(2.0) * abs(c))
    counts.withColumn("noisy", col("n").cast("double") + noise)
  }

  /** Windowed co-occurrence PMI — the word2vec-statistics companion
    * to the adjacency-only [[collocations]]: token pairs co-occurring
    * within `window` positions inside a document, scored by pointwise
    * mutual information ln(p(a,b) / (p(a) p(b))) with p(a,b) over the
    * window-pair space and p(t) over the token space. Top `topK`
    * pairs by PMI (ties id-ordered) — the semantic-association probe
    * ("which tokens travel together beyond chance").
    *
    * Scale shape: the positional self-join is per-document and
    * window-bounded (tokens x window pairs per doc — linear in corpus
    * size for fixed window), followed by pair- and token-keyed
    * partial aggregations; the top-K cut is a TakeOrdered, not a
    * single-partition sort. PMI is ln of ONE double quotient of
    * exact integer products — mirror the op sequence in any oracle.
    *
    * Output: t1, t2 (t1 <= t2), c_pair, c1, c2, pmi (double — pin at
    * the call site). */
  def windowPmi(df: DataFrame, idCol: String, textCol: String,
                window: Int, minCount: Long, topK: Int): DataFrame = {
    require(window >= 1 && minCount >= 1 && topK >= 1,
      s"bad window=$window minCount=$minCount topK=$topK")
    val inv = df.select(col(idCol).as("__id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("p", "t")))
      .localCheckpoint(false)
    val uni = inv.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nTok = inv.count()
    val pairsRaw = inv.as("a").join(inv.as("b"),
        col("a.__id") === col("b.__id") && col("b.p") > col("a.p") &&
          col("b.p") - col("a.p") <= window)
      .select(least(col("a.t"), col("b.t")).as("t1"),
        greatest(col("a.t"), col("b.t")).as("t2"))
    val cp = pairsRaw.groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("c_pair"))
      .localCheckpoint(false)
    val nPairs = cp.agg(sum(col("c_pair"))).head().getLong(0)
    cp.filter(col("c_pair") >= minCount)
      .join(uni.select(col("t").as("t1"), col("c").as("c1")), "t1")
      .join(uni.select(col("t").as("t2"), col("c").as("c2")), "t2")
      .withColumn("pmi",
        log((col("c_pair").cast("double") * lit(nTok.toDouble) *
          lit(nTok.toDouble)) /
          (lit(nPairs.toDouble) * col("c1") * col("c2"))))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(topK)
      .select(col("t1"), col("t2"), col("c_pair"), col("c1"),
        col("c2"), col("pmi"))
  }

  /** nDCG@k retrieval-quality evaluation, one query per term: documents
    * are ranked by the per-term BM25 score (same formula as
    * [[bm25Scores]], not summed across terms) and graded by integer
    * term frequency, so DCG@k / IDCG@k compares the score-order against
    * the gain-order. Integer gains keep the ideal ranking
    * tie-order-free; both rankings tiebreak on doc id. Scale shape:
    * identical to [[bm25Scores]] (term-pruned tf, broadcast idf, one
    * doc-length join) plus two windows partitioned by term — the
    * partition count is |Q|, which is what a query-eval batch
    * parallelizes over.
    *
    * Output per term: term, n_docs (matching docs), dcg, idcg, ndcg
    * (doubles — pin at the call site). */
  def retrievalNdcg(df: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String], kTop: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(kTop > 0, s"kTop must be > 0, got $kTop")
    val toks = df.select(col(idCol).as("doc_id"),
      graft.operators.TextOps.tokens(col(textCol)).as("toks"))
    val lens = toks.select(col("doc_id"),
      size(col("toks")).cast("double").as("dl")).localCheckpoint(false)
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .head()
    val nDocs = stats.getLong(0).toDouble
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)
    val qset = array(queryTerms.map(t => lit(t.toLowerCase)): _*)
    val tf = toks
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(array_contains(qset, col("t")))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val idf = tf.groupBy(col("t"))
      .agg(count(lit(1)).cast("double").as("nd"))
      .select(col("t"),
        log(lit(1.0) + (lit(nDocs) - col("nd") + 0.5) /
          (col("nd") + 0.5)).as("idf"))
    val scored = tf.join(broadcast(idf), "t")
      .join(lens, "doc_id")
      .select(col("t"), col("doc_id"), col("tf"),
        (col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
          .as("score"))
    val byScore = Window.partitionBy(col("t"))
      .orderBy(col("score").desc, col("doc_id"))
    val byGain = Window.partitionBy(col("t"))
      .orderBy(col("tf").desc, col("doc_id"))
    // discount written as ln(r+1)/ln(2) on BOTH engines so the
    // expression shape is shared (log2() builtins may differ at ulp)
    val ln2 = log(lit(2.0))
    def disc(r: Column): Column = log(r.cast("double") + lit(1.0)) / ln2
    scored
      .withColumn("rnk", row_number().over(byScore))
      .withColumn("grank", row_number().over(byGain))
      .groupBy(col("t").as("term"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rnk") <= kTop, col("tf") / disc(col("rnk")))
          .otherwise(lit(0.0))).as("dcg"),
        sum(when(col("grank") <= kTop, col("tf") / disc(col("grank")))
          .otherwise(lit(0.0))).as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(0.0))
  }

  /** Weighted (multiset) Jaccard between every pair of groups' term
    * distributions: sum_t min(tf_a, tf_b) / sum_t max(tf_a, tf_b) —
    * the frequency-aware companion to the set-Jaccard vocabulary
    * comparison. Exact integer arithmetic end to end (the identity
    * sum max = tot_a + tot_b − sum min needs only the INNER join on
    * shared terms plus per-group totals — no full-outer union row
    * set), so the single ratio is the only double. Scale shape: the
    * pair enumeration joins on the TERM (shuffle key with corpus-wide
    * cardinality); the per-pair aggregate and the totals join are
    * group-count-sized.
    *
    * Output per pair (src_a < src_b): src_a, src_b, inter (sum-min),
    * tot_a, tot_b, wjacc (double — pin at the call site). */
  def weightedVocabJaccard(df: DataFrame, groupCol: String,
                           textCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        explode(graft.operators.TextOps.tokens(col(textCol))).as("t"))
      .groupBy(col("g"), col("t"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("tot"))
    val shared = counts.as("a")
      .join(counts.as("b"),
        col("a.t") === col("b.t") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("src_a"), col("b.g").as("src_b"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("inter"))
    totals.as("x")
      .join(totals.as("y"), col("x.g") < col("y.g"))
      .join(shared,
        col("x.g") === col("src_a") && col("y.g") === col("src_b"),
        "left")
      .select(col("x.g").as("src_a"), col("y.g").as("src_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        col("x.tot").as("tot_a"), col("y.tot").as("tot_b"))
      .withColumn("wjacc", col("inter").cast("double") /
        (col("tot_a") + col("tot_b") - col("inter")).cast("double"))
  }
}
