package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps, FunnelOps, GraphOps,
  MultimodalOps, ScaleOps, SequenceOps, SimilarityOps, TemporalJoinOps,
  TextOps, WindowOps}
import graft.sources.{InvertedIndexStore, IvfVectorStore, NearDupGraphStore}

/** North-star training-data-pipeline queries (BASELINE.json): dedup,
  * similarity search, text analysis, multimodal, temporal joins,
  * sampling — over the `documents`, `embeddings`, and `events`
  * tables. Every declared query carries a DuckDB oracle — including
  * the near-dup families (q26/q27 declare the cross-engine md5-parity
  * constructions; MinHash's xxhash64 fast path stays the library
  * default, spec-covered in NorthStarSpec) and the Welch p-value
  * (q34 — the incomplete-beta continued fraction is replayed in a
  * DuckDB recursive CTE).
  */
object NorthStar {
  /** Marker words drawn from the synthetic corpus vocabulary — the
    * operator is generic; the query pins a concrete config. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "scanic" -> Seq("scan", "row", "table", "filter"),
    "joinic" -> Seq("join", "merge", "key", "hash"),
    "streamic" -> Seq("stream", "window", "batch", "order"))

  val Stopwords: Seq[String] = Seq("a", "the", "and", "of", "to", "data")

  // q21 — exact dedup (hash-groupBy, one shuffle)
  private val q21: Q = (s, dir) => {
    DedupOps.exactDedup(t(s, dir, "documents"), "doc_id", "text")
      .ordered(col("keep_id"))
  }

  // q22 — text quality metrics (pure scan, no shuffle)
  private val q22: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"),
        e6(TextOps.stopwordRatio(col("text"), Stopwords))
          .as("stop_ratio_e6"),
        e6(TextOps.punctRatio(col("text"))).as("punct_ratio_e6"),
        e6(TextOps.qualityScoreRaw(col("text"), Stopwords))
          .as("quality_e6"))
      .ordered(col("doc_id"))
  }

  // q23 — language-ID distribution via the default detectLanguage
  // path in keyword (zero-training) mode: the thin adapter that keeps
  // this query's keyword-vote contract — and its oracle — unchanged
  // while the operator surface routes through one entry point (the NB
  // mode is exercised by q81 and the accuracy spec).
  private val q23: Q = (s, dir) => {
    CurationOps.detectLanguage(t(s, dir, "documents"), "doc_id", "text",
        labelCol = None, LangMarkers)
      .select(col("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("lang_pred"))
  }

  // q24 — MinHash document fingerprints (deterministic md5 minima;
  // shingles come from the zip_with builder, so inlining through
  // projection collapse cannot re-evaluate the tokenizer per element —
  // see CLAUDE.md's footgun note).
  private val q24: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(TextOps.shinglesFromTokens(col("toks"), 3)).as("sh"))
      .select(col("doc_id"),
        TextOps.minhash(col("sh"), 0).as("fp0"),
        TextOps.minhash(col("sh"), 1).as("fp1"))
      .ordered(col("doc_id"))
  }

  // q25 — exact 2-gram Jaccard pairs via inverted-index join
  private val q25: Q = (s, dir) => {
    DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q26 — MinHash-LSH near-dup dedup over the FULL corpus, md5-parity
  // signature path so DuckDB can replay it exactly (q47 covers the
  // same construction on a fixed slice). The xxhash64 fast path stays
  // the library default (DedupOps.minhashLshDedup) and is covered by
  // the recall-vs-exact spec in NorthStarSpec — it has no cross-engine
  // oracle because DuckDB lacks xxhash64.
  private val q26: Q = (s, dir) => {
    DedupOps.minhashLshDedupParity(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 2, k = 8, bands = 4, threshold = 0.2)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q27 — SimHash near-dup candidates over the FULL corpus, 32-bit
  // md5 fingerprints for cross-engine parity (q48 = fixed slice).
  private val q27: Q = (s, dir) => {
    DedupOps.simhashNearDupParity(t(s, dir, "documents"), "doc_id",
        "text", maxHamming = 8)
      .ordered(col("id1"), col("id2"))
  }

  // q28 — brute-force cosine top-5 for queries vec_id < 5
  private val q28: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q29 — LSH-bucketed ANN top-5 (plan-time literal planes; DuckDB
  // oracle inlines the same matrix — bit-exact)
  private val q29: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.lshTopK(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 5, planes = 4)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q30 — multimodal feature extraction over synthetic payloads
  // (codec step stubbed; plumbing real — byte statistics are
  // integer-exact, DuckDB-oracle-checked)
  private val q30: Q = (s, dir) => {
    import s.implicits._
    val media = MultimodalOps
      .syntheticMedia(t(s, dir, "documents"), "doc_id", "text")
      .as[graft.operators.MediaPayload]
    MultimodalOps.extractFeatures(media)
      .select(col("media_id"), col("format"), col("n_bytes"),
        e6(col("mean_byte")).as("mean_byte_e6"),
        e6(col("entropy_proxy")).as("entropy_proxy_e6"))
      .ordered(col("media_id"))
  }

  // q31 — embedding-cosine near-dup pairs via hyperplane buckets
  // (DuckDB oracle inlines the same plane matrix and megabucket cap)
  private val q31: Q = (s, dir) => {
    // maxBucketSize passed explicitly because the oracle SQL hardcodes
    // the same 1000 — a default change must not silently break parity
    DedupOps.embeddingNearDup(t(s, dir, "embeddings"), "vec_id",
        "embedding", planes = 4, threshold = 0.35, maxBucketSize = 1000)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cos"))
      .ordered(col("id1"), col("id2"))
  }

  // q32 — video frame sampling (column-expression slicing; frame
  // grid DuckDB-oracle-checked)
  private val q32: Q = (s, dir) => {
    val media = MultimodalOps
      .syntheticMedia(t(s, dir, "documents"), "doc_id", "text")
      .filter(col("format") === "video")
    MultimodalOps.frameSample(media, "data", frameBytes = 32, stride = 16)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame_bytes")).as("frame_len"))
      .ordered(col("media_id"), col("frame_idx"))
  }

  // q33/q34 — one-pass distributed Welch t-test via the typed
  // Aggregator (click vs view event values). q33 exposes the
  // oracle-checkable pieces (t, df); q34 adds the p-value (incomplete
  // beta — not SQL-expressible, rows-only check + ScalaTest).
  private def welchDs(s: SparkSession, dir: String) = {
    import s.implicits._
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select((col("event_type") === "click").as("isA"),
        col("value"))
      .as[(Boolean, Double)]
  }

  private val q33: Q = (s, dir) => {
    welchDs(s, dir)
      .select(new graft.operators.WelchTTest("less").toColumn)
      .select(round(col("t"), 6).as("t"), round(col("df"), 6).as("df"))
  }

  // p is rounded to 6dp: the oracle replays the same Lentz continued
  // fraction (Numerical Recipes §6.4 — public algorithm) in a DuckDB
  // recursive CTE, and both sides converge to ~1e-15 relative, so 6dp
  // is far inside the agreement zone while still pinning the value.
  private val q34: Q = (s, dir) => {
    welchDs(s, dir)
      .select(new graft.operators.WelchTTest("less").toColumn)
      .select(round(col("t"), 6).as("t"), round(col("df"), 6).as("df"),
        round(col("p"), 6).as("p_less"), col("nA").as("n_click"),
        col("nB").as("n_view"))
  }

  // q35 — corpus curation pipeline: quality-filter -> exact-dedup ->
  // language distribution, composed from the text/dedup operators in
  // one declarative plan (what a training-data curation job runs).
  private val q35: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .withColumn("quality", TextOps.qualityScore(col("text"), Stopwords))
      .filter(col("quality") >= 0.87)
    val surviving = DedupOps.exactDedup(d, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
      .join(d, "doc_id")
    surviving
      .select(TextOps.langId(col("text"), LangMarkers).as("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .ordered(col("lang_pred"))
  }

  // q40 — IVF ANN top-5 (md5-ordered coarse quantizer + probes;
  // DuckDB-oracle-checked bit for bit, recall vs brute force in
  // NorthStarSpec)
  private val q40: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.ivfTopK(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbes = 4)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q41 — rolling-hash document fingerprints (base-31 polynomial over
  // code points mod 1e9+7; chunking-stable identity). Native codegen
  // expression, DuckDB-oracle-checked via a list_reduce mirror.
  private val q41: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.rollingHash(col("text")).as("fp"))
      .ordered(col("doc_id"))
  }

  // q42 — backward as-of join: each click's most recent prior-or-equal
  // view value per user (union+window formulation, one shuffle, no
  // join operator). Time compared at microsecond precision on both
  // sides (DuckDB reads the nanos parquet timestamps as micros).
  private val q42: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), col("event_id"), col("value"))
    TemporalJoinOps.asofJoinLast(clicks, views, Seq("user_id"), "tus",
        "event_id", "value")
      .select(col("event_id"), round(col("value"), 6).as("click_value"),
        round(col("asof_value"), 6).as("prior_view_value"))
      .ordered(col("event_id"))
  }

  // q50 — forward as-of join: each click's next view value per user
  // (the mirror of q42; same single union+window pass).
  private val q50: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), col("event_id"), col("value"))
    TemporalJoinOps.asofJoinNext(clicks, views, Seq("user_id"), "tus",
        "event_id", "value")
      .select(col("event_id"),
        round(col("asof_value"), 6).as("next_view_value"))
      .ordered(col("event_id"))
  }

  // q43 — bounded range self-join: per-user count of event pairs
  // within 1 hour (bucketed interval join — shuffle key is
  // (user, hour-bucket), never a cross join).
  private val q43: Q = (s, dir) => {
    val ev = t(s, dir, "events").filter(col("user_id") < 30)
      .withColumn("tus", expr("ts_ns div 1000"))
    TemporalJoinOps.rangeSelfPairs(ev, "user_id", "tus", "event_id",
        3600000000L)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
      .ordered(col("user_id"))
  }

  // q44 — exact grouped quantiles (percentile, not approx — matches
  // DuckDB quantile_cont's linear interpolation).
  private val q44: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("qs"))
      .select(col("event_type"),
        round(element_at(col("qs"), 1), 6).as("p50"),
        round(element_at(col("qs"), 2), 6).as("p90"),
        round(element_at(col("qs"), 3), 6).as("p99"))
      .ordered(col("event_type"))
  }

  // q45 — deterministic stratified sample by predicted language
  // (md5-threshold inclusion — reproducible across engines/runs).
  private val q45: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .withColumn("lang_pred", TextOps.langId(col("text"), LangMarkers))
    CurationOps.stratifiedSample(d, "lang_pred", "doc_id",
        Map("scanic" -> 0.5, "joinic" -> 0.25), 0.1, "graft")
      .select(col("doc_id"), col("lang_pred"))
      .ordered(col("doc_id"))
  }

  // q46 — per-document TF-IDF top-3 terms.
  private val q46: Q = (s, dir) => {
    CurationOps.tfidfTopTerms(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", topK = 3)
      .select(col("doc_id"), col("term"), col("rk"),
        round(col("tfidf"), 6).as("tfidf"))
      .ordered(col("doc_id"), col("rk"))
  }

  // q47 — oracle-parity MinHash-LSH dedup (md5 signatures + string
  // shingle verify; the DuckDB-checkable twin of q26's fast path).
  private val q47: Q = (s, dir) => {
    DedupOps.minhashLshDedupParity(
        t(s, dir, "documents").filter(col("doc_id") < 250),
        "doc_id", "text", shingleN = 2, k = 8, bands = 4, threshold = 0.2)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q48 — oracle-parity SimHash near-dup on the fixed doc_id < 250
  // slice (32-bit md5 fingerprints; q27 runs the same construction
  // over the full corpus).
  private val q48: Q = (s, dir) => {
    DedupOps.simhashNearDupParity(
        t(s, dir, "documents").filter(col("doc_id") < 250),
        "doc_id", "text", maxHamming = 8)
      .ordered(col("id1"), col("id2"))
  }

  // q49 — KMV (k-minimum-values) distinct sketch: a cross-engine
  // DETERMINISTIC approximate-distinct (md5-derived uniform hashes;
  // estimate = (k-1) * 2^32 / h_k), the oracle-checkable counterpart
  // of q39's Spark-native HLL sketch. Groups with fewer than k
  // distinct keys fall back to the exact count.
  private val q49: Q = (s, dir) => {
    val k = 64
    val distinctPairs = t(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", graft.operators.CurationOps.md5Hash32(
        concat(lit("kmv:"), col("user_id").cast("string"))))
    import org.apache.spark.sql.expressions.Window
    // two-stage k-th-smallest so no window partitions by the low-
    // cardinality event_type alone (one task per type at scale — see
    // q39): per-(type, 64-bucket) top-k, then the global k-th from
    // the <= 64k survivors; the exact count is a partial-agg groupBy
    val nExact = distinctPairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"))
    val wB = Window.partitionBy(col("event_type"), col("b"))
      .orderBy(col("h"), col("user_id"))
    val cand = distinctPairs
      .withColumn("b", pmod(col("user_id"), lit(64L)).cast("int"))
      .withColumn("rnb", row_number().over(wB))
      .filter(col("rnb") <= k)
    val wF = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("user_id"))
    val hk = cand
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") === k)
      .select(col("event_type"), col("h").as("hk"))
    nExact.join(hk, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exact"),
        // integer-ratio output -> 1e4-unit BIGINT pin (CLAUDE.md rule)
        round(when(col("hk").isNull, col("n_exact").cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) / col("hk")) * 1e4, 0)
          .cast("long").as("n_est_e4"))
      .ordered(col("event_type"))
  }

  // q51 — overlapping token-window chunking (width 32, stride 24):
  // the LLM-training preprocessing step; chunk content pinned by its
  // rolling-hash fingerprint.
  private val q51: Q = (s, dir) => {
    val chunks = t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.tokenChunks(col("toks"), 32, 24)).as("c"))
    chunks.select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        length(col("c.chunk_text")).as("n_chars"),
        TextOps.rollingHash(col("c.chunk_text")).as("chunk_fp"))
      .ordered(col("doc_id"), col("chunk_idx"))
  }

  // q52 — deterministic train/val/test split assignment (hash-range
  // buckets; disjoint, reproducible, shuffle-free).
  private val q52: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(CurationOps.assignSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft")
        .as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .ordered(col("split"))
  }

  // q53 — regex redaction (PII-scrub shape): ordered replace rules,
  // result pinned by fingerprint + length.
  val RedactRules: Seq[(String, String)] = Seq(
    "\\bdata\\b" -> "<TOPIC>",
    "[0-9]+" -> "#")
  private val q53: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.redact(col("text"), RedactRules).as("red"))
      .select(col("doc_id"), length(col("red")).as("n_chars"),
        TextOps.rollingHash(col("red")).as("red_fp"))
      .ordered(col("doc_id"))
  }

  // q54 — near-dup cluster resolution: SimHash parity pairs -> connected
  // components (iterative min-label propagation) -> (doc, cluster
  // survivor) mapping. Oracle = the same pair SQL + a recursive CTE.
  private val q54: Q = (s, dir) => {
    val pairs = DedupOps.simhashNearDupParity(
      t(s, dir, "documents").filter(col("doc_id") < 250),
      "doc_id", "text", maxHamming = 8)
    DedupOps.connectedComponents(pairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .ordered(col("doc_id"))
  }

  // q55 — Gopher-style repetition statistics + quality gate per doc.
  // The fraction columns are emitted as micro-unit BIGINTs
  // (round(x * 1e6)) instead of round(x, 6) doubles: r2's driver gate
  // hash-failed on a double-representation edge even though bit-equal
  // local parity passed, and DECIMAL output trips dtype-sensitive
  // compares (DuckDB fetchdf -> float64 vs parquet -> Decimal).
  // Integers hash identically in every representation. Both engines
  // compute the same input double, and the .5 tie-break agrees for
  // positive values (HALF_UP == half-away-from-zero).
  private val q55: Q = (s, dir) => {
    CurationOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        e6(col("mean_token_len")).as("mean_token_len_e6"),
        e6(col("dup_token_frac")).as("dup_token_frac_e6"),
        e6(col("top_token_frac")).as("top_token_frac_e6"),
        e6(col("dup_2gram_frac")).as("dup_2gram_frac_e6"),
        CurationOps.gopherKeep(col("n_tokens"), col("mean_token_len"),
          col("top_token_frac"), col("dup_2gram_frac")).as("keep"))
      .ordered(col("doc_id"))
  }

  // q56 — corpus-wide top-20 2-grams by occurrence (vocab builder).
  private val q56: Q = (s, dir) => {
    CurationOps.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 20)
      .ordered(col("n").desc, col("gram"))
  }

  // q57 — batch gap sessionization of the event stream (1 h gap) +
  // per-session aggregates; the batch twin of the streaming
  // session_window path.
  private val q57: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    WindowOps.gapSessionize(ev, Seq("user_id"), Seq("tus", "event_id"),
        "tus", 3600000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tus")) - min(col("tus"))).as("dur_us"),
        round(sum(col("value")), 4).as("sv"))
      .ordered(col("user_id"), col("session_seq"))
  }

  // q58 — cross-corpus contamination (decontamination shape): docs
  // >= 450 act as the held-out benchmark; flag corpus docs containing
  // >= 30% of any benchmark doc's 3-gram shingles. 3-grams, not
  // 2-grams: over this tiny synthetic vocabulary every 2-gram is
  // ubiquitous, so the inverted index degenerates toward all-pairs —
  // with 3-grams (the real-pipeline analog is 8+-grams) the index is
  // discriminative and the join sparse.
  private val q58: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    DedupOps.crossCorpusContamination(
        d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
        "doc_id", "text", shingleN = 3, threshold = 0.3)
      .select(col("doc_id"), col("probe_id"),
        e6(col("containment")).as("cont_e6"))
      .ordered(col("doc_id"), col("probe_id"))
  }

  // q59 — per-label embedding centroids via the relational
  // explode-to-(label, dim) aggregation; three representative
  // dimensions + member count are pinned against the oracle.
  private val q59: Q = (s, dir) => {
    SimilarityOps.labelCentroids(t(s, dir, "embeddings"), "label",
        "embedding")
      .select(col("label"),
        round(element_at(col("centroid"), 1), 6).as("c1"),
        round(element_at(col("centroid"), 33), 6).as("c33"),
        round(element_at(col("centroid"), 64), 6).as("c64"),
        col("n"))
      .ordered(col("label"))
  }

  // q60 — 20-bin histogram of event values with a data-driven range
  // (two scans: global min/max broadcast, then projection + count).
  private val q60: Q = (s, dir) => {
    graft.operators.StatsOps.histogram(t(s, dir, "events"), "value", 20)
      .ordered(col("bin"))
  }

  // q61 — quartile distribution per event type (ntile over a TOTAL
  // order — the tiebreak on event_id is what makes bucket membership,
  // hence the per-bucket min/max, engine-independent).
  private val q61: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("event_type"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("lo"),
        round(max(col("value")), 6).as("hi"))
      .ordered(col("event_type"), col("quartile"))
  }

  // q62 — pivot (wide aggregation): per-user event counts by type,
  // one column per event type. Spark's pivot is groupBy + conditional
  // aggregates; the oracle spells the same CASE WHEN form.
  private val q62: Q = (s, dir) => {
    t(s, dir, "events")
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .ordered(col("user_id"))
  }

  // q63 — end-to-end corpus dedup (md5-parity LSH): verified near-dup
  // pairs -> connected components -> survivors (cluster minimum) +
  // unpaired docs.
  private val q63: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 250)
    val pairs = DedupOps.minhashLshDedupParity(d, "doc_id", "text",
      shingleN = 2, k = 8, bands = 4, threshold = 0.2)
    val drop = DedupOps.connectedComponents(pairs, "id1", "id2")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    d.join(drop, d("doc_id") === drop("id"), "left_anti")
      .select(col("doc_id")).ordered(col("doc_id"))
  }

  // q64 — int8 embedding quantization: pinned quantized components,
  // the exact integer sum of the quantized vector, and the (rounded)
  // scale + mean reconstruction error. Folds mirror the oracle's
  // list_reduce form, so the doubles are bit-identical before ROUND.
  private val q64: Q = (s, dir) => {
    SimilarityOps.int8Quantize(t(s, dir, "embeddings"), "vec_id",
        "embedding", dims = 64)
      .select(col("id").as("vec_id"),
        element_at(col("qvec"), 1).as("q1"),
        element_at(col("qvec"), 33).as("q33"),
        element_at(col("qvec"), 64).as("q64"),
        aggregate(col("qvec").cast("array<bigint>"), lit(0L),
          (a, x) => a + x).as("qsum"),
        round(col("scale"), 6).as("scl"),
        round(col("mae"), 6).as("mae"))
      .ordered(col("vec_id"))
  }

  // q65 — int8-quantized ANN top-5 (exact-integer first-pass scoring,
  // float rerank; the candidate cut is reproducible across engines
  // because the quantized scores are ratios of exact integers).
  private val q65: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.int8TopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, oversample = 4)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q66 — sequence packing (concat-and-cut at 512 tokens) via the
  // distributed prefix sum; per-sequence doc counts and token sums.
  // Integer arithmetic end to end, so bucketed-vs-global cumsum and
  // Spark-vs-DuckDB all agree exactly.
  private val q66: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
    CurationOps.packSequences(d, "doc_id", "n_tokens", maxTokens = 512)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .ordered(col("seq_id"))
  }

  // q67 — integer k-means over int8-quantized embeddings (k=8, 3 Lloyd
  // rounds): per-cluster sizes + three integer centroid components
  // recomputed from the final assignment. Exact integer distances and
  // floor(sum/n + 0.5) updates make every round engine-independent.
  private val q67: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val asg = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding",
      k = 8, iters = 3)
    val qv = SimilarityOps.int8Quantize(emb, "vec_id", "embedding")
      .select(col("id"), col("qvec").cast("array<bigint>").as("qd"))
    def cmean(pos: Int, as: String) =
      floor(sum(element_at(col("qd"), pos)).cast("double") /
        count(lit(1)).cast("double") + lit(0.5d)).cast("long").as(as)
    asg.join(qv, "id")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        cmean(1, "c1"), cmean(33, "c33"), cmean(64, "c64"))
      .ordered(col("cid"))
  }

  // q68 — SemDeDup: k-means clusters, then within-cluster cosine
  // near-dup removal keeping the smallest id of each group.
  private val q68: Q = (s, dir) => {
    SimilarityOps.semanticDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 3, threshold = 0.4)
      .ordered(col("id"))
  }

  // q69 — unigram rarity scoring: exact integer corpus-frequency
  // stats per doc + mean surprisal in nats (round 4 — the one oracle
  // column where ln's platform rounding could differ, far below 1e-4).
  private val q69: Q = (s, dir) => {
    CurationOps.unigramRarity(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("freq_sum"),
        col("freq_min"), round(col("surprisal"), 4).as("surp"))
      .ordered(col("doc_id"))
  }

  // q70 — incremental dedup: docs >= 150 arrive as the delta against a
  // signature table built from docs < 150; output is exactly the
  // full-corpus parity pair set restricted to pairs touching the delta.
  private val q70: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 250)
    val oldSigs = DedupOps.minhashSignatureTable(
      d.filter(col("doc_id") < 150), "doc_id", "text", shingleN = 2, k = 8)
    DedupOps.minhashLshDeltaDedup(d.filter(col("doc_id") >= 150), oldSigs,
        "doc_id", "text", shingleN = 2, k = 8, bands = 4, threshold = 0.2)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q71 — linear resampling of each event type's value series onto an
  // hourly grid (micros — the cross-engine time unit, see Tables).
  // Exact hits resolve to the sample value (the interpolation term is
  // exactly 0.0), and all time arithmetic stays integral.
  private val q71: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .withColumn("tus", expr("ts_ns div 1000"))
      .select(col("event_type"), col("tus"), col("value"))
    graft.operators.WindowOps.resampleLinear(ev, "event_type", "tus",
        "value", step = 3600000000L)
      .select(col("event_type"), col("ts"),
        round(col("value"), 6).as("v"))
      .ordered(col("event_type"), col("ts"))
  }

  // q72 — per-source document caps (domain fairness): at most 15 docs
  // per source, chosen by md5 rank; output the kept rows.
  private val q72: Q = (s, dir) => {
    CurationOps.groupCap(t(s, dir, "documents"), "source", "doc_id",
        cap = 15, salt = "cap")
      .select(col("doc_id"), col("source"))
      .ordered(col("doc_id"))
  }

  // q73 — the end-to-end training-data prep pipeline, composed from
  // the individually-verified stages: quality gate -> exact dedup ->
  // near-dup pairs -> connected components -> survivors -> per-source
  // caps -> split assignment -> per-(split, source) counts. One
  // oracle over the whole composition pins stage INTERACTIONS, not
  // just stages.
  /** q73's curate + exact-dedup stage, PRE-checkpoint — exposed so the
    * plan-health sweep still audits the subtree that the query's own
    * localCheckpoint hides behind a LogicalRDD (PlanShapeSpec sweeps
    * this alongside the declared queries). */
  private[graft] def q73CuratedStage(s: SparkSession, dir: String)
      : DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("quality", TextOps.qualityScore(col("text"), Stopwords))
      .filter(col("quality") >= 0.87)
    DedupOps.exactDedup(d, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
      .join(d.select(col("doc_id"), col("text"), col("source")), "doc_id")
  }

  private val q73: Q = (s, dir) => {
    // the curated intermediate feeds BOTH the LSH pair mining and the
    // survivor anti-join; materialize it once (at 100 TB the curated
    // corpus is persisted between stages for exactly this reason)
    val kept = q73CuratedStage(s, dir).localCheckpoint(false)
    val pairs = DedupOps.minhashLshDedupParity(kept, "doc_id", "text",
      shingleN = 2, k = 8, bands = 4, threshold = 0.2)
    val drop = DedupOps.connectedComponents(pairs, "id1", "id2")
      .filter(col("id") =!= col("cluster_id")).select(col("id"))
    val surv = kept.join(drop, kept("doc_id") === drop("id"), "left_anti")
    val capped = CurationOps.groupCap(surv, "source", "doc_id", 10, "cap")
    capped
      .select(col("source"),
        CurationOps.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "graft")
          .as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("split"), col("source"))
  }

  // q74 — BPE merge training (6 rounds) on the corpus word-frequency
  // table; the merge list (rank, pair, weighted count) is pinned
  // against an unrolled-round oracle — integer counts and binary
  // string tiebreaks make every round engine-independent.
  private val q74: Q = (s, dir) => {
    CurationOps.bpeTrain(t(s, dir, "documents"), "text", nMerges = 6)
      .ordered(col("rank"))
  }

  // q75 — vocabulary drift between two corpus halves: top-20 tokens by
  // exact count difference with smoothed log-probability ratios.
  private val q75: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    CurationOps.tokenDrift(d.filter(col("doc_id") < 250),
        d.filter(col("doc_id") >= 250), "text", topK = 20)
      .select(col("t"), col("ca"), col("cb"), round(col("lr"), 6).as("lr"))
      .ordered(abs(col("ca") - col("cb")).desc, col("t"))
  }

  // q76 — self-trained bigram-LM surprisal (the perplexity-filter
  // shape): per doc the bigram count and mean Laplace-smoothed
  // negative log-likelihood in nats (round 4, like q69's surprisal).
  private val q76: Q = (s, dir) => {
    CurationOps.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll"), 4).as("nll"))
      .ordered(col("doc_id"))
  }

  // q77 — duplicated 3-gram span coverage (exact-substring dedup
  // signal): per doc the token count, covered-position count, and
  // coverage fraction.
  private val q77: Q = (s, dir) => {
    DedupOps.dupNgramCoverage(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minDocs = 2)
      .select(col("doc_id"), col("n_toks"), col("n_cov"),
        e6(col("dup_frac")).as("dup_frac_e6"))
      .ordered(col("doc_id"))
  }

  // q78 — temperature-based source mixing (alpha = 0.5, budget 300):
  // per-source original size and kept count under the deterministic
  // md5-threshold mix.
  private val q78: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val kept = CurationOps.temperatureMix(d, "source", "doc_id",
        alpha = 0.5, budget = 300L, salt = "mix")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept"))
      .ordered(col("source"))
  }

  // q79 — BPE tokenization end to end: train 6 merges on the corpus
  // (q74's operator), then encode every document with them; per doc
  // the whitespace-token count and the post-merge subword count.
  private val q79: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val merges = CurationOps.bpeTrain(d, "text", nMerges = 6)
      .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
    CurationOps.bpeEncode(d, "doc_id", "text", merges)
      .ordered(col("doc_id"))
  }

  // q80 — Zipf rank-frequency fit over the top-100 vocabulary terms:
  // the corpus-health diagnostic (natural text slopes near -1).
  private val q80: Q = (s, dir) =>
    CurationOps.zipfFit(t(s, dir, "documents"), "text", topK = 100)
      .select(col("n_terms"), round(col("slope"), 6).as("slope"),
        round(col("icept"), 6).as("icept"))
      .ordered(col("n_terms"))

  // q81 — corpus-self-trained multinomial Naive Bayes language
  // classifier (fastText-shaped linear scorer): per doc the true
  // label, argmax class, and winning smoothed log-likelihood.
  private val q81: Q = (s, dir) =>
    CurationOps.naiveBayesLang(t(s, dir, "documents"),
        "doc_id", "text", "lang")
      .ordered(col("doc_id"))

  // q82 — first principal component by power iteration (8 rounds on
  // the 6dp-pinned covariance); per-vector projection scores.
  private val q82: Q = (s, dir) =>
    SimilarityOps.pcaProject(t(s, dir, "embeddings"), "vec_id",
        "embedding", dims = 64, iters = 8)
      .select(col("id"), round(col("pc1"), 4).as("pc1"))
      .ordered(col("id"))

  // q83 — winsorization: per-event-type exact [0.05, 0.95] quantile
  // clipping, quantiles computed relationally (no per-group buffering).
  private val q83: Q = (s, dir) => {
    graft.operators.StatsOps.winsorize(t(s, dir, "events"),
        Seq("event_type"), "value", 0.05, 0.95)
      .select(col("event_id"), round(col("value_wins"), 6).as("clipped"))
      .ordered(col("event_id"))
  }

  // q84 — Johnson–Lindenstrauss random projection 64 -> 8 dims with
  // the md5-derived literal plane family (bit-identical cross-engine).
  private val q84: Q = (s, dir) => {
    val r = SimilarityOps.randomProject(t(s, dir, "embeddings"),
      "vec_id", "embedding", outDims = 8)
    r.select(col("id") +:
        (1 to 8).map(i => round(col(s"r$i"), 6).as(s"r$i")): _*)
      .ordered(col("id"))
  }

  // q85 — character-distribution Shannon entropy (gibberish screen):
  // pure zero-shuffle expression on the Spark side, relational CTE on
  // the oracle side — same H = ln n - sum(c ln c)/n.
  private val q85: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.charDistinct(col("text")).as("n_uniq"),
        round(TextOps.charEntropy(col("text")), 4).as("ent"))
      .ordered(col("doc_id"))

  // q86 — count-min-sketch heavy hitters: top-20 exact tokens with
  // their CMS estimates (est >= exact always; equality iff no row of
  // the sketch collides the token with another).
  private val q86: Q = (s, dir) =>
    CurationOps.cmsHeavyHitters(t(s, dir, "documents"), "text",
        depth = 4, width = 256, topK = 20)
      .ordered(col("c").desc, col("t"))

  // q87 — per-source KL divergence from the corpus token distribution
  // (drift monitor); Laplace smoothing over the corpus vocabulary.
  private val q87: Q = (s, dir) =>
    CurationOps.sourceKlDivergence(t(s, dir, "documents"),
        "source", "text")
      .select(col("source"), col("n_toks"), round(col("kl"), 6).as("kl"))
      .ordered(col("source"))

  // q88 — trailing-window anomaly detection on the event stream:
  // hourly counts per type, z-scored against the 24 preceding hours
  // (self-excluded); emit |z| >= 2 anomalies.
  private val q88: Q = (s, dir) => {
    val hourly = t(s, dir, "events")
      .withColumn("h",
        (expr("(ts_ns div 1000) div 3600000000") * 3600000000L).as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    WindowOps.trailingZScore(hourly, Seq("event_type"), "h", "n", 24)
      .filter(col("trail_std") > 0 && abs(col("z")) >= 2.0d)
      .select(col("event_type"), col("h"), col("n"),
        round(col("z"), 4).as("z"))
      .ordered(col("event_type"), col("h"))
  }

  // q89 — stub "resize" on the synthetic media payloads: nearest-
  // neighbor byte sampling to 16 bytes, decoded back to a string for
  // the oracle compare. The Spark side samples BYTES (the operator's
  // media semantics) while the oracle's substr counts CHARACTERS —
  // equivalent only because the synthetic corpus is pure ASCII
  // (byte == char); a non-ASCII corpus would need a byte-based oracle.
  private val q89: Q = (s, dir) => {
    val media = MultimodalOps.syntheticMedia(
      t(s, dir, "documents"), "doc_id", "text")
    media.select(col("media_id"),
        decode(MultimodalOps.resizeStub(col("data"), 16), "UTF-8")
          .as("thumb"))
      .ordered(col("media_id"))
  }

  // q92 — C4-style rule filtering (Raffel et al. 2020): per-doc rule
  // signals + keep gate. The bad-word list uses real corpus vocabulary
  // so the flag varies; brace/lorem/punct rules are degenerate on the
  // synthetic corpus (no punctuation, single-line) but their
  // computation is still oracle-checked. minWords=30 makes the word-
  // count gate bite.
  private val q92: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id") +:
        TextOps.c4Signals(col("text"), Seq("slow", "dup")): _*)
    d.select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("has_bad_word"), col("has_brace"), col("has_lorem"),
        e6(col("punct_line_frac")).as("punct_line_frac_e6"),
        TextOps.c4Keep(col("n_words"), col("has_bad_word"),
          col("has_brace"), col("has_lorem"), col("punct_line_frac"),
          minWords = 30).as("keep"))
      .ordered(col("doc_id"))
  }

  // q95 — BM25 relevance against a fixed query term set (retrieval-
  // based curation; ln-derived output rounds to 4dp per convention).
  private val q95: Q = (s, dir) => {
    CurationOps.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("data", "query", "window"))
      .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
      .ordered(col("doc_id"))
  }

  // q96 — DSIR importance weights: target model = the English slice,
  // raw model = the whole corpus (ln-derived output, 4dp).
  private val q96: Q = (s, dir) => {
    CurationOps.dsirImportanceWeights(t(s, dir, "documents"), "doc_id",
        "text", isTarget = col("lang") === "en")
      .select(col("doc_id"), col("n_toks"),
        round(col("dsir_logw"), 4).as("dsir_logw"))
      .ordered(col("doc_id"))
  }

  // q97 — duplicated-span REMOVAL (q77's transform counterpart): per
  // doc the before/after token counts and an md5 fingerprint of the
  // reassembled text (fingerprinted like q51/q53 to keep the oracle
  // row narrow).
  private val q97: Q = (s, dir) => {
    DedupOps.removeDupNgramSpans(t(s, dir, "documents"), "doc_id",
        "text", n = 3, minDocs = 2)
      .select(col("doc_id"), col("n_toks"), col("n_kept"),
        md5(col("cleaned")).as("cleaned_md5"))
      .ordered(col("doc_id"))
  }

  // q98 — token-budget source mixing (alpha = 0.5, budget 12k tokens):
  // per source the kept doc count and kept token total under the
  // deterministic md5-order budget fill.
  private val q98: Q = (s, dir) => {
    CurationOps.tokenBudgetMix(t(s, dir, "documents"), "source",
        "doc_id", "text", alpha = 0.5, budgetTokens = 12000L,
        salt = "tbm")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks_kept"))
      .ordered(col("source"))
  }

  // q99 — quality-temperature sampling: quintile-bucket the integer-
  // pinned quality score, keep 10/30/50/70/90% per bucket (lowest
  // quality sampled hardest), report per-bucket survivors.
  private val q99: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        e6(TextOps.qualityScoreRaw(col("text"), Stopwords)).as("q_e6"))
    CurationOps.quantileBucketSample(d, "q_e6", "doc_id",
        rates = Seq(0.1, 0.3, 0.5, 0.7, 0.9), salt = "qmix")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_kept"), sum(col("q_e6")).as("q_sum_e6"))
      .ordered(col("bucket"))
  }

  // q100 — product-quantization ANN top-5: m=8 one-byte codes per
  // vector (64x smaller than float32), deterministic md5-sampled
  // codebooks, ADC lookup-table first pass over exact integers, float
  // rerank on candidates only (the int8TopK tail).
  private val q100: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.pqTopK(emb, emb.filter(col("vec_id") < 25),
        "vec_id", "embedding", k = 5, m = 8, ksub = 32, oversample = 8)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q101 — bloom-pruned fact-dim join: a ~2%-selective orders subset
  // builds a deterministic md5 bloom filter; lineitem is pruned at
  // scan speed BEFORE its shuffle; the exact join erases false
  // positives, so the result — and the oracle — is the plain join.
  private val q101: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        pmod(col("o_custkey"), lit(10L)) === 0)
    ScaleOps.bloomPrunedJoin(li, ord, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .ordered(col("l_returnflag"))
  }

  // q102 — incremental IVF index: build the cell-partitioned store on
  // vec_id < 400, delta-append the rest against the FROZEN quantizer
  // (old vectors never rescanned), search the persisted index. The
  // result equals the one-shot IVF computation with the old-corpus
  // quantizer — which is exactly what the oracle replays.
  private val q102: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val path = tmpStorePath("graft-ivf-q102", dir)
    IvfVectorStore.write(s, emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", nCentroids = 16, path)
    IvfVectorStore.append(s, emb.filter(col("vec_id") >= 400),
      "vec_id", "embedding", path)
    IvfVectorStore.searchTopK(s, path, emb.filter(col("vec_id") < 25),
        "vec_id", "embedding", k = 5, nProbes = 4)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q103 — deterministic sampled quantiles: per event_type, exact
  // type-7 quantiles over the 256 smallest-md5-hash sample rows (the
  // KMV idiom keeping values). Bounded mergeable state per key.
  private val q103: Q = (s, dir) => {
    graft.operators.StatsOps.sampledQuantiles(t(s, dir, "events"),
        "event_type", "value", "event_id", k = 256,
        qs = Seq(0.5, 0.9, 0.99), salt = "sq")
      .select(col("event_type"), e6(col("q_50")).as("p50_e6"),
        e6(col("q_90")).as("p90_e6"), e6(col("q_99")).as("p99_e6"))
      .ordered(col("event_type"))
  }

  // q104 — bounded-heap grouped top-k: per event_type, the 5 largest
  // (value, event_id) rows via the k-bounded TypedImperativeAggregate
  // — no rank-window sort; only k-row states cross the shuffle.
  private val q104: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKRows.topK(col("value"), col("event_id"), 5)
        .as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rk"),
        e6(col("col").getField("score")).as("value_e6"),
        col("col").getField("id").as("event_id"))
      .ordered(col("event_type"), col("rk"))
  }

  // q105 — IVF-PQ composite ANN (the faiss-IVFPQ shape): coarse cells
  // prune the search to 4 of 16 cells, ADC over one-byte PQ codes
  // scores inside the probed cells, float rerank on candidates only.
  private val q105: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.ivfPqTopK(emb, emb.filter(col("vec_id") < 25),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbes = 4,
        m = 8, ksub = 32, oversample = 8)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q106 — multi-probe LSH ANN top-5: each query probes its bucket
  // plus the 3 lowest-margin single-bit flips — table-free recall
  // boost (Lv et al. VLDB'07: 0.12 -> 0.41 measured here), one
  // corpus bucketing pass.
  private val q106: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.multiProbeLshTopK(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 5, planes = 4, nFlips = 3)
      .ordered(col("qid"), col("cos").desc, col("nid"))
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  // q107 — ANALYZE-shape table profile of documents: one scan, all
  // per-column stats on a single aggregate row, melted to one row per
  // column (drives bucketing/bloom sizing and pruning decisions).
  private val q107: Q = (s, dir) => {
    CurationOps.profileTable(t(s, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
      .ordered(col("column"))
  }

  // q108 — weighted sampling without replacement: 10 documents per
  // lang, inclusion probability proportional to n_chars, via
  // md5-deterministic priority sampling. The cut is the bounded
  // TopKRows aggregate — no sort window, <= 2k rows of state per
  // map-side partial.
  private val q108: Q = (s, dir) => {
    CurationOps.prioritySample(t(s, dir, "documents"), "lang", "doc_id",
        "n_chars", n = 10, salt = "ps")
      .select(col("group").as("lang"), col("id").as("doc_id"),
        round(col("priority") * lit(1e12), 0).cast("long").as("pri_e12"))
      .ordered(col("lang"), col("pri_e12").desc, col("doc_id"))
  }

  // q109 — embedding-cosine near-duplicate pairs: banded
  // random-hyperplane LSH (8 bands x 4 sign bits) proposes candidate
  // pairs, exact cosine >= 0.35 verifies. The embedding-space sibling
  // of minhash LSH — candidates from per-bucket combinations, hub
  // buckets capped, pairs dedup'd across bands before the verify join.
  private val q109: Q = (s, dir) => {
    SimilarityOps.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.35, bands = 8, planesPerBand = 4)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
      .ordered(col("id1"), col("id2"))
  }

  // q110 — Z-order clustering key over (l_orderkey, l_partkey,
  // l_suppkey): the multi-dimensional data-skipping layout key for
  // 100 TB tables — sorting files by this key makes min/max column
  // stats tight in EVERY interleaved dimension. Exact-integer
  // arithmetic, pure projection, zero shuffle.
  private val q110: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").filter(col("l_suppkey") < 25)
    li.select(col("l_orderkey"), col("l_linenumber"),
        ScaleOps.zorderKey(
          Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
          Seq((0L, 16383L), (0L, 2047L), (0L, 127L)), bits = 8)
          .as("zkey"))
      .ordered(col("zkey"), col("l_orderkey"), col("l_linenumber"))
  }

  // q111 — embedding-space contamination: training vectors (id >= 20)
  // that near-duplicate a "benchmark" probe vector (id < 20) at
  // cosine >= 0.35. Corpus never shuffles: probe signatures broadcast
  // into the candidate join, candidates broadcast into the verify.
  private val q111: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.embeddingContamination(
        emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.35)
      .select(col("pid"), col("tid"), round(col("cos"), 6).as("cos"))
      .ordered(col("pid"), col("tid"))
  }

  // q112 — ordered funnel conversion (signup → view → click →
  // purchase): stage k matches at the earliest stage-k event at-or-
  // after the stage k-1 match. All four stages run in ONE entity-
  // keyed sort-window stage; the rollup is a 1-row aggregate.
  private val q112: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    val stages = Seq("signup", "view", "click", "purchase")
    FunnelOps.funnelConversion(
        FunnelOps.funnelStageTimes(ev, "user_id", "event_type", "tus",
          "event_id", stages), stages)
      .ordered(col("stage_idx"))
  }

  // q113 — cohort retention matrix: daily activity buckets, cohort =
  // first active day; distinct active users per (cohort, day offset).
  // The event log collapses to the distinct activity grid first.
  private val q113: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    FunnelOps.cohortRetention(ev, "user_id", "tus", 86400000000L)
      .withColumnRenamed("offset", "day_offset")
      .ordered(col("cohort"), col("day_offset"))
  }

  // q114 — distributed logistic-regression training (full-batch GD,
  // 5 iterations, lr=1): quality-classifier shape — features are the
  // oracle-mirrored token stats, label = (lang = 'en'). The oracle
  // replays the identical arithmetic via an unrolled CTE chain.
  private val q114: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    CurationOps.logisticRegressionGd(d,
        features = Seq(
          TextOps.tokenCount(col("text")) / lit(100.0d),
          TextOps.stopwordRatio(col("text"), Stopwords)),
        // coalesce: the oracle's CASE WHEN maps NULL lang to 0.0; a bare
        // === would null-propagate and silently DROP those rows from the
        // gradient sums if the regenerated fixture ever grows NULL langs
        label = coalesce(col("lang") === "en", lit(false)),
        iters = 5, lr = 1.0)
      .select(e6(col("w0")).as("w0_e6"), e6(col("w1")).as("w1_e6"),
        e6(col("w2")).as("w2_e6"), e6(col("acc")).as("acc_e6"),
        col("n"))
  }

  // q115 — PageRank centrality over the exact-Jaccard near-dup graph
  // (the q25 pair derivation, symmetrized): 3 iterations, d = 0.85.
  // Ranks canonical representatives / hub docs inside dup clusters.
  private val q115: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val edges = pairs.union(pairs.select(col("id2"), col("id1")))
    GraphOps.pageRank(edges, "id1", "id2", iters = 3)
      .select(col("node").as("doc_id"), e6(col("pr")).as("pr_e6"))
      .ordered(col("doc_id"))
  }

  // q116 — per-node triangles + local clustering coefficient over the
  // exact-Jaccard near-dup graph (doc_id < 500: the full corpus at
  // sf0.01, a bounded subgraph above). Wedge-join enumeration — each
  // triangle found once; every stage an equi-join.
  private val q116: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    // Bucketed variant: edges land once as a bucketed table on `a`, so
    // the wedge and closing-edge join sides keyed on `a` scan with no
    // exchange — the persist-once / mine-many shape a 100 TB similarity
    // graph wants (PLAN_AUDIT shows the exchange-count drop vs r4).
    GraphOps.triangleStatsBucketed(s, pairs, "id1", "id2",
        table = "graft_q116_edges")
      .select(col("node").as("doc_id"), col("deg"), col("tri"),
        e6(col("cc")).as("cc_e6"))
      .ordered(col("doc_id"))
  }

  // q117 — deterministic synchronous label propagation (3 rounds) on
  // the same bounded near-dup graph as q116, symmetrized.
  private val q117: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val edges = pairs.union(pairs.select(col("id2"), col("id1")))
    GraphOps.labelPropagation(edges, "id1", "id2", iters = 3)
      .select(col("node").as("doc_id"), col("community"))
      .ordered(col("doc_id"))
  }

  // q118 — quality-classifier INFERENCE (the FineWeb/DCLM score-and-
  // filter pattern): the q114 GD loop trains weights into driver
  // literals; every document is then scored at scan speed — a pure
  // projection, no join, no shuffle. Per-doc sigmoid score (e6) +
  // keep flag.
  private val q118: Q = (s, dir) => {
    CurationOps.logisticTrainScore(t(s, dir, "documents"), "doc_id",
        features = Seq(
          TextOps.tokenCount(col("text")) / lit(100.0d),
          TextOps.stopwordRatio(col("text"), Stopwords)),
        label = coalesce(col("lang") === "en", lit(false)),
        iters = 5, lr = 1.0)
      .select(col("id").as("doc_id"), e6(col("score")).as("score_e6"),
        when(col("score") >= 0.5, 1L).otherwise(0L).as("keep"))
      .ordered(col("doc_id"))
  }

  // q119 — kNN graph: top-3 cosine neighbors for EVERY corpus vector
  // via the banded-LSH self-join (q109's banding, equi-join expanded)
  // + exact cosine re-rank. The corpus-scale input to SemDeDup-style
  // clustering and near-dup community mining — no broadcastable query
  // side exists, so the shape matters.
  private val q119: Q = (s, dir) => {
    SimilarityOps.knnGraph(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 3, bands = 8, planesPerBand = 4)
      .select(col("id"), col("nid"), round(col("cos"), 6).as("cos"))
      .ordered(col("id"), col("cos").desc, col("nid"))
  }

  // q120 — LSH collision statistics (capacity planning): per-band
  // bucket-population moments of the q26 md5-parity banding —
  // candidate-pair mass, colliding buckets, max bucket — with ZERO
  // pairs materialized. The query a pipeline runs BEFORE a full dedup
  // to size caps and predict verify cost. Integer-exact.
  private val q120: Q = (s, dir) => {
    DedupOps.lshCollisionStats(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, k = 8, bands = 4)
      .ordered(col("band"))
  }

  // q121 — HyperLogLog distinct users per event_type (p=8, 256
  // registers): the fixed-size mergeable complement to the KMV sketch
  // (q49). The oracle replays the integer register pipeline exactly —
  // the hashed columns are the exact harmonic-sum integer and the
  // raw estimate (one IEEE multiply+divide on identical operands);
  // the ln-based bias corrections stay spec-covered (StatsOpsSpec
  // accuracy floor), not oracle-hashed, per the libm-drift rule.
  private val q121: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val sk = graft.operators.StatsOps.hllDistinct(
      ev, "event_type", "user_id", p = 8, salt = "hll")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(sk, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_regs"),
        col("reg_sum_p"), e6(col("est_raw")).as("est_raw_e6"))
      .ordered(col("event_type"))
  }

  // q122 — vocabulary coverage curve: smallest frequency-ranked vocab
  // covering 50/90/95/99% of corpus tokens. The tokenizer-sizing
  // query. No per-term sort anywhere: the walk runs on the
  // distinct-frequency table and the crossing group closes in integer
  // arithmetic (see TextOps.vocabCoverage).
  private val q122: Q = (s, dir) => {
    TextOps.vocabCoverage(t(s, dir, "documents"), "text",
        Seq(50, 90, 95, 99))
      .ordered(col("pct"))
  }

  // q123 — boilerplate / template 2-grams by within-source document
  // frequency (CCNet line dedup generalized to grams): a gram present
  // in >= 20% of its source's docs is template material; per-doc
  // boilerplate counts + template flag.
  private val q123: Q = (s, dir) => {
    CurationOps.boilerplateGrams(t(s, dir, "documents"), "doc_id",
        "text", "source", n = 2, pctThreshold = 20)
      .ordered(col("doc_id"))
  }

  // q124 — per-doc 2-gram novelty under ingestion (id) order: the
  // share of a doc's distinct grams that first appear in it —
  // ordering-aware dedup triage (complement of q77's coverage).
  private val q124: Q = (s, dir) => {
    DedupOps.ngramNovelty(t(s, dir, "documents"), "doc_id", "text",
        n = 2)
      .ordered(col("doc_id"))
  }

  // q125 — cluster prototypicality / data-pruning scores (SSL
  // prototypes): exact integer distance to the own-cluster mean of
  // the q67 k-means, farthest-first rank within cluster, top-10%
  // outlier flag. The oracle replays the k-means CTE chain plus the
  // same re-centering.
  private val q125: Q = (s, dir) => {
    SimilarityOps.clusterPrototypicality(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3, outlierPct = 10)
      .ordered(col("vec_id"))
  }

  // q126 — HITS hubs & authorities over the DIRECTED near-dup graph
  // (q25's pairs, id1 -> id2 = earlier doc feeds its later near-dups):
  // hubs = canonical source docs, authorities = derived copies. The
  // unnormalized integer form makes every round an exact integer sum
  // (see GraphOps.hits), so the oracle unrolls two rounds in BIGINTs.
  private val q126: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    GraphOps.hits(pairs, "id1", "id2", iters = 2)
      .select(col("node").as("doc_id"), col("hub"), col("auth"))
      .ordered(col("doc_id"))
  }

  // q127 — rank-normalized quality ensembling (multi-signal corpus
  // filter): exact global ranks of two signals via the bucketed
  // no-global-sort ranking (CurationOps.globalRank), blended by rank
  // sum — scale-free signal combination, all-integer output. Both
  // signal doubles are libm-free IEEE arithmetic, so the orders (and
  // hence the ranks) are engine-independent.
  private val q127: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.qualityScoreRaw(col("text"), Stopwords).as("__q"),
        TextOps.tokenCount(col("text")).cast("long").as("__l"))
    val ranked = CurationOps.globalRank(
      CurationOps.globalRank(d, "__q", "doc_id", "q_rank"),
      "__l", "doc_id", "l_rank")
    val n = d.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("q_rank"), col("l_rank"),
        (col("q_rank") + col("l_rank")).as("blend"),
        (col("q_rank") + col("l_rank") >= col("__n")).as("keep"))
      .ordered(col("doc_id"))
  }

  // q128 — audience-overlap / join-cardinality estimation from HLL
  // sketches: every event-type pair's user overlap by inclusion-
  // exclusion on the q121 register tables (union = register max),
  // with the exact overlap alongside. The raw sets join only for the
  // n_exact reference column; the estimate itself reads KEY-SIZED
  // sketch state.
  private val q128: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val regs = graft.operators.StatsOps.hllRegisters(
      ev, "event_type", "user_id", p = 8, salt = "hll")
    val sk = graft.operators.StatsOps.hllIntersect(regs, "event_type")
    val d = ev.select(col("event_type"), col("user_id")).distinct()
    val ex = d.as("a").join(d.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("key_a"),
        col("b.event_type").as("key_b"))
      .agg(count(lit(1)).as("n_exact"))
    sk.join(ex, Seq("key_a", "key_b"), "left")
      .select(col("key_a"), col("key_b"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("reg_sum_a"), col("reg_sum_b"), col("reg_sum_ab"),
        e6(col("inter_raw")).as("inter_raw_e6"))
      .ordered(col("key_a"), col("key_b"))
  }

  // q129 — per-source distribution drift: binned two-sample KS of the
  // token-count distribution, each source vs the rest of the corpus.
  // Integer bins, integer CDF cross-multiplication — everything but
  // the final convenience ratio is exact (see StatsOps.ksDrift).
  private val q129: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.operators.StatsOps.ksDrift(d, "source", "n_tok", bins = 32)
      .select(col("source"), col("n_key"), col("n_rest"), col("ks_num"),
        e6(col("ks")).as("ks_e6"))
      .ordered(col("source"))
  }

  // q130 — PMI-lift collocations (phrase mining for tokenizer /
  // phrase-merge vocabularies): top-20 bigrams by association lift
  // with a min-count floor. Lift = exp(PMI) as exact-rational
  // arithmetic — no ln anywhere (see CurationOps.collocations).
  private val q130: Q = (s, dir) => {
    CurationOps.collocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 20)
      .select(col("gram"), col("c_ab"), col("c_a"), col("c_b"),
        e6(col("lift")).as("lift_e6"))
      .ordered(col("lift_e6").desc, col("gram"))
  }

  // q131 — classifier calibration (reliability diagram) for the q118
  // quality scores, EQUAL-MASS decile bins (the sklearn
  // strategy='quantile' curve — fixed-width bins degenerate when the
  // model concentrates its scores): rank over the ALREADY-PINNED e6
  // integer score (so ordering can never straddle a cross-engine
  // ulp) via the bucketed no-sort ranking, bin = (rank-1)*10 div n.
  // Per-bin count, positives, exact score mass, observed positive
  // rate — all integers.
  private val q131: Q = (s, dir) => {
    val scored = CurationOps.logisticTrainScore(t(s, dir, "documents"),
        "doc_id",
        features = Seq(
          TextOps.tokenCount(col("text")) / lit(100.0d),
          TextOps.stopwordRatio(col("text"), Stopwords)),
        label = coalesce(col("lang") === "en", lit(false)),
        iters = 5, lr = 1.0)
      .select(col("id"), col("y"), e6(col("score")).as("se6"))
    val n = scored.agg(count(lit(1)).as("__n"))
    CurationOps.globalRank(scored, "se6", "id", "__rk")
      .crossJoin(broadcast(n))
      .withColumn("bin", expr("(__rk - 1) * 10 DIV __n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("long")).as("n_pos"),
        sum(col("se6")).as("sum_score_e6"))
      .withColumn("pos_rate_e6",
        e6(col("n_pos").cast("double") / col("n").cast("double")))
      .ordered(col("bin"))
  }

  // q132 — per-source quality-greedy token budget (keep each source's
  // BEST docs up to a 2k-token quota — hot-domain downsampling that
  // preserves quality, vs q98's hash-uniform fill). All-integer
  // cumulative arithmetic over the deterministic quality order.
  private val q132: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        TextOps.qualityScoreRaw(col("text"), Stopwords).as("__q"))
    CurationOps.qualityBudgetFill(d, "source", "doc_id", "n_toks",
        "__q", budgetTokens = 2000L)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("q_rank"), col("cum_before"), col("kept"))
      .ordered(col("doc_id"))
  }

  // q133 — canonical representatives per near-dup cluster: the q54
  // components, each cluster keeping its highest-quality member
  // (quality desc, id tiebreak) — the "which copy do we train on"
  // decision, made deterministically. Emits cluster size alongside.
  private val q133: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val pairs = DedupOps.simhashNearDupParity(
      docs.filter(col("doc_id") < 250), "doc_id", "text", maxHamming = 8)
    val comp = DedupOps.connectedComponents(pairs, "id1", "id2")
    val q = docs.select(col("doc_id").as("id"),
      TextOps.qualityScoreRaw(col("text"), Stopwords).as("__q"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__q").desc, col("id"))
    comp.join(q, "id")
      .withColumn("__rn", row_number().over(w))
      .withColumn("size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("id").as("rep_id"), col("size"),
        e6(col("__q")).as("rep_quality_e6"))
      .ordered(col("cluster_id"))
  }

  // q134 — modularity of the q117 label-propagation communities over
  // the same symmetrized near-dup graph: the "are these communities
  // real" score a pipeline checks before trusting cluster-level
  // decisions. Integer edge counts; two IEEE divisions (see
  // GraphOps.modularity).
  private val q134: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val edges = pairs.union(pairs.select(col("id2"), col("id1")))
      .localCheckpoint(false) // labels + 3 modularity scans reuse it
    val comm = GraphOps.labelPropagation(edges, "id1", "id2", iters = 3)
    GraphOps.modularity(edges, "id1", "id2", comm, "node", "community")
      .select(col("community"), col("n_nodes"), col("e_in2"),
        col("d_c"), e6(col("modularity")).as("mod_e6"))
      .ordered(col("community"))
  }

  // q135 — kNN label-noise screen (confident-learning-lite) over the
  // embeddings table: each vector's label vs its top-3 LSH-kNN
  // neighbors' labels; minority-label rows are suspects. The q119
  // neighbor derivation, so vectors without colliding buckets have
  // no row (no evidence either way).
  private val q135: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val knn = SimilarityOps.knnGraph(emb, "vec_id", "embedding", k = 3,
      bands = 8, planesPerBand = 4)
    val lab = emb.select(col("vec_id"), col("label"))
    knn.select(col("id"), col("nid"))
      .join(lab.select(col("vec_id").as("id"), col("label").as("own")),
        "id")
      .join(lab.select(col("vec_id").as("nid"), col("label").as("nl")),
        "nid")
      .groupBy(col("id"))
      .agg(min(col("own")).as("label"), count(lit(1)).as("n_nbrs"),
        sum(when(col("nl") === col("own"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("id").as("vec_id"), col("label"), col("n_nbrs"),
        col("n_agree"),
        (col("n_agree") * 2 < col("n_nbrs")).as("is_suspect"))
      .ordered(col("vec_id"))
  }

  // q136 — inverse-cluster-size soft dedup over the q54 near-dup
  // components: each cluster member survives with deterministic
  // probability 1/size (md5 integer compare), flattening duplicate
  // counts while keeping within-cluster diversity — the soft
  // alternative to q133's hard canonical pick.
  private val q136: Q = (s, dir) => {
    val pairs = DedupOps.simhashNearDupParity(
      t(s, dir, "documents").filter(col("doc_id") < 250),
      "doc_id", "text", maxHamming = 8)
    DedupOps.clusterDownsample(
        DedupOps.connectedComponents(pairs, "id1", "id2"),
        "id", "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("size"),
        col("kept"))
      .ordered(col("doc_id"))
  }

  // q137 — reciprocal-rank fusion of two ANN retrievers (the exact
  // brute-force list and the LSH-bucketed list for queries
  // vec_id < 5): rank-only fusion, so no score calibration and an
  // engine-independent result (see SimilarityOps.rrfFuse).
  private val q137: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = SimilarityOps.bruteForceTopK(emb, q, "vec_id",
      "embedding", k = 5)
    val lsh = SimilarityOps.lshTopK(emb, q, "vec_id", "embedding",
      k = 5, planes = 4)
    SimilarityOps.rrfFuse(brute, lsh, "qid", "nid", "cos", k = 5)
      .select(col("qid"), col("nid"), col("rank_a").as("rank_brute"),
        col("rank_b").as("rank_lsh"), e6(col("rrf")).as("rrf_e6"))
      .ordered(col("qid"), col("rrf_e6").desc, col("nid"))
  }

  // q138 — similarity-weighted PageRank over the near-dup graph:
  // edges carry the e6-pinned Jaccard as an INTEGER weight, so
  // out-weight totals are exact and the only float accumulation is
  // the q115-class contribution sum. Ranks canonical hub docs by how
  // STRONGLY (not just how often) they duplicate.
  private val q138: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("w"))
    val edges = pairs.union(pairs.select(col("id2").as("id1"),
      col("id1").as("id2"), col("w")))
    GraphOps.pageRankWeighted(edges, "id1", "id2", "w", iters = 3)
      .select(col("node").as("doc_id"), e6(col("pr")).as("pr_e6"))
      .ordered(col("doc_id"))
  }

  // q139 — cross-view cluster agreement: the Rand index between the
  // q117 text-derived communities and the embedding labels for the
  // shared ids (doc_id == vec_id in the fixture) — "do text near-dup
  // communities line up with embedding-space structure". All-integer
  // pair counting (see StatsOps.randIndex).
  private val q139: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val edges = pairs.union(pairs.select(col("id2"), col("id1")))
    val comm = GraphOps.labelPropagation(edges, "id1", "id2", iters = 3)
    graft.operators.StatsOps.randIndex(
        comm, "node", "community",
        t(s, dir, "embeddings"), "vec_id", "label")
      .select(col("n_items"), col("a_pairs"), col("row_pairs"),
        col("col_pairs"), col("total_pairs"),
        e6(col("rand")).as("rand_e6"))
      .ordered(col("n_items"))
  }

  // q140 — semi-structured property extraction: parse the events
  // table's JSON `props` payload (get_json_object — codegen'd, no
  // UDF) and aggregate the extracted field per event type. The scan
  // stays one pass; the oracle replays the extraction with a core
  // regexp (no DuckDB JSON extension dependency) — equivalent on the
  // {"k": N} payload contract.
  private val q140: Q = (s, dir) => {
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        e6(sum(col("k")).cast("double") / count(col("k")))
          .as("k_avg_e6"))
      .ordered(col("event_type"))
  }

  /** q141's pretraining-mix target shares (sum to 1.0; en upweighted,
    * the rest spread) — the operator is generic, the query pins a
    * concrete mix. */
  private val MixTargets: Seq[(String, Double)] = Seq(
    "en" -> 0.30, "zh" -> 0.25, "es" -> 0.15, "de" -> 0.15,
    "fr" -> 0.15)

  // q141 — data-mixing reweighting: token-weighted sampling rates per
  // language realizing a target mixture, capped at 4 effective
  // epochs (CurationOps.mixtureReweight).
  private val q141: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    CurationOps.mixtureReweight(d, "lang",
        TextOps.tokenCount(col("text")), MixTargets, maxRate = 4.0)
      .select(col("group").as("lang"), col("n_rows"),
        col("weight").as("tokens"),
        e6(col("nat_share")).as("nat_e6"),
        e6(col("tgt_share")).as("tgt_e6"),
        e6(col("rate")).as("rate_e6"),
        col("exp_weight").as("exp_tokens"))
      .ordered(col("lang"))
  }

  // q142 — exact pairwise source-vocabulary Jaccard (term-keyed
  // inverted-index join; 20 sources -> 190 pairs). The sketch twin
  // is q143.
  private val q142: Q = (s, dir) => {
    TextOps.vocabJaccardPairs(t(s, dir, "documents"), "source", "text")
      .select(col("g1"), col("g2"), col("v1"), col("v2"), col("shared"),
        e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("g1"), col("g2"))
  }

  // q143 — k-min MinHash sketch of each source's vocabulary and the
  // signature-agreement Jaccard estimate: the scale path of q142
  // (pair stage sees k longs per source, never the vocabularies).
  private val q143: Q = (s, dir) => {
    TextOps.vocabMinhashSim(t(s, dir, "documents"), "source", "text",
        k = 16)
      .select(col("g1"), col("g2"), col("k"), col("matches"),
        e6(col("est_jaccard")).as("est_e6"))
      .ordered(col("g1"), col("g2"))
  }

  // q144 — tokenizer fertility per language: whitespace tokens vs
  // BPE-ish subword splits vs chars, all exact integer sums with one
  // final division each (the chars-per-token / subwords-per-token
  // report that sizes a tokenizer for a corpus).
  private val q144: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).as("nt"),
        TextOps.subwordCount(col("text")).as("ns"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"),
        sum(col("ns")).as("subwords"), sum(col("nc")).as("chars"))
      .select(col("lang"), col("n_docs"), col("tokens"),
        col("subwords"), col("chars"),
        e6(col("subwords").cast("double") / col("tokens"))
          .as("fert_e6"),
        e6(col("chars").cast("double") / col("subwords")).as("cps_e6"),
        e6(col("chars").cast("double") / col("tokens")).as("cpt_e6"))
      .ordered(col("lang"))
  }

  // q145 — per-label embedding centroid skew vs the global centroid
  // (SimilarityOps.labelCentroidSkew): integer-quantized exact sums,
  // fold-ordered cosine — bit-equal doubles before rounding.
  private val q145: Q = (s, dir) => {
    SimilarityOps.labelCentroidSkew(t(s, dir, "embeddings"),
        "embedding", "label")
      .select(col("label"), col("n_vecs"),
        e6(col("cosg")).as("cosg_e6"),
        round(col("cnorm"), 0).cast("long").as("cnorm"),
        round(col("gnorm"), 0).cast("long").as("gnorm"))
      .ordered(col("label"))
  }

  // q146 — dedup impact report: pair-greedy resolution of the 2-gram
  // Jaccard near-dup pairs (DedupOps.greedyPairDrop), rolled up to
  // docs/tokens kept vs dropped per source — the "what did dedup cost
  // each source" accounting a curation run ships with.
  private val q146: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 500)
    val pairs = DedupOps.ngramJaccardPairs(d, "doc_id", "text", n = 2,
      threshold = 0.1)
    DedupOps.greedyPairDrop(d, "doc_id", pairs)
      .select(col("source"), col("keep"),
        TextOps.tokenCount(col("text")).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nt")).as("tokens_total"),
        sum(when(col("keep"), col("nt")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        e6((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total")).as("drop_e6"))
      .ordered(col("source"))
  }

  // q147 — per-language z-score composite quality ranking
  // (CurationOps.zScoreRank): integer signals -> exact group moments
  // -> engine-independent z-scores, top-5 docs per language.
  private val q147: Q = (s, dir) => {
    val stopArr = array(Stopwords.map(lit): _*)
    val toks = TextOps.tokens(col("text"))
    CurationOps.zScoreRank(t(s, dir, "documents"), "lang", "doc_id",
        Seq(
          ("n_tokens", TextOps.tokenCount(col("text")), 1.0),
          ("n_stop",
            size(filter(toks, x => array_contains(stopArr, x))), -1.0),
          ("n_chars", length(col("text")), 0.5)),
        topK = 5)
      .select(col("group").as("lang"), col("id").as("doc_id"),
        col("n_tokens"), col("n_stop"), col("n_chars"),
        e6(col("composite")).as("comp_e6"), col("rank"))
      .ordered(col("lang"), col("rank"))
  }

  // q148 — cross-modal language skew: documents joined to their
  // embeddings (doc_id == vec_id), then the q145 centroid-skew
  // machinery grouped by LANGUAGE instead of cluster label — "are
  // the languages separated in embedding space". Same operator,
  // different grouping: labelCentroidSkew is generic over the label
  // column type.
  private val q148: Q = (s, dir) => {
    val joined = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
    SimilarityOps.labelCentroidSkew(joined, "embedding", "lang")
      .select(col("label").as("lang"), col("n_vecs"),
        e6(col("cosg")).as("cosg_e6"),
        round(col("cnorm"), 0).cast("long").as("cnorm"))
      .ordered(col("lang"))
  }

  // q149 — asymmetric containment pairs: catches short-doc-inside-
  // long-doc duplication that Jaccard misses
  // (DedupOps.ngramContainmentPairs).
  private val q149: Q = (s, dir) => {
    DedupOps.ngramContainmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 3, threshold = 0.5)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        col("shared"), e6(col("cont1")).as("cont1_e6"),
        e6(col("cont2")).as("cont2_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q150 — k-core peeling of the near-dup graph: 3 rounds of
  // "drop nodes with degree < 2" over the symmetrized 2-gram Jaccard
  // pairs — the dense duplication cores that survive are template
  // families, the first candidates for aggressive dedup.
  private val q150: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val edges = pairs.union(pairs.select(col("id2"), col("id1")))
    GraphOps.kCorePeel(edges, "id1", "id2", k = 2, rounds = 3)
      .select(col("node").as("doc_id"), col("deg"))
      .ordered(col("doc_id"))
  }

  // q151 — per-user event burstiness: activity concentration over
  // hourly buckets (peak-hour count vs the mean over ACTIVE hours) —
  // the bot/spam screen on an event stream. Exact integers + one
  // final division.
  private val q151: Q = (s, dir) => {
    t(s, dir, "events")
      .withColumn("h", expr("(ts_ns div 1000) div 3600000000"))
      .groupBy(col("user_id"), col("h"))
      .agg(count(lit(1)).as("nh"))
      .groupBy(col("user_id"))
      .agg(sum(col("nh")).as("n_events"),
        count(lit(1)).as("n_hours"), max(col("nh")).as("max_hour"))
      .select(col("user_id"), col("n_events"), col("n_hours"),
        col("max_hour"),
        e6((col("max_hour") * col("n_hours")).cast("double") /
          col("n_events")).as("burst_e6"))
      .ordered(col("user_id"))
  }

  // q152 — quantile normalization of doc length across sources
  // (CurationOps.quantileNormalize): every source's length
  // distribution is mapped onto the global one — rank-exact integer
  // arithmetic, no interpolation.
  private val q152: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    CurationOps.quantileNormalize(d, "source", "doc_id", "n_chars")
      .select(col("group").as("source"), col("id").as("doc_id"),
        col("value").as("n_chars"), col("norm"))
      .ordered(col("source"), col("doc_id"))
  }

  // q153 — char-trigram commonness (log-free perplexity proxy): rare-
  // trigram docs are the noise tail, common-trigram docs the
  // boilerplate tail (TextOps.trigramCommonness). Counts exact.
  private val q153: Q = (s, dir) => {
    TextOps.trigramCommonness(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tris"), col("freq_sum"),
        e6(col("commonness")).as("comm_e6"))
      .ordered(col("doc_id"))
  }

  // q154 — per-source chi-squared goodness-of-fit of the doc-length
  // distribution vs the corpus (StatsOps.chi2GoodnessOfFit): 8
  // 64-char bins, bin-ordered fold — the "which sources look unlike
  // the corpus" screen.
  private val q154: Q = (s, dir) => {
    graft.operators.StatsOps.chi2GoodnessOfFit(
        t(s, dir, "documents"), "source", col("n_chars"),
        nBins = 8, binWidth = 64L)
      .select(col("group").as("source"), col("n"), col("n_bins"),
        e6(col("chi2")).as("chi2_e6"))
      .ordered(col("source"))
  }

  // q155 — duplicate 8-token document prefixes: the zero-join
  // template-opening screen (DedupOps.prefixTemplateGroups).
  private val q155: Q = (s, dir) => {
    DedupOps.prefixTemplateGroups(t(s, dir, "documents"), "doc_id",
        "text", k = 8)
      .select(col("prefix"), col("n_docs"), col("first_doc"))
      .ordered(col("prefix"))
  }

  // q156 — vocabulary growth (Heaps curve) at doc-count checkpoints:
  // distinct types + cumulative tokens after the first cp docs in id
  // order (TextOps.vocabGrowth).
  private val q156: Q = (s, dir) => {
    TextOps.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
        checkpoints = Seq(50L, 100L, 200L, 500L, 1000L, 2000L, 5000L))
      .ordered(col("cp"))
  }

  // q157 — longest repeated-token run per doc: the degenerate-
  // repetition filter signal, one per-row fold (TextOps.maxTokenRun).
  private val q157: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.maxTokenRun(col("text")).as("max_run"))
      .ordered(col("doc_id"))
  }

  // q158 — near-dup graph degree distribution: how concentrated is
  // duplication (a long-tailed degree histogram means hub templates).
  // Pure integer histogram over the symmetrized q25-style pair list.
  private val q158: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    pairs.union(pairs.select(col("id2"), col("id1")))
      .groupBy(col("id1").as("node"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .ordered(col("deg"))
  }

  // q159 — int8 quantization error report per embedding label: the
  // "is 8-bit good enough for this corpus region" decision. Per-row
  // MAE comes from the deterministic int8Quantize fold; rows pin to
  // e9 BIGINTs BEFORE the label sum, so the aggregation is exact
  // integer arithmetic (no order-floating float SUM).
  private val q159: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    SimilarityOps.int8Quantize(emb, "vec_id", "embedding")
      .select(col("id").as("vec_id"),
        round(col("mae") * lit(1e9), 0).cast("long").as("mae_e9"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("mae_e9")).as("sum_mae_e9"),
        max(col("mae_e9")).as("max_mae_e9"))
      .select(col("label"), col("n_vecs"), col("sum_mae_e9"),
        col("max_mae_e9"),
        round(col("sum_mae_e9").cast("double") / col("n_vecs"), 0)
          .cast("long").as("mean_mae_e9"))
      .ordered(col("label"))
  }

  // q160 — per-source quality-gate pass-rate matrix: three concrete
  // gates (token-count band, stopword floor, repetition cap) and the
  // conjunction — the "why are we dropping this source's docs"
  // report. All-integer counting, one corpus scan.
  private val q160: Q = (s, dir) => {
    val toks = TextOps.tokens(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    val d = t(s, dir, "documents").select(col("source"),
      TextOps.tokenCount(col("text")).cast("long").as("nt"),
      size(filter(toks, x => array_contains(stopArr, x))).cast("long")
        .as("nstop"),
      TextOps.maxTokenRun(col("text")).as("run"))
    def pass(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val gLen = col("nt").between(30L, 70L)
    val gStop = col("nstop") * 1000L >= col("nt") * 50L
    val gRun = col("run") <= 2L
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), pass(gLen).as("pass_len"),
        pass(gStop).as("pass_stop"), pass(gRun).as("pass_run"),
        pass(gLen && gStop && gRun).as("pass_all"))
      .select(col("source"), col("n_docs"), col("pass_len"),
        col("pass_stop"), col("pass_run"), col("pass_all"),
        e6(col("pass_all").cast("double") / col("n_docs"))
          .as("rate_e6"))
      .ordered(col("source"))
  }

  // q161 — most-duplicated 3-gram per document with its corpus doc
  // frequency: the "show me the boilerplate span" drill-down on the
  // q77-style duplication signals. Ties break (df desc, gram asc).
  private val q161: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val grams = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3)))
        .as("g"))
    val dfreq = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("gram_df"))
    grams.join(dfreq, "g")
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("gram_df").desc, col("g"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("g").as("top_gram"), col("gram_df"))
      .ordered(col("doc_id"))
  }

  // q162 — dataset card: the one-row corpus summary a curation run
  // publishes (docs, tokens, vocabulary, sources, languages, exact-
  // dup groups, template-prefix groups, near-dup pairs). Each figure
  // is a 1-row aggregate crossJoined in — every input scanned once.
  private val q162: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val base = d.agg(count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val vocab = d.select(explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "").agg(countDistinct(col("t")).as("vocab_size"))
    val dupg = d.groupBy(col("text")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).agg(count(lit(1)).as("exact_dup_groups"))
    val tmpl = DedupOps.prefixTemplateGroups(d, "doc_id", "text", 8)
      .agg(count(lit(1)).as("template_groups"))
    val ndp = DedupOps.ngramJaccardPairs(d.filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .agg(count(lit(1)).as("near_dup_pairs"))
    base.crossJoin(broadcast(vocab)).crossJoin(broadcast(dupg))
      .crossJoin(broadcast(tmpl)).crossJoin(broadcast(ndp))
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        col("n_sources"), col("n_langs"), col("exact_dup_groups"),
        col("template_groups"), col("near_dup_pairs"))
      .ordered(col("n_docs"))
  }

  // q163 — lexical diversity per source: type-token ratio and the
  // Simpson index 1 - sum(c_i^2)/N^2 — the log-free diversity metric
  // (entropy needs ln(); Simpson is exact integer sums + one
  // division), the repetitive/spammy-source screen.
  private val q163: Q = (s, dir) => {
    val tf = t(s, dir, "documents")
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        e6(col("n_types").cast("double") / col("n_tokens"))
          .as("ttr_e6"),
        e6(lit(1.0) - col("sum_c2").cast("double") /
          (col("n_tokens").cast("double") *
            col("n_tokens").cast("double"))).as("simpson_e6"))
      .ordered(col("source"))
  }

  // q164 — event-type transition matrix: consecutive event pairs per
  // user in (ts, event_id) order — the Markov-chain behavioral
  // profile. One user-keyed window, integer counts.
  private val q164: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("prev_type"), col("next_type"))
  }

  // q165 — dedup method agreement: the 2-gram Jaccard (0.1) pair set
  // vs the 3-gram containment (0.5) pair set over the same docs —
  // overlap counts + agreement Jaccard. The "are my dedup passes
  // redundant or complementary" report.
  private val q165: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 500)
    val jac = DedupOps.ngramJaccardPairs(d, "doc_id", "text", 2, 0.1)
      .select(col("id1"), col("id2"))
    val con = DedupOps.ngramContainmentPairs(d, "doc_id", "text", 3, 0.5)
      .select(col("id1"), col("id2"))
    val nj = jac.agg(count(lit(1)).as("n_jac"))
    val nc = con.agg(count(lit(1)).as("n_con"))
    val nb = jac.join(con, Seq("id1", "id2"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    nj.crossJoin(broadcast(nc)).crossJoin(broadcast(nb))
      .select(col("n_jac"), col("n_con"), col("n_both"),
        e6(col("n_both").cast("double") /
          (col("n_jac") + col("n_con") - col("n_both")))
          .as("agree_e6"))
      .ordered(col("n_jac"))
  }

  // q166 — dedup threshold sensitivity: pair count and greedy-dropped
  // doc count at each Jaccard threshold, from ONE pair computation
  // (the "how aggressive should dedup be" tuning curve).
  private val q166: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("j6"))
    val th = Seq(100000L, 200000L, 300000L, 400000L, 500000L)
    val thDf = {
      val spark = pairs.sparkSession
      import spark.implicits._
      th.toDF("thr_e6")
    }
    pairs.crossJoin(broadcast(thDf))
      .filter(col("j6") >= col("thr_e6"))
      .groupBy(col("thr_e6"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id2")).as("n_dropped"))
      .ordered(col("thr_e6"))
  }

  // q167 — pairwise source centroid similarity in embedding space:
  // the q145 integer-quantized centroid machinery, then a fold-
  // ordered cosine for every source pair (bounded: sources^2) —
  // "which sources are semantically interchangeable"
  // (SimilarityOps.centroidPairSimilarity).
  private val q167: Q = (s, dir) => {
    val joined = t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
    SimilarityOps.centroidPairSimilarity(joined, "embedding", "source")
      .select(col("l1").as("s1"), col("l2").as("s2"), col("n1"),
        col("n2"), e6(col("cos")).as("cos_e6"))
      .ordered(col("s1"), col("s2"))
  }

  // q168 — hourly event rate on a DENSE time grid with a 3-hour
  // trailing mean: gap hours are zero-filled (a sparse groupBy would
  // silently skip them and the moving average would lie). The spine
  // is a 1-row bounds aggregate exploded into hours; the window sums
  // integers over a 3-row frame — exact.
  private val q168: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = t(s, dir, "events")
      .withColumn("h", expr("(ts_ns div 1000) div 3600000000"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val types = hourly.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-2, 0)
    types.crossJoin(broadcast(spine))
      .join(hourly, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("s3", sum(col("n")).over(w))
      .withColumn("c3", count(lit(1)).over(w))
      .select(col("event_type"), col("h"), col("n"),
        e6(col("s3").cast("double") / col("c3")).as("ma3_e6"))
      .ordered(col("event_type"), col("h"))
  }

  // q169 — doc-length Gini coefficient per source (inequality of the
  // length distribution — a "few giant docs dominate this source"
  // screen): G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
  // ranks within source. Numerator exact integer, one division.
  private val q169: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("x"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("chars_sum"),
        sum(col("i") * col("x")).as("sxi"))
      .select(col("source"), col("n_docs"), col("chars_sum"),
        e6((lit(2L) * col("sxi") -
            (col("n_docs") + 1L) * col("chars_sum")).cast("double") /
          (col("n_docs").cast("double") *
            col("chars_sum").cast("double"))).as("gini_e6"))
      .ordered(col("source"))
  }

  // q170 — k-means cluster purity vs embedding labels: the cluster
  // quality confusion report (majority label + purity per cluster).
  // Deterministic: kmeansInt8 is the md5-seeded exact-integer
  // k-means; ties break (count desc, label asc).
  private val q170: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val asg = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding",
      k = 8, iters = 3)
    val counts = asg
      .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("c"))
    val wC = Window.partitionBy(col("cid"))
      .orderBy(col("c").desc, col("label"))
    counts
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("cid"))))
      .withColumn("rk", row_number().over(wC))
      .filter(col("rk") === 1)
      .select(col("cid"), col("n"), col("label").as("top_label"),
        col("c").as("top_n"),
        e6(col("c").cast("double") / col("n")).as("purity_e6"))
      .ordered(col("cid"))
  }

  // q171 — near-dup cluster size distribution: connected components
  // over the 2-gram Jaccard pairs, then the size histogram — "is
  // duplication pairwise noise or giant template families".
  private val q171: Q = (s, dir) => {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 2, threshold = 0.1)
    DedupOps.connectedComponents(pairs, "id1", "id2")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .ordered(col("size"))
  }

  // q172 — regex redaction + content fingerprint: mask the stopword
  // list (the PII-redaction shape on this corpus's vocabulary), count
  // the masked spans, and fingerprint the redacted text with the
  // native rolling hash — the "did redaction change the doc, and to
  // what" audit record.
  private val q172: Q = (s, dir) => {
    val pat = "\\b(" + Stopwords.mkString("|") + ")\\b"
    val low = lower(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        regexp_count(low, lit(pat)).cast("long").as("n_masked"),
        TextOps.rollingHash(TextOps.redact(low, Seq(pat -> "[X]")))
          .as("red_hash"))
      .ordered(col("doc_id"))
  }

  // q173 — in-session event-type co-occurrence: which event types
  // happen together inside one 30-minute gap session (the q57
  // sessionizer feeding a per-session distinct-pair count) — the
  // market-basket view of the event stream.
  private val q173: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .withColumn("tus", expr("ts_ns div 1000"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tus"))
    val st = WindowOps.gapSessionize(ev, Seq("user_id"),
        Seq("tus", "event_id"), "tus", gap = 1800000000L)
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
    st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_seq") === col("b.session_seq") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .ordered(col("type_a"), col("type_b"))
  }

  /** Shared bounded near-dup graph for q174/q180 (the q115
    * derivation): symmetrized exact-Jaccard bigram pairs over
    * doc_id < 100. */
  private def nearDupEdges100(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    pairs.union(pairs.select(col("id2"), col("id1")))
  }

  // q174 — personalized PageRank over the near-dup graph, seeded on
  // the 10 smallest node ids present in it (a deterministic stand-in
  // for "hand-flagged documents"): rank the similarity graph by
  // proximity to the seeds ("find more like these"). The seed
  // collect is 10 longs — driver-bounded by construction.
  private val q174: Q = (s, dir) => {
    val edges = nearDupEdges100(s, dir)
    val seeds = edges.select(col("id1").as("node"))
      .union(edges.select(col("id2")))
      .distinct().orderBy(col("node")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    GraphOps.personalizedPageRank(edges, "id1", "id2", seeds,
        iters = 3)
      .select(col("node").as("doc_id"), e6(col("pr")).as("ppr_e6"))
      .ordered(col("doc_id"))
  }

  // q175 — edit-distance-verified template near-dup pairs: 6-token
  // prefix blocking, Levenshtein confirm at 30% of the longer text.
  private val q175: Q = (s, dir) => {
    DedupOps.editDistancePairs(t(s, dir, "documents"), "doc_id",
        "text", prefixLen = 6, maxDistRatio = 0.3)
      .select(col("id1"), col("id2"), col("dist"), col("max_len"),
        col("keep").cast("int").as("keep"))
      .ordered(col("id1"), col("id2"))
  }

  // q176 — k-anonymity audit: quasi-identifier = (lang, source,
  // 256-char length bucket), risk report per language, k = 5.
  private val q176: Q = (s, dir) => {
    CurationOps.kAnonymityAudit(t(s, dir, "documents"),
        quasi = Seq("lang" -> col("lang"), "source" -> col("source"),
          "len_b" -> expr("n_chars DIV 256")),
        report = ("lang", col("lang")), k = 5)
      .select(col("lang"), col("n_rows"), col("n_classes"),
        col("min_class"), col("n_small"), col("rows_at_risk"),
        e6(col("risk")).as("risk_e6"))
      .ordered(col("lang"))
  }

  // q177 — sparse lexical kNN: trigram TF-IDF cosine top-5 per doc
  // through a df-pruned inverted index (the lexical "more like
  // this" twin of the embedding knn graph q119).
  private val q177: Q = (s, dir) => {
    TextOps.tfidfKnn(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 5, minDf = 2, maxDf = 200)
      .select(col("qid"), col("nid"), col("shared"),
        e6(col("cos")).as("cos_e6"), col("rk"))
      .ordered(col("qid"), col("rk"))
  }

  /** q178's phrases: one plain phrase, one self-overlapping phrase
    * (pins the documented non-overlapping count semantics). */
  val SearchPhrases: Seq[(String, Seq[String])] = Seq(
    "batch_stream" -> Seq("batch", "stream"),
    "data_data" -> Seq("data", "data"))

  // q178 — exact-phrase search over the canonical token stream: hit
  // count + first position per document, per phrase. Pure scan — no
  // shuffle, no index.
  private val q178: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    SearchPhrases.map { case (name, ph) =>
      d.select(lit(name).as("phrase"), col("doc_id"),
          TextOps.phraseStats(col("text"), ph).as("st"))
        .select(col("phrase"), col("doc_id"),
          col("st.n_hits").as("n_hits"),
          col("st.first_pos").as("first_pos"))
        .filter(col("n_hits") > 0)
    }.reduce(_ unionByName _)
      .ordered(col("phrase"), col("doc_id"))
  }

  // q179 — train/val/test leakage audit: exact-Jaccard near-dup
  // pairs (doc_id < 500) whose sides landed in different md5 splits.
  private val q179: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 500)
    val pairs = DedupOps.ngramJaccardPairs(d, "doc_id", "text",
        n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    val splits = d.select(col("doc_id"),
      CurationOps.assignSplit(col("doc_id"), SplitWeights, "graft")
        .as("split"))
    DedupOps.splitLeakageAudit(pairs, splits, "doc_id", "split")
      .ordered(col("split_a"), col("split_b"))
  }

  // q180 — deterministic random walks (DeepWalk corpus generation)
  // over the near-dup graph: 2 walks per node, 3 steps, hash-argmin
  // next-hop choice.
  private val q180: Q = (s, dir) => {
    GraphOps.deterministicWalks(nearDupEdges100(s, dir), "id1",
        "id2", walksPerNode = 2, steps = 3)
      .ordered(col("start"), col("walk"), col("step"))
  }

  // q181 — ANN retrieval-quality evaluation as a first-class query:
  // recall@5 and MRR of hyperplane-LSH top-5 against exact cosine
  // top-5 for the first 50 query vectors.
  private val q181: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
    val truth = SimilarityOps.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5)
    val approx = SimilarityOps.lshTopK(emb, queries, "vec_id",
      "embedding", k = 5, planes = 4)
    SimilarityOps.recallEval(truth, approx)
      .select(col("qid"), col("n_truth"), col("hits"),
        e6(col("recall")).as("recall_e6"), e6(col("rr")).as("rr_e6"))
      .ordered(col("qid"))
  }

  // q182 — skip-gram pairs from the q180 walk corpus (window 2):
  // the (center, context) frequency table a word2vec-style graph
  // embedding trainer consumes.
  private val q182: Q = (s, dir) => {
    val walks = GraphOps.deterministicWalks(nearDupEdges100(s, dir),
      "id1", "id2", walksPerNode = 2, steps = 3)
    GraphOps.walkSkipGramPairs(walks, window = 2)
      .ordered(col("center"), col("context"))
  }

  // q183 — Population Stability Index per source on the q154 length
  // grid (8 x 64-char bins, alpha 0.5): the third drift metric next
  // to KS (q129) and chi2 (q154).
  private val q183: Q = (s, dir) => {
    graft.operators.StatsOps.psiDrift(t(s, dir, "documents"),
        "source", col("n_chars"), nBins = 8, binWidth = 64L,
        alpha = 0.5)
      .select(col("group").as("source"), col("n"), col("n_bins"),
        e6(col("psi")).as("psi_e6"))
      .ordered(col("source"))
  }

  // q184 — materialize the q141 mixture into an explicit epoch plan:
  // floor(rate) full copies per doc + a deterministic Bernoulli
  // extra copy (md5 on "epoch:id").
  private val q184: Q = (s, dir) => {
    CurationOps.materializeMixture(t(s, dir, "documents"), "lang",
        "doc_id", TextOps.tokenCount(col("text")), MixTargets,
        maxRate = 4.0, salt = "epoch")
      .select(col("group").as("lang"), col("id"), col("copy"))
      .ordered(col("lang"), col("id"), col("copy"))
  }

  // q185 — eps-DP noisy counts over the (lang, source) grid with
  // seeded Laplace noise (eps = 1): the reproducible privacy-release
  // shape of a sensitive histogram.
  private val q185: Q = (s, dir) => {
    CurationOps.dpNoisyCounts(t(s, dir, "documents"),
        Seq("lang", "source"), epsilon = 1.0, salt = "dp")
      .select(col("lang"), col("source"), col("n"),
        e6(col("noisy")).as("noisy_e6"))
      .ordered(col("lang"), col("source"))
  }

  // q186 — pair-level modified bigram precision (the BLEU-2 core)
  // over the q115 candidate pairs: the multiset/repetition-aware
  // score next to the set-based Jaccard that proposed the pairs.
  private val q186: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
    val pairs = DedupOps.ngramJaccardPairs(d, "doc_id", "text",
        n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    TextOps.pairNgramPrecision(d, "doc_id", "text", pairs, n = 2)
      .select(col("id1"), col("id2"), col("total2"), col("clipped"),
        e6(col("precision")).as("prec_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q187 — embedding-table health diagnostics per dimension: the
  // pre-index sanity check (dead/clipped dims, variance outliers).
  private val q187: Q = (s, dir) => {
    SimilarityOps.embeddingHealth(t(s, dir, "embeddings"), "embedding")
      .select(col("dim"), col("n"), e6(col("mean")).as("mean_e6"),
        e6(col("var")).as("var_e6"), e6(col("vmin")).as("vmin_e6"),
        e6(col("vmax")).as("vmax_e6"),
        e6(col("zero_frac")).as("zero_e6"))
      .ordered(col("dim"))
  }

  // q188 — Matryoshka-style truncation evaluation: recall@5 + MRR of
  // exact search over the FIRST 32 dims against full-64-dim truth —
  // the "can we halve the index" decision, via the q181 eval harness.
  private val q188: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val half = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val truth = SimilarityOps.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
    val approx = SimilarityOps.bruteForceTopK(half,
      half.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
    SimilarityOps.recallEval(truth, approx)
      .select(col("qid"), col("n_truth"), col("hits"),
        e6(col("recall")).as("recall_e6"), e6(col("rr")).as("rr_e6"))
      .ordered(col("qid"))
  }

  // q189 — prefix-filtered (PPJoin-style) exact trigram Jaccard join
  // over the FULL corpus at t = 0.4: the lossless scale path whose
  // oracle is the plain exact derivation.
  private val q189: Q = (s, dir) => {
    DedupOps.prefixFilteredJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.4)
      .select(col("id1"), col("id2"), e6(col("jaccard")).as("jacc_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q190 — LSH band-configuration tuning sweep: bucket/candidate
  // statistics for every split of the k=8 md5 minhash signature,
  // from one signature pass (full corpus, bigram shingles).
  private val q190: Q = (s, dir) => {
    DedupOps.lshBandTuningSweep(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 2, k = 8, bandsList = Seq(8, 4, 2, 1))
      .ordered(col("bands").desc)
  }

  // q191 — exact-dedup storage-savings report per source: bytes
  // surviving a global keep-first content dedup, drops attributed to
  // the holding source.
  private val q191: Q = (s, dir) => {
    DedupOps.dedupSavingsReport(t(s, dir, "documents"), "doc_id",
        "source", "text", col("n_chars"))
      .select(col("group").as("source"), col("n_docs"), col("n_kept"),
        col("bytes"), col("kept_bytes"),
        e6(col("savings")).as("savings_e6"))
      .ordered(col("source"))
  }

  // q192 — windowed co-occurrence PMI (window 3, min pair count 10,
  // top 20): the beyond-adjacency association probe next to q130's
  // adjacent-bigram lift.
  private val q192: Q = (s, dir) => {
    CurationOps.windowPmi(t(s, dir, "documents"), "doc_id", "text",
        window = 3, minCount = 10L, topK = 20)
      .select(col("t1"), col("t2"), col("c_pair"), col("c1"),
        col("c2"), e6(col("pmi")).as("pmi_e6"))
      .ordered(col("pmi_e6").desc, col("t1"), col("t2"))
  }

  // q193 — BM25 top-50 through the persisted term-sharded inverted
  // index (built on docs < 400, delta-appended with the rest — the
  // q102 build/append/search shape for lexical retrieval). The store
  // path scores EXACTLY like the one-shot bm25Scores scan, which is
  // what the oracle replays.
  private val q193: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val path = tmpStorePath("graft-inv-q193", dir)
    InvertedIndexStore.write(s, d.filter(col("doc_id") < 400),
      "doc_id", "text", nShards = 16, path)
    InvertedIndexStore.append(s, d.filter(col("doc_id") >= 400),
      "doc_id", "text", path)
    InvertedIndexStore.searchBm25(s, path,
        Seq("data", "query", "window"), k = 50)
      .select(col("doc_id"), e6(col("bm25")).as("bm25_e6"))
      .ordered(col("bm25_e6").desc, col("doc_id"))
  }

  // q194 — robust (median/MAD) length-outlier report per source: the
  // heavy-tail-safe twin of the mean/sd screens (q83/q147).
  private val q194: Q = (s, dir) => {
    graft.operators.StatsOps.madOutliers(t(s, dir, "documents"),
        "source", col("n_chars"), cutoff = 3.0)
      .select(col("group").as("source"), col("n"),
        e6(col("med")).as("med_e6"), e6(col("mad")).as("mad_e6"),
        col("n_out"), e6(col("out_frac")).as("frac_e6"))
      .ordered(col("source"))
  }

  // q195 — two-hop reach (contamination blast radius) per node over
  // the symmetrized near-dup graph.
  private val q195: Q = (s, dir) => {
    GraphOps.twoHopReach(nearDupEdges100(s, dir), "id1", "id2")
      .select(col("node").as("doc_id"), col("deg"), col("reach2"))
      .ordered(col("doc_id"))
  }

  // q196 — MinHash estimator calibration on the q47 parity slice
  // (doc_id < 250): signature-estimated vs exact Jaccard over the
  // LSH candidate pairs, as MAE + signed bias.
  private val q196: Q = (s, dir) => {
    DedupOps.minhashCalibration(
        t(s, dir, "documents").filter(col("doc_id") < 250),
        "doc_id", "text")
      .select(col("n_pairs"), e6(col("mae")).as("mae_e6"),
        e6(col("bias")).as("bias_e6"))
      .ordered(col("n_pairs"))
  }

  // q197 — record-linkage top match: each customer's most
  // Jaro-Winkler-similar other customer within their nation (native
  // codegen jaro_winkler; e6-pinned argmax, candidate-id tiebreak).
  private val q197: Q = (s, dir) => {
    TextOps.jaroWinklerTopMatch(t(s, dir, "customer"),
        "c_nationkey", "c_custkey", "c_name")
      .select(col("block").cast("long").as("nation"),
        col("id").as("c_custkey"), col("match_id"), col("jw_e6"))
      .ordered(col("c_custkey"))
  }

  // q198 — SymSpell lossless edit-distance-1 pairs over customer
  // names (custkey < 2000 bounds the all-pairs oracle at any SF):
  // deletion-neighborhood blocking, exact levenshtein verify.
  private val q198: Q = (s, dir) => {
    DedupOps.symspellPairs(
        t(s, dir, "customer").filter(col("c_custkey") < 2000),
        "c_custkey", "c_name")
      .ordered(col("id1"), col("id2"))
  }

  // q199 — last-touch attribution: purchases credited to the latest
  // click/view/signup by the same user within a 4 h lookback; the
  // as-of union+window shape (one user-keyed shuffle, no join).
  private val q199: Q = (s, dir) => {
    FunnelOps.lastTouchAttribution(t(s, dir, "events"),
        "user_id", "ts_ns", "event_id", "event_type", "value",
        "purchase", Seq("click", "view", "signup"),
        lookback = 4L * 3600L * 1000000000L)
      .select(col("channel"), col("n_conv"),
        e6(col("revenue")).as("rev_e6"))
      .ordered(col("channel"))
  }

  // q200 — multi-touch participation: every in-window touch counts
  // (the companion report to q199's winner-take-all), via the
  // bucketed two-table lookback interval join.
  private val q200: Q = (s, dir) => {
    FunnelOps.multiTouchParticipation(t(s, dir, "events"),
        "user_id", "ts_ns", "event_id", "event_type",
        "purchase", Seq("click", "view", "signup"),
        lookback = 4L * 3600L * 1000000000L)
      .ordered(col("channel"))
  }

  // q201 — ROLLUP hierarchy revenue: region -> nation -> total over
  // the customer side of orders; grouping_id pins subtotal rows
  // engine-independently (Spark's bit layout == DuckDB's GROUPING),
  // coalesce keeps the total ORDER BY null-order-proof.
  private val q201: Q = (s, dir) => {
    t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().as("lvl"), count(lit(1)).as("n_orders"),
        e6(sum(col("o_totalprice"))).as("rev_e6"))
      .select(col("lvl").cast("long").as("lvl"),
        coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("n_orders"), col("rev_e6"))
      .ordered(col("lvl"), col("region"), col("nation"))
  }

  // q202 — CUBE over (returnflag, linestatus): all four grouping
  // levels of the classic pricing-summary dimensions in one pass.
  private val q202: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("lvl"), count(lit(1)).as("n"),
        e6(sum(col("l_quantity"))).as("qty_e6"),
        e6(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_e6"))
      .select(col("lvl").cast("long").as("lvl"),
        coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
        col("n"), col("qty_e6"), col("rev_e6"))
      .ordered(col("lvl"), col("rflag"), col("lstatus"))
  }

  // q203 — month-over-month revenue growth: monthly rollup + a
  // broadcast self-join on the shifted month (no unpartitioned lag
  // window — the month table is agg-sized but the shape generalizes).
  // Growth is defined for months with a direct predecessor only.
  private val q203: Q = (s, dir) => {
    val m = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("rev"))
    val prev = m.select(
      (col("mon") + expr("INTERVAL 1 MONTH")).as("mon"),
      col("rev").as("prev_rev"))
    m.join(broadcast(prev), Seq("mon"))
      .select(date_format(col("mon"), "yyyy-MM").as("month"),
        col("n_orders"), e6(col("rev")).as("rev_e6"),
        e6((col("rev") - col("prev_rev")) / col("prev_rev"))
          .as("growth_e6"))
      .ordered(col("month"))
  }

  // q204 — share-of-total revenue per nation: one keyed rollup + a
  // broadcast 1-row total (no window-over-everything exchange).
  private val q204: Q = (s, dir) => {
    val n = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("rev"))
    n.crossJoin(broadcast(n.agg(sum(col("rev")).as("__tot"))))
      .select(col("nation"), col("n_orders"), e6(col("rev")).as("rev_e6"),
        e6(col("rev") / col("__tot")).as("share_e6"))
      .ordered(col("nation"))
  }

  // q205 — CDC snapshot diff: two derived corpus snapshots (old drops
  // doc_id%7==0 and truncates doc_id%3==0 by 20 chars; new drops
  // doc_id%5==0) classified added/removed/changed/unchanged via the
  // fingerprint full-outer join — the daily-incremental primitive.
  private val q205: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          expr("substring(text, 1, greatest(1, length(text) - 20))"))
          .otherwise(col("text")).as("text"))
    val newSnap = d.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"))
    ScaleOps.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .ordered(col("status"))
  }

  // q206 — nDCG@10 retrieval eval: per query term, BM25-ranked top-10
  // graded by integer term frequency (the eval metric missing next to
  // q181's recall/MRR and q137's RRF).
  private val q206: Q = (s, dir) => {
    CurationOps.retrievalNdcg(t(s, dir, "documents"), "doc_id", "text",
        Seq("data", "query", "window"), kTop = 10)
      .select(col("term"), col("n_docs"), e6(col("dcg")).as("dcg_e6"),
        e6(col("idcg")).as("idcg_e6"), e6(col("ndcg")).as("ndcg_e6"))
      .ordered(col("term"))
  }

  // q207 — weighted (multiset) vocabulary Jaccard per source pair:
  // the frequency-aware companion to q142's set Jaccard; exact
  // integers until the single output ratio.
  private val q207: Q = (s, dir) => {
    CurationOps.weightedVocabJaccard(t(s, dir, "documents"), "source",
        "text")
      .select(col("src_a"), col("src_b"), col("inter"), col("tot_a"),
        col("tot_b"), e6(col("wjacc")).as("wjacc_e6"))
      .ordered(col("src_a"), col("src_b"))
  }

  // q208 — CUSUM change-point per event type over the DENSE hourly
  // grid (q168's zero-filled spine — a gap hour is evidence of a
  // shift, not missing data); exact-integer argmax.
  private val q208: Q = (s, dir) => {
    val hourly = t(s, dir, "events")
      .withColumn("h", expr("(ts_ns div 1000) div 3600000000"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val types = hourly.select(col("event_type")).distinct()
    val dense = types.crossJoin(broadcast(spine))
      .join(hourly, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq("n"))
    graft.operators.StatsOps.cusumChangepoint(dense, "event_type", "h", "n")
      .select(col("event_type"), col("change_point").as("change_h"),
        e6(col("cusum")).as("cusum_e6"), col("n_points").as("n_hours"))
      .ordered(col("event_type"))
  }

  // q209 — Benford first-digit screen on order totals: observed vs
  // log10(1+1/d) expected shares + per-digit chi2 contribution (the
  // classic synthetic-data / fraud quality test).
  private val q209: Q = (s, dir) => {
    graft.operators.StatsOps.benfordFirstDigit(t(s, dir, "orders"), col("o_totalprice"))
      .select(col("digit"), col("n_obs"),
        e6(col("obs_share")).as("obs_share_e6"),
        e6(col("exp_share")).as("exp_share_e6"),
        e6(col("chi2_contrib")).as("chi2_e6"))
      .ordered(col("digit"))
  }

  // q210 — exponential goodness-of-fit on inter-arrival gaps per
  // event type: MLE rate (exact-integer gap sum, so lambda is
  // bit-deterministic) + the KS distance against the fitted CDF —
  // the parametric companion to q129's two-sample KS.
  private val q210: Q = (s, dir) => {
    graft.operators.StatsOps.exponentialFitKs(t(s, dir, "events"), "event_type",
        "ts_ns", "event_id", unitPerSecond = 1e9)
      .select(col("event_type"), col("n_gaps"),
        e6(col("mean_gap_s")).as("mean_gap_s_e6"),
        e6(col("rate_hz")).as("rate_hz_e6"), e6(col("ks")).as("ks_e6"))
      .ordered(col("event_type"))
  }

  // q211 — CUPED variance reduction for an A/B readout: arms by
  // user_id parity, pre/post periods split at the corpus time
  // midpoint (exact integer), theta pooled across arms.
  private val q211: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val mid = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("mid"))
    val perUnit = ev.crossJoin(broadcast(mid))
      .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
      .agg(sum(when(col("ts_ns") < col("mid"), col("value"))
          .otherwise(lit(0.0))).as("pre"),
        sum(when(col("ts_ns") >= col("mid"), col("value"))
          .otherwise(lit(0.0))).as("post"))
    graft.operators.StatsOps.cuped(perUnit, "arm", "pre", "post")
      .select(col("arm").cast("long").as("arm"), col("n_units"),
        e6(col("mean_post")).as("mean_post_e6"),
        e6(col("var_post")).as("var_post_e6"),
        e6(col("var_adj")).as("var_adj_e6"),
        e6(col("var_reduction")).as("var_red_e6"))
      .ordered(col("arm"))
  }

  // q212 — serpentine (snake-draft) shard balancing: sources ranked
  // by token count, dealt into 4 bins in boustrophedon order — the
  // deterministic SQL-expressible cousin of LPT bin packing for
  // balanced export shards; load ratio pins the balance quality.
  private val q212: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val nBins = 4
    val tok = t(s, dir, "documents")
      .select(col("source"), TextOps.tokenCount(col("text")).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("tok"))
    val binned = tok
      .withColumn("pos", row_number().over(
        Window.orderBy(col("tok").desc, col("source"))) - 1)
      .withColumn("off", col("pos") % nBins)
      .withColumn("bin",
        when((col("pos") / nBins).cast("long") % 2 === 0, col("off"))
          .otherwise(lit(nBins - 1) - col("off")))
    val out = binned.groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_sources"), sum(col("tok")).as("tot_tokens"))
    out.crossJoin(broadcast(out.agg(sum(col("tot_tokens")).as("__tot"))))
      .select(col("bin"), col("n_sources"), col("tot_tokens"),
        e6(col("tot_tokens").cast("double") * nBins /
          col("__tot").cast("double")).as("load_e6"))
      .ordered(col("bin"))
  }

  // q213 — Cramér's V association between order status and priority:
  // the dense r×c expected grid (missing cells still contribute
  // exp to chi2), V = sqrt(chi2 / (N·(min(r,c)−1))).
  private val q213: Q = (s, dir) => {
    val cells = t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("st"),
        col("o_orderpriority").as("pr"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val rowT = cells.groupBy(col("st")).agg(sum(col("n")).as("rn"))
    val colT = cells.groupBy(col("pr")).agg(sum(col("n")).as("cn"))
    // tot shares lineage with cells; checkpoint breaks the self-join
    // ambiguity the crossJoin would otherwise trip over.
    val tot = cells.agg(sum(col("n")).as("grand_n")).localCheckpoint(false)
    val dense = rowT.crossJoin(broadcast(colT))
      .join(cells, Seq("st", "pr"), "left").na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .withColumn("exp", col("rn").cast("double") * col("cn").cast("double") /
        col("grand_n").cast("double"))
      .withColumn("contrib",
        (col("n").cast("double") - col("exp")) *
          (col("n").cast("double") - col("exp")) / col("exp"))
    dense.agg(sum(col("contrib")).as("chi2"),
        countDistinct(col("st")).as("r"), countDistinct(col("pr")).as("c"),
        max(col("grand_n")).as("n_orders"))
      .select(e6(col("chi2")).as("chi2_e6"),
        e6(sqrt(col("chi2") / (col("n_orders").cast("double") *
          (least(col("r"), col("c")) - 1L).cast("double")))).as("v_e6"),
        col("r"), col("c"), col("n_orders"))
      .ordered(col("r"))
  }

  // q214 — closed-form OLS per order priority: totalprice regressed
  // on line count (slope / intercept / r² from explicit moment
  // expressions shared verbatim with the oracle — the closed-form
  // companion to q114's gradient-descent fit).
  private val q214: Q = (s, dir) => {
    val nl = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("double").as("x"))
    val j = t(s, dir, "orders")
      .join(nl, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("prio"), col("x"),
        col("o_totalprice").as("y"))
    j.groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("mx"),
        avg(col("y")).as("my"), avg(col("x") * col("x")).as("mxx"),
        avg(col("y") * col("y")).as("myy"),
        avg(col("x") * col("y")).as("mxy"))
      .withColumn("slope",
        (col("mxy") - col("mx") * col("my")) /
          (col("mxx") - col("mx") * col("mx")))
      .select(col("prio"), col("n"), e6(col("slope")).as("slope_e6"),
        e6(col("my") - col("slope") * col("mx")).as("intercept_e6"),
        e6((col("mxy") - col("mx") * col("my")) *
          (col("mxy") - col("mx") * col("my")) /
          ((col("mxx") - col("mx") * col("mx")) *
            (col("myy") - col("my") * col("my")))).as("r2_e6"))
      .ordered(col("prio"))
  }

  // q215 — Mann-Whitney U rank-sum test, click vs view values: the
  // nonparametric companion to q03's Welch t — tie-corrected normal
  // approximation, ranks from the distinct-value prefix sum.
  private val q215: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
    graft.operators.StatsOps.mannWhitneyU(ev, col("value"),
        col("event_type") === "click")
      .select(col("n1"), col("n2"), e6(col("u1")).as("u1_e6"),
        e6(col("z")).as("z_e6"))
      .ordered(col("n1"))
  }

  private val DayNs = 86400000000000L

  // q216 — market-basket association rules: brand pairs co-ordered in
  // the same order, support / confidence / lift with a min-pair floor.
  // Pair table from a basket-key equi-join (bounded by brands-per-
  // order choose 2), never an all-pairs brand cross.
  private val q216: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val pt = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val bi = li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
    graft.operators.StatsOps.pairLift(bi, "basket", "item", minPairs = 5L)
      .select(col("item_a"), col("item_b"), col("pair_n"), col("n_a"),
        col("n_b"), col("n_baskets"),
        e6(col("support")).as("support_e6"),
        e6(col("confidence")).as("conf_e6"),
        e6(col("lift")).as("lift_e6"))
      .ordered(col("item_a"), col("item_b"))
  }

  // q217 — Kaplan-Meier survival: time (days) from a user's first
  // event to their first purchase, censored at their last event.
  // Integer day durations, distinct-duration prefix sums only.
  private val q217: Q = (s, dir) => {
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(min(col("ts_ns")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("p"),
        max(col("ts_ns")).as("last_ts"))
      .select(expr(s"(coalesce(p, last_ts) - t0) div $DayNs").as("dur"),
        col("p").isNotNull.as("ev"))
    graft.operators.StatsOps.kaplanMeier(per, "dur", "ev")
      .select(col("duration"), col("n_risk"), col("d_events"),
        col("c_censored"), e6(col("surv")).as("surv_e6"))
      .ordered(col("duration"))
  }

  // q218 — small-file compaction plan: docs packed per source into
  // sequential ~2000-token shards by running-size-before (streaming
  // first-fit) — the plan a compactor executes file-by-file.
  private val q218: Q = (s, dir) => {
    ScaleOps.compactionPlan(t(s, dir, "documents"), "source", "doc_id",
        TextOps.tokenCount(col("text")), targetSize = 2000L)
      .select(col("source"), col("shard"), col("n_items"), col("tot_size"),
        col("first_item"), col("last_item"), e6(col("fill")).as("fill_e6"))
      .ordered(col("source"), col("shard"))
  }

  // q219 — autocorrelation of the daily event-count series at lags
  // 1..5 (full-series mean/denominator); the lagged pairs come from a
  // broadcast self-join of the bounded 30-row day table.
  private val q219: Q = (s, dir) => {
    val series = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.StatsOps.acfByLag(series, "day", "n", maxLag = 5)
      .select(col("lag"), col("n_pairs"), e6(col("acf")).as("acf_e6"))
      .ordered(col("lag"))
  }

  // q220 — day-of-week seasonality index: per-weekday mean daily
  // count over the overall mean. Weekday = epoch-day mod 7 (pure
  // integer arithmetic — no engine calendar/locale dependence).
  private val q220: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).as("n"))
    val overall = daily.agg(avg(col("n")).as("oa"))
    daily.groupBy((col("day") % 7L).as("dow"))
      .agg(count(lit(1)).as("n_days"), avg(col("n")).as("avg_n"))
      .crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"), e6(col("avg_n")).as("avg_n_e6"),
        e6(col("avg_n") / col("oa")).as("idx_e6"))
      .ordered(col("dow"))
  }

  // q221 — stratified IPW treatment-effect estimate: treatment =
  // odd user_id, strata = event_type, outcome = value; Hajek-
  // normalized weighted means (the causal companion to q211's CUPED).
  private val q221: Q = (s, dir) => {
    graft.operators.StatsOps.ipwEstimate(t(s, dir, "events"),
        col("user_id") % 2L === 1L, col("event_type"), col("value"))
      .select(col("n_units"), col("n_strata"), col("n_excluded"),
        e6(col("mean_t")).as("mean_t_e6"),
        e6(col("mean_c")).as("mean_c_e6"),
        e6(col("ate")).as("ate_e6"))
      .ordered(col("n_units"))
  }

  // q222 — Holt linear-trend forecast of daily event counts, 7-day
  // horizon. alpha = 0.5, gamma = 0.25 — both exactly representable,
  // so 1-alpha / 1-gamma are bit-identical literals on both engines
  // and the sequential fold (array aggregate here, recursive CTE in
  // the oracle) produces bit-equal doubles.
  private val q222: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.StatsOps.holtForecast(daily, "day", "n",
        alpha = 0.5, gamma = 0.25, hMax = 7)
      .select(col("h"), e6(col("level")).as("level_e6"),
        e6(col("trend")).as("trend_e6"),
        e6(col("forecast")).as("forecast_e6"))
      .ordered(col("h"))
  }

  // q223 — shuffle-skew advisor: top-20 heaviest lineitem part keys
  // with task share at 32 partitions and the salt factor a salted
  // repartition would need — the diagnosis half of skew salting, as
  // data.
  private val q223: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = t(s, dir, "lineitem").groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("l_partkey"))).cast("long"))
      .filter(col("rank") <= 20L)
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("l_partkey"), col("n"),
        e6(col("n").cast("double") / col("tot").cast("double"))
          .as("share_e6"),
        greatest(lit(1L), ceil(col("n").cast("double") * lit(32.0) /
          col("tot").cast("double"))).as("salt"))
      .ordered(col("rank"))
  }

  // q224 — sampled join-cardinality estimation (the optimizer's
  // row-count planning primitive, as a query): |orders ⋈ lineitem|
  // estimated from a 10% md5-deterministic order sample, vs exact.
  private val q224: Q = (s, dir) => {
    val ord = t(s, dir, "orders").select(col("o_orderkey"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"))
    val samp = ord.filter(graft.operators.CurationOps.hashKeep(
      col("o_orderkey"), rate = 0.1, salt = "cardest"))
    val nSamp = samp.agg(count(lit(1)).as("n_sample"))
    val est = li.join(samp, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("__joined"))
    val exact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    nSamp.crossJoin(est).crossJoin(exact)
      .select(col("n_sample"), (col("__joined") * 10L).as("est_rows"),
        col("exact_rows"),
        e6((col("__joined") * 10L - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double")).as("rel_err_e6"))
      .ordered(col("n_sample"))
  }

  // q225 — RFM customer segmentation: per-customer recency/frequency/
  // monetary quartiles (ntile over a TOTAL order — custkey tiebreak
  // makes bucket membership engine-independent), segment rollup.
  // Monetary is exact cents (BIGINT) so sums hash identically. The
  // three unpartitioned ntile sorts are oracle-demo shape; at 100 TB
  // swap in broadcast quantile breakpoints (the q99 bucketing path).
  private val q225: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
    per.select(col("o_custkey"), col("cents"),
        ntile(4).over(Window.orderBy(col("last_d"), col("o_custkey")))
          .cast("long").as("r"),
        ntile(4).over(Window.orderBy(col("freq"), col("o_custkey")))
          .cast("long").as("f"),
        ntile(4).over(Window.orderBy(col("cents"), col("o_custkey")))
          .cast("long").as("m"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("tot_cents"))
      .ordered(col("r"), col("f"), col("m"))
  }

  // q226 — Pareto / ABC classification of brand revenue: bounded
  // brand rollup (broadcast part dim), cumulative share over the
  // 25-row brand table (rev desc, brand tiebreak), A/B/C cut at
  // 80%/95% via integer cross-multiplication (no double compare at
  // the class boundary). Revenue is exact cents.
  private val q226: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
        .as("c"))
    val rev = li.join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand")).agg(sum(col("c")).as("rev_cents"))
    val w = Window.orderBy(col("rev_cents").desc, col("brand"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.crossJoin(broadcast(rev.agg(sum(col("rev_cents")).as("__tot"))))
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .select(col("brand"), col("rev_cents"), col("cum_cents"),
        when(col("cum_cents") * 100L <= col("__tot") * 80L, "A")
          .when(col("cum_cents") * 100L <= col("__tot") * 95L, "B")
          .otherwise("C").as("cls"),
        e6(col("rev_cents").cast("double") / col("__tot").cast("double"))
          .as("share_e6"))
      .ordered(col("cls"), col("brand"))
  }

  // q227 — 7-day rolling distinct users per day: tiny distinct-day
  // grid broadcast against events with a range predicate (7x bounded
  // fan-out — the grid side broadcasts, the event side never
  // shuffles), then one distinct aggregate per grid day.
  private val q227: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(expr(s"ts_ns div $DayNs").as("day"), col("user_id"))
    val days = ev.select(col("day").as("d")).distinct()
    ev.join(broadcast(days),
        col("day") >= col("d") - 6L && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("users_7d"),
        countDistinct(col("day")).as("days_present"))
      .select(col("d").as("day"), col("users_7d"), col("days_present"))
      .ordered(col("day"))
  }

  // q228 — incremental aggregate maintenance: per-priority partial
  // states (n, sum, min, max in exact cents) over the pre-/post-cutoff
  // order slices, merged via ScaleOps.mergeAggStates — bit-equal to
  // the oracle's full recompute without re-scanning the "old" slice.
  private val q228: Q = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
      col("o_orderdate"),
      expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
    val cut = lit("1999-01-01").cast("timestamp")
    val old = ScaleOps.partialAggState(
      o.filter(col("o_orderdate") < cut), Seq("prio"), col("cents"))
    val delta = ScaleOps.partialAggState(
      o.filter(col("o_orderdate") >= cut), Seq("prio"), col("cents"))
    ScaleOps.mergeAggStates(Seq(old, delta), Seq("prio"))
      .select(col("prio"), col("n"), col("sum_v").as("sum_cents"),
        col("min_v").as("min_cents"), col("max_v").as("max_cents"))
      .ordered(col("prio"))
  }

  // q229 — WAU/MAU stickiness: weekly and 28-day distinct users
  // (epoch-day integer buckets, no calendar dependence; 28 = 4 weeks
  // so week div 4 IS the period key), period counts broadcast back.
  private val q229: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(expr(s"ts_ns div $DayNs div 7").as("week"),
        expr(s"ts_ns div $DayNs div 28").as("period"), col("user_id"))
    val wau = ev.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val mau = ev.groupBy(col("period"))
      .agg(countDistinct(col("user_id")).as("mau"))
    wau.withColumn("period", expr("week div 4"))
      .join(broadcast(mau), Seq("period"))
      .select(col("week"), col("wau"), col("mau"),
        e6(col("wau").cast("double") / col("mau").cast("double"))
          .as("stick_e6"))
      .ordered(col("week"))
  }

  // q230 — order-to-ship lag distribution by priority: one fact-fact
  // equi-join (AQE-sized shuffle), integer day lags, exact percentile
  // (linear interpolation — matches DuckDB quantile_cont).
  private val q230: Q = (s, dir) => {
    t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("lag_d"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), min(col("lag_d")).as("min_lag"),
        max(col("lag_d")).as("max_lag"),
        e6(avg(col("lag_d"))).as("avg_lag_e6"),
        e6(expr("percentile(lag_d, 0.5D)")).as("p50_lag_e6"))
      .ordered(col("prio"))
  }

  // q231 — binary-classifier eval: predict heavy purchasers (>= 13)
  // from heavy clickers (>= 13) per user; confusion counts + accuracy
  // / precision / recall / F1 / MCC in one map-side-combinable
  // aggregate (StatsOps.binaryEval).
  private val q231: Q = (s, dir) => {
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("buys"))
    graft.operators.StatsOps
      .binaryEval(per, col("clicks") >= 13L, col("buys") >= 13L)
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        e6(col("accuracy")).as("acc_e6"), e6(col("precision")).as("prec_e6"),
        e6(col("recall")).as("rec_e6"), e6(col("f1")).as("f1_e6"),
        e6(col("mcc")).as("mcc_e6"))
      .ordered(col("tp"))
  }

  // q232 — inter-order gap stats by market segment: per-customer lag
  // window (PARTITIONED — scales with customers), date+orderkey
  // tiebreak for a total order, then one segment rollup.
  private val q232: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    val g = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"))
      .withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast("long"))
      .filter(col("gap").isNotNull)
    g.join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_gaps"), e6(avg(col("gap"))).as("avg_gap_e6"),
        min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
      .ordered(col("segment"))
  }

  // q233 — merge-on-read snapshot: orders base + an upsert batch
  // (every 10th order restatused 'X') + a later tombstone batch
  // (every 100th order deleted — delete wins over the earlier upsert
  // on the overlap), read through MergeOnReadStore's latest-wins
  // window and rolled up by status. The oracle derives the same final
  // state directly from the version rules.
  private val q233: Q = (s, dir) => {
    import graft.sources.MergeOnReadStore
    val path = tmpStorePath("graft-mor-q233", dir)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    MergeOnReadStore.writeBase(o, path)
    MergeOnReadStore.appendDelta(
      o.filter(col("o_orderkey") % 10L === 0L)
        .withColumn("o_orderstatus", lit("X")),
      o.filter(lit(false)), "o_orderkey", path)
    MergeOnReadStore.appendDelta(
      o.filter(lit(false)),
      o.filter(col("o_orderkey") % 100L === 0L).select(col("o_orderkey")),
      "o_orderkey", path)
    MergeOnReadStore.read(s, "o_orderkey", path)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("status"))
  }

  // q234 — cohort LTV accumulation curves: cohort = a customer's
  // first-order month, k = months since; cumulative exact-cents
  // revenue per cohort member at each k. One custkey shuffle to tag
  // orders with their cohort, one (cohort, k) rollup, one cumulative
  // window over the bounded cohort×month grid.
  private val q234: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mi"),
      expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("c0"))
    val tagged = o.join(first, Seq("o_custkey"))
    val sizes = first.groupBy(col("c0")).agg(count(lit(1)).as("n_cust"))
    val grid = tagged.groupBy(col("c0"), (col("mi") - col("c0")).as("k"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("c0")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("c0"))
      .select(col("c0").as("cohort"), col("k"), col("n_cust"),
        col("rev_cents"), col("cum_cents"),
        e6(col("cum_cents").cast("double") / lit(100.0) /
          col("n_cust").cast("double")).as("ltv_e6"))
      .ordered(col("cohort"), col("k"))
  }

  // q235 — Herfindahl-Hirschman revenue concentration by nation per
  // order year: one keyed rollup, per-year totals broadcast back,
  // HHI = sum of squared shares.
  private val q235: Q = (s, dir) => {
    val n = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        col("n_name"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val tot = n.groupBy(col("yr")).agg(sum(col("cents")).as("tot"),
      count(lit(1)).as("n_nations"))
    n.join(broadcast(tot), Seq("yr"))
      .groupBy(col("yr"), col("n_nations"))
      .agg(sum((col("cents").cast("double") / col("tot").cast("double")) *
        (col("cents").cast("double") / col("tot").cast("double")))
        .as("hhi"))
      .select(col("yr"), col("n_nations"), e6(col("hhi")).as("hhi_e6"))
      .ordered(col("yr"))
  }

  // q236 — day-of-week × hour activity heatmap: pure integer epoch
  // arithmetic (no calendar/locale), counts + global share per cell.
  private val q236: Q = (s, dir) => {
    val cells = t(s, dir, "events")
      .groupBy(expr(s"(ts_ns div $DayNs) % 7").as("dow"),
        expr("(ts_ns div 3600000000000) % 24").as("hr"))
      .agg(count(lit(1)).as("n"))
    cells.crossJoin(broadcast(cells.agg(sum(col("n")).as("__tot"))))
      .select(col("dow"), col("hr"), col("n"),
        e6(col("n").cast("double") / col("__tot").cast("double"))
          .as("share_e6"))
      .ordered(col("dow"), col("hr"))
  }

  /** A denser similarity graph than [[nearDupEdges100]] (threshold
    * 0.05, 200 docs — avg degree ~24 at sf0.01) for the traversal
    * queries, where the 0.1 graph degenerates to isolated pairs. */
  private def nearDupEdgesDense(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", n = 2, threshold = 0.05)
      .select(col("id1"), col("id2"))
    pairs.union(pairs.select(col("id2"), col("id1")))
  }

  // q237 — multi-source BFS hop distances over the dense near-dup
  // graph from the 3 smallest node ids (deterministic seed stand-in,
  // the q174 convention; the seed collect is 3 longs). Frontier
  // relaxation bounded at 3 hops; unreachable nodes absent.
  private val q237: Q = (s, dir) => {
    val edges = nearDupEdgesDense(s, dir)
    val seeds = edges.select(col("id1").as("n")).distinct()
      .orderBy(col("n")).limit(3).collect().map(_.getLong(0)).toSeq
    GraphOps.bfsDistances(edges, "id1", "id2", seeds, maxHops = 3)
      .select(col("node").as("doc_id"), col("dist"))
      .ordered(col("doc_id"))
  }

  // q238 — returns analysis by brand: return-flag line rate and
  // returned exact-cents revenue, one broadcast dim join + one
  // rollup.
  private val q238: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(when(col("l_returnflag") === "R",
          expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .otherwise(0L)).as("ret_cents"))
      .select(col("brand"), col("n_lines"), col("n_returned"),
        col("ret_cents"),
        e6(col("n_returned").cast("double") / col("n_lines").cast("double"))
          .as("ret_rate_e6"))
      .ordered(col("brand"))
  }

  // q239 — degree assortativity of the dense near-dup graph (Newman's
  // r as guarded population-moment Pearson over directed-pair endpoint
  // degrees; the 0.1 graph is all isolated pairs — zero variance).
  private val q239: Q = (s, dir) => {
    GraphOps.degreeAssortativity(nearDupEdgesDense(s, dir), "id1", "id2")
      .select(col("n_edges"), e6(col("r")).as("r_e6"))
      .ordered(col("n_edges"))
  }

  // q240 — top session-opening paths: each user's first 3 event types
  // (ts + event_id total order), pivoted via conditional aggregates
  // (no collect_list order dependence), counted per path. The window
  // is user-partitioned — scales with users.
  private val q240: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(max(when(col("rn") === 1, col("event_type"))).as("e1"),
        max(when(col("rn") === 2, col("event_type"))).as("e2"),
        max(when(col("rn") === 3, col("event_type"))).as("e3"))
      .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n_users"))
      .ordered(col("path"))
  }

  // q241 — Hill tail-index estimator of the doc-length distribution
  // from the top-k order statistics (k = 100, deterministic doc_id
  // tiebreak so both engines pick identical boundary rows):
  // 1/alpha = mean ln(x_i / x_(k+1)). The top-(k+1) sort is LIMIT-
  // bounded; a flat tail (all top values equal) yields alpha NULL
  // rather than a divide-by-zero.
  private val q241: Q = (s, dir) => {
    val k = 100
    val top = t(s, dir, "documents")
      .select(col("n_chars").cast("double").as("x"), col("doc_id"))
      .orderBy(col("x").desc, col("doc_id")).limit(k + 1)
    val xk = top.orderBy(col("x").asc, col("doc_id").desc).limit(1)
      .select(col("x").as("xmin"))
    top.orderBy(col("x").desc, col("doc_id")).limit(k)
      .crossJoin(broadcast(xk))
      .agg(count(lit(1)).as("k"),
        avg(log(col("x") / col("xmin"))).as("ia"))
      .select(col("k"), e6(col("ia")).as("inv_alpha_e6"),
        when(col("ia") > 0.0, e6(lit(1.0) / col("ia")))
          .otherwise(lit(null).cast("long")).as("alpha_e6"))
      .ordered(col("k"))
  }

  // q242 — Theil T inequality index of per-customer revenue: exact
  // cents per customer, 1-row mean broadcast back, T = mean of
  // (x/mu) ln(x/mu). The multiplicative companion to q169's Gini.
  private val q242: Q = (s, dir) => {
    val per = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val mu = per.agg(avg(col("cents").cast("double")).as("mu"))
    per.crossJoin(broadcast(mu))
      .agg(count(lit(1)).as("n_cust"),
        avg((col("cents").cast("double") / col("mu")) *
          log(col("cents").cast("double") / col("mu"))).as("theil"))
      .select(col("n_cust"), e6(col("theil")).as("theil_e6"))
      .ordered(col("n_cust"))
  }

  // q243 — churn-label generation by signup-week cohort: a user is
  // churned if silent for the last 7 days of the observation window
  // (global max day = 1-row broadcast). The standard weak-label table
  // a retention model trains on.
  private val q243: Q = (s, dir) => {
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(min(expr(s"ts_ns div $DayNs")).as("d0"),
        max(expr(s"ts_ns div $DayNs")).as("dl"))
    val mx = per.agg(max(col("dl")).as("dmax"))
    per.crossJoin(broadcast(mx))
      .groupBy(expr("d0 div 7").as("cohort_week"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("dl") < col("dmax") - 7L, 1L).otherwise(0L))
          .as("n_churned"))
      .select(col("cohort_week"), col("n_users"), col("n_churned"),
        e6(col("n_churned").cast("double") / col("n_users").cast("double"))
          .as("churn_e6"))
      .ordered(col("cohort_week"))
  }

  // q244 — bipartite degree histogram: distinct suppliers per part
  // from lineitem, then parts-per-degree — the fan-out profile that
  // sizes a part-supplier co-location strategy.
  private val q244: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("k_suppliers"))
      .groupBy(col("k_suppliers"))
      .agg(count(lit(1)).as("n_parts"))
      .ordered(col("k_suppliers"))
  }

  // q245 — trigram coverage curve: share of total char-trigram mass
  // captured by the top-k most frequent trigrams, k in {10, 100,
  // 1000}. Each top-k is a distributed TakeOrdered (no global sort);
  // ties broken on the gram string so both engines pick identical
  // boundary rows. The "how head-heavy is this corpus" companion to
  // Heaps (q156) and Zipf (q80).
  private val q245: Q = (s, dir) => {
    val counts = t(s, dir, "documents")
      .select(explode(TextOps.charNgrams(lower(col("text")), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    Seq(10, 100, 1000).map { k =>
      counts.orderBy(col("n").desc, col("g")).limit(k)
        .agg(coalesce(sum(col("n")), lit(0L)).as("mass"),
          count(lit(1)).as("n_grams"))
        .withColumn("k", lit(k.toLong))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_grams"), col("mass"),
        e6(col("mass").cast("double") / col("tot").cast("double"))
          .as("cover_e6"))
      .ordered(col("k"))
  }

  // q246 — A/B sample-size calculator per event type: required n per
  // arm for a 5% MDE at alpha=.05 / power=.80 (z constants pinned as
  // literals), variance from explicit moments so the oracle replays
  // the identical expression tree.
  private val q246: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
        avg(col("value") * col("value")).as("m2"))
      .withColumn("s2",
        (col("m2") - col("m") * col("m")) * col("n").cast("double") /
          (col("n").cast("double") - 1.0))
      .withColumn("delta", col("m") * 0.05)
      .select(col("event_type"), col("n"), e6(col("m")).as("mean_e6"),
        e6(col("s2")).as("var_e6"),
        e6(lit(2.0) * lit((1.96 + 0.84) * (1.96 + 0.84)) * col("s2") /
          (col("delta") * col("delta"))).as("n_req_e6"))
      .ordered(col("event_type"))
  }

  // q247 — additive day-of-week decomposition of the daily event
  // series: trend = 7-day centered MA over the bounded day table,
  // seasonal = mean detrended residual per weekday (integer epoch
  // dow). The classical-decomposition companion to q220's ratio
  // index.
  private val q247: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    daily.withColumn("trend", avg(col("n")).over(w))
      .groupBy((col("day") % 7L).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        avg(col("n") - col("trend")).as("seas"))
      .select(col("dow"), col("n_days"), e6(col("seas")).as("seas_e6"))
      .ordered(col("dow"))
  }

  // q248 — revenue bridge 1996 -> 1997 by brand: volume effect
  // (q2-q1)·p1 + price effect (p2-p1)·q2 decomposes the revenue
  // delta exactly (the two terms telescope to r2-r1). Quantities are
  // integer-valued doubles (exact sums); revenue in exact cents.
  private val q248: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        year(col("l_shipdate")).as("yr"), col("l_quantity").as("qty"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("c"))
    li.groupBy(col("brand"))
      .agg(sum(when(col("yr") === 1996, col("qty")).otherwise(0.0)).as("q1"),
        sum(when(col("yr") === 1997, col("qty")).otherwise(0.0)).as("q2"),
        sum(when(col("yr") === 1996, col("c")).otherwise(0L)).as("r1"),
        sum(when(col("yr") === 1997, col("c")).otherwise(0L)).as("r2"))
      .filter(col("q1") > 0.0 && col("q2") > 0.0)
      .withColumn("p1", col("r1").cast("double") / lit(100.0) / col("q1"))
      .withColumn("p2", col("r2").cast("double") / lit(100.0) / col("q2"))
      .select(col("brand"), col("r1"), col("r2"),
        e6(col("q1")).as("q1_e6"), e6(col("q2")).as("q2_e6"),
        e6((col("q2") - col("q1")) * col("p1")).as("vol_eff_e6"),
        e6((col("p2") - col("p1")) * col("q2")).as("price_eff_e6"))
      .ordered(col("brand"))
  }

  // q249 — SCD Type-2 state intervals from the event stream: per
  // user in (ts, event_id) order, consecutive same-type runs collapse
  // to one validity interval [run start, next run start); the last
  // run per user stays open. The dimensional-modeling builder a
  // warehouse derives slowly-changing attributes with. Durations are
  // exact ns BIGINTs.
  private val q249: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val runs = t(s, dir, "events")
      .withColumn("prv", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prv").isNull || col("prv") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"),
        col("event_type").as("state"))
      .agg(min(col("ts_ns")).as("t0"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    runs.withColumn("t1", lead(col("t0"), 1).over(w2))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("n_closed"),
        coalesce(sum(col("t1") - col("t0")), lit(0L)).as("dur_ns"))
      .ordered(col("state"))
  }

  // q250 — Markov transition entropy: H(next | prev) per source
  // event type from the q164 transition counts, via the one-aggregate
  // identity H = ln n - (sum c ln c) / n (no per-row probability
  // join). Perplexity = exp(H) is the "effective branching factor"
  // of each state.
  private val q250: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("prev_type"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_next"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("slc"))
      .withColumn("h", log(col("n").cast("double")) -
        col("slc") / col("n").cast("double"))
      .select(col("prev_type"), col("n"), col("n_next"),
        e6(col("h")).as("entropy_e6"), e6(exp(col("h"))).as("ppl_e6"))
      .ordered(col("prev_type"))
  }

  // q251 — A/B conversion significance: deterministic user_id-parity
  // arms, conversion = first purchase lands within 24h of the user's
  // first event (lifetime conversion is degenerate at 100% on this
  // corpus — and a 0-variance pooled rate divides by zero), pooled
  // two-proportion z-test. One user-keyed aggregate then a single
  // scalar row — no join anywhere; a degenerate pooled rate yields
  // NULL z rather than an error.
  private val q251: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(col("ts_ns")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts_ns")))
          .as("tp"))
      .withColumn("conv",
        when(col("tp").isNotNull && col("tp") < col("t0") + lit(DayNs),
          1L).otherwise(0L))
      .withColumn("arm", col("user_id") % 2L)
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("c1"))
      .withColumn("p0", col("c0").cast("double") / col("n0").cast("double"))
      .withColumn("p1", col("c1").cast("double") / col("n1").cast("double"))
      .withColumn("pp", (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double"))
      .select(col("n0"), col("n1"), col("c0"), col("c1"),
        e6(col("p0")).as("p0_e6"), e6(col("p1")).as("p1_e6"),
        when(col("pp") > 0.0 && col("pp") < 1.0,
          e6((col("p1") - col("p0")) /
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("n0").cast("double") +
               lit(1.0) / col("n1").cast("double")))))
          .otherwise(lit(null).cast("long")).as("z_e6"))
      .ordered(col("n0"))
  }

  // q252 — Jensen-Shannon divergence between the token distributions
  // of the doc_id-parity corpus halves: one token-keyed aggregate
  // pivots both sides' counts (no outer join), a 1-row total bracket,
  // then the symmetric KL-to-midpoint sum. The bounded-metric
  // companion to q87's KL and q183's PSI.
  private val q252: Q = (s, dir) => {
    val cnt = t(s, dir, "documents")
      .select((col("doc_id") % 2L).as("side"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("c1"))
    val tot = cnt.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("p", col("c0").cast("double") / col("t0").cast("double"))
      .withColumn("q", col("c1").cast("double") / col("t1").cast("double"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .agg(sum(when(col("c0") > 0L, 1L).otherwise(0L)).as("v0"),
        sum(when(col("c1") > 0L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("c0") > 0L && col("c1") > 0L, 1L).otherwise(0L))
          .as("v_shared"),
        sum(when(col("p") > 0.0, col("p") * log(col("p") / col("m")))
          .otherwise(0.0) * 0.5 +
          when(col("q") > 0.0, col("q") * log(col("q") / col("m")))
            .otherwise(0.0) * 0.5).as("jsd"))
      .select(col("v0"), col("v1"), col("v_shared"),
        e6(col("jsd")).as("jsd_e6"),
        e6(col("jsd") / lit(math.log(2.0))).as("jsd_bits_e6"))
      .ordered(col("v0"))
  }

  // q253 — per-brand price elasticity of demand: OLS slope of
  // ln(quantity) on ln(effective unit price) from per-brand moments
  // (one broadcast dim join + one aggregate; the grouped-regression
  // generalization of q214's single OLS line).
  private val q253: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        log(col("l_extendedprice") * (lit(1.0) - col("l_discount")) /
          col("l_quantity")).as("x"),
        log(col("l_quantity")).as("y"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("mx"),
        avg(col("y")).as("my"), avg(col("x") * col("x")).as("mx2"),
        avg(col("y") * col("y")).as("my2"),
        avg(col("x") * col("y")).as("mxy"))
      .withColumn("slope", (col("mxy") - col("mx") * col("my")) /
        (col("mx2") - col("mx") * col("mx")))
      .select(col("brand"), col("n"), e6(col("slope")).as("slope_e6"),
        e6((col("mxy") - col("mx") * col("my")) *
          (col("mxy") - col("mx") * col("my")) /
          ((col("mx2") - col("mx") * col("mx")) *
           (col("my2") - col("my") * col("my")))).as("r2_e6"))
      .ordered(col("brand"))
  }

  // q254 — decision-stump split finder: information gain of the
  // n_chars <= thr split for label (lang = 'en') over a fixed
  // threshold grid. The big table collapses to one row per distinct
  // n_chars FIRST; the 9-row grid and 1-row parent bracket join the
  // tiny per-value table, never the corpus. Degenerate splits (an
  // empty side) yield NULL gain.
  private val q254: Q = (s, dir) => {
    val pv = t(s, dir, "documents")
      .groupBy(col("n_chars"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
    val grid = s.range(100L, 501L, 50L).select(col("id").as("thr"))
    val parent = pv.agg(sum(col("cnt")).as("n_tot"),
      sum(col("pos")).as("pos_tot"))
    def bent(p: Column): Column =
      when(p > 0.0 && p < 1.0,
        -(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p)))
        .otherwise(0.0)
    pv.crossJoin(broadcast(grid))
      .groupBy(col("thr"))
      .agg(sum(when(col("n_chars") <= col("thr"), col("cnt"))
          .otherwise(0L)).as("n_le"),
        sum(when(col("n_chars") <= col("thr"), col("pos"))
          .otherwise(0L)).as("pos_le"))
      .crossJoin(broadcast(parent))
      .withColumn("n_gt", col("n_tot") - col("n_le"))
      .withColumn("pos_gt", col("pos_tot") - col("pos_le"))
      .withColumn("gain", bent(col("pos_tot").cast("double") /
          col("n_tot").cast("double")) -
        (col("n_le").cast("double") / col("n_tot").cast("double")) *
          bent(col("pos_le").cast("double") / col("n_le").cast("double")) -
        (col("n_gt").cast("double") / col("n_tot").cast("double")) *
          bent(col("pos_gt").cast("double") / col("n_gt").cast("double")))
      .select(col("thr"), col("n_le"), col("pos_le"), col("n_gt"),
        col("pos_gt"),
        when(col("n_le") > 0L && col("n_gt") > 0L, e6(col("gain")))
          .otherwise(lit(null).cast("long")).as("gain_e6"))
      .ordered(col("thr"))
  }

  // q255 — Good-Turing missing mass per language: N1/N (the
  // probability the next token is unseen) from singleton/doubleton
  // type counts. One (lang, term) aggregate then a per-lang rollup —
  // the smoothing statistic an n-gram LM needs.
  private val q255: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("n_tokens"), col("v_types"), col("n1"),
        col("n2"),
        e6(col("n1").cast("double") / col("n_tokens").cast("double"))
          .as("p_unseen_e6"))
      .ordered(col("lang"))
  }

  // q256 — Pearson correlation matrix over the four numeric lineitem
  // measures from ONE moment aggregate (10 avg moments), unpivoted to
  // the 6 upper-triangle pairs with stack — a standard profiling
  // operator with zero joins.
  private val q256: Q = (s, dir) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val m = t(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      avg(col("l_quantity")).as("m1"), avg(col("l_extendedprice")).as("m2"),
      avg(col("l_discount")).as("m3"), avg(col("l_tax")).as("m4"),
      avg(col("l_quantity") * col("l_quantity")).as("s1"),
      avg(col("l_extendedprice") * col("l_extendedprice")).as("s2"),
      avg(col("l_discount") * col("l_discount")).as("s3"),
      avg(col("l_tax") * col("l_tax")).as("s4"),
      avg(col("l_quantity") * col("l_extendedprice")).as("x12"),
      avg(col("l_quantity") * col("l_discount")).as("x13"),
      avg(col("l_quantity") * col("l_tax")).as("x14"),
      avg(col("l_extendedprice") * col("l_discount")).as("x23"),
      avg(col("l_extendedprice") * col("l_tax")).as("x24"),
      avg(col("l_discount") * col("l_tax")).as("x34"))
    def corr6(i: Int, j: Int): Column =
      e6((col(s"x$i$j") - col(s"m$i") * col(s"m$j")) /
        sqrt((col(s"s$i") - col(s"m$i") * col(s"m$i")) *
             (col(s"s$j") - col(s"m$j") * col(s"m$j"))))
    val pairs = for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (cols(i - 1), cols(j - 1), i, j)
    pairs.map { case (a, b, i, j) =>
      m.select(lit(a).as("var1"), lit(b).as("var2"), col("n"),
        corr6(i, j).as("corr_e6"))
    }.reduce(_ unionByName _)
      .ordered(col("var1"), col("var2"))
  }

  // q257 — Spearman rank correlation between l_quantity and
  // l_discount: both columns have tiny distinct-value sets, so the
  // average-rank maps are computed on the collapsed value tables
  // (bounded single-partition prefix sums) and joined back broadcast;
  // Pearson on ranks comes from one moment aggregate.
  private val q257: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    def rankMap(df: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("before", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col(c),
          (col("before").cast("double") +
            (col("cnt").cast("double") + 1.0) / 2.0).as(out))
    }
    val li = t(s, dir, "lineitem").select(col("l_quantity"), col("l_discount"))
    li.join(broadcast(rankMap(li, "l_quantity", "rq")), Seq("l_quantity"))
      .join(broadcast(rankMap(li, "l_discount", "rd")), Seq("l_discount"))
      .agg(count(lit(1)).as("n"), avg(col("rq")).as("mx"),
        avg(col("rd")).as("my"), avg(col("rq") * col("rq")).as("mx2"),
        avg(col("rd") * col("rd")).as("my2"),
        avg(col("rq") * col("rd")).as("mxy"))
      .select(col("n"),
        e6((col("mxy") - col("mx") * col("my")) /
          sqrt((col("mx2") - col("mx") * col("mx")) *
               (col("my2") - col("my") * col("my")))).as("rho_e6"))
      .ordered(col("n"))
  }

  // q258 — held-out cross-entropy under an add-one-smoothed unigram
  // LM: train on the even-doc_id half per language, score the odd
  // half (OOV mass via the smoothing floor). Token-keyed left join +
  // two bounded per-lang rollups — the CCNet-style LM quality filter
  // at corpus scale.
  private val q258: Q = (s, dir) => {
    val tok = t(s, dir, "documents")
      .select((col("doc_id") % 2L).as("side"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tr = tok.filter(col("side") === 0L)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val trTot = tr.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_train"), count(lit(1)).as("v_train"))
    tok.filter(col("side") === 1L)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("m"))
      .join(tr, Seq("lang", "tok"), "left")
      .join(trTot, Seq("lang"))
      .withColumn("lp", log(
        (coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
          (col("n_train") + col("v_train")).cast("double")))
      .groupBy(col("lang"))
      .agg(first(col("n_train")).as("n_train"),
        first(col("v_train")).as("v_train"),
        sum(col("m")).as("n_test"),
        (-sum(col("m").cast("double") * col("lp")) /
          sum(col("m")).cast("double")).as("xent"))
      .select(col("lang"), col("n_train"), col("v_train"),
        col("n_test"), e6(col("xent")).as("xent_e6"),
        e6(exp(col("xent"))).as("ppl_e6"))
      .ordered(col("lang"))
  }

  // q259 — empirical-rule coverage: share of values within 1/2/3
  // sample standard deviations of the mean, per event type. Moments
  // from one aggregate, re-joined equi on the 5-row type key — the
  // "is this column roughly normal" profiling check.
  private val q259: Q = (s, dir) => {
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mu"),
        avg(col("value") * col("value")).as("m2"))
      .withColumn("sd", sqrt((col("m2") - col("mu") * col("mu")) *
        col("n").cast("double") / (col("n").cast("double") - 1.0)))
    def within(k: Int): Column =
      e6(sum(when(abs(col("value") - col("mu")) <=
          lit(k.toDouble) * col("sd"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double"))
    ev.join(broadcast(m), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), within(1).as("within1_e6"),
        within(2).as("within2_e6"), within(3).as("within3_e6"))
      .ordered(col("event_type"))
  }

  // q260 — robust location estimates per event type: arithmetic,
  // geometric, harmonic, and 90%-central trimmed means (trim set via
  // percent_rank inside the type partition — deterministic on the
  // value order both engines share). Geometric/harmonic are defined
  // over the strictly-positive values (the corpus contains value=0
  // rows at sf0.1 — ln/reciprocal guards, n_pos reported).
  private val q260: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    t(s, dir, "events")
      .select(col("event_type"), col("value"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 0.0, 1L).otherwise(0L)).as("n_pos"),
        e6(avg(col("value"))).as("mean_e6"),
        e6(exp(avg(when(col("value") > 0.0, log(col("value"))))))
          .as("geo_e6"),
        e6(sum(when(col("value") > 0.0, 1L).otherwise(0L))
          .cast("double") /
          sum(when(col("value") > 0.0, lit(1.0) / col("value"))))
          .as("harm_e6"),
        e6(avg(when(col("pr") >= 0.05 && col("pr") <= 0.95,
          col("value")))).as("trim_e6"))
      .ordered(col("event_type"))
  }

  // q261 — referential-integrity audit: childless orders, orphan
  // lineitems, and the exact-cents reconciliation of o_totalprice
  // against the order's line extendedprice sum. Semi/anti joins plus
  // two 1-row scalar brackets.
  private val q261: Q = (s, dir) => {
    val ord = t(s, dir, "orders").select(col("o_orderkey"),
      expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("oc"))
    val ls = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .as("lc"))
    val a = ord.join(ls, col("o_orderkey") === col("l_orderkey"), "left")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("lc").isNotNull, 1L).otherwise(0L))
          .as("n_with_lines"),
        sum(when(col("lc").isNull, 1L).otherwise(0L)).as("n_childless"),
        e6(avg(when(col("lc").isNotNull, abs(col("oc") - col("lc"))
          .cast("double")))).as("avg_absdiff_cents_e6"),
        coalesce(max(when(col("lc").isNotNull,
          abs(col("oc") - col("lc")))), lit(0L)).as("max_absdiff_cents"))
    val orphans = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_lines"))
    a.crossJoin(broadcast(orphans))
      .select(col("n_orders"), col("n_with_lines"), col("n_childless"),
        col("n_orphan_lines"), col("avg_absdiff_cents_e6"),
        col("max_absdiff_cents"))
      .ordered(col("n_orders"))
  }

  // q262 — zero-filled date-spine revenue: the daily order-revenue
  // series on a gap-free day spine (sequence-exploded from the 1-row
  // min/max bracket, never a driver loop), 7-day trailing sums,
  // rolled up per month. The "dashboard series with no missing days"
  // builder.
  private val q262: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("t7", sum(col("rev")).over(w))
      .groupBy(expr("day div 30").as("epoch_month"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("rev"),
        min(col("t7")).as("t7_min"), max(col("t7")).as("t7_max"))
      .ordered(col("epoch_month"))
  }

  // q263 — session pattern classes: 30-minute-gap sessions per user,
  // each classified by the order of its first error vs first purchase
  // (the MATCH_RECOGNIZE-style "did failures precede checkout"
  // audit). One user-keyed window chain, integer counts.
  private val q263: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gap = 1800000000000L
    t(s, dir, "events")
      .withColumn("prev", lag(col("ts_ns"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ts_ns") - col("prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(when(col("event_type") === "error", col("ts_ns")))
          .as("te"),
        min(when(col("event_type") === "purchase", col("ts_ns")))
          .as("tp"))
      .withColumn("pattern",
        when(col("te").isNotNull && col("tp").isNotNull &&
          col("te") < col("tp"), "error_then_purchase")
        .when(col("te").isNotNull && col("tp").isNotNull,
          "purchase_then_error")
        .when(col("te").isNotNull, "error_only")
        .when(col("tp").isNotNull, "purchase_only")
        .otherwise("neither"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n_sessions"))
      .ordered(col("pattern"))
  }

  // q264 — day-over-day volatility per event type: sample std and max
  // of log returns of the daily count series (lag inside the bounded
  // type×day grid). The stability profile of an ingest stream.
  private val q264: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    t(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("r", log(col("n") / lag(col("n"), 1).over(w)))
      .filter(col("r").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rets"), avg(col("r")).as("mr"),
        avg(col("r") * col("r")).as("mr2"), max(abs(col("r"))).as("mx"))
      .select(col("event_type"), col("n_rets"),
        e6(sqrt((col("mr2") - col("mr") * col("mr")) *
          col("n_rets").cast("double") /
          (col("n_rets").cast("double") - 1.0))).as("vol_e6"),
        e6(col("mx")).as("max_abs_ret_e6"))
      .ordered(col("event_type"))
  }

  // q265 — year-over-year customer migration matrix: every customer
  // classified retained / churned / new / inactive by 1996-vs-1997
  // order activity, counted per market segment. One custkey-keyed
  // flag aggregate left-joined onto the dimension.
  private val q265: Q = (s, dir) => {
    val fl = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey"))
      .agg(max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
          .as("a96"),
        max(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L))
          .as("a97"))
    t(s, dir, "customer")
      .join(fl, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("status",
        when(col("a96") === 1L && col("a97") === 1L, "retained")
        .when(col("a96") === 1L, "churned")
        .when(col("a97") === 1L, "new")
        .otherwise("inactive"))
      .groupBy(col("c_mktsegment").as("segment"), col("status"))
      .agg(count(lit(1)).as("n_customers"))
      .ordered(col("segment"), col("status"))
  }

  // q266 — new-vs-repeat monthly revenue split: each order flagged
  // against its customer's first-order month (one custkey-keyed
  // aggregate joined back), rolled up per calendar month in exact
  // cents. The acquisition-vs-retention revenue mix every
  // subscription dashboard leads with.
  private val q266: Q = (s, dir) => {
    val om = t(s, dir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val firstM = om.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    om.join(firstM, Seq("o_custkey"))
      .withColumn("repeat", col("m") > col("m0"))
      .groupBy(col("m"))
      .agg(sum(when(!col("repeat"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("repeat"), 1L).otherwise(0L)).as("n_repeat"),
        sum(when(!col("repeat"), col("c")).otherwise(0L)).as("rev_new"),
        sum(when(col("repeat"), col("c")).otherwise(0L)).as("rev_repeat"))
      .ordered(col("m"))
  }

  // q267 — multiclass eval of the q81 Naive Bayes language
  // classifier: per-class confusion totals and precision / recall /
  // F1 from the 25-cell (label, pred) matrix. Never-predicted classes
  // yield NULL precision rather than a divide-by-zero.
  private val q267: Q = (s, dir) => {
    val cm = CurationOps.naiveBayesLang(t(s, dir, "documents"),
        "doc_id", "text", "lang")
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    val byTrue = cm.groupBy(col("label"))
      .agg(sum(col("n")).as("n_true"),
        sum(when(col("pred") === col("label"), col("n")).otherwise(0L))
          .as("tp"))
    val byPred = cm.groupBy(col("pred")).agg(sum(col("n")).as("n_pred"))
    byTrue.join(byPred, col("label") === col("pred"), "left")
      .withColumn("prec", when(col("n_pred") > 0L,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("rec",
        col("tp").cast("double") / col("n_true").cast("double"))
      .select(col("label"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"),
        e6(col("prec")).as("prec_e6"), e6(col("rec")).as("rec_e6"),
        when(col("prec").isNotNull && col("prec") + col("rec") > 0.0,
          e6(lit(2.0) * col("prec") * col("rec") /
            (col("prec") + col("rec"))))
          .otherwise(lit(null).cast("long")).as("f1_e6"))
      .ordered(col("label"))
  }

  // q268 — ship-latency SLA by supplier nation: days from order date
  // to line ship date (fact-fact equi-join on orderkey, then two
  // broadcast dimension hops), share of lines slower than 90 days and
  // mean slip among the slow. The per-sourcing-geography scorecard.
  private val q268: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("ship"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(col("ship"), col("odate")).cast("long").as("slip"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("slip") > 90L, 1L).otherwise(0L)).as("n_late"),
        e6(sum(when(col("slip") > 90L, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"))
          .as("late_share_e6"),
        e6(avg(when(col("slip") > 90L, col("slip").cast("double"))))
          .as("avg_slip_e6"))
      .ordered(col("n_name"))
  }

  // q269 — weighted quantiles: revenue-weighted p50/p90 of order
  // quantity per return flag. The big table collapses to the ~50
  // distinct quantity values per flag FIRST (exact cents weights),
  // so the cumulative-weight scan runs on a bounded grid.
  private val q269: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("w"))
    val w = Window.partitionBy(col("flag")).orderBy(col("q"))
    val tot = v.groupBy(col("flag")).agg(sum(col("w")).as("tw"))
    v.withColumn("cw", sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(tot, Seq("flag"))
      .groupBy(col("flag"))
      .agg(first(col("tw")).as("total_w"),
        min(when(col("cw").cast("double") >=
          lit(0.5) * col("tw").cast("double"), col("q"))).as("p50_q"),
        min(when(col("cw").cast("double") >=
          lit(0.9) * col("tw").cast("double"), col("q"))).as("p90_q"))
      .ordered(col("flag"))
  }

  // q270 — two-way ANOVA of event value on type x weekday: sum-of-
  // squares decomposition (main effects, interaction, residual) and
  // eta-squared shares, all from the exact-cents 35-cell table.
  // ss_tot is pinned whole-unit (closed-form over exact BIGINTs);
  // the order-fold component SS are pinned as e6 shares only.
  private val q270: Q = (s, dir) => {
    val cells = t(s, dir, "events")
      .select(col("event_type").as("a"),
        (expr(s"ts_ns div $DayNs") % 7L).as("b"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("vc"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sv"),
        sum(col("vc") * col("vc")).as("sv2"))
    val grand = cells.agg(sum(col("n")).as("nn"), sum(col("sv")).as("gs"),
      sum(col("sv2")).as("gs2"))
    val ac = cells.groupBy(col("a"))
      .agg(sum(col("n")).as("na"), sum(col("sv")).as("sa"))
    val bc = cells.groupBy(col("b"))
      .agg(sum(col("n")).as("nb"), sum(col("sv")).as("sb"))
    def cc(c: Column): Column = c.cast("double")
    val gm = cc(col("gs")) / cc(col("nn"))
    // SS folds in PINNED key order (array_sort + left fold, the
    // chi2/holtWinters discipline) — a plain SUM over double terms
    // has plan/engine-dependent partial order, and the whole-unit
    // ss pins round at 1e4 granularity (r6 ADVICE: a term landing
    // near .5 could flip the integer between fold orders).
    def foldSum(df: DataFrame, key: Column, term: Column,
                out: String): DataFrame =
      df.select(key.as("__k"), term.as("__t"))
        .agg(array_sort(collect_list(struct(col("__k"), col("__t"))))
          .as("__arr"))
        .select(aggregate(col("__arr"), lit(0.0d),
          (acc, x) => acc + x.getField("__t")).as(out))
    val ssa = foldSum(ac.crossJoin(broadcast(grand)), col("a"),
      cc(col("na")) *
        (cc(col("sa")) / cc(col("na")) - gm) *
        (cc(col("sa")) / cc(col("na")) - gm), "ss_a")
    val ssb = foldSum(bc.crossJoin(broadcast(grand)), col("b"),
      cc(col("nb")) *
        (cc(col("sb")) / cc(col("nb")) - gm) *
        (cc(col("sb")) / cc(col("nb")) - gm), "ss_b")
    val ssc = foldSum(cells.crossJoin(broadcast(grand)),
      struct(col("a"), col("b")),
      cc(col("n")) *
        (cc(col("sv")) / cc(col("n")) - gm) *
        (cc(col("sv")) / cc(col("n")) - gm), "ss_cells")
    val sst = grand.select(col("nn"),
      (cc(col("gs2")) - cc(col("nn")) *
        (cc(col("gs")) / cc(col("nn"))) *
        (cc(col("gs")) / cc(col("nn")))).as("ss_tot"))
    // Pins: ss_tot is a CLOSED-FORM function of exact BIGINTs (gs2,
    // gs, nn) — no fold order, safe to pin whole-unit. The component
    // SS come from ~35-term double folds: even order-pinned, their
    // absolute 1e14-magnitude values could land a .5 boundary at 1e4
    // granularity, so they are pinned ONLY as e6 shares of ss_tot
    // (r7 VERDICT item 5).
    sst.crossJoin(broadcast(ssa)).crossJoin(broadcast(ssb))
      .crossJoin(broadcast(ssc))
      .select(col("nn").as("n"),
        round(col("ss_tot") / 1e4, 0).cast("long").as("ss_tot"),
        e6(col("ss_a") / col("ss_tot")).as("eta2_a_e6"),
        e6(col("ss_b") / col("ss_tot")).as("eta2_b_e6"),
        e6((col("ss_cells") - col("ss_a") - col("ss_b")) /
          col("ss_tot")).as("eta2_ab_e6"),
        e6((col("ss_tot") - col("ss_cells")) /
          col("ss_tot")).as("eta2_resid_e6"))
      .ordered(col("n"))
  }

  // q271 — conversion by session entry type: 30-minute-gap sessions
  // keyed by their first event (first_value over the session window),
  // purchase rate per entry. The landing-page-effectiveness cut of
  // the q263 machinery.
  private val q271: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gap = 1800000000000L
    val sess = t(s, dir, "events")
      .withColumn("prev", lag(col("ts_ns"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ts_ns") - col("prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w3 = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("ts_ns"), col("event_id"))
    sess.withColumn("entry", first(col("event_type")).over(w3))
      .groupBy(col("user_id"), col("sess"))
      .agg(max(col("entry")).as("entry"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .groupBy(col("entry"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_conv"))
      .select(col("entry"), col("n_sessions"), col("n_conv"),
        e6(col("n_conv").cast("double") /
          col("n_sessions").cast("double")).as("conv_e6"))
      .ordered(col("entry"))
  }

  // q272 — order-size dispersion: lines-per-order histogram vs the
  // Poisson(lambda = mean) expectation, plus the variance/mean
  // dispersion index (1-row moment bracket; overdispersion => the
  // independence assumption fails).
  private val q272: Q = (s, dir) => {
    val k = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k"))
    val hist = k.groupBy(col("k")).agg(count(lit(1)).as("n_orders"))
    val mom = k.agg(count(lit(1)).as("nn"),
      avg(col("k").cast("double")).as("lam"),
      avg(col("k").cast("double") * col("k").cast("double")).as("m2"))
    hist.crossJoin(broadcast(mom))
      .select(col("k"), col("n_orders"),
        e6(col("nn").cast("double") * exp(-col("lam")) *
          pow(col("lam"), col("k").cast("double")) /
          factorial(col("k").cast("int")).cast("double"))
          .as("expected_e6"),
        e6(col("lam")).as("lambda_e6"),
        e6((col("m2") - col("lam") * col("lam")) *
          col("nn").cast("double") / (col("nn").cast("double") - 1.0) /
          col("lam")).as("dispersion_e6"))
      .ordered(col("k"))
  }

  // q273 — quantity x discount pricing heatmap: 2-D equi-width bins
  // (5 quantity bands x 6 discount bands), line counts and mean net
  // revenue per cell. Numeric-axis binning is one projection — the
  // profiling companion to q236's categorical grid.
  private val q273: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(expr("CAST(l_quantity AS BIGINT) - 1").as("qi"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("di"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("c"))
      .groupBy(expr("qi div 10").as("q_band"),
        expr("di div 2").as("d_band"))
      .agg(count(lit(1)).as("n"),
        e6(avg(col("c").cast("double")) / 100.0).as("avg_net_e6"))
      .ordered(col("q_band"), col("d_band"))
  }

  // q274 — threshold-free ranking eval: AUC of the per-user click
  // count scoring "heavy purchaser" (the q231 task without the fixed
  // cutoff), via the midrank/Mann-Whitney identity on the collapsed
  // score histogram — the big table reduces to ~20 (score, n_pos,
  // n_neg) rows before the single bounded cumulative scan.
  private val q274: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 13L).as("pos"))
    val hist = per.groupBy(col("score"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_nn", sum(col("nn")).over(w))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np").cast("double") *
          ((col("cum_nn") - col("nn")).cast("double") +
            col("nn").cast("double") / 2.0)).as("num"))
      .select(col("n_pos"), col("n_neg"),
        e6(col("num") / (col("n_pos").cast("double") *
          col("n_neg").cast("double"))).as("auc_e6"),
        e6(lit(2.0) * col("num") / (col("n_pos").cast("double") *
          col("n_neg").cast("double")) - lit(1.0)).as("gini_e6"))
      .ordered(col("n_pos"))
  }

  // q275 — rolling-origin forecast backtest: one-step-ahead errors of
  // naive / seasonal-naive-7 / trailing-MA-7 on the zero-filled daily
  // revenue spine, MAE / RMSE / MAPE per method. Model selection by
  // walk-forward evidence instead of a single fit. MA-7 is an exact
  // BIGINT window sum divided once, so both engines see identical
  // forecasts.
  private val q275: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .withColumn("naive", lag(col("rev"), 1).over(w))
      .withColumn("snaive", lag(col("rev"), 7).over(w))
      .withColumn("ma7", sum(col("rev")).over(w.rowsBetween(-7, -1))
        .cast("double") / 7.0)
      .filter(col("rn") > 7)
    z.selectExpr("rev",
        "stack(3, 'naive', CAST(naive AS DOUBLE), " +
          "'snaive', CAST(snaive AS DOUBLE), 'ma7', ma7) " +
          "AS (method, fc)")
      .withColumn("err", col("fc") - col("rev").cast("double"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_days"),
        e6(avg(abs(col("err"))) / 100.0).as("mae_e6"),
        e6(sqrt(avg(col("err") * col("err"))) / 100.0).as("rmse_e6"),
        e6(avg(when(col("rev") > 0L,
          abs(col("err")) / col("rev").cast("double")))).as("mape_e6"))
      .ordered(col("method"))
  }

  // q276 — Adamic-Adar link prediction between suppliers through
  // shared parts: distinct (part, supplier) edges, hub parts capped
  // at degree 30 BEFORE the wedge self-join (the standard bound that
  // keeps common-neighbor enumeration linear in edges), pair score =
  // sum of 1/ln(deg) over shared parts, pairs sharing >= 2 parts.
  private val q276: Q = (s, dir) => {
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val deg = edges.groupBy(col("p")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2L && col("d") <= 30L)
    val e = edges.join(deg, Seq("p"))
    e.select(col("p"), col("s").as("s1"), col("d"))
      .join(e.select(col("p"), col("s").as("s2")), Seq("p"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("d").cast("double"))).as("aa"))
      .filter(col("n_common") >= 2L)
      .select(col("s1"), col("s2"), col("n_common"),
        e6(col("aa")).as("aa_e6"))
      .ordered(col("s1"), col("s2"))
  }

  // q277 — duplicate-payment candidates: orders blocked on
  // (customer, $100 amount band) — equality blocking shrinks the
  // self-join to within-block pairs — then pairs of distinct orders
  // whose dates fall within 45 days. The integrity sweep every AP
  // system runs before month-close.
  private val q277: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("k"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .withColumn("band", expr("c div 10000"))
    o.select(col("cust"), col("band"), col("k").as("k1"),
        col("c").as("c1"), col("day").as("d1"))
      .join(o.select(col("cust"), col("band"), col("k").as("k2"),
        col("c").as("c2"), col("day").as("d2")), Seq("cust", "band"))
      .filter(col("k1") < col("k2") &&
        abs(col("d1") - col("d2")) <= 45L)
      .select(col("cust"), col("k1"), col("k2"), col("c1"), col("c2"),
        abs(col("d1") - col("d2")).as("day_gap"))
      .ordered(col("cust"), col("k1"), col("k2"))
  }

  // q278 — Gaussian KDE profile of order value on a 25-point grid:
  // the fact table collapses to a $100-bin histogram first, so the
  // kernel sum is grid x bins (bounded), not grid x rows. Output is
  // the expected order count per $1000 band at each grid point — the
  // smooth distribution profile a pricing dashboard plots.
  private val q278: Q = (s, dir) => {
    val cents = t(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val hist = cents.groupBy(expr("c div 10000").as("bin"))
      .agg(count(lit(1)).as("nb"))
    val st = cents.agg(count(lit(1)).as("n"), min(col("c")).as("mn"),
      max(col("c")).as("mx"))
    val grid = st.select(col("n"), col("mn"), col("mx"),
        explode(sequence(lit(0), lit(24))).as("i"))
      .withColumn("g", col("mn").cast("double") / 100.0 +
        col("i").cast("double") *
          ((col("mx") - col("mn")).cast("double") / 100.0) / 24.0)
      .withColumn("h",
        ((col("mx") - col("mn")).cast("double") / 100.0) / 20.0)
    grid.crossJoin(hist)
      .withColumn("z", (col("g") -
        (col("bin").cast("double") * 100.0 + 50.0)) / col("h"))
      .groupBy(col("i"), col("g"), col("h"), col("n"))
      .agg(sum(col("nb").cast("double") *
        exp(col("z") * col("z") * -0.5)).as("ksum"))
      .select(col("i"),
        e6(col("g")).as("g_e6"),
        e6(col("ksum") / (col("h") * lit(math.sqrt(2.0 * math.Pi))) *
          lit(1000.0)).as("exp_per_1k_e6"))
      .ordered(col("i"))
  }

  // q279 — Gaussian Naive Bayes language classifier from three
  // integer character statistics (chars, digits, spaces): class
  // means/variances come from exact BIGINT power sums (bit-identical
  // cross-engine), scoring is one broadcast of the 5-class stats
  // table, argmax by (score, lang) window rank, confusion rollup.
  // The numeric-feature complement of the q81 multinomial NB.
  private val q279: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val f = t(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("label"),
        length(col("text")).cast("long").as("x1"),
        TextOps.charClassCount(col("text"), 0).as("x2"),
        TextOps.charClassCount(col("text"), 1).as("x3"))
    val st = f.groupBy(col("label").as("cl"))
      .agg(count(lit(1)).as("nc"),
        sum(col("x1")).as("s1a"), sum(col("x1") * col("x1")).as("s2a"),
        sum(col("x2")).as("s1b"), sum(col("x2") * col("x2")).as("s2b"),
        sum(col("x3")).as("s1c"), sum(col("x3") * col("x3")).as("s2c"))
    val tot = f.agg(count(lit(1)).as("nt"))
    def mu(s1: String): Column =
      col(s1).cast("double") / col("nc").cast("double")
    def va(s1: String, s2: String): Column = greatest(
      (col("nc") * col(s2) - col(s1) * col(s1)).cast("double") /
        (col("nc") * col("nc")).cast("double"), lit(0.5))
    def term(x: String, s1: String, s2: String): Column = {
      val m = mu(s1); val v = va(s1, s2)
      log(v) * -0.5 - (col(x).cast("double") - m) *
        (col(x).cast("double") - m) / (v * 2.0)
    }
    val scored = f.crossJoin(broadcast(st.crossJoin(tot)))
      .withColumn("score",
        term("x1", "s1a", "s2a") + term("x2", "s1b", "s2b") +
          term("x3", "s1c", "s2c") +
          log(col("nc").cast("double") / col("nt").cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cl"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("cl").as("pred"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("label"), col("pred"))
  }

  // q280 — one-pass deterministic Poisson bootstrap of mean order
  // value: 64 replicates materialized as md5-derived Poisson(1)
  // weights (integer threshold compare on the hash — no engine RNG,
  // no data reshuffle; the explode is map-side and collapses straight
  // into 64 partial-agg groups). Replicate sums are exact BIGINTs.
  private val q280: Q = (s, dir) => {
    // floor(CDF_Poisson(1)(k) * 2^32) for k = 0..7; u >= all => 8.
    val thr = Seq(1580030169L, 3160060337L, 3950075422L, 4213413783L,
      4279248374L, 4292415292L, 4294609778L, 4294923276L)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .withColumn("b", explode(sequence(lit(1), lit(64))))
      .withColumn("u", CurationOps.md5Hash32(
        concat(lit("boot:"), col("b").cast("string"), lit(":"),
          col("k").cast("string"))))
      .withColumn("w", thr.foldLeft(lit(0L)) { (acc, t) =>
        acc + when(col("u") >= lit(t), 1L).otherwise(0L) })
    val reps = o.groupBy(col("b"))
      .agg(sum(col("w")).as("ws"), sum(col("w") * col("c")).as("wx"))
      .select((col("wx").cast("double") / col("ws").cast("double") /
        100.0).as("m"))
    val base = t(s, dir, "orders")
      .agg(count(lit(1)).as("n_orders"),
        avg(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
          .cast("double")).as("mean_c"))
    reps.agg(count(lit(1)).as("n_reps"), e6(avg(col("m"))).as("boot_mean_e6"),
        e6(stddev_samp(col("m"))).as("boot_se_e6"),
        e6(min(col("m"))).as("boot_min_e6"),
        e6(max(col("m"))).as("boot_max_e6"))
      .crossJoin(broadcast(base))
      .select(col("n_orders"), col("n_reps"),
        e6(col("mean_c") / 100.0).as("mean_e6"), col("boot_mean_e6"),
        col("boot_se_e6"), col("boot_min_e6"), col("boot_max_e6"))
      .ordered(col("n_orders"))
  }

  // q281 — whale concentration trend: global exact p99 order-value
  // threshold from a two-level prefix sum over the cents histogram
  // ($1000-band partial sums first, so no single-partition scan of
  // the distinct-value grid), then per-month revenue share of orders
  // at or above it.
  private val q281: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val hist = o.groupBy(col("c")).agg(count(lit(1)).as("n"))
      .withColumn("bkt", expr("c div 100000"))
    val bktTot = hist.groupBy(col("bkt")).agg(sum(col("n")).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bkt")).rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
    val nTot = o.agg(count(lit(1)).as("nt"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.join(bktTot, Seq("bkt"))
      .withColumn("cum", col("off") + sum(col("n")).over(wIn))
      .crossJoin(broadcast(nTot))
      .filter(col("cum").cast("double") >=
        col("nt").cast("double") * 0.99)
      .agg(min(col("c")).as("thr"))
    o.crossJoin(broadcast(thr))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("c") >= col("thr"), 1L).otherwise(0L))
          .as("n_whale"),
        sum(col("c")).as("rev"),
        sum(when(col("c") >= col("thr"), col("c")).otherwise(0L))
          .as("whale_rev"),
        max(col("thr")).as("thr"))
      .withColumn("share_e6", e6(col("whale_rev").cast("double") /
        col("rev").cast("double")))
      .ordered(col("m"))
  }

  // q282 — distribution-shape profile per event type: skewness,
  // excess kurtosis, and the bimodality coefficient from one pass of
  // raw power sums (map-side combinable; central moments derived
  // algebraically, identical expressions on both engines).
  private val q282: Q = (s, dir) => {
    val d = t(s, dir, "events")
      .select(col("event_type"), col("value").as("x"))
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
      .withColumn("m3", col("s3") / col("n") -
        lit(3.0) * col("mu") * col("s2") / col("n") +
        lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("s4") / col("n") -
        lit(4.0) * col("mu") * col("s3") / col("n") +
        lit(6.0) * col("mu") * col("mu") * col("s2") / col("n") -
        lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .withColumn("g1", col("m3") / pow(col("m2"), 1.5))
      .withColumn("g2", col("m4") / (col("m2") * col("m2")) - 3.0)
      .select(col("event_type"), col("n").cast("long").as("n"),
        e6(col("mu")).as("mean_e6"),
        e6(sqrt(col("m2") * col("n") / (col("n") - 1.0))).as("sd_e6"),
        e6(col("g1")).as("skew_e6"), e6(col("g2")).as("kurt_e6"),
        e6((col("g1") * col("g1") + 1.0) /
          (col("g2") + lit(3.0) * (col("n") - 1.0) * (col("n") - 1.0) /
            ((col("n") - 2.0) * (col("n") - 3.0)))).as("bimodality_e6"))
      .ordered(col("event_type"))
  }

  // q283 — gains table (CAP curve) for the click-score -> heavy-
  // purchaser task: users collapse to the ~20-value score histogram,
  // each distinct score maps wholly to the decile of its first
  // cumulative position (exact integer math — no global row sort),
  // conversion rate and cumulative capture per decile.
  private val q283: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 13L).as("conv"))
    val hist = per.groupBy(col("score"))
      .agg(count(lit(1)).as("nu"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("nc"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("nu")).as("tu"), sum(col("nc")).as("tc"))
    val dec = hist
      .withColumn("cumb", coalesce(sum(col("nu")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * cumb) div tu"))
      .groupBy(col("decile"))
      .agg(sum(col("nu")).as("n_users"), sum(col("nc")).as("n_conv"),
        max(col("tc")).as("tc"))
    val w2 = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.withColumn("cum_conv", sum(col("n_conv")).over(w2))
      .select(col("decile"), col("n_users"), col("n_conv"),
        e6(col("n_conv").cast("double") / col("n_users").cast("double"))
          .as("rate_e6"),
        e6(col("cum_conv").cast("double") / col("tc").cast("double"))
          .as("capture_e6"))
      .ordered(col("decile"))
  }

  // q284 — activity-streak histogram: per-user longest run of
  // consecutive active days via the gaps-and-islands day-minus-
  // row_number key (window partitioned by user — scales with users),
  // rolled up into a streak-length distribution.
  private val q284: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val days = t(s, dir, "events")
      .select(col("user_id"), expr(s"ts_ns div $DayNs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = days
      .withColumn("isl", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id")).agg(max(col("len")).as("best"))
    streaks.groupBy(col("best").as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .ordered(col("streak_days"))
  }

  // q285 — readability scorecard per source: words (space-run count),
  // sentences ([.!?] count, floored at 1), syllable proxy (vowel-group
  // count) summed as exact BIGINTs per source, Flesch reading ease on
  // the aggregate ratios. The fluency cut of the q118/q92 quality
  // family.
  private val q285: Q = (s, dir) => {
    val f = t(s, dir, "documents").select(col("source"),
      (TextOps.charClassCount(col("text"), 2) + 1L).as("w"),
      greatest(lit(1L), TextOps.charClassCount(col("text"), 3))
        .as("sn"),
      TextOps.charClassCount(lower(col("text")), 4).as("y"))
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("ws"),
        sum(col("sn")).as("ss"), sum(col("y")).as("ys"))
      .select(col("source"), col("n_docs"),
        e6(col("ws").cast("double") / col("ss").cast("double"))
          .as("words_per_sent_e6"),
        e6(col("ys").cast("double") / col("ws").cast("double"))
          .as("syll_per_word_e6"),
        e6(lit(206.835) -
          lit(1.015) * col("ws").cast("double") / col("ss").cast("double") -
          lit(84.6) * col("ys").cast("double") / col("ws").cast("double"))
          .as("flesch_e6"))
      .ordered(col("source"))
  }

  // q286 — stratified 5-fold assignment audit
  // (CurationOps.stratifiedKFold): md5-ordered round-robin within each
  // language gives exact floor/ceil fold sizes per stratum; the audit
  // reports per-(lang, fold) counts, within-lang share, and mean doc
  // length (fold balance in one glance).
  private val q286: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val folded = CurationOps.stratifiedKFold(
      t(s, dir, "documents"), "lang", "doc_id", 5, "kf")
    val wl = Window.partitionBy(col("lang"))
    folded.groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("cs"))
      .withColumn("lang_total", sum(col("n_docs")).over(wl))
      .select(col("lang"), col("fold"), col("n_docs"),
        e6(col("n_docs").cast("double") /
          col("lang_total").cast("double")).as("share_e6"),
        e6(col("cs").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars_e6"))
      .ordered(col("lang"), col("fold"))
  }

  // q287 — open-order aging buckets: non-final orders aged against
  // the corpus as-of day (1-row broadcast bracket), bucketed on the
  // standard 30/60/90/180/365 grid, counts and exact cents per
  // (status, bucket). The AR aging report.
  private val q287: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val asof = o.agg(max(col("day")).as("asof"))
    o.filter(col("status") =!= "F")
      .crossJoin(broadcast(asof))
      .withColumn("age", col("asof") - col("day"))
      .withColumn("bucket",
        when(col("age") <= 30L, "a_0_30")
          .when(col("age") <= 60L, "b_31_60")
          .when(col("age") <= 90L, "c_61_90")
          .when(col("age") <= 180L, "d_91_180")
          .when(col("age") <= 365L, "e_181_365")
          .otherwise("f_365_plus"))
      .groupBy(col("status"), col("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("cents"))
      .ordered(col("status"), col("bucket"))
  }

  // Holt-Winters constants shared by q288's Spark side and oracle —
  // both interpolate the SAME Scala doubles, so the engines parse
  // identical literals.
  private val HwA = 0.3; private val HwB = 0.05; private val HwG = 0.2

  // q288 — Holt-Winters additive (alpha .3, beta .05, gamma .2,
  // season 7) on the zero-filled daily revenue spine
  // (StatsOps.holtWinters): one distributed aggregation builds the
  // bounded daily grid, one array fold runs the recursion — no driver
  // loop. Final level/trend/seasonals + in-sample one-step MAE.
  private val q288: Q = (s, dir) => {
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    // v = CENTS as double: integer-valued doubles sum exactly, so the
    // init-period means are identical cross-engine; pins are /100.
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("v", coalesce(col("rev"), lit(0L)).cast("double"))
    graft.operators.StatsOps.holtWinters(z, "day", "v", HwA, HwB, HwG, 7)
      .select(col("n_fit"), e6(col("level") / 100.0).as("level_e6"),
        e6(col("trend") / 100.0).as("trend_e6"),
        e6(col("mae") / 100.0).as("mae_e6"),
        e6(expr("element_at(seasonal, 1)") / 100.0).as("s1_e6"),
        e6(expr("element_at(seasonal, 2)") / 100.0).as("s2_e6"),
        e6(expr("element_at(seasonal, 3)") / 100.0).as("s3_e6"),
        e6(expr("element_at(seasonal, 4)") / 100.0).as("s4_e6"),
        e6(expr("element_at(seasonal, 5)") / 100.0).as("s5_e6"),
        e6(expr("element_at(seasonal, 6)") / 100.0).as("s6_e6"),
        e6(expr("element_at(seasonal, 7)") / 100.0).as("s7_e6"))
      .ordered(col("n_fit"))
  }

  // q289 — SMA crossover signals on daily revenue: 7-day vs 28-day
  // moving averages compared as exact integers (4*S7 vs S28 — zero
  // floating point in the signal), golden/death cross counts and the
  // last state. The trend-shift detector of the q275 family.
  private val q289: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val sig = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .withColumn("s7", sum(col("rev")).over(w.rowsBetween(-6, 0)))
      .withColumn("s28", sum(col("rev")).over(w.rowsBetween(-27, 0)))
      .filter(col("rn") >= 28)
      .withColumn("sig",
        when(col("s7") * 4L > col("s28"), 1L)
          .when(col("s7") * 4L < col("s28"), -1L).otherwise(0L))
      .withColumn("prev", lag(col("sig"), 1).over(w))
    sig.agg(count(lit(1)).as("n_days"),
        sum(when(col("sig") === 1L && col("prev") === -1L, 1L)
          .otherwise(0L)).as("n_golden"),
        sum(when(col("sig") === -1L && col("prev") === 1L, 1L)
          .otherwise(0L)).as("n_death"),
        max(when(col("sig") =!= col("prev") &&
          col("sig") =!= 0L && col("prev") =!= 0L, col("day")))
          .as("last_cross_day"),
        expr("max_by(sig, day)").as("last_sig"))
      .ordered(col("n_days"))
  }

  // q290 — split-conformal prediction interval for order value per
  // priority: md5-parity calibration/test halves, per-priority
  // calibration mean, and the conformal residual quantile selected by
  // EXACT integer arithmetic — residuals compare as |c·n − S| (cents
  // times calib count minus calib sum), so the rank-ceil(0.9(m+1))
  // cut point is engine-exact. Coverage is then audited on the held-
  // out half. Distribution-free intervals, zero floating-point in the
  // selection.
  private val q290: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"), col("o_orderkey").as("k"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .withColumn("calib", CurationOps.md5Hash32(
        concat(lit("conf:"), col("k").cast("string"))) < 2147483648L)
    val st = o.filter(col("calib")).groupBy(col("prio"))
      .agg(count(lit(1)).as("m"), sum(col("c")).as("sc"))
    val res = o.filter(col("calib")).join(st, Seq("prio"))
      .select(col("prio"), col("m"), col("sc"),
        abs(col("c") * col("m") - col("sc")).as("r"))
      .groupBy(col("prio"), col("m"), col("sc"), col("r"))
      .agg(count(lit(1)).as("nr"))
    val w = Window.partitionBy(col("prio")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = res.withColumn("cum", sum(col("nr")).over(w))
      .filter(col("cum").cast("double") >=
        ceil((col("m") + 1).cast("double") * 0.9))
      .groupBy(col("prio"), col("m"), col("sc"))
      .agg(min(col("r")).as("rstar"))
    o.filter(!col("calib")).join(qhat, Seq("prio"))
      .groupBy(col("prio"))
      .agg(max(col("m")).as("n_calib"), count(lit(1)).as("n_test"),
        e6(max(col("rstar")).cast("double") /
          max(col("m")).cast("double") / 100.0).as("qhat_e6"),
        e6(avg(when(abs(col("c") * col("m") - col("sc")) <=
          col("rstar"), 1.0).otherwise(0.0))).as("cover_e6"))
      .ordered(col("prio"))
  }

  // q291 — freshness-weighted popularity: per-type event counts
  // decayed by exp(-0.1 · age_days) against the corpus max day. The
  // big table collapses to the bounded (type, day) grid BEFORE any
  // exp() is evaluated, so the decay math runs on ~150 rows.
  private val q291: Q = (s, dir) => {
    val grid = t(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).as("n"))
    val mx = grid.agg(max(col("day")).as("mxd"))
    val sc = grid.crossJoin(broadcast(mx))
      .withColumn("w", exp((col("day") - col("mxd")).cast("double")
        * 0.1))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("n").cast("double") * col("w")).as("score"))
    val tot = sc.agg(sum(col("score")).as("ts"))
    sc.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_events"),
        e6(col("score")).as("score_e6"),
        e6(col("score") / col("ts")).as("share_e6"))
      .ordered(col("event_type"))
  }

  // q292 — active-learning uncertainty audit: the q279 Gaussian-NB
  // per-class score table ranked per doc, margin = best minus
  // runner-up log-score, docs under the margin threshold flagged as
  // the next labeling batch, counted per true language.
  private val q292: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val f = t(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("label"),
        length(col("text")).cast("long").as("x1"),
        TextOps.charClassCount(col("text"), 0).as("x2"),
        TextOps.charClassCount(col("text"), 1).as("x3"))
    val st = f.groupBy(col("label").as("cl"))
      .agg(count(lit(1)).as("nc"),
        sum(col("x1")).as("s1a"), sum(col("x1") * col("x1")).as("s2a"),
        sum(col("x2")).as("s1b"), sum(col("x2") * col("x2")).as("s2b"),
        sum(col("x3")).as("s1c"), sum(col("x3") * col("x3")).as("s2c"))
    val tot = f.agg(count(lit(1)).as("nt"))
    def mu(s1: String): Column =
      col(s1).cast("double") / col("nc").cast("double")
    def va(s1: String, s2: String): Column = greatest(
      (col("nc") * col(s2) - col(s1) * col(s1)).cast("double") /
        (col("nc") * col("nc")).cast("double"), lit(0.5))
    def term(x: String, s1: String, s2: String): Column = {
      val m = mu(s1); val v = va(s1, s2)
      log(v) * -0.5 - (col(x).cast("double") - m) *
        (col(x).cast("double") - m) / (v * 2.0)
    }
    val scored = f.crossJoin(broadcast(st.crossJoin(tot)))
      .withColumn("score",
        term("x1", "s1a", "s2a") + term("x2", "s1b", "s2b") +
          term("x3", "s1c", "s2c") +
          log(col("nc").cast("double") / col("nt").cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cl"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("doc_id"), col("label"))
      .agg((max(when(col("rk") === 1, col("score"))) -
        max(when(col("rk") === 2, col("score")))).as("margin"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("margin") < 5.0, 1L).otherwise(0L))
          .as("n_uncertain"),
        e6(avg(col("margin"))).as("mean_margin_e6"))
      .ordered(col("label"))
  }

  // q293 — weekly growth accounting: every (user, week) activity cell
  // classified new / retained / resurrected against the previous week
  // and the user's first week; churned(w) = active w-1, absent w. The
  // MAU-accounting identity every growth team reports.
  private val q293: Q = (s, dir) => {
    val uw = t(s, dir, "events")
      .select(col("user_id"), expr(s"(ts_ns div $DayNs) div 7").as("w"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    val prev = uw.select(col("user_id"), (col("w") + 1L).as("w"),
      lit(1L).as("was_active"))
    val cur = uw.join(first, Seq("user_id"))
      .join(prev, Seq("user_id", "w"), "full_outer")
    cur.groupBy(col("w"))
      .agg(sum(when(col("w0") === col("w"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("w0") < col("w") && col("was_active").isNotNull
          && col("w0").isNotNull, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("w0") < col("w") && col("was_active").isNull,
          1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("w0").isNull && col("was_active").isNotNull, 1L)
          .otherwise(0L)).as("n_churned"))
      .ordered(col("w"))
  }

  // q294 — coverage/completeness audit of the daily order feed: the
  // dense (priority × day) expectation grid vs observed days, missing
  // share and the longest consecutive missing-day run per priority
  // (gaps-and-islands on the missing cells of the bounded grid).
  private val q294: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val od = t(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .distinct()
    val span = od.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = od.select(col("prio")).distinct()
      .crossJoin(broadcast(span))
      .select(col("prio"), explode(sequence(col("d0"), col("d1")))
        .as("day"))
    val missing = grid.join(od, Seq("prio", "day"), "left_anti")
    val w = Window.partitionBy(col("prio")).orderBy(col("day"))
    val runs = missing
      .withColumn("isl", col("day") - row_number().over(w))
      .groupBy(col("prio"), col("isl")).agg(count(lit(1)).as("len"))
      .groupBy(col("prio")).agg(max(col("len")).as("longest_gap"))
    grid.groupBy(col("prio")).agg(count(lit(1)).as("n_expected"))
      .join(missing.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_missing")), Seq("prio"), "left")
      .join(runs, Seq("prio"), "left")
      .select(col("prio"), col("n_expected"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        e6(lit(1.0) - coalesce(col("n_missing"), lit(0L))
          .cast("double") / col("n_expected").cast("double"))
          .as("fill_e6"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"))
      .ordered(col("prio"))
  }

  // q295 — brand-switching matrix: each order's dominant brand
  // (highest net cents, brand tiebreak — deterministic rank, no
  // argmax on ties), per-customer consecutive-order transitions
  // (date+orderkey total order), counted per (from, to) pair.
  private val q295: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ob = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("k"), col("p_brand").as("brand"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("c"))
    val wd = Window.partitionBy(col("k"))
      .orderBy(col("c").desc, col("brand").desc)
    val dom = ob.withColumn("rk", row_number().over(wd))
      .filter(col("rk") === 1).select(col("k"), col("brand"))
    val seq0 = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .join(dom, Seq("k"))
    val ws = Window.partitionBy(col("cust"))
      .orderBy(col("day"), col("k"))
    seq0.withColumn("from_brand", lag(col("brand"), 1).over(ws))
      .filter(col("from_brand").isNotNull)
      .groupBy(col("from_brand"), col("brand").as("to_brand"))
      .agg(count(lit(1)).as("n"))
      .ordered(col("from_brand"), col("to_brand"))
  }

  // q296 — customer-revenue Lorenz deciles + exact Gini: per-customer
  // cents collapse to a value histogram, deciles assigned by integer
  // cumulative-count mapping (the q283 discipline), Gini via the
  // midrank identity on the histogram — no per-row rank window.
  private val q296: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pc = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("c"))
    val h = pc.groupBy(col("c")).agg(count(lit(1)).as("nu"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = h.agg(sum(col("nu")).as("n"),
      sum(col("nu") * col("c")).as("tc"))
    val cum = h.withColumn("cumb", coalesce(sum(col("nu")).over(w),
      lit(0L))).crossJoin(broadcast(tot))
    val gini = cum
      .agg(max(col("n")).as("n"), max(col("tc")).as("tc"),
        sum((lit(2.0) * (col("cumb").cast("double") +
          (col("nu").cast("double") + 1.0) / 2.0) -
          col("n").cast("double") - 1.0) *
          col("nu").cast("double") * col("c").cast("double"))
          .as("gnum"))
      .select((col("gnum") / (col("n").cast("double") *
        col("tc").cast("double"))).as("gini"))
    val dec = cum.withColumn("decile", expr("(10 * cumb) div n"))
      .groupBy(col("decile"))
      .agg(sum(col("nu")).as("n_cust"),
        sum(col("nu") * col("c")).as("rev"), max(col("tc")).as("tc"))
    val w2 = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.withColumn("cum_rev", sum(col("rev")).over(w2))
      .crossJoin(broadcast(gini))
      .select(col("decile"), col("n_cust"),
        e6(col("rev").cast("double") / col("tc").cast("double"))
          .as("rev_share_e6"),
        e6(col("cum_rev").cast("double") / col("tc").cast("double"))
          .as("cum_share_e6"),
        e6(col("gini")).as("gini_e6"))
      .ordered(col("decile"))
  }

  // q297 — Hurst exponent of daily revenue by rescaled-range (R/S)
  // analysis: block sizes 32/64/128/256 over the zero-filled spine,
  // per-block cumulative deviations as EXACT integers (s·cum − t·S),
  // mean R/S per size, and the log-log OLS slope across the four
  // sizes. Long-memory diagnostics for capacity planning.
  private val q297: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
    val sized = z.withColumn("sz",
        explode(array(lit(32L), lit(64L), lit(128L), lit(256L))))
      .withColumn("blk", expr("(rn - 1) div sz"))
    // bs2 in double: Σ rev² overflows BIGINT at 10× (rev/day ~1e9
    // cents squared × 2400 days); per-term products round identically
    // in both engines, only the tiny fold-order tail differs.
    val bst = sized.groupBy(col("sz"), col("blk"))
      .agg(count(lit(1)).as("bn"), sum(col("rev")).as("bs"),
        sum(col("rev").cast("double") * col("rev").cast("double"))
          .as("bs2"))
      .filter(col("bn") === col("sz"))
    val wb = Window.partitionBy(col("sz"), col("blk"))
      .orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val devs = sized.join(bst, Seq("sz", "blk"))
      .withColumn("cum", sum(col("rev")).over(wb))
      .withColumn("t", col("rn") - col("blk") * col("sz"))
      .withColumn("dev", col("sz") * col("cum") - col("t") * col("bs"))
    val rs = devs.groupBy(col("sz"), col("blk"), col("bs"), col("bs2"))
      .agg(((max(col("dev")) - min(col("dev"))).cast("double") /
        col("sz").cast("double")).as("r"))
      .withColumn("sd", sqrt(col("bs2").cast("double") /
        col("sz").cast("double") -
        (col("bs").cast("double") / col("sz").cast("double")) *
        (col("bs").cast("double") / col("sz").cast("double"))))
      .filter(col("sd") > 0.0)
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("nb"), avg(col("r") / col("sd")).as("mrs"))
    val ols = rs.agg(count(lit(1)).cast("double").as("k"),
        sum(log(col("sz").cast("double"))).as("sx"),
        sum(log(col("mrs"))).as("sy"),
        sum(log(col("sz").cast("double")) * log(col("mrs"))).as("sxy"),
        sum(log(col("sz").cast("double")) *
          log(col("sz").cast("double"))).as("sxx"))
      .select(((col("sxy") - col("sx") * col("sy") / col("k")) /
        (col("sxx") - col("sx") * col("sx") / col("k"))).as("hurst"))
    rs.crossJoin(broadcast(ols))
      .select(col("sz"), col("nb"), e6(col("mrs")).as("mean_rs_e6"),
        e6(col("hurst")).as("hurst_e6"))
      .ordered(col("sz"))
  }

  // q298 — structural-break finder (one-split binary segmentation) on
  // daily revenue: the between-group sum of squares of every split
  // point from exact BIGINT prefix sums — identical double expressions
  // on identical integers, so the argmax (gain DESC, day ASC) is
  // engine-stable. The changepoint the q208 CUSUM family localizes,
  // found by direct SSE decomposition.
  private val q298: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cs", sum(col("rev")).over(w.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
    val tot = z.agg(max(col("rn")).as("n"), max(col("cs")).as("s"),
      sum(col("rev").cast("double") * col("rev").cast("double"))
        .as("s2"))
    val gains = z.crossJoin(broadcast(tot))
      .filter(col("rn") < col("n"))
      .withColumn("gain",
        col("cs").cast("double") * col("cs").cast("double") /
          col("rn").cast("double") +
        (col("s") - col("cs")).cast("double") *
          (col("s") - col("cs")).cast("double") /
          (col("n") - col("rn")).cast("double") -
        col("s").cast("double") * col("s").cast("double") /
          col("n").cast("double"))
    val w2 = Window.orderBy(col("gain").desc, col("day"))
    gains.withColumn("rk", row_number().over(w2)).filter(col("rk") === 1)
      .select(col("day").as("split_day"), col("rn").as("n_left"),
        (col("n") - col("rn")).as("n_right"),
        e6(col("cs").cast("double") / col("rn").cast("double") / 100.0)
          .as("mean_left_e6"),
        e6((col("s") - col("cs")).cast("double") /
          (col("n") - col("rn")).cast("double") / 100.0)
          .as("mean_right_e6"),
        e6(col("gain") / (col("s2") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double"))).as("gain_share_e6"))
      .ordered(col("split_day"))
  }

  // q299 — quantile treatment effects: md5-free user-parity arms (the
  // q251 assignment), exact type-lower deciles of event value per arm
  // from the cents histogram, per-quantile A-minus-B differences. The
  // distributional readout a mean-only A/B test misses.
  private val q299: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "events")
      .select((col("user_id") % 2 === 0).as("armA"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
    val h = v.groupBy(col("armA"), col("c")).agg(count(lit(1)).as("n"))
    val tot = h.groupBy(col("armA")).agg(sum(col("n")).as("nt"))
    val w = Window.partitionBy(col("armA")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cumn", sum(col("n")).over(w))
      .join(tot, Seq("armA"))
    val qs = cum.crossJoin(broadcast(
        spark_grid(s)))
      .filter(col("cumn").cast("double") >=
        ceil(col("nt").cast("double") * col("q") / 100.0))
      .groupBy(col("q"), col("armA")).agg(min(col("c")).as("qc"))
    qs.groupBy(col("q"))
      .agg(max(when(col("armA"), col("qc"))).as("qa"),
        max(when(!col("armA"), col("qc"))).as("qb"))
      .select(col("q"), e6(col("qa").cast("double") / 100.0).as("a_e6"),
        e6(col("qb").cast("double") / 100.0).as("b_e6"),
        e6((col("qa") - col("qb")).cast("double") / 100.0)
          .as("qte_e6"))
      .ordered(col("q"))
  }
  /** 9-row decile grid (10..90) broadcast by q299. */
  private def spark_grid(s: SparkSession): DataFrame = {
    import s.implicits._
    (1 to 9).map(i => i * 10L).toDF("q")
  }

  // q300 — deterministic negative sampling for contrastive training:
  // 4 md5-derived candidate ids per anchor (modulo the dense vec_id
  // space — a 1-row count bracket), resolved against the embedding
  // table by equi-join, label-collision candidates dropped, and the
  // kept pair set fingerprinted. The negative-pair generator is one
  // map-side expansion + one key-partitioned join — no RNG, no
  // shuffle beyond the candidate resolve.
  private val q300: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val n = e.agg(count(lit(1)).as("nv"))
    val cand = e.crossJoin(broadcast(n))
      .withColumn("j", explode(sequence(lit(1), lit(4))))
      .withColumn("cand", CurationOps.md5Hash32(
        concat(lit("neg:"), col("vec_id").cast("string"), lit(":"),
          col("j").cast("string"))) % col("nv"))
    val resolved = cand.join(
      e.select(col("vec_id").as("cand"), col("label").as("cl")),
      Seq("cand"))
    resolved.groupBy(col("label"))
      .agg(countDistinct(col("vec_id")).as("n_anchors"),
        count(lit(1)).as("n_cand"),
        sum(when(col("cl") =!= col("label"), 1L).otherwise(0L))
          .as("n_kept"),
        e6(sum(when(col("cl") =!= col("label"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"))
          .as("keep_e6"),
        sum(when(col("cl") =!= col("label"), CurationOps.md5Hash32(
          concat(col("vec_id").cast("string"), lit(":"),
            col("cand").cast("string")))).otherwise(0L))
          .as("fingerprint"))
      .ordered(col("label"))
  }

  // q301 — Fleiss' kappa agreement between three heuristic quality
  // raters (length >= 500, space-ratio in [0.1, 0.25], digit-ratio
  // < 0.05): per-doc category counts -> P-bar / P-e -> kappa. The
  // inter-rater reliability check before trusting a labeling rubric.
  private val q301: Q = (s, dir) => {
    val f = t(s, dir, "documents").select(
      (length(col("text")) >= 500).cast("long").as("r1"),
      (TextOps.charClassCount(col("text"), 1).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double"))
        .between(0.1, 0.25).cast("long").as("r2"),
      (TextOps.charClassCount(col("text"), 0).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double") < 0.05)
        .cast("long").as("r3"))
      .withColumn("pos", col("r1") + col("r2") + col("r3"))
    // per-doc agreement: (pos*(pos-1) + neg*(neg-1)) / (3*2)
    f.agg(count(lit(1)).cast("double").as("n"),
        avg((col("pos") * (col("pos") - 1L) +
          (lit(3L) - col("pos")) * (lit(2L) - col("pos")))
          .cast("double") / 6.0).as("pbar"),
        avg(col("pos").cast("double") / 3.0).as("ppos"))
      .select(col("n").cast("long").as("n_docs"),
        e6(col("pbar")).as("p_bar_e6"),
        e6(col("ppos") * col("ppos") +
          (lit(1.0) - col("ppos")) * (lit(1.0) - col("ppos")))
          .as("p_e_e6"),
        e6((col("pbar") - (col("ppos") * col("ppos") +
          (lit(1.0) - col("ppos")) * (lit(1.0) - col("ppos")))) /
          (lit(1.0) - (col("ppos") * col("ppos") +
            (lit(1.0) - col("ppos")) * (lit(1.0) - col("ppos")))))
          .as("kappa_e6"))
      .ordered(col("n_docs"))
  }

  // q302 — expected calibration error of the q279 Gaussian NB: stable
  // softmax confidence of the argmax class (exp(s - s_max) folding),
  // 10 confidence bins, per-bin accuracy vs mean confidence and the
  // weighted ECE. Does the classifier's confidence mean anything?
  private val q302: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val f = t(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("label"),
        length(col("text")).cast("long").as("x1"),
        TextOps.charClassCount(col("text"), 0).as("x2"),
        TextOps.charClassCount(col("text"), 1).as("x3"))
    val st = f.groupBy(col("label").as("cl"))
      .agg(count(lit(1)).as("nc"),
        sum(col("x1")).as("s1a"), sum(col("x1") * col("x1")).as("s2a"),
        sum(col("x2")).as("s1b"), sum(col("x2") * col("x2")).as("s2b"),
        sum(col("x3")).as("s1c"), sum(col("x3") * col("x3")).as("s2c"))
    val tot = f.agg(count(lit(1)).as("nt"))
    def mu(s1: String): Column =
      col(s1).cast("double") / col("nc").cast("double")
    def va(s1: String, s2: String): Column = greatest(
      (col("nc") * col(s2) - col(s1) * col(s1)).cast("double") /
        (col("nc") * col("nc")).cast("double"), lit(0.5))
    def term(x: String, s1: String, s2: String): Column = {
      val m = mu(s1); val v = va(s1, s2)
      log(v) * -0.5 - (col(x).cast("double") - m) *
        (col(x).cast("double") - m) / (v * 2.0)
    }
    val scored = f.crossJoin(broadcast(st.crossJoin(tot)))
      .withColumn("score",
        term("x1", "s1a", "s2a") + term("x2", "s1b", "s2b") +
          term("x3", "s1c", "s2c") +
          log(col("nc").cast("double") / col("nt").cast("double")))
    val wd = Window.partitionBy(col("doc_id"))
    val agg = scored.withColumn("smax", max(col("score")).over(wd))
      .withColumn("es", exp(col("score") - col("smax")))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("es")).as("z"),
        // deterministic argmax: smallest class name among max-score
        // ties (the q279 "score DESC, cl ASC" rank-1 contract)
        min(when(col("score") === col("smax"), col("cl"))).as("pred"))
    agg.withColumn("conf", lit(1.0) / col("z"))
      .withColumn("bin", least(floor(col("conf") * 10.0).cast("long"),
        lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("conf")).as("mconf"),
        avg(when(col("pred") === col("label"), 1.0).otherwise(0.0))
          .as("acc"))
      .withColumn("w_gap", col("n").cast("double") *
        abs(col("acc") - col("mconf")))
      .withColumn("ece", sum(col("w_gap")).over(
        Window.partitionBy()) /
        sum(col("n")).over(Window.partitionBy()).cast("double"))
      .select(col("bin"), col("n"), e6(col("mconf")).as("conf_e6"),
        e6(col("acc")).as("acc_e6"), e6(col("ece")).as("ece_e6"))
      .ordered(col("bin"))
  }

  // q303 — Simpson's-paradox audit: quantity-vs-discount correlation
  // pooled and per supplier nation (exact integer power sums; one
  // broadcast dim hop), flagging segments whose sign contradicts the
  // pooled sign. The aggregation-bias tripwire.
  private val q303: Q = (s, dir) => {
    val base = t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("y"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
    def corrCols(g: DataFrame): DataFrame = g
      .withColumn("corr",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
             .cast("double"))))
    val per = corrCols(base.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy")))
    val pooled = corrCols(base.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy")))
      .select(col("corr").as("pooled_corr"))
    per.crossJoin(broadcast(pooled))
      .select(col("n_name"), col("n"), e6(col("corr")).as("corr_e6"),
        e6(col("pooled_corr")).as("pooled_e6"),
        (signum(col("corr")) =!= signum(col("pooled_corr")))
          .cast("long").as("sign_flip"))
      .ordered(col("n_name"))
  }

  // q304 — Levene's variance-homogeneity test across event types:
  // |x - group mean| deviations (two passes: exact group means from
  // cents sums, then one deviation aggregate), W statistic with its
  // (k-1, N-k) degrees of freedom. Guards every pooled-variance
  // assumption the t-test queries make.
  private val q304: Q = (s, dir) => {
    val v = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
    val means = v.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"))
    val z = v.join(broadcast(means), Seq("g"))
      .withColumn("z", abs(col("c").cast("double") -
        col("sg").cast("double") / col("ng").cast("double")) / 100.0)
    val zg = z.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"),
        sum(col("z") * col("z")).as("sz2"))
    val gt = zg.agg(sum(col("n")).as("nn"), sum(col("sz")).as("szt"),
      count(lit(1)).as("k"))
    val parts = zg.crossJoin(broadcast(gt))
      .agg(max(col("nn")).as("nn"), max(col("k")).as("k"),
        sum(col("n").cast("double") *
          (col("sz") / col("n").cast("double") -
            col("szt") / col("nn").cast("double")) *
          (col("sz") / col("n").cast("double") -
            col("szt") / col("nn").cast("double"))).as("ssb"),
        sum(col("sz2") - col("sz") * col("sz") /
          col("n").cast("double")).as("ssw"))
    parts.select(col("nn").as("n_total"), col("k").as("n_groups"),
        e6((col("nn") - col("k")).cast("double") /
          (col("k") - 1L).cast("double") *
          col("ssb") / col("ssw")).as("levene_w_e6"),
        (col("k") - 1L).as("df1"), (col("nn") - col("k")).as("df2"))
      .ordered(col("n_total"))
  }

  // q305 — daily SPRT sequential A/B monitor: user-parity arms, daily
  // conversion counts folded into the cumulative log-likelihood ratio
  // of H1 (lift to 0.35) vs H0 (rate 0.30) — increments are exact
  // integer multiples of two log constants — with the ln(19) decision
  // boundaries (alpha = beta = 0.05). Reports the verdict and first
  // crossing day. Peeking-safe sequential testing.
  private val q305: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val (p0, p1) = (0.30, 0.35)
    val la = math.log(p1 / p0); val lb = math.log((1 - p1) / (1 - p0))
    val bound = math.log(19.0)
    val per = t(s, dir, "events")
      .groupBy(col("user_id"), expr(s"ts_ns div $DayNs").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("conv"))
    val dayAgg = per.filter(col("user_id") % 2 === 0)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llr = dayAgg
      .withColumn("cum_c", sum(col("nc")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("llr", col("cum_c").cast("double") * la +
        (col("cum_n") - col("cum_c")).cast("double") * lb)
    llr.agg(max(col("cum_n")).as("n_units"),
        max(col("cum_c")).as("n_conv"),
        min(when(col("llr") >= bound, col("day"))).as("accept_h1_day"),
        min(when(col("llr") <= -bound, col("day"))).as("accept_h0_day"),
        e6(max_by(col("llr"), col("day"))).as("final_llr_e6"))
      .withColumn("verdict",
        when(col("accept_h1_day").isNotNull &&
          (col("accept_h0_day").isNull ||
            col("accept_h1_day") <= col("accept_h0_day")), "accept_h1")
        .when(col("accept_h0_day").isNotNull, "accept_h0")
        .otherwise("continue"))
      .ordered(col("n_units"))
  }

  // q306 — difference-in-differences: user-parity arms, pre/post at
  // the corpus midpoint day (1-row bracket), per-user period means
  // first (exact integer ratios), then unweighted 4-cell group means,
  // DiD point estimate and its 4-cell pooled SE. The panel-data
  // causal readout.
  private val q306: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr(s"ts_ns div $DayNs").as("day"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
    val mid = ev.agg(((min(col("day")) + max(col("day"))) / 2)
      .cast("long").as("mid"))
    val userPeriod = ev.crossJoin(broadcast(mid))
      .withColumn("treat", col("user_id") % 2 === 0)
      .withColumn("post", col("day") >= col("mid"))
      .groupBy(col("user_id"), col("treat"), col("post"))
      .agg((sum(col("c")).cast("double") /
        count(lit(1)).cast("double") / 100.0).as("y"))
    val cells = userPeriod.groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), avg(col("y")).as("m"),
        (sum(col("y") * col("y")) - sum(col("y")) * sum(col("y")) /
          count(lit(1)).cast("double")).as("ss"))
      .withColumn("v", col("ss") / (col("n") - 1L).cast("double") /
        col("n").cast("double"))
    cells.agg(
        sum(col("n")).as("n_user_periods"),
        e6(max(when(col("treat") && col("post"), col("m")))).as("tp_e6"),
        e6(max(when(col("treat") && !col("post"), col("m")))).as("tq_e6"),
        e6(max(when(!col("treat") && col("post"), col("m")))).as("cp_e6"),
        e6(max(when(!col("treat") && !col("post"), col("m")))).as("cq_e6"),
        e6(max(when(col("treat") && col("post"), col("m"))) -
          max(when(col("treat") && !col("post"), col("m"))) -
          (max(when(!col("treat") && col("post"), col("m"))) -
            max(when(!col("treat") && !col("post"), col("m")))))
          .as("did_e6"),
        e6(sqrt(sum(col("v")))).as("se_e6"))
      .ordered(col("n_user_periods"))
  }

  // q307 — one deterministic EM step for a 2-component Gaussian
  // mixture on ln(value): fixed literal initialization, exact E-step
  // responsibilities, M-step parameter updates from one weighted
  // aggregation. The building block of distribution-aware curation,
  // pinned at a reproducible single step.
  private val q307: Q = (s, dir) => {
    val (m1, m2, sd, pi) = (1.0, 5.0, 1.5, 0.5)
    val x = log(col("value"))
    def phi(m: Double): Column =
      exp((x - m) * (x - m) / (-2.0 * sd * sd))
    val r = t(s, dir, "events")
      .filter(col("value") > 0.0) // ln-domain guard (sf0.1 has zeros)
      .select(x.as("x"),
        (phi(m2) * pi / (phi(m2) * pi + phi(m1) * (1 - pi))).as("r2"))
    r.agg(count(lit(1)).cast("double").as("n"), sum(col("r2")).as("w2"),
        sum(col("r2") * col("x")).as("s2"),
        sum((lit(1.0) - col("r2")) * col("x")).as("s1"),
        sum(col("r2") * col("x") * col("x")).as("ss2"),
        sum((lit(1.0) - col("r2")) * col("x") * col("x")).as("ss1"))
      .select(col("n").cast("long").as("n"),
        e6(col("w2") / col("n")).as("pi2_e6"),
        e6(col("s1") / (col("n") - col("w2"))).as("mu1_e6"),
        e6(col("s2") / col("w2")).as("mu2_e6"),
        e6(sqrt(col("ss1") / (col("n") - col("w2")) -
          (col("s1") / (col("n") - col("w2"))) *
          (col("s1") / (col("n") - col("w2"))))).as("sd1_e6"),
        e6(sqrt(col("ss2") / col("w2") -
          (col("s2") / col("w2")) * (col("s2") / col("w2"))))
          .as("sd2_e6"))
      .ordered(col("n"))
  }

  // q308 — revenue peak days: strictly above the prior 3 days, at
  // least the next 3 (deterministic tie rule), and more than two
  // global sigmas above the mean (1-row bracket). Windows are
  // fixed-width — no unbounded state.
  private val q308: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("pmax", max(col("rev")).over(w.rowsBetween(-3, -1)))
      .withColumn("nmax", max(col("rev")).over(w.rowsBetween(1, 3)))
    val st = z.agg(avg(col("rev").cast("double")).as("mu"),
      stddev_samp(col("rev").cast("double")).as("sd"))
    z.crossJoin(broadcast(st))
      .filter(col("pmax").isNotNull && col("nmax").isNotNull &&
        col("rev") > col("pmax") && col("rev") >= col("nmax") &&
        col("rev").cast("double") > col("mu") + lit(2.0) * col("sd"))
      .select(col("day"), col("rev"),
        e6((col("rev").cast("double") - col("mu")) / col("sd"))
          .as("z_e6"))
      .ordered(col("day"))
  }

  // q309 — ADF-style unit-root quick check on daily revenue:
  // delta(y_t) regressed on y_(t-1) (intercept model), slope and
  // t-statistic from one pass of power sums (double sums of exact
  // integer products — identical per-term rounding cross-engine).
  // beta near 0 => random walk; strongly negative => mean-reverting.
  private val q309: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val p = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("xl", lag(col("rev"), 1).over(w))
      .filter(col("xl").isNotNull)
      .select((col("xl").cast("double") / 100.0).as("xd"),
        ((col("rev") - col("xl")).cast("double") / 100.0).as("yd"))
    p.agg(count(lit(1)).cast("double").as("n"),
        sum(col("xd")).as("sx"), sum(col("yd")).as("sy"),
        sum(col("xd") * col("xd")).as("sxx"),
        sum(col("yd") * col("yd")).as("syy"),
        sum(col("xd") * col("yd")).as("sxy"))
      .withColumn("sxxc", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("beta",
        (col("sxy") - col("sx") * col("sy") / col("n")) / col("sxxc"))
      .withColumn("sse", col("syy") - col("sy") * col("sy") / col("n")
        - col("beta") * col("beta") * col("sxxc"))
      .select(col("n").cast("long").as("n_days"),
        e6(col("beta")).as("beta_e6"),
        e6(col("beta") / sqrt(col("sse") / (col("n") - 2.0) /
          col("sxxc"))).as("t_e6"))
      .ordered(col("n_days"))
  }

  // Shared normal-quantile literals for q310 — interpolated into both
  // engines' texts.
  private val Zq: Seq[(Int, Double)] = Seq(
    5 -> -1.6448536269514722, 10 -> -1.2815515655446004,
    15 -> -1.0364333894937898, 20 -> -0.8416212335729143,
    25 -> -0.6744897501960817, 30 -> -0.5244005127080409,
    35 -> -0.38532046640756773, 40 -> -0.2533471031357997,
    45 -> -0.12566134685507402, 50 -> 0.0,
    55 -> 0.12566134685507402, 60 -> 0.2533471031357997,
    65 -> 0.38532046640756773, 70 -> 0.5244005127080409,
    75 -> 0.6744897501960817, 80 -> 0.8416212335729143,
    85 -> 1.0364333894937898, 90 -> 1.2815515655446004,
    95 -> 1.6448536269514722)

  // q310 — lognormality QQ audit of order value: exact type-lower
  // sample quantiles of ln(cents) from the cents histogram at 19
  // probes vs the fitted-normal line (moment estimates), per-probe
  // gap. The distributional-assumption check behind every lognormal
  // pricing model.
  private val q310: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val cents = t(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val h = cents.groupBy(col("c")).agg(count(lit(1)).as("n"))
    val tot = h.agg(sum(col("n")).as("nt"))
    val mom = cents.agg(avg(log(col("c").cast("double"))).as("mu"),
      stddev_samp(log(col("c").cast("double"))).as("sd"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cum", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
    val grid = {
      import s.implicits._
      Zq.map { case (q, z) => (q.toLong, z) }.toDF("q", "z")
    }
    val qs = cum.crossJoin(broadcast(grid))
      .filter(col("cum").cast("double") >=
        ceil(col("nt").cast("double") * col("q") / 100.0))
      .groupBy(col("q"), col("z")).agg(min(col("c")).as("qc"))
    qs.crossJoin(broadcast(mom))
      .select(col("q"),
        e6(log(col("qc").cast("double"))).as("sample_e6"),
        e6(col("mu") + col("z") * col("sd")).as("theo_e6"),
        e6(log(col("qc").cast("double")) -
          (col("mu") + col("z") * col("sd"))).as("gap_e6"))
      .ordered(col("q"))
  }
  // q311 — Pareto frontier (skyline) of brands on (revenue max,
  // return-rate min): the non-dominated set via a bounded dominance
  // anti-join over the 25-brand stats table. The SKYLINE operator in
  // relational form.
  private val q311: Q = (s, dir) => {
    val b = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("rev"),
        count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_ret"))
      .withColumn("ret_e6", e6(col("n_ret").cast("double") /
        col("n_lines").cast("double")))
    val dominated = b.as("a").join(b.as("d"),
      (col("d.rev") >= col("a.rev")) &&
        (col("d.ret_e6") <= col("a.ret_e6")) &&
        ((col("d.rev") > col("a.rev")) ||
          (col("d.ret_e6") < col("a.ret_e6"))),
      "left_semi")
    b.join(dominated.select(col("brand")), Seq("brand"), "left_anti")
      .select(col("brand"), col("rev"), col("n_lines"), col("ret_e6"))
      .ordered(col("brand"))
  }

  // q312 — robust shape profile per event type: exact type-lower
  // quartiles from the cents histogram, Bowley (quartile) skewness,
  // and 1.5-IQR fence outlier counts — integer fence compares, no
  // float membership. The robust companion to q282's moment profile.
  private val q312: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "events")
      .select(col("event_type").as("g"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
    val h = v.groupBy(col("g"), col("c")).agg(count(lit(1)).as("n"))
    val tot = h.groupBy(col("g")).agg(sum(col("n")).as("nt"))
    val w = Window.partitionBy(col("g")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cum", sum(col("n")).over(w))
      .join(tot, Seq("g"))
    def qAt(p: Double, name: String): DataFrame = cum
      .filter(col("cum").cast("double") >=
        ceil(col("nt").cast("double") * p))
      .groupBy(col("g")).agg(min(col("c")).as(name))
    val qs = qAt(0.25, "q1").join(qAt(0.5, "q2"), Seq("g"))
      .join(qAt(0.75, "q3"), Seq("g"))
    // integer fences: c outside [4*q1 - 6*(q3-q1), 4*q3 + 6*(q3-q1)]
    // (the 1.5*IQR rule scaled by 4 to stay integral)
    v.join(broadcast(qs), Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), max(col("q1")).as("q1"),
        max(col("q2")).as("q2"), max(col("q3")).as("q3"),
        sum(when(col("c") * 4L < col("q1") * 4L -
          (col("q3") - col("q1")) * 6L, 1L).otherwise(0L))
          .as("n_low_out"),
        sum(when(col("c") * 4L > col("q3") * 4L +
          (col("q3") - col("q1")) * 6L, 1L).otherwise(0L))
          .as("n_high_out"))
      .select(col("g").as("event_type"), col("n"), col("q1"),
        col("q2"), col("q3"),
        e6((col("q3") + col("q1") - lit(2L) * col("q2")).cast("double") /
          (col("q3") - col("q1")).cast("double")).as("bowley_e6"),
        col("n_low_out"), col("n_high_out"))
      .ordered(col("event_type"))
  }

  // q313 — lead-lag cross-correlation between event types: daily
  // count series per type (bounded grid), all ordered type pairs at
  // lags 0-3 via a day-shifted equi-join inside the grid, Pearson
  // from exact integer power sums over the overlap.
  private val q313: Q = (s, dir) => {
    val g = t(s, dir, "events")
      .groupBy(col("event_type").as("ty"),
        expr(s"ts_ns div $DayNs").as("day"))
      .agg(count(lit(1)).as("n"))
    val lags = g.withColumn("lag", explode(array(
      lit(0L), lit(1L), lit(2L), lit(3L))))
      .withColumn("jday", col("day") + col("lag"))
    val joined = g.select(col("ty").as("a"), col("day"),
        col("n").as("xa"))
      .join(lags.select(col("ty").as("b"), col("jday").as("day"),
        col("lag"), col("n").as("xb")), Seq("day"))
      .filter(col("a") < col("b"))
    joined.groupBy(col("a"), col("b"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"),
        sum(col("xa") * col("xb")).as("sxy"))
      .select(col("a"), col("b"), col("lag"), col("n_days"),
        e6((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt((col("n_days") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n_days") * col("syy") - col("sy") * col("sy"))
             .cast("double")))).as("corr_e6"))
      .ordered(col("a"), col("b"), col("lag"))
  }

  // q314 — discrete-time churn hazard by tenure week: per-user first/
  // last active week, censoring at the corpus horizon (1-row
  // bracket), life-table at-risk / churned counts per tenure and the
  // cumulative survival via exp(sum(ln(1 - h))) over the bounded
  // tenure grid. The hazard companion to the q217 Kaplan-Meier.
  private val q314: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val uw = t(s, dir, "events")
      .select(col("user_id"), expr(s"(ts_ns div $DayNs) div 7").as("w"))
      .distinct()
    val per = uw.groupBy(col("user_id"))
      .agg(min(col("w")).as("w0"), max(col("w")).as("wl"))
    val horizon = uw.agg(max(col("w")).as("wmax"))
    val life = per.crossJoin(broadcast(horizon))
      .withColumn("tenure", col("wl") - col("w0") + 1L)
      .withColumn("censored", col("wl") === col("wmax"))
    val byTenure = life.groupBy(col("tenure"))
      .agg(count(lit(1)).as("n_ending"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churned"))
    val w = Window.orderBy(col("tenure").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.orderBy(col("tenure"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byTenure.withColumn("at_risk", sum(col("n_ending")).over(w))
      .withColumn("h", col("n_churned").cast("double") /
        col("at_risk").cast("double"))
      .withColumn("surv", exp(sum(log(lit(1.0) - col("h") +
        lit(1e-300))).over(w2)))
      .select(col("tenure"), col("at_risk"), col("n_churned"),
        e6(col("h")).as("hazard_e6"), e6(col("surv")).as("surv_e6"))
      .ordered(col("tenure"))
  }

  // q315 — position-based (40/20/40) attribution: purchases joined to
  // their 7-day click/view touch window (the bucketed
  // rangeJoinLookback — no per-key cartesian), per-conversion touch
  // ranks, U-shaped credit split, channel rollup. The fractional-
  // credit complement of q199/q200.
  private val q315: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").select(col("user_id"),
      col("ts_ns"), col("event_id"), col("event_type"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("cts"),
        col("event_id").as("cid"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts_ns").as("tts"),
        col("event_id").as("tid"), col("event_type").as("channel"))
    val joined = TemporalJoinOps.rangeJoinLookback(conv, touch,
        "user_id", "cts", "tts", 7L * DayNs)
      .filter(col("tts") < col("cts"))
    val wA = Window.partitionBy(col("cid"))
      .orderBy(col("tts"), col("tid"))
    val wD = Window.partitionBy(col("cid"))
      .orderBy(col("tts").desc, col("tid").desc)
    val credited = joined
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("cid"))))
      .withColumn("ra", row_number().over(wA))
      .withColumn("rd", row_number().over(wD))
      .withColumn("credit",
        when(col("m") === 1L, 1.0)
          .when(col("m") === 2L, 0.5)
          .when(col("ra") === 1 || col("rd") === 1, 0.4)
          .otherwise(lit(0.2) / (col("m") - 2L).cast("double")))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("cid")).as("n_convs_touched"),
        e6(sum(col("credit"))).as("credit_e6"))
      .ordered(col("channel"))
  }

  // q316 — basket brand diversity per market segment: per-customer
  // brand revenue shares -> Shannon entropy (exact integer share
  // ratios), single-brand share and mean entropy per segment. The
  // assortment-breadth profile.
  private val q316: Q = (s, dir) => {
    val cb = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("c"))
    val perCust = cb.groupBy(col("cust"))
      .agg(count(lit(1)).as("n_brands"), sum(col("c")).as("tc"),
        sum(col("c").cast("double") *
          log(col("c").cast("double"))).as("slc"))
      // H = ln(tc) - sum(c ln c)/tc  (shares = c/tc)
      .withColumn("h", log(col("tc").cast("double")) -
        col("slc") / col("tc").cast("double"))
    perCust.join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("cust") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_cust"),
        e6(avg(col("h"))).as("avg_entropy_e6"),
        e6(avg(when(col("n_brands") === 1L, 1.0).otherwise(0.0)))
          .as("single_brand_share_e6"),
        e6(avg(col("n_brands").cast("double"))).as("avg_brands_e6"))
      .ordered(col("segment"))
  }

  // q317 — Theil-Sen robust trend of daily revenue: 100k
  // md5-deterministic day-index pairs (no RNG, no O(n^2) pair
  // blowup), per-pair slopes resolved by two equi-joins into the
  // spine, exact type-lower median from the slope histogram, OLS
  // slope alongside for the robustness gap.
  private val q317: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
    val n = z.agg(max(col("rn")).as("n"))
    val pairs = n.select(col("n"),
        explode(sequence(lit(1L), lit(100000L))).as("k"))
      .withColumn("i", CurationOps.md5Hash32(
        concat(lit("ts:a:"), col("k").cast("string"))) % col("n") + 1L)
      .withColumn("j", CurationOps.md5Hash32(
        concat(lit("ts:b:"), col("k").cast("string"))) % col("n") + 1L)
      .filter(col("i") < col("j"))
    val slopes = pairs
      .join(z.select(col("rn").as("i"), col("rev").as("yi")), Seq("i"))
      .join(z.select(col("rn").as("j"), col("rev").as("yj")), Seq("j"))
      .select(((col("yj") - col("yi")).cast("double") /
        (col("j") - col("i")).cast("double") / 100.0).as("slope"))
    val hist = slopes.groupBy(col("slope")).agg(count(lit(1)).as("m"))
    val tot = hist.agg(sum(col("m")).as("mt"))
    val wc = Window.orderBy(col("slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("m")).over(wc))
      .crossJoin(broadcast(tot))
      .filter(col("cum").cast("double") >=
        ceil(col("mt").cast("double") * 0.5))
      .agg(max(col("mt")).as("n_pairs"), min(col("slope")).as("ts"))
    val ols = z.agg(count(lit(1)).cast("double").as("nn"),
        sum(col("rn")).cast("double").as("sx"),
        sum(col("rev").cast("double") / 100.0).as("sy"),
        sum(col("rn") * col("rn")).cast("double").as("sxx"),
        sum(col("rn").cast("double") *
          (col("rev").cast("double") / 100.0)).as("sxy"))
      .select(((col("sxy") - col("sx") * col("sy") / col("nn")) /
        (col("sxx") - col("sx") * col("sx") / col("nn"))).as("ols"))
    med.crossJoin(broadcast(ols))
      .select(col("n_pairs"), e6(col("ts")).as("theil_sen_e6"),
        e6(col("ols")).as("ols_e6"))
      .ordered(col("n_pairs"))
  }

  // q318 — ABC x XYZ inventory matrix: brands classed A/B/C by
  // cumulative revenue share (integer threshold compares on exact
  // cents) and X/Y/Z by weekly-demand coefficient of variation,
  // cross-tabulated. The planner's two-axis segmentation.
  private val q318: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("p_brand").as("brand"),
        (datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
          .cast("long") / 7L).cast("long").as("w"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("c"),
        col("l_quantity").cast("long").as("q"))
    val bw = li.groupBy(col("brand"), col("w"))
      .agg(sum(col("q")).as("qw"))
    val xyz = bw.groupBy(col("brand"))
      .agg(count(lit(1)).as("nw"), sum(col("qw")).as("sq"),
        sum(col("qw") * col("qw")).as("sq2"))
      .withColumn("cv", sqrt(
        (col("nw") * col("sq2") - col("sq") * col("sq")).cast("double") /
          (col("nw") * col("nw")).cast("double")) /
        (col("sq").cast("double") / col("nw").cast("double")))
      .withColumn("xyz", when(col("cv") < 0.5, "X")
        .when(col("cv") < 1.0, "Y").otherwise("Z"))
    val rev = li.groupBy(col("brand")).agg(sum(col("c")).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("tr"))
    val wr = Window.orderBy(col("rev").desc, col("brand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val abc = rev.withColumn("cum", sum(col("rev")).over(wr))
      .crossJoin(broadcast(tot))
      // integer thresholds: cum*100 <= tr*80 / tr*95
      .withColumn("abc",
        when(col("cum") * 100L <= col("tr") * 80L, "A")
          .when(col("cum") * 100L <= col("tr") * 95L, "B")
          .otherwise("C"))
    abc.join(xyz.select(col("brand"), col("xyz")), Seq("brand"))
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_brands"), sum(col("rev")).as("rev"))
      .ordered(col("abc"), col("xyz"))
  }

  // q319 — knee/elbow of the brand revenue concentration curve: the
  // point of maximum gap between cumulative share and the diagonal,
  // selected by EXACT integer comparison (cum*n - i*total), with the
  // full bounded curve emitted. Where "the top brands" objectively
  // ends.
  private val q319: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val rev = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("rev"))
    val w = Window.orderBy(col("rev").desc, col("brand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rev.agg(sum(col("rev")).as("tr"), count(lit(1)).as("nb"))
    val curve = rev
      .withColumn("i", row_number().over(
        Window.orderBy(col("rev").desc, col("brand"))).cast("long"))
      .withColumn("cum", sum(col("rev")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("gap_int", col("cum") * col("nb") -
        col("i") * col("tr"))
    val knee = curve.agg(max(struct(col("gap_int"),
      (col("i") * -1L).as("negi"))).as("mx"))
      .select(col("mx.gap_int").as("kg"),
        (col("mx.negi") * -1L).as("ki"))
    curve.crossJoin(broadcast(knee))
      .select(col("i"), col("brand"), col("rev"),
        e6(col("cum").cast("double") / col("tr").cast("double"))
          .as("cum_share_e6"),
        e6(col("gap_int").cast("double") /
          (col("nb") * col("tr")).cast("double")).as("gap_e6"),
        (col("i") === col("ki")).cast("long").as("is_knee"))
      .ordered(col("i"))
  }

  // q320 — audience overlap matrix: distinct user sets per event
  // type, pairwise intersection via one (user, type) self-join,
  // Jaccard and containment per ordered pair. Which behaviors share
  // an audience.
  private val q320: Q = (s, dir) => {
    val ut = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = ut.select(col("user_id"), col("event_type").as("a"))
      .join(ut.select(col("user_id"), col("event_type").as("b")),
        Seq("user_id"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("a"),
        col("n").as("na"))), Seq("a"))
      .join(broadcast(sizes.select(col("event_type").as("b"),
        col("n").as("nb"))), Seq("b"))
      .select(col("a"), col("b"), col("na"), col("nb"), col("n_both"),
        e6(col("n_both").cast("double") /
          (col("na") + col("nb") - col("n_both")).cast("double"))
          .as("jaccard_e6"),
        e6(col("n_both").cast("double") /
          least(col("na"), col("nb")).cast("double"))
          .as("containment_e6"))
      .ordered(col("a"), col("b"))
  }

  // q321 — price-stickiness audit per brand: distinct price points
  // per part, modal-price share (deterministic rank: count desc,
  // price asc), rolled up per brand. Catalog hygiene — how uniform is
  // pricing within a part.
  private val q321: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pp = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("price"))
      .agg(count(lit(1)).as("n"))
    val wm = Window.partitionBy(col("pk"))
      .orderBy(col("n").desc, col("price"))
    val per = pp.withColumn("rk", row_number().over(wm))
      .groupBy(col("pk"))
      .agg(sum(col("n")).as("n_lines"), count(lit(1)).as("n_prices"),
        max(when(col("rk") === 1, col("n"))).as("mode_n"))
    per.join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("pk") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_parts"),
        e6(avg(col("n_prices").cast("double"))).as("avg_prices_e6"),
        e6(avg(col("mode_n").cast("double") /
          col("n_lines").cast("double"))).as("avg_mode_share_e6"))
      .ordered(col("brand"))
  }

  // q322 — newsvendor stocking level per brand: the 0.8 critical
  // fractile of weekly demand as an exact type-lower quantile from
  // the demand histogram, plus expected weekly overage/underage units
  // at that stock — all integer ratios. The inventory-policy readout.
  private val q322: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bw = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("p_brand").as("brand"),
        expr("CAST(DATEDIFF(o_orderdate, DATE'1970-01-01') AS BIGINT) div 7")
          .as("w"))
      .agg(sum(col("l_quantity").cast("long")).as("d"))
    val h = bw.groupBy(col("brand"), col("d")).agg(count(lit(1)).as("n"))
    val tot = h.groupBy(col("brand")).agg(sum(col("n")).as("nt"))
    val wc = Window.partitionBy(col("brand")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cumn", sum(col("n")).over(wc))
      .join(tot, Seq("brand"))
    val stock = cum.filter(col("cumn").cast("double") >=
        ceil(col("nt").cast("double") * 0.8))
      .groupBy(col("brand")).agg(min(col("d")).as("s"))
    h.join(stock, Seq("brand")).join(tot, Seq("brand"))
      .groupBy(col("brand"))
      .agg(max(col("nt")).as("n_weeks"), max(col("s")).as("stock_q80"),
        e6(sum(when(col("d") < col("s"),
          (col("s") - col("d")) * col("n")).otherwise(0L))
          .cast("double") / max(col("nt")).cast("double"))
          .as("exp_overage_e6"),
        e6(sum(when(col("d") > col("s"),
          (col("d") - col("s")) * col("n")).otherwise(0L))
          .cast("double") / max(col("nt")).cast("double"))
          .as("exp_underage_e6"))
      .ordered(col("brand"))
  }

  // q323 — standardized effect sizes, click vs view event values:
  // Cohen's d and Hedges' g from exact cents power sums, Cliff's
  // delta from the same midrank machinery as q274 (no row sort). The
  // practical-significance companion to the q251/q215 tests.
  private val q323: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select((col("event_type") === "click").as("isA"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
    val mom = v.groupBy(col("isA"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
    val h = v.groupBy(col("c"))
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = h.withColumn("cum_nb", sum(col("nb")).over(w))
      .agg(sum(col("na").cast("double") *
        ((col("cum_nb") - col("nb")).cast("double") +
          col("nb").cast("double") / 2.0)).as("uA"))
    val flat = mom.agg(
      max(when(col("isA"), col("n"))).as("n1"),
      max(when(col("isA"), col("sc"))).as("s1"),
      max(when(col("isA"), col("sc2"))).as("ss1"),
      max(when(!col("isA"), col("n"))).as("n2"),
      max(when(!col("isA"), col("sc"))).as("s2"),
      max(when(!col("isA"), col("sc2"))).as("ss2"))
    def dn(c: Column): Column = c.cast("double")
    flat.crossJoin(broadcast(u))
      .withColumn("m1", dn(col("s1")) / dn(col("n1")) / 100.0)
      .withColumn("m2", dn(col("s2")) / dn(col("n2")) / 100.0)
      .withColumn("v1", (dn(col("n1")) * dn(col("ss1")) -
        dn(col("s1")) * dn(col("s1"))) /
        (dn(col("n1")) * (dn(col("n1")) - 1.0)) / 10000.0)
      .withColumn("v2", (dn(col("n2")) * dn(col("ss2")) -
        dn(col("s2")) * dn(col("s2"))) /
        (dn(col("n2")) * (dn(col("n2")) - 1.0)) / 10000.0)
      .withColumn("sp", sqrt(((dn(col("n1")) - 1.0) * col("v1") +
        (dn(col("n2")) - 1.0) * col("v2")) /
        (dn(col("n1")) + dn(col("n2")) - 2.0)))
      .withColumn("d", (col("m1") - col("m2")) / col("sp"))
      .select(col("n1"), col("n2"), e6(col("d")).as("cohen_d_e6"),
        e6(col("d") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (dn(col("n1")) + dn(col("n2"))) - 9.0)))
          .as("hedges_g_e6"),
        e6(lit(2.0) * col("uA") / (dn(col("n1")) * dn(col("n2")))
          - 1.0).as("cliffs_delta_e6"))
      .ordered(col("n1"))
  }

  // q324 — mutual information between quantity band and discount
  // band: the bounded q273 grid turned into MI / entropies /
  // normalized MI, every probability an exact integer ratio. The
  // feature-relevance measure a correlation can't see.
  private val q324: Q = (s, dir) => {
    val g = t(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) div 10").as("x"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT) div 2").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    val mx = g.groupBy(col("x")).agg(sum(col("n")).as("nx"))
    val my = g.groupBy(col("y")).agg(sum(col("n")).as("ny"))
    val nt = g.agg(sum(col("n")).as("nt"))
    def dn(c: Column): Column = c.cast("double")
    val parts = g.join(mx, Seq("x")).join(my, Seq("y"))
      .crossJoin(broadcast(nt))
      .agg(max(col("nt")).as("n"),
        sum(dn(col("n")) / dn(col("nt")) *
          log(dn(col("n")) * dn(col("nt")) /
            (dn(col("nx")) * dn(col("ny"))))).as("mi"))
    val hx = mx.crossJoin(broadcast(nt))
      .agg(sum(dn(col("nx")) / dn(col("nt")) * lit(-1.0) *
        log(dn(col("nx")) / dn(col("nt")))).as("hx"))
    val hy = my.crossJoin(broadcast(nt))
      .agg(sum(dn(col("ny")) / dn(col("nt")) * lit(-1.0) *
        log(dn(col("ny")) / dn(col("nt")))).as("hy"))
    parts.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), e6(col("mi")).as("mi_e6"),
        e6(col("hx")).as("hx_e6"), e6(col("hy")).as("hy_e6"),
        e6(col("mi") / sqrt(col("hx") * col("hy"))).as("nmi_e6"))
      .ordered(col("n"))
  }

  // q325 — extreme-value (Gumbel) fit of monthly-max daily revenue by
  // the method of moments (beta = sd·sqrt(6)/pi, mu = mean − gamma·
  // beta), with 12- and 120-month return levels. Capacity planning
  // for the worst day.
  private val q325: Q = (s, dir) => {
    val EulerGamma = 0.5772156649015329
    val daily = t(s, dir, "orders")
      .select(expr("CAST(DATEDIFF(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val maxima = daily.groupBy(expr("day div 30").as("m"))
      .agg(max(col("rev")).as("mx"))
    maxima.agg(count(lit(1)).as("n_months"),
        avg(col("mx").cast("double") / 100.0).as("mean"),
        stddev_samp(col("mx").cast("double") / 100.0).as("sd"))
      .withColumn("beta", col("sd") * math.sqrt(6.0) / math.Pi)
      .withColumn("mu", col("mean") - lit(EulerGamma) * col("beta"))
      .select(col("n_months"), e6(col("mu")).as("mu_e6"),
        e6(col("beta")).as("beta_e6"),
        e6(col("mu") - col("beta") *
          log(lit(-1.0) * log(lit(1.0) - 1.0 / 12.0)))
          .as("rl_12m_e6"),
        e6(col("mu") - col("beta") *
          log(lit(-1.0) * log(lit(1.0) - 1.0 / 120.0)))
          .as("rl_120m_e6"))
      .ordered(col("n_months"))
  }

  // q326 — capture-recapture population audit: two independent
  // md5-derived "samples" of active customers, Chapman estimator vs
  // the exact count. Validates the estimation machinery the warehouse
  // would use when a full scan is too expensive.
  private val q326: Q = (s, dir) => {
    val cust = t(s, dir, "orders").select(col("o_custkey")).distinct()
      .withColumn("inA", CurationOps.md5Hash32(
        concat(lit("crA:"), col("o_custkey").cast("string")))
        < 2147483648L)
      .withColumn("inB", CurationOps.md5Hash32(
        concat(lit("crB:"), col("o_custkey").cast("string")))
        < 2147483648L)
    cust.agg(count(lit(1)).as("n_true"),
        sum(when(col("inA"), 1L).otherwise(0L)).as("na"),
        sum(when(col("inB"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("inA") && col("inB"), 1L).otherwise(0L))
          .as("nab"))
      .withColumn("chapman",
        (col("na") + 1L).cast("double") *
          (col("nb") + 1L).cast("double") /
          (col("nab") + 1L).cast("double") - 1.0)
      .select(col("n_true"), col("na"), col("nb"), col("nab"),
        e6(col("chapman")).as("chapman_e6"),
        e6((col("chapman") - col("n_true").cast("double")) /
          col("n_true").cast("double")).as("rel_err_e6"))
      .ordered(col("n_true"))
  }

  // q327 — Kendall tau-b between quantity and discount: concordant/
  // discordant pair counts from the bounded (50 x 11) contingency
  // grid self-join — exact BIGINTs end to end, tie corrections from
  // the marginals, one final double sqrt. The third rank statistic
  // alongside q256/q257.
  private val q327: Q = (s, dir) => {
    val g = t(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    val pairs = g.select(col("x").as("x1"), col("y").as("y1"),
        col("n").as("n1"))
      .join(g.select(col("x").as("x2"), col("y").as("y2"),
        col("n").as("n2")),
        col("x1") < col("x2"))
    val cd = pairs.agg(
      sum(when(col("y1") < col("y2"), col("n1") * col("n2"))
        .otherwise(0L)).as("cc"),
      sum(when(col("y1") > col("y2"), col("n1") * col("n2"))
        .otherwise(0L)).as("dd"))
    val nt = g.agg(sum(col("n")).as("n"))
    val tx = g.groupBy(col("x")).agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) / 2L).as("n1"))
    val ty = g.groupBy(col("y")).agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) / 2L).as("n2"))
    cd.crossJoin(broadcast(nt)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .withColumn("n0", col("n") * (col("n") - 1L) / 2L)
      .select(col("n"), col("cc"), col("dd"),
        e6((col("cc") - col("dd")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double")))
          .as("tau_b_e6"))
      .ordered(col("n"))
  }

  // q328 — maximum drawdown of the 7-day revenue total: running peak
  // of the exact-integer S7 series, trough picked by a deterministic
  // (drawdown DESC, day) rank. The resilience metric of the q289
  // signal family.
  private val q328: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(expr("CAST(DATEDIFF(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .withColumn("s7", sum(col("rev")).over(w.rowsBetween(-6, 0)))
      .filter(col("rn") >= 7)
      .withColumn("peak", max(col("s7")).over(w.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd", (col("peak") - col("s7")).cast("double") /
        col("peak").cast("double"))
    z.withColumn("rk", row_number().over(
        Window.orderBy(col("dd").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("day").as("trough_day"), col("peak").as("peak_s7"),
        col("s7").as("trough_s7"), e6(col("dd")).as("max_dd_e6"))
      .ordered(col("trough_day"))
  }

  // q329 — cluster-sampling design effect: one-way ANOVA of order
  // value with customers as clusters, ANOVA-estimator ICC and
  // DEFF = 1 + (m0 - 1)·ICC. How much a customer-clustered sample
  // really buys you.
  private val q329: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("cl"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
    val per = o.groupBy(col("cl"))
      .agg(count(lit(1)).as("m"), sum(col("c")).as("sc"))
    def dn(c: Column): Column = c.cast("double")
    val gt = o.agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
      sum(dn(col("c")) * dn(col("c"))).as("ss"))
    val k = per.agg(count(lit(1)).as("k"),
      sum(col("m") * col("m")).as("sm2"),
      sum(dn(col("sc")) * dn(col("sc")) / dn(col("m"))).as("ssb_raw"))
    gt.crossJoin(broadcast(k))
      .withColumn("ssb", col("ssb_raw") -
        dn(col("s")) * dn(col("s")) / dn(col("n")))
      .withColumn("ssw", col("ss") - col("ssb_raw"))
      .withColumn("msb", col("ssb") / (dn(col("k")) - 1.0))
      .withColumn("msw", col("ssw") / (dn(col("n")) - dn(col("k"))))
      .withColumn("m0", (dn(col("n")) -
        dn(col("sm2")) / dn(col("n"))) / (dn(col("k")) - 1.0))
      .withColumn("icc", (col("msb") - col("msw")) /
        (col("msb") + (col("m0") - 1.0) * col("msw")))
      .select(col("n").as("n_orders"), col("k").as("n_clusters"),
        e6(col("m0")).as("m0_e6"), e6(col("icc")).as("icc_e6"),
        e6(lit(1.0) + (col("m0") - 1.0) * col("icc")).as("deff_e6"))
      .ordered(col("n_orders"))
  }

  // q330 — Laspeyres / Paasche / Fisher price indices 1996 -> 1997
  // over the brand basket: per-(brand, year) unit prices as exact
  // cents/quantity ratios, index sums over the 25-brand table. The
  // inflation decomposition of the q248 revenue bridge.
  private val q330: Q = (s, dir) => {
    val by = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("yr").isin(1996, 1997))
      .groupBy(col("p_brand").as("brand"), col("yr"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("c"), sum(col("l_quantity").cast("long")).as("q"))
    val wide = by.groupBy(col("brand"))
      .agg(max(when(col("yr") === 1996, col("c"))).as("c0"),
        max(when(col("yr") === 1996, col("q"))).as("q0"),
        max(when(col("yr") === 1997, col("c"))).as("c1"),
        max(when(col("yr") === 1997, col("q"))).as("q1"))
      .filter(col("c0").isNotNull && col("c1").isNotNull)
      .withColumn("p0", col("c0").cast("double") / col("q0").cast("double"))
      .withColumn("p1", col("c1").cast("double") / col("q1").cast("double"))
    wide.agg(count(lit(1)).as("n_brands"),
        (sum(col("p1") * col("q0").cast("double")) /
          sum(col("p0") * col("q0").cast("double"))).as("lasp"),
        (sum(col("p1") * col("q1").cast("double")) /
          sum(col("p0") * col("q1").cast("double"))).as("paas"))
      .select(col("n_brands"), e6(col("lasp")).as("laspeyres_e6"),
        e6(col("paas")).as("paasche_e6"),
        e6(sqrt(col("lasp") * col("paas"))).as("fisher_e6"))
      .ordered(col("n_brands"))
  }

  // q331 — Mann-Kendall monotone-trend test on monthly revenue: the
  // S statistic from pairwise signs over the bounded ~80-month
  // grid self-join (exact integers), tie-corrected variance, and the
  // continuity-corrected z. The nonparametric companion to q317.
  private val q331: Q = (s, dir) => {
    val m = t(s, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .as("x"))
    val sStat = m.select(col("m").as("m1"), col("x").as("x1"))
      .join(m.select(col("m").as("m2"), col("x").as("x2")),
        col("m1") < col("m2"))
      .agg(sum(when(col("x2") > col("x1"), 1L)
        .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s"))
    val ties = m.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tc"))
    val n = m.agg(count(lit(1)).as("n"))
    sStat.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("v", (col("n") * (col("n") - 1L) *
        (lit(2L) * col("n") + 5L) - col("tc")).cast("double") / 18.0)
      .select(col("n").as("n_months"), col("s"),
        e6((col("s").cast("double") - signum(col("s").cast("double")))
          / sqrt(col("v"))).as("z_e6"))
      .ordered(col("n_months"))
  }

  // q332 — Wald-Wolfowitz runs test of daily revenue vs its exact
  // median: above/below sequence over the spine, run count by
  // lag-change sum, expectation/variance from the two exact counts.
  // Is the series random around its center?
  private val q332: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .select(expr("CAST(DATEDIFF(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("rev"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val z = spine.join(daily, Seq("day"), "left")
      .withColumn("rev", coalesce(col("rev"), lit(0L)))
    val h = z.groupBy(col("rev")).agg(count(lit(1)).as("n"))
    val tot = h.agg(sum(col("n")).as("nt"))
    val wmed = Window.orderBy(col("rev"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = h.withColumn("cum", sum(col("n")).over(wmed))
      .crossJoin(broadcast(tot))
      .filter(col("cum").cast("double") >=
        ceil(col("nt").cast("double") * 0.5))
      .agg(min(col("rev")).as("med"))
    val w = Window.orderBy(col("day"))
    val runs = z.crossJoin(broadcast(med))
      .withColumn("ab", (col("rev") > col("med")).cast("long"))
      .withColumn("chg", when(lag(col("ab"), 1).over(w).isNull ||
        lag(col("ab"), 1).over(w) =!= col("ab"), 1L).otherwise(0L))
      .agg(sum(col("chg")).as("r"),
        sum(col("ab")).as("n1"),
        sum(lit(1L) - col("ab")).as("n2"))
    runs.withColumn("er", lit(2.0) * col("n1") * col("n2") /
        (col("n1") + col("n2")).cast("double") + 1.0)
      .withColumn("vr", lit(2.0) * col("n1") * col("n2") *
        (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
        ((col("n1") + col("n2")).cast("double") *
          (col("n1") + col("n2")).cast("double") *
          (col("n1") + col("n2") - 1L).cast("double")))
      .select(col("n1"), col("n2"), col("r").as("n_runs"),
        e6(col("er")).as("expected_runs_e6"),
        e6((col("r").cast("double") - col("er")) / sqrt(col("vr")))
          .as("z_e6"))
      .ordered(col("n1"))
  }

  // q333 — Jarque-Bera normality statistic of ln(order value): one
  // pass of ln power sums (identical per-row ln both engines),
  // JB = n/6 (g1^2 + g2^2/4). The formal test behind the q310 QQ
  // picture.
  private val q333: Q = (s, dir) => {
    val x = log(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
      .cast("double"))
    t(s, dir, "orders")
      .select(x.as("x"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
      .withColumn("m3", col("s3") / col("n") -
        lit(3.0) * col("mu") * col("s2") / col("n") +
        lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("s4") / col("n") -
        lit(4.0) * col("mu") * col("s3") / col("n") +
        lit(6.0) * col("mu") * col("mu") * col("s2") / col("n") -
        lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .withColumn("g1", col("m3") / pow(col("m2"), 1.5))
      .withColumn("g2", col("m4") / (col("m2") * col("m2")) - 3.0)
      .select(col("n").cast("long").as("n"),
        e6(col("g1")).as("skew_e6"), e6(col("g2")).as("kurt_e6"),
        e6(col("n") / 6.0 * (col("g1") * col("g1") +
          col("g2") * col("g2") / 4.0)).as("jb_e6"))
      .ordered(col("n"))
  }

  // q334 — concordance index of the click score predicting purchase
  // COUNT (not a binary cut): C / D / tied-score pairs from the
  // bounded (score, buys) grid self-join, c = (C + T/2) / (C+D+T).
  // The ordinal-outcome generalization of q274's AUC.
  private val q334: Q = (s, dir) => {
    val g = t(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("s"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("b"))
      .groupBy(col("s"), col("b")).agg(count(lit(1)).as("n"))
    val pairs = g.select(col("s").as("s1"), col("b").as("b1"),
        col("n").as("n1"))
      .join(g.select(col("s").as("s2"), col("b").as("b2"),
        col("n").as("n2")), col("b1") < col("b2"))
    pairs.agg(
        sum(when(col("s1") < col("s2"), col("n1") * col("n2"))
          .otherwise(0L)).as("cc"),
        sum(when(col("s1") > col("s2"), col("n1") * col("n2"))
          .otherwise(0L)).as("dd"),
        sum(when(col("s1") === col("s2"), col("n1") * col("n2"))
          .otherwise(0L)).as("tt"))
      .select(col("cc"), col("dd"), col("tt"),
        e6((col("cc").cast("double") + col("tt").cast("double") / 2.0)
          / (col("cc") + col("dd") + col("tt")).cast("double"))
          .as("c_index_e6"))
      .ordered(col("cc"))
  }

  // q335 — TOPSIS multi-criteria brand ranking on (revenue benefit,
  // return-rate cost, price-dispersion cost): vector normalization,
  // equal weights, closeness to the ideal point, deterministic rank.
  // Decision analytics over the bounded brand table.
  private val q335: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val b = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr(
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .cast("double").as("rev"),
        (sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("ret"),
        (countDistinct(expr(
          "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .cast("double") / count(lit(1)).cast("double")).as("disp"))
      // 25-row decision table with FOUR downstream consumers (norms,
      // v, ideal, scored) — materialize once so the lineitem scan +
      // join + agg doesn't re-execute per bracket (tfidfKnn precedent)
      .localCheckpoint(false)
    val norms = b.agg(sqrt(sum(col("rev") * col("rev"))).as("nr"),
      sqrt(sum(col("ret") * col("ret"))).as("nt"),
      sqrt(sum(col("disp") * col("disp"))).as("nd"))
    val v = b.crossJoin(broadcast(norms))
      .withColumn("vr", col("rev") / col("nr") / 3.0)
      .withColumn("vt", col("ret") / col("nt") / 3.0)
      .withColumn("vd", col("disp") / col("nd") / 3.0)
    val ideal = v.agg(max(col("vr")).as("ir"), min(col("vt")).as("it"),
      min(col("vd")).as("id2"), min(col("vr")).as("ar"),
      max(col("vt")).as("at"), max(col("vd")).as("ad"))
    val scored = v.crossJoin(broadcast(ideal))
      .withColumn("dp", sqrt((col("vr") - col("ir")) * (col("vr") - col("ir"))
        + (col("vt") - col("it")) * (col("vt") - col("it"))
        + (col("vd") - col("id2")) * (col("vd") - col("id2"))))
      .withColumn("dm", sqrt((col("vr") - col("ar")) * (col("vr") - col("ar"))
        + (col("vt") - col("at")) * (col("vt") - col("at"))
        + (col("vd") - col("ad")) * (col("vd") - col("ad"))))
      .withColumn("close", col("dm") / (col("dp") + col("dm")))
    // rank over the E6-PINNED closeness, not the raw double: the
    // brand tiebreak only breaks exact ties, so a last-ulp
    // cross-engine difference between near-equal raw doubles would
    // swap adjacent ranks (r6 ADVICE; the LIMIT-by-raw-double class)
    scored.withColumn("closeness_e6", e6(col("close")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("closeness_e6").desc, col("brand")))
        .cast("long"))
      .select(col("brand"), col("closeness_e6"), col("rank"))
      .ordered(col("brand"))
  }

  // q336 — Breusch-Pagan-style heteroscedasticity check of net price
  // on quantity: OLS betas from one pass of exact power sums (1-row
  // bracket), squared residuals regressed on x in a second pass,
  // LM = n * R-squared. Does error variance grow with order size?
  private val q336: Q = (s, dir) => {
    val d = t(s, dir, "lineitem")
      .select(col("l_quantity").cast("double").as("x"),
        (expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .cast("double") / 100.0).as("y"))
    val p1 = d.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
      .withColumn("beta", (col("sxy") - col("sx") * col("sy") / col("n"))
        / (col("sxx") - col("sx") * col("sx") / col("n")))
      .withColumn("alpha", col("sy") / col("n") -
        col("beta") * col("sx") / col("n"))
    val res = d.crossJoin(broadcast(p1))
      .withColumn("e2", (col("y") - col("alpha") - col("beta") * col("x"))
        * (col("y") - col("alpha") - col("beta") * col("x")))
    res.agg(max(col("n")).as("n"), max(col("beta")).as("beta"),
        sum(col("x")).as("gx"), sum(col("e2")).as("ge"),
        sum(col("x") * col("x")).as("gxx"),
        sum(col("e2") * col("e2")).as("gee"),
        sum(col("x") * col("e2")).as("gxe"))
      .withColumn("r", (col("n") * col("gxe") - col("gx") * col("ge")) /
        (sqrt(col("n") * col("gxx") - col("gx") * col("gx")) *
          sqrt(col("n") * col("gee") - col("ge") * col("ge"))))
      .select(col("n").cast("long").as("n"), e6(col("beta")).as("beta_e6"),
        e6(col("r") * col("r")).as("aux_r2_e6"),
        e6(col("n") * col("r") * col("r")).as("lm_e6"))
      .ordered(col("n"))
  }

  // q337 — shift-share decomposition of 1996 -> 1997 revenue by
  // customer nation: actual change split into the national-growth
  // component and the local competitive shift (exact cents inputs,
  // 1-row national bracket). Which geographies beat the tide.
  private val q337: Q = (s, dir) => {
    val ny = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(when(year(col("o_orderdate")) === 1996,
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        .otherwise(0L)).as("r0"),
        sum(when(year(col("o_orderdate")) === 1997,
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
          .otherwise(0L)).as("r1"))
    val natl = ny.agg(sum(col("r0")).as("t0"), sum(col("r1")).as("t1"))
    ny.crossJoin(broadcast(natl))
      .withColumn("g", col("t1").cast("double") /
        col("t0").cast("double") - 1.0)
      .select(col("n_name"), col("r0"), col("r1"),
        e6(col("g")).as("natl_growth_e6"),
        e6(col("r0").cast("double") * col("g") / 100.0)
          .as("natl_effect_e6"),
        e6(((col("r1") - col("r0")).cast("double") -
          col("r0").cast("double") * col("g")) / 100.0)
          .as("shift_e6"))
      .ordered(col("n_name"))
  }

  // q338 — first-order Markov transition matrix of the per-user
  // event-type sequence (ts + event_id tiebreak for deterministic
  // order): pair counts, row totals over the bounded |types|^2 grid,
  // row-normalized probabilities. One hash shuffle on user_id; the
  // totals window runs over the 25-cell grid, never the raw events.
  private val q338: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    SequenceOps.markovTransitions(ev, "user_id", "event_type",
        Seq(col("tus"), col("event_id")))
      .select(col("from_state"), col("to_state"), col("n"),
        col("n_from"), e6(col("prob")).as("prob_e6"))
      .ordered(col("from_state"), col("to_state"))
  }

  // q339 — Durbin-Watson first-order autocorrelation check on the
  // daily-revenue trend residuals: pass 1 exact integer sums (day /
  // cents BIGINTs) -> means, pass 2 centered power sums (no
  // catastrophic cancellation of near-equal 1e14 magnitudes), then
  // DW = sum((e_t - e_{t-1})^2) / sum(e_t^2) over the day-ordered
  // bounded residual series (lag window on the aggregated table).
  private val q339: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d0 = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("day")).agg(sum(col("c")).as("cents"))
    val m = d0.agg(count(lit(1)).cast("double").as("n"),
      sum(col("day")).as("sd"), sum(col("cents")).as("sc"))
      .select(col("n"), (col("sd").cast("double") / col("n")).as("mx"),
        (col("sc").cast("double") / 100.0 / col("n")).as("my"))
    val c = d0.crossJoin(broadcast(m))
      .select(col("day"), (col("day").cast("double") - col("mx")).as("dx"),
        (col("cents").cast("double") / 100.0 - col("my")).as("dy"))
    val b = c.agg((sum(col("dx") * col("dy")) / sum(col("dx") * col("dx")))
      .as("beta"))
    val e = c.crossJoin(broadcast(b))
      .withColumn("e", col("dy") - col("beta") * col("dx"))
      .withColumn("el", lag(col("e"), 1).over(Window.orderBy(col("day"))))
    e.agg(count(lit(1)).as("n_days"), max(col("beta")).as("beta"),
        sum(col("e") * col("e")).as("see"),
        sum(when(col("el").isNotNull,
          (col("e") - col("el")) * (col("e") - col("el")))
          .otherwise(lit(0.0))).as("sdd"))
      .select(col("n_days"), e6(col("beta")).as("beta_e6"),
        e6(col("sdd") / col("see")).as("dw_e6"),
        e6(lit(1.0) - col("sdd") / col("see") / 2.0).as("rho1_e6"))
      .ordered(col("n_days"))
  }

  // q340 — episode mining: ordered event-type trigram frequencies
  // within each user's sequence (two lag windows inside the user
  // partition), support over the bounded |types|^3 grid.
  private val q340: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    SequenceOps.episodeTrigrams(ev, "user_id", "event_type",
        Seq(col("tus"), col("event_id")))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        e6(col("support")).as("support_e6"))
      .ordered(col("t1"), col("t2"), col("t3"))
  }

  // q341 — Page-Hinkley drift score over the daily mean event value:
  // running mean (explicit cumulative sum/count so both engines fold
  // in the same order), cumulative deviation m_t, PH_t = m_t - min
  // m_i. Emits the peak-PH day (ranked over the E6-pinned score, not
  // the raw double — the LIMIT-by-raw-double convention).
  private val q341: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg((sum(col("value")) / count(lit(1)).cast("double")).as("m"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ph = daily
      .withColumn("mbar", sum(col("m")).over(w) /
        count(lit(1)).over(w).cast("double"))
      .withColumn("dev", col("m") - col("mbar"))
      .withColumn("mt", sum(col("dev")).over(w))
      .withColumn("mmin", min(col("mt")).over(w))
      .withColumn("ph_e6", e6(col("mt") - col("mmin")))
    ph.withColumn("n_days",
        count(lit(1)).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ph_e6").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("day"), col("ph_e6"), col("n_days"))
      .ordered(col("day"))
  }

  // q342 — McNemar paired test of purchase behavior, first half vs
  // second half of the corpus timeline (integer midpoint bracket):
  // per-user early/late indicators, discordant-pair counts, and the
  // continuity-corrected chi-square — exact integers until the final
  // pinned ratio.
  private val q342: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    val br = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(br))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("tus") <= col("mid"), 1L).otherwise(0L)).as("early"),
        max(when(col("event_type") === "purchase" &&
          col("tus") > col("mid"), 1L).otherwise(0L)).as("late"))
    per.agg(
        sum(when(col("early") === 0 && col("late") === 0, 1L)
          .otherwise(0L)).as("n00"),
        sum(when(col("early") === 0 && col("late") === 1, 1L)
          .otherwise(0L)).as("n01"),
        sum(when(col("early") === 1 && col("late") === 0, 1L)
          .otherwise(0L)).as("n10"),
        sum(when(col("early") === 1 && col("late") === 1, 1L)
          .otherwise(0L)).as("n11"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        // zero-discordant guard: Spark double x/0 is Infinity while
        // DuckDB errors — emit 0 identically (the LN(0) footgun class)
        e6(when(col("n01") + col("n10") > 0,
          ((abs(col("n01") - col("n10")) - 1) *
            (abs(col("n01") - col("n10")) - 1)).cast("double") /
            (col("n01") + col("n10")).cast("double"))
          .otherwise(lit(0.0))).as("chi2_e6"))
      .ordered(col("n00"))
  }

  // q343 — Benjamini-Hochberg FDR over 25 per-brand Welch z-tests
  // (returned vs kept item price): two-sided p from the Abramowitz-
  // Stegun 26.2.17 normal-tail polynomial (identical arithmetic both
  // engines), ranks over the E6-pinned p (cross-engine-stable order),
  // and the BH step-up adjustment as a reverse running min over the
  // bounded 25-row grid.
  private val q343: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_returnflag") === "R").as("ret"),
        (expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
          .cast("double") / 100.0).as("y"))
    val g = d.groupBy(col("brand"))
      .agg(sum(when(col("ret"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("ret"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("ret"), col("y")).otherwise(lit(0.0))).as("s1"),
        sum(when(!col("ret"), col("y")).otherwise(lit(0.0))).as("s2"),
        sum(when(col("ret"), col("y") * col("y")).otherwise(lit(0.0)))
          .as("q1"),
        sum(when(!col("ret"), col("y") * col("y")).otherwise(lit(0.0)))
          .as("q2"))
      .withColumn("tstat",
        (col("s1") / col("n1") - col("s2") / col("n2")) /
        sqrt(((col("q1") - col("s1") * col("s1") / col("n1")) /
          (col("n1") - 1)) / col("n1") +
          ((col("q2") - col("s2") * col("s2") / col("n2")) /
            (col("n2") - 1)) / col("n2")))
      .withColumn("k", lit(1.0) / (lit(1.0) + lit(0.2316419) *
        abs(col("tstat"))))
      .withColumn("phi", exp(-abs(col("tstat")) * abs(col("tstat")) /
        lit(2.0)) / sqrt(lit(2.0) * lit(math.Pi)))
      .withColumn("p", least(lit(1.0), lit(2.0) * col("phi") *
        (lit(0.319381530) * col("k") -
          lit(0.356563782) * col("k") * col("k") +
          lit(1.781477937) * col("k") * col("k") * col("k") -
          lit(1.821255978) * col("k") * col("k") * col("k") * col("k") +
          lit(1.330274429) * col("k") * col("k") * col("k") * col("k") *
            col("k"))))
    val r = g.select(col("brand"), col("n1"), col("n2"),
        e6(col("tstat")).as("t_e6"), e6(col("p")).as("p_e6"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_e6"), col("brand"))).cast("long"))
    r.withColumn("padj", least(lit(1.0),
        min(col("p_e6").cast("double") / lit(1e6) *
          col("m").cast("double") / col("rank").cast("double"))
          .over(Window.orderBy(col("rank").desc)
            .rowsBetween(Window.unboundedPreceding, 0))))
      .select(col("brand"), col("n1"), col("n2"), col("t_e6"),
        col("p_e6"), col("rank"), e6(col("padj")).as("padj_e6"),
        when(e6(col("padj")) <= 50000L, 1L).otherwise(0L).as("sig"))
      .ordered(col("brand"))
  }

  // q344 — dwell time from each view to the user's next click /
  // purchase (forward-frame min inside the user partition), exact
  // integer micros end to end.
  private val q344: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    SequenceOps.dwellToNext(ev, "user_id", "event_type", col("tus"),
        Seq(col("tus"), col("event_id")), "view",
        Seq("click", "purchase"))
      .withColumn("avg_us", expr("sum_us div n"))
      .select(col("target"), col("n"), col("sum_us"), col("max_us"),
        col("avg_us"))
      .ordered(col("target"))
  }

  // q345 — order-priority x return-flag contingency: chi-square from
  // window margins over the bounded 15-cell grid, Cramer's V, and
  // the Bergsma bias-corrected V.
  private val q345: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val g = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("pr"),
        col("l_returnflag").as("rf"))
      .agg(count(lit(1)).as("n"))
    val m = g
      .withColumn("rp", sum(col("n")).over(Window.partitionBy(col("pr"))))
      .withColumn("cf", sum(col("n")).over(Window.partitionBy(col("rf"))))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
      .withColumn("ex", col("rp").cast("double") * col("cf").cast("double")
        / col("tot").cast("double"))
    val x = m.agg(max(col("tot")).as("nn"),
        countDistinct(col("pr")).as("r"),
        countDistinct(col("rf")).as("c"),
        sum((col("n").cast("double") - col("ex")) *
          (col("n").cast("double") - col("ex")) / col("ex")).as("chi2"))
      .withColumn("phi2c", greatest(lit(0.0),
        col("chi2") / col("nn").cast("double") -
          (col("r") - 1).cast("double") * (col("c") - 1).cast("double") /
          (col("nn") - 1).cast("double")))
      .withColumn("rc", col("r").cast("double") -
        (col("r") - 1).cast("double") * (col("r") - 1).cast("double") /
        (col("nn") - 1).cast("double"))
      .withColumn("cc2", col("c").cast("double") -
        (col("c") - 1).cast("double") * (col("c") - 1).cast("double") /
        (col("nn") - 1).cast("double"))
    x.select(col("nn").as("n"), col("r"), col("c"),
        e6(col("chi2")).as("chi2_e6"),
        e6(sqrt(col("chi2") / (col("nn").cast("double") *
          least(col("r") - 1, col("c") - 1).cast("double")))).as("v_e6"),
        e6(sqrt(col("phi2c") / least(col("rc") - lit(1.0),
          col("cc2") - lit(1.0)))).as("vc_e6"))
      .ordered(col("n"))
  }

  // q346 — second-order Markov log-likelihood grid: add-one-smoothed
  // P(t3 | t1, t2) over each user's event-type sequence with the
  // per-cell corpus log-likelihood contribution n * ln(p). The model
  // and the scored grid are the same bounded |types|^3 relation; the
  // vocab size arrives as a 1-row broadcast bracket. Smoothing keeps
  // every ln argument strictly positive (the LN(0) footgun class).
  private val q346: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    SequenceOps.markovLogLik(ev, "user_id", "event_type",
        Seq(col("tus"), col("event_id")), alpha = 1.0)
      .select(col("t1"), col("t2"), col("t3"), col("n"), col("n12"),
        col("v"), e6(col("p")).as("p_e6"), e6(col("ll")).as("ll_e6"))
      .ordered(col("t1"), col("t2"), col("t3"))
  }

  // q347 — gap-constrained episode support: of each observed type
  // trigram, how many instances had BOTH consecutive gaps <= 30 min
  // (the "one session" reading) — real sequences vs coincidental
  // order. One window sort, bounded output grid.
  private val q347: Q = (s, dir) => {
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    SequenceOps.gapConstrainedTrigrams(ev, "user_id", "event_type",
        col("tus"), Seq(col("tus"), col("event_id")),
        maxGapUs = 1800000000L)
      .select(col("t1"), col("t2"), col("t3"), col("n"), col("n_fast"),
        e6(col("fast_share")).as("fast_e6"))
      .ordered(col("t1"), col("t2"), col("t3"))
  }

  // q348 — Chapman-Kolmogorov consistency check: the empirical 2-step
  // transition matrix (lag-2 pairs) vs the chained 1-step matrix
  // (P^2 via a bounded grid self-join on the mid state). FULL OUTER
  // over the two bounded grids so a cell observed only one way still
  // reports (the mixtureReweight discipline).
  private val q348: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val base = t(s, dir, "events")
      .withColumn("tus", expr("ts_ns div 1000"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
    val t1 = base.filter(col("p1").isNotNull)
      .groupBy(col("p1").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("n1"))
      .withColumn("p", col("n1").cast("double") /
        sum(col("n1")).over(Window.partitionBy(col("a"))).cast("double"))
    val emp = base.filter(col("p2").isNotNull)
      .groupBy(col("p2").as("a"), col("event_type").as("c"))
      .agg(count(lit(1)).as("n2"))
      .withColumn("pemp", col("n2").cast("double") /
        sum(col("n2")).over(Window.partitionBy(col("a"))).cast("double"))
    val chain = t1.select(col("a"), col("b"), col("p"))
      .join(t1.select(col("a").as("b2"), col("b").as("c"),
        col("p").as("q")), col("b") === col("b2"))
      .groupBy(col("a"), col("c")).agg(sum(col("p") * col("q")).as("pch"))
    emp.select(col("a"), col("c"), col("n2"), col("pemp"))
      .join(chain, Seq("a", "c"), "full_outer")
      .select(col("a"), col("c"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        e6(coalesce(col("pemp"), lit(0.0))).as("p2emp_e6"),
        e6(coalesce(col("pch"), lit(0.0))).as("p2chain_e6"),
        e6(abs(coalesce(col("pemp"), lit(0.0)) -
          coalesce(col("pch"), lit(0.0)))).as("diff_e6"))
      .ordered(col("a"), col("c"))
  }

  // q349 — Markov time-homogeneity: per from-state chi-square of the
  // to-state distribution, first half vs second half of the corpus
  // timeline (a transition belongs to the half its TARGET event lands
  // in; integer midpoint bracket as q342). Expected counts from the
  // within-from-state margins over the bounded grid; cells guard
  // e > 0 identically on both engines.
  private val q349: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val ev = t(s, dir, "events").withColumn("tus", expr("ts_ns div 1000"))
    val br = ev.agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val pairs = ev
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .filter(col("p1").isNotNull)
      .crossJoin(broadcast(br))
      .groupBy(col("p1").as("a"), col("event_type").as("b"))
      .agg(sum(when(col("tus") <= col("mid"), 1L).otherwise(0L)).as("oe"),
        sum(when(col("tus") > col("mid"), 1L).otherwise(0L)).as("ol"))
    val m = pairs
      .withColumn("ce", sum(col("oe")).over(Window.partitionBy(col("a"))))
      .withColumn("cl", sum(col("ol")).over(Window.partitionBy(col("a"))))
      .withColumn("rb", col("oe") + col("ol"))
      .withColumn("tot", col("ce") + col("cl"))
      .withColumn("ee", col("rb").cast("double") * col("ce").cast("double")
        / col("tot").cast("double"))
      .withColumn("el", col("rb").cast("double") * col("cl").cast("double")
        / col("tot").cast("double"))
      .withColumn("term",
        when(col("ee") > 0.0, (col("oe").cast("double") - col("ee")) *
          (col("oe").cast("double") - col("ee")) / col("ee"))
          .otherwise(lit(0.0)) +
        when(col("el") > 0.0, (col("ol").cast("double") - col("el")) *
          (col("ol").cast("double") - col("el")) / col("el"))
          .otherwise(lit(0.0)))
    m.groupBy(col("a"))
      .agg(max(col("ce")).as("n_early"), max(col("cl")).as("n_late"),
        (count(lit(1)) - 1).as("df"), sum(col("term")).as("chi2"))
      .select(col("a"), col("n_early"), col("n_late"), col("df"),
        e6(col("chi2")).as("chi2_e6"))
      .ordered(col("a"))
  }

  // q350 — Cronbach's alpha treating the event types as scale items
  // and per-user type counts as item scores: population variances
  // from exact BIGINT power sums over the per-(user, type) counts
  // (zeros enter via the global user count, never a user x type
  // grid), item variances summed over the bounded item set.
  private val q350: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val nu = ev.agg(countDistinct(col("user_id")).as("nu"))
    val item = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      .crossJoin(broadcast(nu))
      .withColumn("vi", col("s2").cast("double") / col("nu") -
        (col("s1").cast("double") / col("nu")) *
        (col("s1").cast("double") / col("nu")))
    val iv = item.agg(count(lit(1)).as("k"), sum(col("vi")).as("siv"))
    val tot = ev.groupBy(col("user_id")).agg(count(lit(1)).as("tc"))
      .agg(count(lit(1)).as("n"), sum(col("tc")).as("t1"),
        sum(col("tc") * col("tc")).as("t2"))
      .withColumn("vt", col("t2").cast("double") / col("n") -
        (col("t1").cast("double") / col("n")) *
        (col("t1").cast("double") / col("n")))
    iv.crossJoin(broadcast(tot.select(col("n"), col("vt"))))
      .select(col("k"), col("n").as("n_users"),
        e6(col("siv")).as("sum_item_var_e6"),
        e6(col("vt")).as("total_var_e6"),
        e6(when(col("vt") > 0.0,
          col("k").cast("double") / (col("k") - 1).cast("double") *
            (lit(1.0) - col("siv") / col("vt"))).otherwise(0.0))
          .as("alpha_e6"))
      .ordered(col("k"))
  }

  // q351 — Atkinson inequality index (epsilon = 1) of order totals:
  // 1 - geometric mean / arithmetic mean over exact positive cents
  // (the > 0 guard is the LN-domain discipline; arithmetic mean from
  // the exact BIGINT cents sum).
  private val q351: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0L)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        sum(log(col("cents").cast("double") / lit(100.0))).as("sl"))
      .select(col("n"),
        e6(col("sc").cast("double") / 100.0 / col("n").cast("double"))
          .as("mean_e6"),
        e6(exp(col("sl") / col("n").cast("double"))).as("geomean_e6"),
        e6(lit(1.0) - exp(col("sl") / col("n").cast("double")) /
          (col("sc").cast("double") / 100.0 / col("n").cast("double")))
          .as("atkinson_e6"))
      .ordered(col("n"))
  }

  // q352 — Chow structural-break F-test on the daily-revenue trend at
  // the integer midpoint day: per-segment OLS SSR from closed-form
  // centered power sums (per-day sums stay exact BIGINT dollars; the
  // squared sums go double BEFORE squaring so a 10x corpus cannot
  // silently wrap a BIGINT), F = ((SSR_f - SSR_p)/k) / (SSR_p/(n-2k)).
  private val q352: Q = (s, dir) => {
    val d0 = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice) AS BIGINT)").as("usd"))
      .groupBy(col("day")).agg(sum(col("usd")).as("y"))
    val br = d0.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val seg = d0.crossJoin(broadcast(br))
      .withColumn("h", when(col("day") <= col("mid"), 0).otherwise(1))
      .groupBy(col("h"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("day")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("day") * col("day")).cast("double").as("sxx"),
        sum(col("day") * col("y")).cast("double").as("sxy"),
        sum(col("y").cast("double") * col("y").cast("double")).as("syy"))
      .withColumn("ssr", (col("syy") - col("sy") * col("sy") / col("n")) -
        (col("sxy") - col("sx") * col("sy") / col("n")) *
        (col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n")))
    val both = seg.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
        sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"),
        sum(col("ssr")).as("ssr_p"),
        sum(when(col("h") === 0, col("n")).otherwise(lit(0.0))).as("n1"))
      .withColumn("ssr_f", (col("syy") - col("sy") * col("sy") / col("n")) -
        (col("sxy") - col("sx") * col("sy") / col("n")) *
        (col("sxy") - col("sx") * col("sy") / col("n")) /
        (col("sxx") - col("sx") * col("sx") / col("n")))
    both.select(col("n").cast("long").as("n_days"),
        col("n1").cast("long").as("n_first"),
        e6((col("ssr_f") - col("ssr_p")) / lit(2.0) /
          (col("ssr_p") / (col("n") - lit(4.0)))).as("f_e6"),
        e6(col("ssr_p") / col("ssr_f")).as("ssr_ratio_e6"))
      .ordered(col("n_days"))
  }

  // q353 — negative-binomial method-of-moments fit of per-user event
  // counts: mean/variance from exact BIGINT power sums, r = m^2/(v-m)
  // and p = m/v under an explicit overdispersion guard mirrored on
  // both engines.
  private val q353: Q = (s, dir) => {
    t(s, dir, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .withColumn("m", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("v", col("s2").cast("double") / col("n").cast("double") -
        col("m") * col("m"))
      .select(col("n").as("n_users"), e6(col("m")).as("mean_e6"),
        e6(col("v")).as("var_e6"),
        e6(when(col("v") > col("m"),
          col("m") * col("m") / (col("v") - col("m")))
          .otherwise(lit(0.0))).as("r_e6"),
        e6(when(col("v") > col("m"), col("m") / col("v"))
          .otherwise(lit(0.0))).as("p_e6"))
      .ordered(col("n_users"))
  }

  // q354 — Grubbs outlier test on daily revenue: G = max |x - mean| /
  // sd over the day spine (sample sd from closed-form power sums; the
  // squared sum goes double before squaring — q352 discipline), the
  // arg-max day selected by E6-pinned rank (the LIMIT-by-raw-double
  // convention).
  private val q354: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d0 = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice) AS BIGINT)").as("usd"))
      .groupBy(col("day")).agg(sum(col("usd")).as("y"))
    val st = d0.agg(count(lit(1)).cast("double").as("n"),
        sum(col("y")).cast("double").as("s1"),
        sum(col("y").cast("double") * col("y").cast("double")).as("s2"))
      .select(col("n"), (col("s1") / col("n")).as("mean"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
          (col("n") - 1.0)).as("sd"))
    d0.crossJoin(broadcast(st))
      .withColumn("dev_e6", e6(abs(col("y").cast("double") - col("mean"))
        / col("sd")))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("dev_e6").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("day"), col("n").cast("long").as("n_days"),
        col("dev_e6").as("g_e6"))
      .ordered(col("day"))
  }

  // q355 — Yuen's trimmed-mean t-test (20% trim) of returned vs kept
  // line prices. Rank-based trims of SUMS are tiebreak-independent
  // (reordering equal values among themselves cannot change which
  // values occupy the kept ranks), so the trimmed and winsorized
  // sums come EXACTLY from the (group, cents) value histogram: the
  // window sort runs over distinct prices, not rows — the 100 TB
  // shape (a row-level 2-partition rank window was the one scale
  // cliff in this batch's 10x stress). g = n div 5 each side,
  // winsorized variance from boundary-clamped cents, Welch-style df.
  private val q355: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val h0 = t(s, dir, "lineitem")
      .select((col("l_returnflag") === "R").as("ret"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("ret"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val wp = Window.partitionBy(col("ret"))
    val wo = Window.partitionBy(col("ret")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val r = h0
      .withColumn("n", sum(col("c")).over(wp))
      .withColumn("g", expr("n div 5"))
      .withColumn("cum", sum(col("c")).over(wo))
      .withColumn("prev", col("cum") - col("c"))
      // kept ranks are (g, n-g]; this value covers ranks (prev, cum]
      .withColumn("kept",
        greatest(lit(0L), least(col("cum"), col("n") - col("g")) -
          greatest(col("prev"), col("g"))))
    val stats = r
      .groupBy(col("ret"))
      .agg(max(col("n")).as("n"), max(col("g")).as("g"),
        // the values holding rank g+1 / rank n-g — the winsorize
        // boundaries (prev < r <= cum membership tests)
        min(when(col("prev") <= col("g") && col("cum") >= col("g") + 1,
          col("cents"))).as("lo"),
        min(when(col("prev") <= col("n") - col("g") - 1 &&
          col("cum") >= col("n") - col("g"), col("cents"))).as("hi"),
        sum(col("kept") * col("cents")).as("tsum"),
        sum(col("kept") * (col("cents").cast("double") / 100.0) *
          (col("cents").cast("double") / 100.0)).as("ksq"))
      .withColumn("wsum", col("tsum") + col("g") * col("lo") +
        col("g") * col("hi"))
      .withColumn("wsq", col("ksq") +
        col("g").cast("double") * (col("lo").cast("double") / 100.0) *
          (col("lo").cast("double") / 100.0) +
        col("g").cast("double") * (col("hi").cast("double") / 100.0) *
          (col("hi").cast("double") / 100.0))
      .withColumn("h", col("n") - lit(2L) * col("g"))
      .withColumn("mt", col("tsum").cast("double") / 100.0 /
        col("h").cast("double"))
      .withColumn("sw2", (col("wsq") -
        (col("wsum").cast("double") / 100.0) *
        (col("wsum").cast("double") / 100.0) / col("n").cast("double")) /
        (col("n").cast("double") - 1.0))
      .withColumn("dj", (col("n").cast("double") - 1.0) * col("sw2") /
        (col("h").cast("double") * (col("h").cast("double") - 1.0)))
    stats.agg(
        max(when(col("ret"), col("h"))).as("h1"),
        max(when(!col("ret"), col("h"))).as("h2"),
        max(when(col("ret"), col("mt"))).as("m1"),
        max(when(!col("ret"), col("mt"))).as("m2"),
        max(when(col("ret"), col("dj"))).as("d1"),
        max(when(!col("ret"), col("dj"))).as("d2"))
      .select(col("h1"), col("h2"), e6(col("m1")).as("m1_e6"),
        e6(col("m2")).as("m2_e6"),
        e6((col("m1") - col("m2")) / sqrt(col("d1") + col("d2")))
          .as("t_e6"),
        e6((col("d1") + col("d2")) * (col("d1") + col("d2")) /
          (col("d1") * col("d1") / (col("h1").cast("double") - 1.0) +
           col("d2") * col("d2") / (col("h2").cast("double") - 1.0)))
          .as("df_e6"))
      .ordered(col("h1"))
  }

  // q356 — empirical-Bayes beta-binomial shrinkage of per-brand
  // return rates: method-of-moments alpha/beta from the bounded
  // 25-rate grid (1-row broadcast bracket), posterior-mean shrunken
  // rates per brand.
  private val q356: Q = (s, dir) => {
    val g = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("k"), count(lit(1)).as("n"))
      .withColumn("r", col("k").cast("double") / col("n").cast("double"))
    val mom = g.agg(count(lit(1)).cast("double").as("nb"),
        sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .select((col("sr") / col("nb")).as("m"),
        (col("sr2") / col("nb") - (col("sr") / col("nb")) *
          (col("sr") / col("nb"))).as("s2"))
      .withColumn("common", when(col("s2") > 0.0,
        col("m") * (lit(1.0) - col("m")) / col("s2") - lit(1.0))
        .otherwise(lit(0.0)))
      .select((col("m") * col("common")).as("alpha"),
        ((lit(1.0) - col("m")) * col("common")).as("beta"))
    g.crossJoin(broadcast(mom))
      .select(col("brand"), col("n"), col("k"), e6(col("r")).as("raw_e6"),
        e6((col("k").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta")))
          .as("shrunk_e6"),
        e6(col("alpha")).as("alpha_e6"), e6(col("beta")).as("beta_e6"))
      .ordered(col("brand"))
  }

  // q357 — pair-level ROUGE-1 (modified unigram precision AND recall
  // + F1) over the q186 candidate pairs: the recall-oriented
  // counterpart of the BLEU core, id1 as reference.
  private val q357: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
    val pairs = DedupOps.ngramJaccardPairs(d, "doc_id", "text",
        n = 2, threshold = 0.1)
      .select(col("id1"), col("id2"))
    TextOps.pairNgramRouge(d, "doc_id", "text", pairs, n = 1)
      .select(col("id1"), col("id2"), col("total1"), col("total2"),
        col("clipped"), e6(col("precision")).as("prec_e6"),
        e6(col("recall")).as("rec_e6"), e6(col("f1")).as("f1_e6"))
      .ordered(col("id1"), col("id2"))
  }

  // q358 — cross-source near-dup contamination matrix: the lossless
  // prefix-filtered exact-Jaccard pairs (q189 machinery, t = 0.4)
  // aggregated by unordered source pair — which corpora bleed into
  // each other, and how hard. Oracle is the plain exact derivation.
  private val q358: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = DedupOps.prefixFilteredJaccardPairs(docs, "doc_id",
        "text", n = 3, threshold = 0.4)
    pairs
      .join(src.select(col("doc_id").as("id1"), col("source").as("sa")),
        "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("sb")),
        "id2")
      .select(least(col("sa"), col("sb")).as("s_lo"),
        greatest(col("sa"), col("sb")).as("s_hi"), col("jaccard"))
      .groupBy(col("s_lo"), col("s_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        e6(sum(col("jaccard")) / count(lit(1)).cast("double"))
          .as("avg_jacc_e6"))
      .ordered(col("s_lo"), col("s_hi"))
  }

  // q359 — MASE backtest of an SMA-7 forecast on daily revenue: the
  // model's MAE scaled by the seasonal-naive (lag-7) MAE over the
  // observed day-ordered spine. Exact integer dollars per day; lag /
  // moving-average frames over the bounded spine.
  private val q359: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d0 = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice) AS BIGINT)").as("usd"))
      .groupBy(col("day")).agg(sum(col("usd")).as("y"))
    val wl = Window.orderBy(col("day"))
    val f = d0
      .withColumn("yhat", avg(col("y")).over(
        wl.rowsBetween(-7, -1)))
      .withColumn("ynaive", lag(col("y"), 7).over(wl))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") > 7)
    f.agg(count(lit(1)).as("n_eval"),
        (sum(abs(col("y").cast("double") - col("yhat"))) /
          count(lit(1)).cast("double")).as("mae_model"),
        (sum(abs(col("y") - col("ynaive")).cast("double")) /
          count(lit(1)).cast("double")).as("mae_naive"))
      .select(col("n_eval"), e6(col("mae_model") / 1000.0)
          .as("mae_model_k_e6"),
        e6(col("mae_naive") / 1000.0).as("mae_naive_k_e6"),
        e6(col("mae_model") / col("mae_naive")).as("mase_e6"))
      .ordered(col("n_eval"))
  }

  // q360 — Cox-Stuart trend sign test on daily revenue: pair day
  // rank i with rank i + n div 2 (middle dropped when odd), count
  // strict rises/falls (exact integers), normal-approximation z.
  private val q360: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d0 = t(s, dir, "orders")
      .select(datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long").as("day"),
        expr("CAST(ROUND(o_totalprice) AS BIGINT)").as("usd"))
      .groupBy(col("day")).agg(sum(col("usd")).as("y"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("day"))).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      .withColumn("m", expr("nn div 2"))
    val a = d0.filter(col("rn") <= col("m"))
      .select(col("rn").as("i"), col("y").as("y1"), col("m"))
    val b = d0.filter(col("rn") > col("nn") - col("m"))
      .select((col("rn") - (col("nn") - col("m"))).as("i"),
        col("y").as("y2"))
    a.join(b, "i")
      .agg(sum(when(col("y2") > col("y1"), 1L).otherwise(0L))
          .as("n_plus"),
        sum(when(col("y2") < col("y1"), 1L).otherwise(0L)).as("n_minus"))
      .withColumn("np", col("n_plus") + col("n_minus"))
      .select(col("np").as("n_pairs"), col("n_plus"), col("n_minus"),
        e6((col("n_plus").cast("double") -
          col("np").cast("double") / 2.0) /
          sqrt(col("np").cast("double") / 4.0)).as("z_e6"))
      .ordered(col("n_pairs"))
  }

  // q361 — Brier score decomposition (reliability / resolution /
  // uncertainty) of a per-brand base-rate forecaster: first-half
  // return rates (integer midpoint of l_shipdate) predict second-half
  // returns; the 25 brands are the forecast bins, so every component
  // is a closed form over exact integer counts.
  private val q361: Q = (s, dir) => {
    val d = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_returnflag") === "R").as("ret"),
        datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
          .cast("long").as("sd"))
    val br = d.agg(expr("(min(sd) + max(sd)) div 2").as("mid"))
    val g = d.crossJoin(broadcast(br))
      .groupBy(col("brand"))
      .agg(sum(when(col("sd") <= col("mid") && col("ret"), 1L)
          .otherwise(0L)).as("k1"),
        sum(when(col("sd") <= col("mid"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("sd") > col("mid") && col("ret"), 1L)
          .otherwise(0L)).as("k2"),
        sum(when(col("sd") > col("mid"), 1L).otherwise(0L)).as("n2"))
      // a brand absent from either half would put 0/0 in the grid —
      // engines disagree on NaN; require both halves populated
      .filter(col("n1") > 0L && col("n2") > 0L)
      .withColumn("p", col("k1").cast("double") / col("n1").cast("double"))
      .withColumn("ob", col("k2").cast("double") / col("n2").cast("double"))
    val tot = g.agg(sum(col("n2")).as("nn"), sum(col("k2")).as("kk"))
      .select(col("nn"), (col("kk").cast("double") /
        col("nn").cast("double")).as("obar"))
    g.crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("n_eval"), max(col("obar")).as("obar"),
        (sum(col("n2").cast("double") * (col("p") - col("ob")) *
          (col("p") - col("ob"))) / max(col("nn")).cast("double"))
          .as("rel"),
        (sum(col("n2").cast("double") * (col("ob") - col("obar")) *
          (col("ob") - col("obar"))) / max(col("nn")).cast("double"))
          .as("res"))
      .select(col("n_eval"), e6(col("obar")).as("obar_e6"),
        e6(col("rel")).as("reliability_e6"),
        e6(col("res")).as("resolution_e6"),
        e6(col("obar") * (lit(1.0) - col("obar"))).as("uncertainty_e6"),
        e6(col("rel") - col("res") +
          col("obar") * (lit(1.0) - col("obar"))).as("brier_e6"))
      .ordered(col("n_eval"))
  }

  // q362 — Cochran-Armitage trend test: does the return rate trend
  // with line quantity? Scores are the integer quantities; T and its
  // variance are closed forms over the bounded 50-cell dose grid's
  // exact integer sums.
  private val q362: Q = (s, dir) => {
    val g = t(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        (col("l_returnflag") === "R").as("ret"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("ni"),
        sum(when(col("ret"), 1L).otherwise(0L)).as("ki"))
    g.agg(sum(col("ni")).as("nn"), sum(col("ki")).as("kk"),
        sum(col("x") * col("ki")).as("sxk"),
        sum(col("x") * col("ni")).as("sxn"),
        sum(col("x") * col("x") * col("ni")).as("sxxn"))
      .withColumn("p", col("kk").cast("double") / col("nn").cast("double"))
      .withColumn("tstat", col("sxk").cast("double") -
        col("p") * col("sxn").cast("double"))
      .withColumn("vart", col("p") * (lit(1.0) - col("p")) *
        (col("sxxn").cast("double") -
          col("sxn").cast("double") * col("sxn").cast("double") /
          col("nn").cast("double")))
      .select(col("nn").as("n"), col("kk").as("k"),
        e6(col("tstat") / 1000.0).as("t_k_e6"),
        e6(col("tstat") / sqrt(col("vart"))).as("z_e6"))
      .ordered(col("n"))
  }

  // q363 — partial autocorrelation at lag 2 (Durbin-Levinson) of the
  // daily mean event value: r1, r2 from the centered day spine, then
  // pacf2 = (r2 - r1^2) / (1 - r1^2).
  private val q363: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(expr(s"ts_ns div $DayNs").as("day"))
      .agg((sum(col("value")) / count(lit(1)).cast("double")).as("m"))
    val mm = daily.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("m")) / count(lit(1)).cast("double")).as("mu"))
    val c = daily.crossJoin(broadcast(mm))
      .withColumn("d", col("m") - col("mu"))
      .withColumn("d1", lag(col("d"), 1).over(Window.orderBy(col("day"))))
      .withColumn("d2", lag(col("d"), 2).over(Window.orderBy(col("day"))))
    c.agg(max(col("n")).as("nd"), sum(col("d") * col("d")).as("c0"),
        sum(when(col("d1").isNotNull, col("d") * col("d1"))
          .otherwise(lit(0.0))).as("c1"),
        sum(when(col("d2").isNotNull, col("d") * col("d2"))
          .otherwise(lit(0.0))).as("c2"))
      .withColumn("r1", col("c1") / col("c0"))
      .withColumn("r2", col("c2") / col("c0"))
      .select(col("nd").cast("long").as("n_days"),
        e6(col("r1")).as("r1_e6"), e6(col("r2")).as("r2_e6"),
        e6((col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1"))).as("pacf2_e6"))
      .ordered(col("n_days"))
  }

  // q364 — probability of reaching 'purchase' within k steps (k = 1,
  // 2, 3) from each event-type state, purchase absorbing: backward
  // induction on the bounded 1-step transition grid — two grid
  // self-joins, never the raw events.
  private val q364: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val p = t(s, dir, "events")
      .withColumn("tus", expr("ts_ns div 1000"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .filter(col("p1").isNotNull)
      .groupBy(col("p1").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("n1"))
      .withColumn("p", col("n1").cast("double") /
        sum(col("n1")).over(Window.partitionBy(col("a"))).cast("double"))
      .select(col("a"), col("b"), col("p"))
      .localCheckpoint(false)
    val states = p.select(col("a")).distinct()
    def step(prev: DataFrame): DataFrame = {
      // R_{k+1}(a) = P(a->purchase) + sum_{b != purchase} P(a->b) R_k(b)
      val contrib = p.filter(col("b") =!= "purchase")
        .join(prev.select(col("a").as("b"), col("r").as("rb")), "b")
        .groupBy(col("a")).agg(sum(col("p") * col("rb")).as("s"))
      states
        .join(p.filter(col("b") === "purchase")
          .select(col("a"), col("p").as("r1")), Seq("a"), "left")
        .join(contrib, Seq("a"), "left")
        .select(col("a"), (coalesce(col("r1"), lit(0.0)) +
          coalesce(col("s"), lit(0.0))).as("r"))
    }
    val k1 = states.join(p.filter(col("b") === "purchase")
        .select(col("a"), col("p").as("r")), Seq("a"), "left")
      .select(col("a"), coalesce(col("r"), lit(0.0)).as("r"))
    val k2 = step(k1)
    val k3 = step(k2)
    k1.select(col("a"), col("r").as("x1"))
      .join(k2.select(col("a"), col("r").as("x2")), "a")
      .join(k3.select(col("a"), col("r").as("x3")), "a")
      .select(col("a"), e6(col("x1")).as("reach1_e6"),
        e6(col("x2")).as("reach2_e6"), e6(col("x3")).as("reach3_e6"))
      .ordered(col("a"))
  }

  // q365 — winsorization sweep: the q355 value-histogram discipline
  // over order totals at trim levels 1% / 5% / 10% — the outlier-
  // clipping decision table. One histogram + one cumulative window,
  // levels exploded per histogram row (no per-level re-scan).
  private val q365: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val h0 = t(s, dir, "orders")
      .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        .as("cents"))
      .groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val r = h0
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev", col("cum") - col("c"))
    val lv = r.select(col("cents"), col("c"), col("n"), col("cum"),
        col("prev"),
        explode(array(lit(1L), lit(5L), lit(10L))).as("pct"))
      .withColumn("g", expr("(n * pct) div 100"))
      .withColumn("kept",
        greatest(lit(0L), least(col("cum"), col("n") - col("g")) -
          greatest(col("prev"), col("g"))))
    lv.groupBy(col("pct"))
      .agg(max(col("n")).as("n"), max(col("g")).as("g"),
        min(when(col("prev") <= col("g") && col("cum") >= col("g") + 1,
          col("cents"))).as("lo"),
        min(when(col("prev") <= col("n") - col("g") - 1 &&
          col("cum") >= col("n") - col("g"), col("cents"))).as("hi"),
        sum(col("kept") * col("cents")).as("ksum"),
        sum(col("kept") * (col("cents").cast("double") / 100.0) *
          (col("cents").cast("double") / 100.0)).as("ksq"))
      .withColumn("wsum", col("ksum") + col("g") * col("lo") +
        col("g") * col("hi"))
      .withColumn("wsq", col("ksq") +
        col("g").cast("double") * (col("lo").cast("double") / 100.0) *
          (col("lo").cast("double") / 100.0) +
        col("g").cast("double") * (col("hi").cast("double") / 100.0) *
          (col("hi").cast("double") / 100.0))
      .select(col("pct"), col("n"), col("g"),
        e6(col("wsum").cast("double") / 100.0 / col("n").cast("double"))
          .as("wmean_e6"),
        e6(sqrt((col("wsq") -
          (col("wsum").cast("double") / 100.0) *
          (col("wsum").cast("double") / 100.0) / col("n").cast("double")) /
          (col("n").cast("double") - 1.0))).as("wsd_e6"))
      .ordered(col("pct"))
  }

  // q366 — dedup-threshold decision table: from ONE lossless exact-
  // Jaccard pair computation (t = 0.3 floor), the candidate-pair
  // count and the count of docs with a smaller-id similar neighbor
  // (an UPPER BOUND on greedy keep-first removals — on a chain
  // 1-2, 2-3 similar but 1-3 not, greedy removes only doc 2 while
  // this counts docs 2 and 3) at thresholds 30/50/70/90% — the
  // "pick the dedup threshold" sweep. A literal threshold spine
  // keeps empty bands present.
  private val q366: Q = (s, dir) => {
    import org.apache.spark.sql.Encoders
    // group-level formulation: pair counts expand combinatorially
    // (self rows C(g,2), cross rows g1*g2) and the removable-doc
    // count uses the PER-GROUP LOWER BOUND trick — a doc is the
    // larger side of some surviving pair iff it exceeds the smallest
    // id reachable through its group's incident rows (its own rep for
    // a self row — every non-rep member pairs below itself — or the
    // OTHER group's rep for a cross row, the smallest doc it expands
    // against). Groups partition docs, so per-group member counts
    // need no distinct. The doc-level pair table never materializes.
    val (reps, members) = DedupOps.collapseVerbatimTexts(
      t(s, dir, "documents"), "doc_id", "text")
    dedupSweepFromGroupGraph(s,
      DedupOps.prefixFilteredJaccardGroupPairsFromReps(
        reps, n = 3, threshold = 0.3), members)
  }

  /** The q366/q381 sweep body over any GROUP-level pair graph (the
    * scan-derived one or the NearDupGraphStore read): pair counts
    * expand combinatorially; the removable bound per group is the
    * smallest MEMBER id reachable through incident rows (min members,
    * not rep ids — a store rep appended after an older twin ingest
    * need not be its group's minimum). */
  private def dedupSweepFromGroupGraph(s: SparkSession, gp: DataFrame,
                                       members: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val minm = members.groupBy(col("rep_id"))
      .agg(min(col("doc_id")).as("minm"))
    val expl = gp
      .select(col("rid1"), col("rid2"), col("jaccard"), col("g1"),
        col("g2"),
        explode(array(lit(30L), lit(50L), lit(70L), lit(90L))).as("pct"))
      .filter(col("jaccard") >= col("pct").cast("double") / 100.0)
      .localCheckpoint(false)
    val nPairs = expl.groupBy(col("pct"))
      .agg(sum(when(col("rid1") === col("rid2"),
          col("g1") * (col("g1") - 1L) / lit(2L))
        .otherwise(col("g1") * col("g2"))).cast("long").as("n_pairs"))
    val bounds = expl.select(col("pct"), col("rid1").as("rep_id"),
        col("rid2").as("other"))
      .unionByName(expl.select(col("pct"), col("rid2").as("rep_id"),
        col("rid1").as("other")))
      .join(minm.select(col("rep_id").as("other"),
        col("minm").as("ob")), "other")
      .groupBy(col("pct"), col("rep_id"))
      .agg(min(col("ob")).as("bound"))
    val nRem = bounds.join(members, "rep_id")
      .filter(col("doc_id") > col("bound"))
      .groupBy(col("pct")).agg(count(lit(1)).as("n_removable"))
    val spine = s.createDataset(Seq(30L, 50L, 70L, 90L))(Encoders.scalaLong)
      .toDF("pct")
    spine.join(nPairs, Seq("pct"), "left")
      .join(nRem, Seq("pct"), "left")
      .select(col("pct"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_removable"), lit(0L)).as("n_removable"))
      .ordered(col("pct"))
  }

  // q367 — context-window fit: for windows 512 / 2048 / 8192 tokens,
  // how many documents fit whole, and what token share truncation
  // loses — the context-length budget decision, from one token-count
  // scan with the windows exploded per doc.
  private val q367: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(TextOps.tokenCount(col("text")).cast("long").as("nt"))
      .select(col("nt"), explode(array(lit(512L), lit(2048L),
        lit(8192L))).as("win"))
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") <= col("win"), 1L).otherwise(0L)).as("n_fit"),
        sum(col("nt")).as("tok_total"),
        sum(least(col("nt"), col("win"))).as("tok_kept"))
      .select(col("win"), col("n_docs"), col("n_fit"), col("tok_total"),
        col("tok_kept"),
        e6(lit(1.0) - col("tok_kept").cast("double") /
          col("tok_total").cast("double")).as("loss_e6"))
      .ordered(col("win"))
  }

  // q368 — near-dup transitivity audit: the exact t = 0.4 pair graph
  // vs its connected-component closure — how many implied pairs the
  // clusters add beyond the verified ones (large gaps mean chained
  // merges of non-similar docs). Direct pairs from the lossless
  // PPJoin; closure sizes from the label-propagation components.
  private val q368: Q = (s, dir) => {
    val (reps, _) = DedupOps.collapseVerbatimTexts(
      t(s, dir, "documents"), "doc_id", "text")
    // group-level graph + group-level closure: the doc-level pair
    // table (and the doc-level label-propagation input) never
    // materializes — direct pairs expand combinatorially (self rows
    // C(g,2), cross rows g1*g2) and cluster sizes are sums of g over
    // the group components, which are in exact bijection with the
    // doc components (groupComponents scaladoc)
    val gp = DedupOps.prefixFilteredJaccardGroupPairsFromReps(
        reps, n = 3, threshold = 0.4)
      .localCheckpoint(false)
    val sizes = DedupOps.groupComponents(gp)
      .groupBy(col("cluster_id")).agg(sum(col("g")).as("m"))
    val cl = sizes.agg(count(lit(1)).as("n_clusters"),
      (sum(col("m") * (col("m") - 1L)) / lit(2L)).cast("long")
        .as("n_closure_pairs"))
    val dp = gp.agg(sum(when(col("rid1") === col("rid2"),
        col("g1") * (col("g1") - 1L) / lit(2L))
      .otherwise(col("g1") * col("g2"))).cast("long")
      .as("n_direct_pairs"))
    dp.crossJoin(broadcast(cl))
      .select(col("n_direct_pairs"), col("n_clusters"),
        col("n_closure_pairs"),
        e6(lit(1.0) - col("n_direct_pairs").cast("double") /
          col("n_closure_pairs").cast("double")).as("gap_e6"))
      .ordered(col("n_direct_pairs"))
  }

  // q369 — sampled dup-rate estimator audit: exact-dup rate measured
  // on a deterministic md5 20% doc sample vs the full corpus — can
  // the cheap sample stand in for the full scan at 100 TB?
  private val q369: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("inS", CurationOps.md5Hash32(
        concat(lit("ds:"), col("doc_id").cast("string"))) < 858993459L)
    d.agg(count(lit(1)).as("n_full"),
        countDistinct(col("text")).as("u_full"),
        sum(when(col("inS"), 1L).otherwise(0L)).as("n_samp"),
        countDistinct(when(col("inS"), col("text"))).as("u_samp"))
      .select(col("n_full"), col("n_samp"),
        e6(lit(1.0) - col("u_full").cast("double") /
          col("n_full").cast("double")).as("rate_full_e6"),
        e6(when(col("n_samp") > 0L,
          lit(1.0) - col("u_samp").cast("double") /
            col("n_samp").cast("double")).otherwise(0.0))
          .as("rate_samp_e6"),
        e6(when(col("n_samp") > 0L,
          abs((lit(1.0) - col("u_samp").cast("double") /
            col("n_samp").cast("double")) -
            (lit(1.0) - col("u_full").cast("double") /
              col("n_full").cast("double")))).otherwise(0.0))
          .as("abs_err_e6"))
      .ordered(col("n_full"))
  }

  // q370 — dedup keep-policy sensitivity: within the q368 near-dup
  // clusters, keep-first (min doc id) vs keep-longest (max length,
  // min-id tiebreak) — how often the choices differ and what byte
  // budgets each keeps. Exact-dup groups cannot differ (identical
  // text), so this runs on the near-dup closure.
  private val q370: Q = (s, dir) => {
    // group-level formulation (the q368 discipline): docs in a
    // verbatim group share text — so the group's min-id doc is its
    // representative, keep-first = min rep over the cluster's groups,
    // and keep-longest's (len, min-id) argmax over docs is the argmax
    // over reps. The doc-level pair expansion and doc-level
    // connected components never materialize.
    val (reps, _) = DedupOps.collapseVerbatimTexts(
      t(s, dir, "documents"), "doc_id", "text")
    val lens = reps.select(col("doc_id").as("rid"),
      length(col("text")).cast("long").as("len"))
    // groupComponents reads gp three times (node union + edges) —
    // cut lineage once or the PPJoin kernel re-runs per read
    val gp = DedupOps.prefixFilteredJaccardGroupPairsFromReps(
        reps, n = 3, threshold = 0.4)
      .localCheckpoint(false)
    val members = DedupOps.groupComponents(gp)
      .join(lens, col("rep_id") === col("rid"))
    val choices = members.groupBy(col("cluster_id"))
      .agg(min(col("rep_id")).as("keep_first"),
        max(struct(col("len"), (-col("rep_id")).as("nid"))).as("kl"),
        sum(col("g")).as("m"))
      .select(col("cluster_id"), col("keep_first"),
        (-col("kl.nid")).as("keep_longest"), col("m"))
    // one aggregation pass: joining both keep choices to the (small)
    // rep-length table keeps the connected-components chain upstream
    // of exactly ONE job — the previous three separate scalar aggs
    // (bytes_first / bytes_longest / diff counts) each re-ran the
    // iterative CC (measured: 100 s of the 10x stress run was this)
    choices
      .join(lens.select(col("rid").as("kf_rid"),
        col("len").as("len_f")), col("keep_first") === col("kf_rid"))
      .join(lens.select(col("rid").as("kl_rid"),
        col("len").as("len_l")), col("keep_longest") === col("kl_rid"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("keep_first") =!= col("keep_longest"), 1L)
          .otherwise(0L)).as("n_diff"),
        sum(col("len_f")).as("bytes_first"),
        sum(col("len_l")).as("bytes_longest"))
      .select(col("n_clusters"), col("n_diff"), col("bytes_first"),
        col("bytes_longest"))
      .ordered(col("n_clusters"))
  }

  // q371 — minhash k sensitivity: on the md5-parity candidate pairs
  // (doc_id < 250 slice, no threshold), the mean |estimated - exact|
  // Jaccard of signature prefixes k = 2 / 4 / 8 — the "how many
  // hashes do we pay for" calibration table.
  private val q371: Q = (s, dir) => {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 250)
    val withJ = DedupOps.minhashLshDedupParity(docs, "doc_id", "text",
        shingleN = 2, k = 8, bands = 4, threshold = 0.0)
      .select(col("id1"), col("id2"), col("jaccard"))
    val sig = DedupOps.minhashSignatureTable(docs, "doc_id", "text",
        shingleN = 2, k = 8)
      .select(col("doc_id"), col("sig"))
    val joined = withJ
      .join(sig.select(col("doc_id").as("id1"), col("sig").as("sa")),
        "id1")
      .join(sig.select(col("doc_id").as("id2"), col("sig").as("sb")),
        "id2")
    def est(k: Int): Column =
      aggregate(zip_with(slice(col("sa"), 1, k), slice(col("sb"), 1, k),
        (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / k.toDouble
    joined
      .select(col("jaccard"), explode(array(
        struct(lit(2L).as("k"), est(2).as("e")),
        struct(lit(4L).as("k"), est(4).as("e")),
        struct(lit(8L).as("k"), est(8).as("e")))).as("p"))
      .groupBy(col("p.k").as("k"))
      .agg(count(lit(1)).as("n_pairs"),
        e6(sum(abs(col("p.e") - col("jaccard"))) /
          count(lit(1)).cast("double")).as("mae_e6"))
      .ordered(col("k"))
  }

  // q372 — rare-shingle cross-source leakage: trigram shingles whose
  // document frequency is exactly 2, split by whether the two
  // documents share a source — df-2 shingles bridging different
  // sources are the contamination tell (token-level df never reaches
  // 2 on this corpus's 31-word vocabulary). Bounded output per
  // unordered source pair.
  private val q372: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val df2 = docs
      .select(col("doc_id"), explode(array_distinct(
        TextOps.wordShingles(col("text"), 3))).as("tk"))
      .groupBy(col("tk"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d1"),
        max(col("doc_id")).as("d2"))
      .filter(col("df") === 2L)
    val src = docs.select(col("doc_id"), col("source"))
    df2
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")),
        "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")),
        "d2")
      .groupBy(least(col("sa"), col("sb")).as("s_lo"),
        greatest(col("sa"), col("sb")).as("s_hi"))
      .agg(count(lit(1)).as("n_tokens"))
      .ordered(col("s_lo"), col("s_hi"))
  }

  // q373 — shingle document-frequency tail: the inverted-index cost
  // model. Per df band (1, 2, 3-10, >10): distinct-shingle count and
  // the candidate-pair mass sum df*(df-1)/2 a banding join would
  // verify — what the posting-list tail costs BEFORE paying for it.
  private val q373: Q = (s, dir) => {
    val dft = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        TextOps.wordShingles(col("text"), 3))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    dft
      .withColumn("band", when(col("df") === 1L, 1L)
        .when(col("df") === 2L, 2L)
        .when(col("df") <= 10L, 3L).otherwise(4L))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_shingles"),
        (sum(col("df") * (col("df") - 1L)) / lit(2L)).cast("long")
          .as("pair_mass"))
      .ordered(col("band"))
  }

  // q374 — brand co-purchase harmonic centrality (<= 2 hops): the
  // 25-node same-order co-purchase graph, per brand its direct degree
  // and strict two-hop reach, harmonic centrality as the EXACT
  // integer 2*degree + twohop (distances 1 and 1/2, doubled).
  private val q374: Q = (s, dir) => {
    val ob = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
      .distinct()
    val pairs = ob.join(ob.select(col("ok"), col("b").as("b2")), "ok")
      .filter(col("b") < col("b2"))
      .select(col("b").as("x"), col("b2").as("y")).distinct()
      .localCheckpoint(false)
    val edges = pairs.unionByName(
      pairs.select(col("y").as("x"), col("x").as("y")))
    val deg = edges.groupBy(col("x").as("brand"))
      .agg(count(lit(1)).as("degree"))
    val two = edges.select(col("x").as("a"), col("y").as("mid"))
      .join(edges.select(col("x").as("mid"), col("y").as("c")), "mid")
      .filter(col("a") =!= col("c"))
      .select(col("a"), col("c")).distinct()
      .join(edges.select(col("x").as("a"), col("y").as("c"),
        lit(1).as("direct")), Seq("a", "c"), "left_anti")
      .groupBy(col("a").as("brand")).agg(count(lit(1)).as("twohop"))
    deg.join(two, Seq("brand"), "left")
      .select(col("brand"), col("degree"),
        coalesce(col("twohop"), lit(0L)).as("twohop"),
        (col("degree") * 2L + coalesce(col("twohop"), lit(0L)))
          .as("harmonic2x"))
      .ordered(col("brand"))
  }

  // q375 — binding-gate attribution for a 4-gate quality filter:
  // which gate actually drops the corpus (total fails and
  // UNIQUE-binding fails per gate). All gate predicates are exact
  // integer comparisons, so the table is engine-exact. Gate config
  // is this query's own (q55's families): g1 tokens in [20, 1e5],
  // g2 mean token length in [3, 10], g3 top-token share <= 10%,
  // g4 duplicate-bigram share <= 50%.
  private val q375: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("tk2"))
      .groupBy(col("doc_id"), col("tk2")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nt"), max(col("c")).as("topc"),
        sum(length(col("tk2")) * col("c")).as("lensum"))
    val bg = d.select(col("doc_id"),
        explode(TextOps.shinglesFromTokens(col("toks"), 2)).as("g2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n2"), countDistinct(col("g2")).as("n2d"))
    val gates = tf.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("nt") >= 20L && col("nt") <= 100000L).as("g1"),
        (col("lensum") >= col("nt") * 3L &&
          col("lensum") <= col("nt") * 10L).as("g2"),
        (col("topc") * 10L <= col("nt")).as("g3"),
        (coalesce(col("n2"), lit(0L)) === 0L ||
          (coalesce(col("n2"), lit(0L)) -
            coalesce(col("n2d"), lit(0L))) * 2L <=
            coalesce(col("n2"), lit(0L))).as("g4"))
      .withColumn("nfail",
        (when(col("g1"), 0).otherwise(1) + when(col("g2"), 0).otherwise(1)
          + when(col("g3"), 0).otherwise(1)
          + when(col("g4"), 0).otherwise(1)).cast("long"))
    // single scan: unpivot the 4 gate booleans (the dwellToNext
    // struct-unpivot shape) so ONE aggregation job yields per-gate
    // fails, unique-binding fails, and the global doc/pass totals —
    // each doc contributes exactly one row per gate, so count(*)
    // inside a gate group IS n_docs and the checkpoint (which only
    // served the 4 re-scans) drops
    gates.select(col("nfail"), explode(array(
        struct(lit("g1").as("gate"), col("g1").as("ok")),
        struct(lit("g2").as("gate"), col("g2").as("ok")),
        struct(lit("g3").as("gate"), col("g3").as("ok")),
        struct(lit("g4").as("gate"), col("g4").as("ok")))).as("p"))
      .groupBy(col("p.gate").as("gate"))
      .agg(sum(when(!col("p.ok"), 1L).otherwise(0L)).as("n_fail"),
        sum(when(!col("p.ok") && col("nfail") === 1L, 1L).otherwise(0L))
          .as("n_unique"),
        count(lit(1)).as("n_docs"),
        sum(when(col("nfail") === 0L, 1L).otherwise(0L)).as("n_pass"))
      .ordered(col("gate"))
  }

  // q376 — margin by market segment: exact-cents revenue, pseudo-cost
  // (retail-price cents x quantity), and tax-inclusive revenue per
  // c_mktsegment — the first query exercising l_tax, p_retailprice
  // and c_mktsegment together.
  private val q376: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
          .as("rev_c"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)")
          .as("revtax_c"))
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"),
          expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").as("ret_c"))),
        col("l_partkey") === col("p_partkey"))
    val oc = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"))
    li.join(oc, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev_c")).as("rev_c"),
        sum(col("revtax_c")).as("revtax_c"),
        sum(col("ret_c") * col("qty")).as("cost_c"))
      .select(col("segment"), col("n_lines"), col("rev_c"),
        col("revtax_c"), col("cost_c"),
        e6(lit(1.0) - col("cost_c").cast("double") /
          col("rev_c").cast("double")).as("margin_e6"))
      .ordered(col("segment"))
  }

  // q377 — supplier concentration per brand: how many suppliers serve
  // each brand and the HHI of their line-count shares — exact integer
  // numerator/denominator, single e6 pin.
  private val q377: Q = (s, dir) => {
    val g = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
    g.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("c")).as("n_lines"),
        sum(col("c") * col("c")).as("c2"))
      .select(col("brand"), col("n_suppliers"), col("n_lines"),
        e6(col("c2").cast("double") /
          (col("n_lines").cast("double") * col("n_lines").cast("double")))
          .as("hhi_e6"))
      .ordered(col("brand"))
  }

  // q378 — order-status x line-status consistency grid: cell counts,
  // within-order-status shares, and each order status's majority line
  // status (deterministic rank over the bounded grid).
  private val q378: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val g = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus").as("os"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("n"))
    g.withColumn("tot", sum(col("n")).over(Window.partitionBy(col("os"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("os"))
        .orderBy(col("n").desc, col("ls"))))
      .select(col("os"), col("ls"), col("n"),
        e6(col("n").cast("double") / col("tot").cast("double"))
          .as("share_e6"),
        (col("rk") === 1).as("is_majority"))
      .ordered(col("os"), col("ls"))
  }

  // q379 — label-centroid separation matrix: cosine between every
  // unordered pair of per-label embedding centroids — are the labels
  // separable at the centroid level? Bounded |labels|^2 join over the
  // exploded (label, dim) centroid relation.
  private val q379: Q = (s, dir) => {
    val cent = SimilarityOps.labelCentroids(t(s, dir, "embeddings"),
        "label", "embedding")
      .select(col("label"), col("n"),
        posexplode(col("centroid")).as(Seq("dim", "v")))
      .localCheckpoint(false)
    val norms = cent.groupBy(col("label"), col("n"))
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    val dots = cent.select(col("label").as("l1"), col("dim"),
        col("v").as("v1"))
      .join(cent.select(col("label").as("l2"), col("dim"),
        col("v").as("v2")), "dim")
      .filter(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2")).agg(sum(col("v1") * col("v2"))
        .as("dot"))
    dots
      .join(norms.select(col("label").as("l1"), col("n").as("n1"),
        col("nrm").as("nrm1")), "l1")
      .join(norms.select(col("label").as("l2"), col("n").as("n2"),
        col("nrm").as("nrm2")), "l2")
      .select(col("l1"), col("l2"), col("n1"), col("n2"),
        e6(col("dot") / (col("nrm1") * col("nrm2"))).as("cos_e6"))
      .ordered(col("l1"), col("l2"))
  }

  // q380 — bloom-pruned fact-dim join through the SCALAR-SUBQUERY
  // aggregate path (ScaleOps.bloomPrunedJoinAgg): the filter is built
  // by Spark's native BloomFilterAggregate (distributive OR-merge of
  // partial sketches, no driver-collected literal bitset in the
  // builder) and probed with might_contain before lineitem's shuffle.
  // Same exact-join-preserving contract as q101 — false positives die
  // in the real join — so the oracle is the plain join; the subquery
  // plan shape (no literal array, might_contain present) is pinned by
  // ScaleOpsSpec/PlanShapeSpec.
  private val q380: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "2-HIGH" &&
        pmod(col("o_custkey"), lit(7L)) === 0)
    ScaleOps.bloomPrunedJoinAgg(li, ord, "l_orderkey", "o_orderkey",
        expectedKeys = 1L << 16, numBits = 1L << 20)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .ordered(col("l_returnflag"))
  }

  /** The ONE shared NearDupGraphStore for this corpus dir + the
    * canonical parameters (n=3, baseT=0.3, components at 0.4): every
    * store-backed audit (q381/q382 and the round-10 read-path
    * queries) calls [[NearDupGraphStore.ensure]] against it, so the
    * first consumer in a run pays construction and every later one is
    * a pure partition-pruned READ — the 100 TB amortization shape,
    * and what lets the bench report the read latency a user actually
    * pays. Path keyed by the corpus dir so SF runs can't collide;
    * ensure() returns the committed version dir (the cross-process
    * versioned-commit protocol), which is what readers consume. */
  private[queries] def sharedNdgStore(s: SparkSession, dir: String): String = {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-ndg-shared-${corpusKey(dir)}"
    NearDupGraphStore.ensure(s, t(s, dir, "documents"), "doc_id",
      "text", n = 3, baseT = 0.3, componentThresholds = Seq(0.4), path)
  }

  // q381 — STORE-BACKED dedup-threshold sweep: the q366 decision
  // table read from the persisted NearDupGraphStore instead of a
  // fresh text derivation — build once (ensure: shared with q382 and
  // the read-path audits), audit from the jband-pruned pair
  // partitions + derived group sizes. The oracle is q366's plain
  // full-corpus derivation, which IS the store-vs-scan equality pin.
  private val q381: Q = (s, dir) => {
    val path = sharedNdgStore(s, dir)
    dedupSweepFromGroupGraph(s,
      NearDupGraphStore.groupPairs(s, path, 0.3),
      NearDupGraphStore.membersTable(s, path))
  }

  // q382 — store-backed cluster-size histogram: the materialized
  // t=0.4 component labels (one t_e2 partition read, zero text
  // rescans) expanded to doc counts per cluster size — the "how big
  // do near-dup clusters get" audit every keep-policy decision
  // starts from. Shares the ensured store with q381.
  private val q382: Q = (s, dir) => {
    val path = sharedNdgStore(s, dir)
    NearDupGraphStore.components(s, path, 0.4)
      .groupBy(col("cluster_id")).agg(sum(col("g")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_clusters"))
      .select(col("m"), col("n_clusters"),
        (col("m") * col("n_clusters")).cast("long").as("n_docs"))
      .ordered(col("m"))
  }

  // q383 — incremental store ingest == full rebuild: build the store
  // on 2/3 of the corpus, APPEND the rest (old texts never
  // re-shingled — the delta joins the persisted shingle arrays),
  // then read q368's transitivity metrics from the store. The oracle
  // is q368's one-shot full-corpus derivation, so a green row proves
  // write+append converges to the rebuild graph.
  private val q383: Q = (s, dir) => {
    val path = tmpStorePath("graft-ndg-q383", dir)
    val docs = t(s, dir, "documents")
    // the write-phase component rebuild is discarded work here: append
    // recomputes labels from the FULL merged pair graph and rewrites
    // components/ (rebuildComponents is a full overwrite), so the
    // final store state — and this query's output — is identical with
    // the initial build ingesting label-free (one iterative-CC pass
    // instead of two; the r12 optimization round)
    NearDupGraphStore.write(s,
      docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L), "doc_id",
      "text", n = 3, baseT = 0.3, componentThresholds = Seq.empty, path)
    NearDupGraphStore.append(s,
      docs.filter(pmod(col("doc_id"), lit(3L)) === 0L), "doc_id",
      "text", componentThresholds = Seq(0.4), path)
    val gp = NearDupGraphStore.groupPairs(s, path, 0.4)
      .localCheckpoint(false)
    val sizes = NearDupGraphStore.components(s, path, 0.4)
      .groupBy(col("cluster_id")).agg(sum(col("g")).as("m"))
    val cl = sizes.agg(count(lit(1)).as("n_clusters"),
      (sum(col("m") * (col("m") - 1L)) / lit(2L)).cast("long")
        .as("n_closure_pairs"))
    val dp = gp.agg(sum(when(col("rid1") === col("rid2"),
        col("g1") * (col("g1") - 1L) / lit(2L))
      .otherwise(col("g1") * col("g2"))).cast("long")
      .as("n_direct_pairs"))
    dp.crossJoin(broadcast(cl))
      .select(col("n_direct_pairs"), col("n_clusters"),
        col("n_closure_pairs"),
        e6(lit(1.0) - col("n_direct_pairs").cast("double") /
          col("n_closure_pairs").cast("double")).as("gap_e6"))
      .ordered(col("n_direct_pairs"))
  }

  // ---- DuckDB SQL generation helpers for deterministic oracles ----
  // The vector folds mirror the Spark side exactly: left-to-right
  // accumulation from 0.0, same operand order per element, so the
  // doubles are bit-identical (not just close) before ROUND.

  private val Dims = 64

  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${Dims + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  private def sqlNorm(v: String): String = s"sqrt(${sqlDot(v, v)})"

  /** Projection of v onto pseudo-plane p, with the plane's integer
    * components inlined (the double component is int * 1e-5 on both
    * engines — one identical fp op on an exact integer). */
  private def sqlPlaneProj(v: String, p: Int): String = {
    val ints = (0 until Dims).map(i => SimilarityOps.planeComponentInt(p, i))
      .mkString("[", ", ", "]")
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${Dims + 1}), i -> $v[i] * ($ints[i] * 1e-5))), (x, y) -> x + y)"
  }

  private def sqlBucket(v: String, planes: Int, planeOffset: Int = 0)
      : String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${sqlPlaneProj(v, planeOffset + p)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")

  /** First 8 hex digits of md5 expression `h` as a BIGINT (mirrors
    * Spark's conv(substring(md5(x), 1, 8), 16, 10)). */
  private def sqlHex32(h: String): String = OracleSql.hex32(h)

  /** Base-31 mod-1e9+7 rolling hash of string expression `t` (mirrors
    * [[graft.functions.RollingHash]] — per-character ord = code
    * points). */
  private def sqlRollingHash(t: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($t) + 1), j -> CAST(ord(substr($t, j, 1)) AS BIGINT))), (a, c) -> (a * 31 + c) % 1000000007)"

  private val q29Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |b AS (SELECT vec_id, v, vn, ${sqlBucket("v", 4)} AS bucket FROM n),
       |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |             ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |      WHERE q.vec_id < 50),
       |r AS (SELECT qid, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, nid) AS rk
       |      FROM s)
       |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM r WHERE rk <= 5
       |ORDER BY qid, cosim DESC, nid""".stripMargin

  private val q30Sql: String =
    """WITH m AS (
      |  SELECT doc_id, length(text) AS n,
      |         list_transform(range(1, length(text) + 1),
      |                        j -> ord(substr(text, j, 1))) AS bytes
      |  FROM documents),
      |u AS (SELECT doc_id, n, unnest(bytes) AS v FROM m),
      |g AS (SELECT doc_id, n, v, COUNT(*) AS c FROM u GROUP BY doc_id, n, v),
      |f AS (SELECT doc_id, n, SUM(c * v) AS s, SUM(c * c) AS ss
      |      FROM g GROUP BY doc_id, n)
      |SELECT doc_id AS media_id,
      |       CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio'
      |            ELSE 'video' END AS format,
      |       n AS n_bytes,
      |       CAST(ROUND((s::DOUBLE / n) * 1e6, 0) AS BIGINT) AS mean_byte_e6,
      |       CAST(ROUND((1.0::DOUBLE - ss::DOUBLE / (n * n)) * 1e6, 0) AS BIGINT) AS entropy_proxy_e6
      |FROM f ORDER BY media_id""".stripMargin

  private val q31Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |b AS (SELECT vec_id, v, vn, ${sqlBucket("v", 4)} AS bucket FROM n),
       |sized AS (SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bsz FROM b),
       |p AS (SELECT a.vec_id AS id1, c.vec_id AS id2,
       |             ${sqlDot("a.v", "c.v")} / (a.vn * c.vn) AS cosine
       |      FROM sized a JOIN sized c
       |      ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |         AND a.bsz BETWEEN 2 AND 1000)
       |SELECT id1, id2, ROUND(cosine, 6) AS cos FROM p
       |WHERE cosine >= 0.35::DOUBLE ORDER BY id1, id2""".stripMargin

  private val q32Sql: String =
    """WITH v AS (SELECT doc_id, length(text) AS n FROM documents
      |           WHERE doc_id % 3 = 2),
      |f AS (SELECT doc_id,
      |             unnest(range(0, CASE WHEN n >= 32 THEN (n - 32) // 16 + 1
      |                                  ELSE 0 END)) AS frame_idx
      |      FROM v)
      |SELECT doc_id AS media_id, frame_idx, 32 AS frame_len FROM f
      |ORDER BY media_id, frame_idx""".stripMargin

  private val q40Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, vn AS cn FROM n
       |          ORDER BY md5(vec_id::VARCHAR) LIMIT 16),
       |cs AS (SELECT n.vec_id, n.v, n.vn, cents.cent_id,
       |              ${sqlDot("n.v", "cents.cv")} / (n.vn * cents.cn) AS ccos
       |       FROM n, cents),
       |ca AS (SELECT vec_id, v, vn, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs)
       |       WHERE rk = 1),
       |qa AS (SELECT vec_id, v, vn, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs
       |         WHERE vec_id < 50)
       |       WHERE rk <= 4),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |             ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |      FROM qa q JOIN ca c USING (cent_id) WHERE c.vec_id <> q.vec_id),
       |r AS (SELECT qid, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, nid) AS rk
       |      FROM p)
       |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM r WHERE rk <= 5
       |ORDER BY qid, cosim DESC, nid""".stripMargin

  private val q41Sql: String =
    """SELECT doc_id,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(range(1, length(text) + 1),
      |           j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
      |         (a, c) -> (a * 31 + c) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  private val q42Sql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tn, value
      |           FROM events WHERE event_type = 'click'),
      |v AS (SELECT user_id, tn, value FROM (
      |        SELECT user_id, epoch_us(ts) AS tn, value,
      |               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
      |                   ORDER BY event_id DESC) AS rn
      |        FROM events WHERE event_type = 'view') WHERE rn = 1),
      |j AS (SELECT c.event_id, c.value AS cv, v.value AS pv
      |      FROM c ASOF LEFT JOIN v
      |      ON c.user_id = v.user_id AND c.tn >= v.tn)
      |SELECT event_id, ROUND(cv, 6) AS click_value,
      |       ROUND(pv, 6) AS prior_view_value
      |FROM j ORDER BY event_id""".stripMargin

  private val q43Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn
      |           FROM events WHERE user_id < 30),
      |p AS (SELECT a.user_id FROM e a JOIN e b
      |      ON a.user_id = b.user_id AND a.event_id < b.event_id
      |         AND abs(a.tn - b.tn) <= 3600000000)
      |SELECT user_id, COUNT(*) AS n_pairs FROM p
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  private val q44Sql: String =
    """SELECT event_type,
      |       ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |       ROUND(quantile_cont(value, 0.9), 6) AS p90,
      |       ROUND(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val q45Sql: String = {
    def thr(r: Double): Long = math.floor(r * 4294967296.0).toLong
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |         len(list_filter(toks, t -> list_contains(['scan','row','table','filter'], t))) AS s1,
       |         len(list_filter(toks, t -> list_contains(['join','merge','key','hash'], t))) AS s2,
       |         len(list_filter(toks, t -> list_contains(['stream','window','batch','order'], t))) AS s3
       |  FROM d),
       |p AS (
       |  SELECT doc_id, CASE WHEN GREATEST(s1, s2, s3) <= 0 THEN 'und'
       |              WHEN s1 = GREATEST(s1, s2, s3) THEN 'scanic'
       |              WHEN s2 = GREATEST(s1, s2, s3) THEN 'joinic'
       |              ELSE 'streamic' END AS lang_pred
       |  FROM sc),
       |m AS (SELECT doc_id, lang_pred,
       |             md5('graft:' || doc_id::VARCHAR) AS h FROM p),
       |f AS (SELECT doc_id, lang_pred, ${sqlHex32("h")} AS hv FROM m)
       |SELECT doc_id, lang_pred FROM f
       |WHERE hv < CASE lang_pred WHEN 'scanic' THEN ${thr(0.5)}
       |                          WHEN 'joinic' THEN ${thr(0.25)}
       |                          ELSE ${thr(0.1)} END
       |ORDER BY doc_id""".stripMargin
  }

  private val q46Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents WHERE doc_id < 100),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, term, cnt,
      |              SUM(cnt) OVER (PARTITION BY doc_id) AS doc_len FROM tf),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |nn AS (SELECT COUNT(*) AS n FROM d),
      |s AS (SELECT doc_id, term,
      |             (cnt * 1.0 / doc_len) * (ln((nn.n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
      |      FROM dl JOIN dfreq USING (term), nn),
      |r AS (SELECT doc_id, term, tfidf,
      |             ROW_NUMBER() OVER (PARTITION BY doc_id
      |                 ORDER BY tfidf DESC, term) AS rk FROM s)
      |SELECT doc_id, term, rk, ROUND(tfidf, 6) AS tfidf FROM r
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** md5-parity LSH CTE chain (k=8, bands=4) over an arbitrary
    * (doc_id, text) relation `src` — ends at `ver(id1, id2, jaccard)`.
    * Shared by q47/q63 (fixed corpus slice) and q73 (the curated
    * survivor set). */
  private[queries] def minhashParityCtesFrom(src: String): String = {
    val sigList = (0 until 8)
      .map(i => s"list_min(list_transform(sh, x -> md5('$i:' || x)))")
      .mkString("[", ", ", "]")
    val bandedUnion = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, md5(sig[${2 * b + 1}] || '|' || sig[${2 * b + 2}]) AS bucket FROM g")
      .mkString("\n  UNION ALL ")
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM $src),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |g AS (SELECT doc_id, sh, $sigList AS sig FROM s),
       |banded AS (
       |  $bandedUnion),
       |sized AS (SELECT doc_id, band, bucket,
       |                 COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
       |          FROM banded),
       |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |          FROM sized a JOIN sized b
       |          ON a.band = b.band AND a.bucket = b.bucket
       |             AND a.doc_id < b.doc_id AND a.bsz BETWEEN 2 AND 100),
       |ver AS (SELECT id1, id2,
       |               len(list_intersect(x.sh, y.sh))::DOUBLE /
       |                 len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
       |        FROM pairs JOIN s x ON id1 = x.doc_id JOIN s y ON id2 = y.doc_id)""".stripMargin
  }

  private[queries] val minhashParityCtes: String =
    minhashParityCtesFrom("documents WHERE doc_id < 250")

  private val q47Sql: String =
    s"""WITH $minhashParityCtes
       |SELECT id1, id2, ${sqlE6("jaccard")} AS jacc_e6 FROM ver
       |WHERE jaccard >= 0.2::DOUBLE ORDER BY id1, id2""".stripMargin

  // q26 = the same parity construction over the FULL corpus.
  private val q26Sql: String =
    s"""WITH ${minhashParityCtesFrom("documents")}
       |SELECT id1, id2, ${sqlE6("jaccard")} AS jacc_e6 FROM ver
       |WHERE jaccard >= 0.2::DOUBLE ORDER BY id1, id2""".stripMargin

  /** Shared CTE chain producing SimHash-parity candidate pairs
    * (`cand`: id1, id2, s1, s2) over an arbitrary (doc_id, text)
    * relation `src` — the common prefix of q27 (full corpus) and
    * q48/q54 (fixed slice). */
  private def simhashParityCtesFrom(src: String): String = {
    val votes = (0 until 32)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n         ")
    val sim = (0 until 32)
      .map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM $src),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |hh AS (SELECT doc_id, ${sqlHex32("md5(t)")} AS h FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM hh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sim AS sim FROM votes),
       |banded AS (
       |  SELECT doc_id, sim, 0 AS band, sim & 65535 AS bucket FROM sig
       |  UNION ALL
       |  SELECT doc_id, sim, 1 AS band, (sim >> 16) & 65535 AS bucket FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |                a.sim AS s1, b.sim AS s2
       |         FROM banded a JOIN banded b
       |         ON a.band = b.band AND a.bucket = b.bucket
       |            AND a.doc_id < b.doc_id)""".stripMargin
  }

  private val simhashParityCtes: String =
    simhashParityCtesFrom("documents WHERE doc_id < 250")

  private val q48Sql: String =
    s"""WITH $simhashParityCtes
       |SELECT id1, id2, bit_count(xor(s1, s2)) AS hamming FROM cand
       |WHERE bit_count(xor(s1, s2)) <= 8 ORDER BY id1, id2""".stripMargin

  // q27 = the same parity construction over the FULL corpus.
  private val q27Sql: String =
    s"""WITH ${simhashParityCtesFrom("documents")}
       |SELECT id1, id2, bit_count(xor(s1, s2)) AS hamming FROM cand
       |WHERE bit_count(xor(s1, s2)) <= 8 ORDER BY id1, id2""".stripMargin

  private val q54Sql: String =
    s"""WITH RECURSIVE $simhashParityCtes,
       |p AS (SELECT id1, id2 FROM cand WHERE bit_count(xor(s1, s2)) <= 8),
       |edges AS (SELECT id1 AS s, id2 AS dd FROM p
       |          UNION SELECT id2, id1 FROM p),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id)
       |SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  private val q55Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
      |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
      |ta AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
      |              MAX(c) AS top_c, SUM(length(t) * c) AS len_sum
      |       FROM tf GROUP BY doc_id),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(toks) >= 2
      |                  THEN list_transform(range(1, len(toks)),
      |                         i -> array_to_string(toks[i:i+1], ' '))
      |                  ELSE [] END AS sh
      |      FROM d),
      |gs AS (SELECT doc_id, len(sh) AS n2, len(list_distinct(sh)) AS n2d
      |       FROM g)
      |SELECT ta.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(ROUND(len_sum::DOUBLE / n_tokens * 1e6, 0) AS BIGINT) AS mean_token_len_e6,
      |       CAST(ROUND((1.0::DOUBLE - n_distinct::DOUBLE / n_tokens) * 1e6, 0) AS BIGINT) AS dup_token_frac_e6,
      |       CAST(ROUND(top_c::DOUBLE / n_tokens * 1e6, 0) AS BIGINT) AS top_token_frac_e6,
      |       CAST(ROUND(CASE WHEN n2 <= 0 THEN 0.0::DOUBLE
      |                       ELSE 1.0::DOUBLE - n2d::DOUBLE / n2 END * 1e6, 0) AS BIGINT) AS dup_2gram_frac_e6,
      |       (n_tokens BETWEEN 20 AND 100000)
      |         AND (len_sum::DOUBLE / n_tokens BETWEEN 3.0 AND 10.0)
      |         AND (top_c::DOUBLE / n_tokens <= 0.1)
      |         AND (CASE WHEN n2 <= 0 THEN 0.0::DOUBLE
      |                   ELSE 1.0::DOUBLE - n2d::DOUBLE / n2 END <= 0.25) AS keep
      |FROM ta JOIN gs ON ta.doc_id = gs.doc_id
      |ORDER BY ta.doc_id""".stripMargin

  private val q56Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT CASE WHEN len(toks) >= 2
      |              THEN list_transform(range(1, len(toks)),
      |                     i -> array_to_string(toks[i:i+1], ' '))
      |              ELSE [] END AS sh
      |  FROM d),
      |g AS (SELECT unnest(sh) AS gram FROM s),
      |c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram)
      |SELECT gram, n FROM c ORDER BY n DESC, gram LIMIT 20""".stripMargin

  /** q34 oracle: Welch p-value replayed in pure SQL. The regularized
    * incomplete beta is computed with the SAME Lentz continued
    * fraction the Scala side uses (Numerical Recipes §6.4 — public
    * algorithm), as a recursive CTE whose state carries the scalar
    * parameters, so the events scan is evaluated once (DuckDB CTEs
    * referenced from a recursive term re-evaluate per iteration —
    * the documented inlining trap). Both engines converge to ~1e-15
    * relative, so the 6dp ROUND on both sides pins identical values.
    * Verified equal to a driver-side python mirror of SpecialFns
    * (t=1.527493, df=3969.469361, p_less=0.936641 at sf0.01). */
  private val q34Sql: String = {
    // FpMin clamp mirroring SpecialFns.betacf: |x| < 1e-300 -> 1e-300
    def cl(e: String): String =
      s"(CASE WHEN abs($e) < 1e-300 THEN 1e-300 ELSE $e END)"
    val d0 = s"1.0 / ${cl("1.0 - (ca+cb)*cx/(ca+1.0)")}"
    val lbeta =
      "lgamma(a0+b0) - lgamma(a0) - lgamma(b0) + a0*ln(x) + b0*ln(1.0-x)"
    s"""WITH RECURSIVE
       |a AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*) n
       |      FROM events WHERE event_type = 'click'),
       |b AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*) n
       |      FROM events WHERE event_type = 'view'),
       |td AS (SELECT (a.m - b.m) / SQRT(a.v/a.n + b.v/b.n) AS t,
       |              POWER(a.v/a.n + b.v/b.n, 2) /
       |                (POWER(a.v/a.n, 2)/(a.n-1) +
       |                 POWER(b.v/b.n, 2)/(b.n-1)) AS df,
       |              a.n AS n_click, b.n AS n_view
       |       FROM a, b),
       |par AS (SELECT t, df, n_click, n_view,
       |               df / (df + t*t) AS x, df/2 AS a0, 0.5::DOUBLE AS b0,
       |               (df/(df + t*t)) < (df/2 + 1.0)/(df/2 + 2.5) AS direct
       |        FROM td),
       |cf AS (SELECT *,
       |              CASE WHEN direct THEN a0 ELSE b0 END AS ca,
       |              CASE WHEN direct THEN b0 ELSE a0 END AS cb,
       |              CASE WHEN direct THEN x ELSE 1.0 - x END AS cx
       |       FROM par),
       |lentz(ca, cb, cx, m, c, d, h, done) AS (
       |  SELECT ca, cb, cx, 0, 1.0::DOUBLE, $d0, $d0, false FROM cf
       |  UNION ALL
       |  SELECT ca, cb, cx, m, c2, d2, h2, abs(d2*c2 - 1.0) < 3e-16
       |  FROM (
       |    SELECT ca, cb, cx, m,
       |           1.0 / ${cl("1.0 + aa2 * d1")} AS d2,
       |           ${cl("1.0 + aa2 / c1")} AS c2,
       |           h1 * (1.0 / ${cl("1.0 + aa2 * d1")})
       |              * ${cl("1.0 + aa2 / c1")} AS h2
       |    FROM (
       |      SELECT ca, cb, cx, m,
       |             -(ca + m) * (ca + cb + m) * cx /
       |               ((ca + 2*m) * (ca + 1.0 + 2*m)) AS aa2,
       |             1.0 / ${cl("1.0 + aa1 * d")} AS d1,
       |             ${cl("1.0 + aa1 / c")} AS c1,
       |             h * (1.0 / ${cl("1.0 + aa1 * d")})
       |               * ${cl("1.0 + aa1 / c")} AS h1
       |      FROM (
       |        SELECT ca, cb, cx, m + 1 AS m, c, d, h,
       |               (m+1) * (cb - (m+1)) * cx /
       |                 ((ca - 1.0 + 2*(m+1)) * (ca + 2*(m+1))) AS aa1
       |        FROM lentz WHERE NOT done AND m < 300)))),
       |fin AS (SELECT h FROM lentz ORDER BY m DESC LIMIT 1),
       |res AS (SELECT t, df, n_click, n_view,
       |               CASE WHEN direct
       |                    THEN exp($lbeta) * fin.h / a0
       |                    ELSE 1.0 - exp($lbeta) * fin.h / b0
       |               END AS binc
       |        FROM cf, fin)
       |SELECT ROUND(t, 6) AS t, ROUND(df, 6) AS df,
       |       ROUND(CASE WHEN t > 0 THEN 1.0 - 0.5 * binc
       |                  ELSE 0.5 * binc END, 6) AS p_less,
       |       n_click, n_view
       |FROM res""".stripMargin
  }

  private val q49Sql: String =
    s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (SELECT event_type, user_id,
       |             ${sqlHex32("md5('kmv:' || user_id::VARCHAR)")} AS h
       |      FROM d),
       |r AS (SELECT event_type, h,
       |             ROW_NUMBER() OVER (PARTITION BY event_type
       |                 ORDER BY h, user_id) AS rn FROM h),
       |kth AS (SELECT event_type, h AS hk FROM r WHERE rn = 64),
       |c AS (SELECT event_type, COUNT(*) AS n_exact FROM d GROUP BY event_type)
       |SELECT c.event_type, c.n_exact,
       |       CAST(ROUND((CASE WHEN kth.hk IS NULL THEN c.n_exact::DOUBLE
       |                        ELSE ${63 * 4294967296.0} / kth.hk
       |                   END) * 1e4, 0) AS BIGINT) AS n_est_e4
       |FROM c LEFT JOIN kth USING (event_type)
       |ORDER BY c.event_type""".stripMargin

  private val q50Sql: String =
    """WITH c AS (SELECT event_id, user_id, -epoch_us(ts) AS ntn
      |           FROM events WHERE event_type = 'click'),
      |v AS (SELECT user_id, ntn, value FROM (
      |        SELECT user_id, -epoch_us(ts) AS ntn, value,
      |               ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
      |                   ORDER BY event_id) AS rn
      |        FROM events WHERE event_type = 'view') WHERE rn = 1),
      |j AS (SELECT c.event_id, v.value AS nv
      |      FROM c ASOF LEFT JOIN v
      |      ON c.user_id = v.user_id AND c.ntn >= v.ntn)
      |SELECT event_id, ROUND(nv, 6) AS next_view_value
      |FROM j ORDER BY event_id""".stripMargin

  private val q51Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 50),
       |c AS (
       |  SELECT doc_id, toks,
       |         unnest(range(0, 1 + CAST(ceil(GREATEST(len(toks) - 32, 0) / 24.0) AS INT))) AS chunk_idx
       |  FROM d),
       |t AS (
       |  SELECT doc_id, chunk_idx,
       |         array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS ct
       |  FROM c)
       |SELECT doc_id, chunk_idx, length(ct) AS n_chars,
       |       ${sqlRollingHash("ct")} AS chunk_fp
       |FROM t ORDER BY doc_id, chunk_idx""".stripMargin

  /** The CASE arm list mirroring [[CurationOps.assignSplit]]'s
    * cumulative integer thresholds over a 32-bit hash value `hv` —
    * ONE definition shared by q52 and q73 so the cut math can never
    * drift from the Spark side in just one of them. */
  private def splitCaseSql(weights: Seq[(String, Double)]): String = {
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w }
      .tail.map(c => math.floor(c / total * 4294967296.0).toLong)
    val cases = weights.map(_._1).zip(cuts).dropRight(1)
      .map { case (name, cut) => s"WHEN hv < $cut THEN '$name'" }
      .mkString(" ")
    s"CASE $cases ELSE '${weights.last._1}' END"
  }

  private val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  private val q52Sql: String = {
    s"""WITH m AS (SELECT doc_id, md5('graft:' || doc_id::VARCHAR) AS h
       |           FROM documents),
       |f AS (SELECT doc_id, ${sqlHex32("h")} AS hv FROM m),
       |a AS (SELECT ${splitCaseSql(SplitWeights)} AS split
       |      FROM f)
       |SELECT split, COUNT(*) AS n_docs FROM a
       |GROUP BY split ORDER BY split""".stripMargin
  }

  private val q53Sql: String = {
    // DuckDB single-quoted strings pass backslashes through verbatim,
    // so the Java-side pattern string is inlined as-is (quotes doubled)
    val applied = RedactRules.foldLeft("text") { case (acc, (pat, repl)) =>
      val p = pat.replace("'", "''")
      s"regexp_replace($acc, '$p', '$repl', 'g')"
    }
    s"""WITH r AS (SELECT doc_id, $applied AS red FROM documents)
       |SELECT doc_id, length(red) AS n_chars,
       |       ${sqlRollingHash("red")} AS red_fp
       |FROM r ORDER BY doc_id""".stripMargin
  }

  private val q57Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
      |           FROM events),
      |s AS (SELECT user_id, event_id, tus, value,
      |             CASE WHEN LAG(tus) OVER w IS NULL
      |                       OR tus - LAG(tus) OVER w > 3600000000
      |                  THEN 1 ELSE 0 END AS st
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |g AS (SELECT user_id, tus, value,
      |             CAST(SUM(st) OVER (PARTITION BY user_id
      |                 ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)
      |               AS BIGINT) AS session_seq
      |      FROM s)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |       MAX(tus) - MIN(tus) AS dur_us, ROUND(SUM(value), 4) AS sv
      |FROM g GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  private val q58Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 3
      |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |                     i -> array_to_string(toks[i:i+2], ' ')))
      |              ELSE [] END AS sh
      |  FROM d),
      |c AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id < 450),
      |p AS (SELECT doc_id AS probe_id, sh FROM sh WHERE doc_id >= 450),
      |pi AS (SELECT probe_id, unnest(sh) AS s FROM p),
      |ps AS (SELECT probe_id, len(sh) AS n_probe FROM p),
      |j AS (SELECT c.doc_id, pi.probe_id, COUNT(*) AS shared
      |      FROM c JOIN pi USING (s) GROUP BY 1, 2)
      |SELECT doc_id, probe_id,
      |       CAST(ROUND((shared::DOUBLE / n_probe) * 1e6, 0) AS BIGINT) AS cont_e6
      |FROM j JOIN ps USING (probe_id)
      |WHERE shared * 1.0 / n_probe >= 0.3::DOUBLE
      |ORDER BY doc_id, probe_id""".stripMargin

  private val q59Sql: String =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT label,
      |       ROUND(AVG(v[1]), 6) AS c1,
      |       ROUND(AVG(v[33]), 6) AS c33,
      |       ROUND(AVG(v[64]), 6) AS c64,
      |       COUNT(*) AS n
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  private val q60Sql: String =
    """WITH r AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
      |b AS (SELECT CASE WHEN hi = lo THEN 0
      |             ELSE LEAST(19, CAST(FLOOR((value - lo) /
      |                  ((hi - lo) / 20.0)) AS INT)) END AS bin
      |      FROM events, r)
      |SELECT bin, COUNT(*) AS n FROM b GROUP BY bin ORDER BY bin""".stripMargin

  private val q61Sql: String =
    """WITH r AS (SELECT event_type, value,
      |             NTILE(4) OVER (PARTITION BY event_type
      |                 ORDER BY value, event_id) AS quartile
      |           FROM events)
      |SELECT event_type, quartile, COUNT(*) AS n,
      |       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
      |FROM r GROUP BY event_type, quartile
      |ORDER BY event_type, quartile""".stripMargin

  private val q62Sql: String =
    """SELECT user_id,
      |       COUNT(*) FILTER (event_type = 'click') AS click,
      |       COUNT(*) FILTER (event_type = 'error') AS error,
      |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |       COUNT(*) FILTER (event_type = 'signup') AS signup,
      |       COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events WHERE user_id < 50
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  private val q63Sql: String =
    s"""WITH RECURSIVE $minhashParityCtes,
       |p AS (SELECT id1, id2 FROM ver WHERE jaccard >= 0.2::DOUBLE),
       |edges AS (SELECT id1 AS es, id2 AS ed FROM p
       |          UNION SELECT id2, id1 FROM p),
       |nodes AS (SELECT DISTINCT es AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.ed, r.lab FROM reach r JOIN edges e ON e.es = r.id),
       |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
       |dr AS (SELECT id FROM cl WHERE id <> cluster_id)
       |SELECT doc_id FROM documents
       |WHERE doc_id < 250 AND doc_id NOT IN (SELECT id FROM dr)
       |ORDER BY doc_id""".stripMargin

  private val q64Sql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT vec_id, v,
      |         list_reduce(list_prepend(0.0::DOUBLE, v),
      |                     (a, x) -> greatest(a, abs(x))) AS amax
      |  FROM e),
      |q AS (
      |  SELECT vec_id, v, amax,
      |         CASE WHEN amax = 0
      |              THEN list_transform(range(1, 65), i -> 0.0::DOUBLE)
      |              ELSE list_transform(range(1, 65),
      |                     i -> floor(v[i] / (amax / 127.0) + 0.5))
      |         END AS qd
      |  FROM a)
      |SELECT vec_id,
      |       CAST(qd[1] AS INT) AS q1,
      |       CAST(qd[33] AS INT) AS q33,
      |       CAST(qd[64] AS INT) AS q64,
      |       CAST(list_reduce(list_prepend(0.0::DOUBLE, qd),
      |                        (a, x) -> a + x) AS BIGINT) AS qsum,
      |       ROUND(amax / 127.0, 6) AS scl,
      |       ROUND(list_reduce(list_prepend(0.0::DOUBLE,
      |               list_transform(range(1, 65),
      |                 i -> abs(v[i] - qd[i] * (amax / 127.0)))),
      |               (a, e) -> a + e) / 64.0, 6) AS mae
      |FROM q ORDER BY vec_id""".stripMargin

  private val q65Sql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT vec_id, v,
      |         list_reduce(list_prepend(0.0::DOUBLE, v),
      |                     (a, x) -> greatest(a, abs(x))) AS amax
      |  FROM e),
      |qz AS (
      |  SELECT vec_id,
      |         CASE WHEN amax = 0
      |              THEN list_transform(range(1, 65), i -> 0::BIGINT)
      |              ELSE list_transform(range(1, 65),
      |                     i -> CAST(floor(v[i] / (amax / 127.0) + 0.5)
      |                               AS BIGINT))
      |         END AS qd
      |  FROM a),
      |ss AS (
      |  SELECT vec_id, qd,
      |         list_reduce(list_prepend(0::BIGINT,
      |             list_transform(qd, x -> x * x)), (a, x) -> a + x) AS qss
      |  FROM qz),
      |sc AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS nid,
      |         CAST(list_reduce(list_prepend(0::BIGINT,
      |                list_transform(range(1, 65), i -> q.qd[i] * c.qd[i])),
      |                (a, x) -> a + x) AS DOUBLE)
      |           / (sqrt(CAST(q.qss AS DOUBLE)) * sqrt(CAST(c.qss AS DOUBLE)))
      |           AS cosq
      |  FROM ss q, ss c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |cand AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |           ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY cosq DESC, nid) AS rk
      |    FROM sc) WHERE rk <= 20),
      |ve AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         """.stripMargin.stripSuffix("\n") + sqlNorm("(embedding::DOUBLE[])") +
    """ AS nm
      |  FROM embeddings),
      |rr AS (
      |  SELECT cand.qid, cand.nid,
      |         """.stripMargin.stripSuffix("\n") + sqlDot("qe.v", "ce.v") +
    """ / (qe.nm * ce.nm) AS cosim
      |  FROM cand
      |  JOIN ve qe ON qe.vec_id = cand.qid
      |  JOIN ve ce ON ce.vec_id = cand.nid),
      |ranked AS (
      |  SELECT qid, nid, cosim,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |             ORDER BY cosim DESC, nid) AS rk
      |  FROM rr)
      |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM ranked WHERE rk <= 5
      |ORDER BY qid, cosim DESC, nid""".stripMargin

  private val q66Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |         len(regexp_split_to_array(lower(trim(text)), '\s+'))
      |           AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         SUM(n_tokens) OVER (ORDER BY doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      |  FROM tk),
      |sq AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(FLOOR((cs - n_tokens) / 512.0) AS BIGINT) AS seq_id
      |  FROM c)
      |SELECT seq_id, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
      |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM sq GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** Unrolled-iteration oracle for q67: the same quantize CTEs as q64,
    * then per round (distances -> argmin assignment -> grouped integer
    * sums -> floor(sum/n + 0.5) centroids with empty-cluster
    * carry-over), then a final assignment + per-cluster summary. All
    * integer arithmetic, so aggregation order cannot perturb it. */
  private val kmeansAfCtes: String = {
    val k = 8
    val iters = 3
    val sb = new StringBuilder
    sb.append(
      """e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |am AS (
        |  SELECT vec_id, v,
        |         list_reduce(list_prepend(0.0::DOUBLE, v),
        |                     (a, x) -> greatest(a, abs(x))) AS amax
        |  FROM e),
        |qz AS (
        |  SELECT vec_id,
        |         CASE WHEN amax = 0
        |              THEN list_transform(range(1, 65), i -> 0::BIGINT)
        |              ELSE list_transform(range(1, 65),
        |                     i -> CAST(floor(v[i] / (amax / 127.0) + 0.5)
        |                               AS BIGINT))
        |         END AS qd
        |  FROM am),
        |qup AS (
        |  SELECT vec_id, i AS pos, qd[i] AS qv
        |  FROM qz, range(1, 65) t(i)),
        |sel AS (
        |  SELECT qd, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM qz),
        |c0 AS (
        |  SELECT rn - 1 AS cid, i AS pos, qd[i] AS val
        |  FROM sel, range(1, 65) t(i) WHERE rn <= """.stripMargin + k + ")")
    def assignCtes(tag: String, cents: String): String =
      s""",
         |d$tag AS (
         |  SELECT q.vec_id, c.cid,
         |         SUM((q.qv - c.val) * (q.qv - c.val)) AS d
         |  FROM qup q JOIN $cents c ON c.pos = q.pos
         |  GROUP BY q.vec_id, c.cid),
         |a$tag AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY d, cid) AS rk
         |    FROM d$tag) WHERE rk = 1)""".stripMargin
    for (it <- 1 to iters) {
      sb.append(assignCtes(it.toString, s"c${it - 1}"))
      sb.append(
        s""",
           |n$it AS (
           |  SELECT a.cid, q.pos, SUM(q.qv) AS s, COUNT(*) AS n
           |  FROM a$it a JOIN qup q USING (vec_id)
           |  GROUP BY a.cid, q.pos),
           |c$it AS (
           |  SELECT o.cid, o.pos,
           |         COALESCE(CAST(FLOOR(CAST(n.s AS DOUBLE) / n.n + 0.5)
           |                       AS BIGINT), o.val) AS val
           |  FROM c${it - 1} o LEFT JOIN n$it n
           |    ON n.cid = o.cid AND n.pos = o.pos)""".stripMargin)
    }
    sb.append(assignCtes("f", s"c$iters"))
    sb.toString
  }

  private val q67Sql: String =
    s"""WITH $kmeansAfCtes
       |SELECT a.cid, COUNT(*) AS n,
       |       CAST(FLOOR(CAST(SUM(z.qd[1]) AS DOUBLE) / COUNT(*) + 0.5)
       |            AS BIGINT) AS c1,
       |       CAST(FLOOR(CAST(SUM(z.qd[33]) AS DOUBLE) / COUNT(*) + 0.5)
       |            AS BIGINT) AS c33,
       |       CAST(FLOOR(CAST(SUM(z.qd[64]) AS DOUBLE) / COUNT(*) + 0.5)
       |            AS BIGINT) AS c64
       |FROM af a JOIN qz z USING (vec_id)
       |GROUP BY a.cid ORDER BY a.cid""".stripMargin

  /** q68 oracle: the k-means chain, then within-cluster cosine pairs
    * (same left-fold dot as the Spark side — bit-identical doubles at
    * the threshold compare) and the keep-smallest-id rule. */
  private val q68Sql: String =
    s"""WITH $kmeansAfCtes,
       |ve AS (SELECT vec_id, ${"embedding::DOUBLE[]"} AS v,
       |              ${sqlNorm("(embedding::DOUBLE[])")} AS nm
       |       FROM embeddings),
       |dr AS (
       |  SELECT DISTINCT a2.vec_id AS id
       |  FROM af a1 JOIN af a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN ve e1 ON e1.vec_id = a1.vec_id
       |  JOIN ve e2 ON e2.vec_id = a2.vec_id
       |  WHERE ${sqlDot("e1.v", "e2.v")} / (e1.nm * e2.nm) >= 0.4)
       |SELECT a.vec_id AS id, a.cid FROM af a
       |WHERE a.vec_id NOT IN (SELECT id FROM dr)
       |ORDER BY a.vec_id""".stripMargin

  private val q69Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |fr AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |       CAST(SUM(c) AS BIGINT) AS freq_sum,
      |       MIN(c) AS freq_min,
      |       ROUND(ln(total) - SUM(ln(CAST(c AS DOUBLE))) / COUNT(*), 4)
      |         AS surp
      |FROM tok JOIN fr USING (t), n
      |GROUP BY doc_id, total ORDER BY doc_id""".stripMargin

  private val q70Sql: String =
    s"""WITH $minhashParityCtes
       |SELECT id1, id2, ${sqlE6("jaccard")} AS jacc_e6 FROM ver
       |WHERE jaccard >= 0.2::DOUBLE AND (id1 >= 150 OR id2 >= 150)
       |ORDER BY id1, id2""".stripMargin

  private val q71Sql: String = {
    val S = 3600000000L // 1 h in micros
    s"""WITH s0 AS (
       |  SELECT event_type AS k, epoch_us(ts) AS ts, MIN(value) AS v
       |  FROM events GROUP BY 1, 2),
       |st AS (SELECT k, MIN(ts) AS mn, MAX(ts) AS mx FROM s0 GROUP BY k),
       |gr AS (
       |  SELECT k, unnest(generate_series(
       |           mn + (((-mn) % $S) + $S) % $S,
       |           mx - ((mx % $S) + $S) % $S, $S)) AS ts
       |  FROM st
       |  WHERE mn + (((-mn) % $S) + $S) % $S
       |        <= mx - ((mx % $S) + $S) % $S),
       |u AS (
       |  SELECT k, ts, v, 1 AS is_sample FROM s0
       |  UNION ALL
       |  SELECT k, ts, NULL, 0 FROM gr),
       |w AS (
       |  SELECT k, ts, is_sample,
       |    LAST_VALUE(CASE WHEN is_sample = 1 AND v IS NOT NULL THEN ts END
       |               IGNORE NULLS)
       |      OVER (PARTITION BY k ORDER BY ts, is_sample DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1,
       |    LAST_VALUE(v IGNORE NULLS)
       |      OVER (PARTITION BY k ORDER BY ts, is_sample DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v1,
       |    FIRST_VALUE(CASE WHEN is_sample = 1 AND v IS NOT NULL THEN ts END
       |                IGNORE NULLS)
       |      OVER (PARTITION BY k ORDER BY ts, is_sample DESC
       |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t2,
       |    FIRST_VALUE(v IGNORE NULLS)
       |      OVER (PARTITION BY k ORDER BY ts, is_sample DESC
       |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v2
       |  FROM u)
       |SELECT k AS event_type, ts,
       |       ROUND(CASE WHEN t2 IS NULL THEN v1
       |                  ELSE v1 + (v2 - v1) *
       |                       (CAST(ts - t1 AS DOUBLE) /
       |                        CAST(t2 - t1 AS DOUBLE)) END, 6) AS v
       |FROM w WHERE is_sample = 0 ORDER BY event_type, ts""".stripMargin
  }

  private val q72Sql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |             ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
      |                      doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 15 ORDER BY doc_id""".stripMargin

  private val q73Sql: String = {
    s"""WITH RECURSIVE qd0 AS (
       |  SELECT doc_id, text, source,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id, text, source,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM qd0),
       |qq AS (
       |  SELECT doc_id, text, source FROM qm
       |  WHERE ROUND((LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
       |               (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0, 6) >= 0.87),
       |kept AS (
       |  SELECT MIN(doc_id) AS doc_id FROM qq GROUP BY md5(lower(trim(text)))),
       |ke AS (
       |  SELECT q.doc_id, q.text, q.source
       |  FROM kept k JOIN qq q ON k.doc_id = q.doc_id),
       |${minhashParityCtesFrom("ke")},
       |pp AS (SELECT id1, id2 FROM ver WHERE jaccard >= 0.2::DOUBLE),
       |edges AS (SELECT id1 AS es, id2 AS ed FROM pp
       |          UNION SELECT id2, id1 FROM pp),
       |nodes AS (SELECT DISTINCT es AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.ed, r.lab FROM reach r JOIN edges e ON e.es = r.id),
       |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
       |dr AS (SELECT id FROM cl WHERE id <> cluster_id),
       |surv AS (SELECT doc_id, source FROM ke
       |         WHERE doc_id NOT IN (SELECT id FROM dr)),
       |capped AS (
       |  SELECT doc_id, source FROM (
       |    SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM surv) WHERE rk <= 10),
       |hh AS (SELECT source,
       |              ${sqlHex32("md5('graft:' || doc_id::VARCHAR)")} AS hv
       |       FROM capped),
       |spl AS (SELECT source, ${splitCaseSql(SplitWeights)} AS split
       |        FROM hh)
       |SELECT split, source, COUNT(*) AS n FROM spl
       |GROUP BY split, source ORDER BY split, source""".stripMargin
  }

  /** Unrolled-round BPE CTE chain shared by q74 (the merge table) and
    * q79 (the encoding): per round, adjacent-pair weighted counts ->
    * best pair (cnt desc, pair asc) -> greedy left-to-right merge via
    * the same leading-space string fold as the Spark side. `wf` is
    * the word-frequency table, `s$r` the per-word symbol arrays after
    * round r, `b$r` round r's winning pair. */
  private def bpeCtes(n: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """wf AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY w),
        |s0 AS (
        |  SELECT w, c, list_transform(range(1, length(w) + 1),
        |           i -> substr(w, i, 1)) AS s
        |  FROM wf)""".stripMargin)
    for (r <- 1 to n) {
      sb.append(
        s""",
           |e$r AS (
           |  SELECT c, unnest(list_transform(range(1, len(s)),
           |           j -> s[j] || ' ' || s[j + 1])) AS pair
           |  FROM s${r - 1}),
           |p$r AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt
           |        FROM e$r GROUP BY pair),
           |b$r AS (
           |  SELECT pair, cnt, split_part(pair, ' ', 1) AS a,
           |         split_part(pair, ' ', 2) AS b
           |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
           |s$r AS (
           |  SELECT w, c, string_split(trim(
           |    list_reduce(list_prepend(' ', s), (acc, x) ->
           |      CASE WHEN x = b.b AND ends_with(acc, ' ' || b.a)
           |           THEN substr(acc, 1, length(acc) - length(b.a) - 1)
           |                || ' ' || b.a || b.b
           |           ELSE acc || ' ' || x END)), ' ') AS s
           |  FROM s${r - 1}, b$r b)""".stripMargin)
    }
    sb.toString
  }

  private val q74Sql: String =
    s"WITH ${bpeCtes(6)}\n" + (1 to 6)
      .map(r => s"SELECT $r AS rank, pair, cnt FROM b$r")
      .mkString("\nUNION ALL ") + "\nORDER BY rank"

  // NB: bpeCtes output contains `||` continuation lines — it must not
  // be interpolated into a string that is then .stripMargin'ed (the
  // outer strip would eat the first `|` of `||`).
  private val q79Sql: String =
    s"WITH ${bpeCtes(6)},\n" +
      """enc AS (SELECT w, CAST(len(s) AS BIGINT) AS n_sub FROM s6),
        |tk AS (SELECT doc_id, w FROM (
        |         SELECT doc_id,
        |                unnest(regexp_split_to_array(lower(trim(text)),
        |                       '\s+')) AS w
        |         FROM documents) WHERE w <> '')
        |SELECT doc_id, COUNT(*) AS n_toks,
        |       CAST(SUM(n_sub) AS BIGINT) AS n_subwords
        |FROM tk JOIN enc USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val q75Sql: String =
    """WITH ta AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents WHERE doc_id < 250),
      |tb AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents WHERE doc_id >= 250),
      |fa AS (SELECT t, COUNT(*) AS ca FROM ta GROUP BY t),
      |fb AS (SELECT t, COUNT(*) AS cb FROM tb GROUP BY t),
      |j AS (
      |  SELECT COALESCE(fa.t, fb.t) AS t,
      |         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |  FROM fa FULL OUTER JOIN fb ON fa.t = fb.t),
      |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |               CAST(SUM(cb) AS BIGINT) AS nb,
      |               COUNT(*) AS v FROM j)
      |SELECT t, ca, cb,
      |       ROUND(ln((CAST(ca AS DOUBLE) + 1.0) / CAST(na + v AS DOUBLE)) -
      |             ln((CAST(cb AS DOUBLE) + 1.0) / CAST(nb + v AS DOUBLE)), 6)
      |         AS lr
      |FROM j, tot
      |ORDER BY abs(ca - cb) DESC, t LIMIT 20""".stripMargin

  private val q76Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ts[i] AS a, ts[i] || ' ' || ts[i + 1] AS b
      |  FROM (SELECT doc_id, ts,
      |               unnest(generate_series(1, len(ts) - 1)) AS i
      |        FROM tok)),
      |ca AS (SELECT t, COUNT(*) AS ca
      |       FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY t),
      |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vocab FROM ca),
      |cb AS (SELECT b, a, COUNT(*) AS cab FROM bg GROUP BY b, a),
      |pr AS (SELECT b,
      |              -ln((CAST(cab AS DOUBLE) + 1.0) /
      |                  (CAST(ca AS DOUBLE) + vocab)) AS nll
      |       FROM cb JOIN ca ON cb.a = ca.t, v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       ROUND(SUM(nll) / COUNT(*), 4) AS nll
      |FROM bg JOIN pr USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val q77Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, pos,
      |         ts[pos] || ' ' || ts[pos + 1] || ' ' || ts[pos + 2] AS g
      |  FROM (SELECT doc_id, ts,
      |               unnest(generate_series(1, len(ts) - 2)) AS pos
      |        FROM tok)),
      |dup AS (SELECT g FROM gr GROUP BY g
      |        HAVING COUNT(DISTINCT doc_id) >= 2),
      |cv AS (SELECT doc_id, COUNT(DISTINCT cp) AS n_cov
      |       FROM (SELECT doc_id,
      |                    unnest(generate_series(pos, pos + 2)) AS cp
      |             FROM gr WHERE g IN (SELECT g FROM dup))
      |       GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_toks,
      |       COALESCE(cv.n_cov, 0) AS n_cov,
      |       CAST(ROUND((CAST(COALESCE(cv.n_cov, 0) AS DOUBLE) /
      |             CAST(len(t.ts) AS BIGINT)) * 1e6, 0) AS BIGINT) AS dup_frac_e6
      |FROM tok t LEFT JOIN cv ON t.doc_id = cv.doc_id
      |ORDER BY t.doc_id""".stripMargin

  private val q78Sql: String =
    s"""WITH c AS (SELECT source, COUNT(*) AS n_total
       |           FROM documents GROUP BY source),
       |tw AS (SELECT SUM(pow(CAST(n_total AS DOUBLE), 0.5)) AS w FROM c),
       |r AS (SELECT source,
       |             CAST(FLOOR(LEAST(1.0,
       |               300.0 * pow(CAST(n_total AS DOUBLE), 0.5) / w /
       |                 CAST(n_total AS DOUBLE)) * 4294967296.0)
       |               AS BIGINT) AS cut
       |      FROM c, tw),
       |k AS (SELECT d.source, COUNT(*) AS n_kept
       |      FROM documents d JOIN r USING (source)
       |      WHERE ${sqlHex32("md5('mix:' || doc_id::VARCHAR)")} < cut
       |      GROUP BY d.source)
       |SELECT c.source, c.n_total, COALESCE(k.n_kept, 0) AS n_kept
       |FROM c LEFT JOIN k ON c.source = k.source
       |ORDER BY c.source""".stripMargin

  private val q80Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |fr AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
      |tp AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank
      |       FROM fr ORDER BY c DESC, t LIMIT 100)
      |SELECT COUNT(*) AS n_terms,
      |       ROUND(regr_slope(ln(CAST(c AS DOUBLE)),
      |                        ln(CAST(rank AS DOUBLE))), 6) AS slope,
      |       ROUND(regr_intercept(ln(CAST(c AS DOUBLE)),
      |                            ln(CAST(rank AS DOUBLE))), 6) AS icept
      |FROM tp ORDER BY n_terms""".stripMargin

  private val q81Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang AS label,
      |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |ct AS (SELECT label, t, COUNT(*) AS c FROM tok GROUP BY label, t),
      |tl AS (SELECT label, CAST(SUM(c) AS DOUBLE) AS tot
      |       FROM ct GROUP BY label),
      |pr AS (SELECT lang AS label, CAST(COUNT(*) AS DOUBLE) AS nd
      |       FROM documents GROUP BY lang),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd_all FROM documents),
      |vv AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs FROM tok),
      |dt AS (SELECT doc_id, t, COUNT(*) AS cnt
      |       FROM tok GROUP BY doc_id, t),
      |s0 AS (SELECT dt.doc_id, tl.label,
      |              SUM(cnt * ln((COALESCE(ct.c, 0) + 1.0) /
      |                           (tl.tot + vv.vs))) AS s
      |       FROM dt
      |       CROSS JOIN tl
      |       LEFT JOIN ct ON ct.label = tl.label AND ct.t = dt.t
      |       CROSS JOIN vv
      |       GROUP BY dt.doc_id, tl.label, tl.tot, vv.vs),
      |sc AS (SELECT s0.doc_id, s0.label,
      |              ln(pr.nd / nn.nd_all) + s0.s AS s
      |       FROM s0 JOIN pr USING (label) CROSS JOIN nn),
      |best AS (SELECT doc_id, label AS pred, ROUND(s, 4) AS scr,
      |                ROW_NUMBER() OVER (PARTITION BY doc_id
      |                  ORDER BY ROUND(s, 4) DESC, label) AS rn
      |         FROM sc)
      |SELECT b.doc_id, d.lang AS label, b.pred, b.scr
      |FROM best b JOIN documents d USING (doc_id)
      |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin

  private val q82Sql: String = {
    val d = 64
    val iters = (1 to 8).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      // normalize via a window over w_k, NOT a scalar subquery: DuckDB
      // inlines (does not materialize) CTEs, so a second reference to
      // w_k would double the whole upstream chain per iteration —
      // exponential re-evaluation (measured: hangs at 8 iterations)
      s"""w$k AS (SELECT c.i, SUM(c.v * p.x) AS x
         |        FROM cov c JOIN $prev p ON p.i = c.j GROUP BY c.i),
         |v$k AS (SELECT i, x / sqrt(SUM(x * x) OVER ()) AS x FROM w$k)"""
    }.mkString(",\n")
    s"""WITH idx AS (SELECT unnest(generate_series(1, $d)) AS i),
       |xe AS (SELECT vec_id, i, embedding[i]::DOUBLE AS x
       |       FROM embeddings, idx),
       |mu AS (SELECT i, AVG(x) AS m FROM xe GROUP BY i),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
       |gr AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS g
       |       FROM xe a JOIN xe b USING (vec_id) GROUP BY a.i, b.i),
       |cov AS (SELECT gr.i, gr.j,
       |               ROUND(gr.g / nn.n - ma.m * mb.m, 6) AS v
       |        FROM gr JOIN mu ma ON ma.i = gr.i
       |        JOIN mu mb ON mb.i = gr.j CROSS JOIN nn),
       |v0 AS (SELECT i, 1.0 / sqrt(${d}.0) AS x FROM idx),
       |$iters,
       |pj AS (SELECT x.vec_id, SUM(x.x * v.x) AS dp
       |       FROM xe x JOIN v8 v USING (i) GROUP BY x.vec_id),
       |off AS (SELECT SUM(m.m * v.x) AS o FROM mu m JOIN v8 v USING (i))
       |SELECT pj.vec_id AS id, ROUND(pj.dp - off.o, 4) AS pc1
       |FROM pj CROSS JOIN off ORDER BY id""".stripMargin
  }

  // The CASE gate mirrors StatsOps.winsorize's NULL contract exactly:
  // DuckDB's LEAST/GREATEST SKIP NULLs, so without it a NULL value
  // would clamp to the low bound here while the operator returns NULL
  // (latent false parity failure on any corpus with NULLs); the LEFT
  // JOIN likewise matches the operator's all-NULL-key behavior.
  private val q83Sql: String =
    """WITH b AS (SELECT event_type,
      |                  quantile_cont(value, 0.05) AS lo,
      |                  quantile_cont(value, 0.95) AS hi
      |           FROM events GROUP BY event_type)
      |SELECT e.event_id,
      |       CASE WHEN e.value IS NULL OR b.lo IS NULL THEN NULL
      |            ELSE ROUND(LEAST(b.hi, GREATEST(b.lo, e.value)), 6)
      |       END AS clipped
      |FROM events e LEFT JOIN b USING (event_type)
      |ORDER BY e.event_id""".stripMargin

  private val q84Sql: String = {
    val v = "(embedding::DOUBLE[])"
    val cols = (0 until 8).map(p =>
      s"ROUND(${sqlPlaneProj(v, p)} / sqrt(8.0), 6) AS r${p + 1}")
      .mkString(",\n       ")
    s"""SELECT vec_id AS id,
       |       $cols
       |FROM embeddings ORDER BY id""".stripMargin
  }

  private val q85Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
      |  FROM documents),
      |ct AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c)
      |SELECT doc_id, COUNT(*) AS n_uniq,
      |       ROUND(ln(SUM(k)) - SUM(k * ln(k::DOUBLE)) / SUM(k), 4) AS ent
      |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val q86Sql: String = {
    val b = sqlHex32("md5('cms' || js.j::VARCHAR || ':' || t)")
    s"""WITH tok AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |js AS (SELECT unnest(generate_series(0, 3)) AS j),
       |sk AS (SELECT js.j, $b % 256 AS b, COUNT(*) AS n
       |       FROM tok, js GROUP BY 1, 2),
       |top AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t
       |        ORDER BY c DESC, t LIMIT 20),
       |pr AS (SELECT top.t, top.c, js.j, $b % 256 AS b
       |       FROM top, js)
       |SELECT pr.t, pr.c, MIN(sk.n) AS est
       |FROM pr JOIN sk ON sk.j = pr.j AND sk.b = pr.b
       |GROUP BY pr.t, pr.c
       |ORDER BY pr.c DESC, pr.t""".stripMargin
  }

  private val q87Sql: String =
    """WITH tok AS (
      |  SELECT source,
      |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |ct AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t),
      |corpus AS (SELECT t, SUM(c) AS cc FROM ct GROUP BY t),
      |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
      |       FROM ct GROUP BY source),
      |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v,
      |               CAST(SUM(cc) AS DOUBLE) AS n FROM corpus)
      |SELECT st.source, st.ns AS n_toks,
      |       ROUND(SUM(
      |         ((COALESCE(ct.c, 0) + 1.0) / (st.ns + tot.v)) *
      |         ln(((COALESCE(ct.c, 0) + 1.0) / (st.ns + tot.v)) /
      |            ((corpus.cc + 1.0) / (tot.n + tot.v)))), 6) AS kl
      |FROM corpus CROSS JOIN st CROSS JOIN tot
      |LEFT JOIN ct ON ct.source = st.source AND ct.t = corpus.t
      |GROUP BY st.source, st.ns
      |ORDER BY st.source""".stripMargin

  private val q88Sql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         (epoch_us(ts) // 3600000000) * 3600000000 AS h,
      |         COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |z AS (
      |  SELECT event_type, h, n,
      |         AVG(n) OVER w AS ta,
      |         STDDEV_SAMP(n) OVER w AS ts_
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY h
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, h, n, ROUND((n - ta) / ts_, 4) AS z
      |FROM z WHERE ts_ > 0 AND ABS((n - ta) / ts_) >= 2.0
      |ORDER BY event_type, h""".stripMargin

  private val q89Sql: String =
    """SELECT doc_id AS media_id,
      |       list_reduce(list_transform(range(0, 16),
      |         i -> substr(text, (i * length(text)) // 16 + 1, 1)),
      |         (a, b) -> a || b) AS thumb
      |FROM documents ORDER BY media_id""".stripMargin

  private val q92Sql: String =
    """WITH d AS (SELECT doc_id, text,
      |                  regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |           FROM documents),
      |m AS (SELECT doc_id, n_words, has_bad_word, has_brace, has_lorem,
      |             CASE WHEN len(lines) <= 0 THEN 0.0::DOUBLE
      |                  ELSE len(list_filter(lines,
      |                         l -> regexp_matches(l, '[.!?]\s*$')))::DOUBLE
      |                       / len(lines)
      |             END AS pf
      |      FROM (SELECT doc_id,
      |                   len(toks) AS n_words,
      |                   len(list_filter(toks,
      |                     t -> list_contains(['slow','dup'], t))) > 0 AS has_bad_word,
      |                   contains(text, '{') AS has_brace,
      |                   contains(lower(text), 'lorem ipsum') AS has_lorem,
      |                   list_filter(regexp_split_to_array(text, '\n'),
      |                     l -> len(trim(l)) > 0) AS lines
      |            FROM d))
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |       has_bad_word, has_brace, has_lorem,
      |       CAST(ROUND(pf * 1e6, 0) AS BIGINT) AS punct_line_frac_e6,
      |       (n_words BETWEEN 30 AND 2147483647) AND NOT has_bad_word
      |         AND NOT has_brace AND NOT has_lorem AND pf >= 0.0 AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  private val q95Sql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |           FROM documents),
      |l AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM d),
      |s AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM l),
      |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
      |tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE AS tf FROM tok
      |       WHERE t IN ('data','query','window') GROUP BY doc_id, t),
      |idf AS (SELECT t, ln(1.0 + ((SELECT n FROM s) - nd + 0.5)/(nd + 0.5)) AS idf
      |        FROM (SELECT t, COUNT(*)::DOUBLE AS nd FROM tf GROUP BY t))
      |SELECT tf.doc_id,
      |       ROUND(SUM(idf.idf * tf.tf * 2.2 /
      |                 (tf.tf + 1.2 * (0.25 + 0.75 * l.dl /
      |                                 (SELECT avgdl FROM s)))), 4) AS bm25
      |FROM tf JOIN idf USING (t) JOIN l ON tf.doc_id = l.doc_id
      |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  private val q96Sql: String =
    """WITH d AS (SELECT doc_id, lang,
      |                  regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |           FROM documents),
      |tok AS (SELECT doc_id, lang, unnest(ts) AS t FROM d),
      |cs AS (SELECT t, COUNT(*)::DOUBLE AS c_all,
      |              SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS c_tgt
      |       FROM tok GROUP BY t),
      |tot AS (SELECT SUM(c_all) AS n_all, SUM(c_tgt) AS n_tgt,
      |               COUNT(*)::DOUBLE AS v FROM cs),
      |lr AS (SELECT t, ln((c_tgt + 0.5)/(n_tgt + 0.5*v)) -
      |                 ln((c_all + 0.5)/(n_all + 0.5*v)) AS llr
      |       FROM cs, tot),
      |tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE AS tf FROM tok
      |       GROUP BY doc_id, t)
      |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_toks,
      |       ROUND(SUM(tf.tf * lr.llr), 4) AS dsir_logw
      |FROM tf JOIN lr USING (t) GROUP BY tf.doc_id
      |ORDER BY tf.doc_id""".stripMargin

  private val q97Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, pos,
      |         ts[pos] || ' ' || ts[pos + 1] || ' ' || ts[pos + 2] AS g
      |  FROM (SELECT doc_id, ts,
      |               unnest(generate_series(1, len(ts) - 2)) AS pos
      |        FROM tok)),
      |dup AS (SELECT g FROM gr GROUP BY g
      |        HAVING COUNT(DISTINCT doc_id) >= 2),
      |cov AS (SELECT DISTINCT doc_id, cp
      |        FROM (SELECT doc_id,
      |                     unnest(generate_series(pos, pos + 2)) AS cp
      |              FROM gr WHERE g IN (SELECT g FROM dup))),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS p
      |        FROM tok),
      |kept AS (SELECT pos.doc_id,
      |                COALESCE(string_agg(pos.ts[pos.p], ' ' ORDER BY pos.p),
      |                         '') AS cleaned,
      |                COUNT(pos.p) AS n_kept
      |         FROM pos LEFT JOIN cov
      |           ON pos.doc_id = cov.doc_id AND pos.p = cov.cp
      |         WHERE cov.cp IS NULL
      |         GROUP BY pos.doc_id)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_toks,
      |       COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
      |       md5(COALESCE(k.cleaned, '')) AS cleaned_md5
      |FROM tok t LEFT JOIN kept k ON t.doc_id = k.doc_id
      |ORDER BY t.doc_id""".stripMargin

  private val q98Sql: String =
    """WITH lens AS (SELECT source, doc_id,
      |       len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT
      |         AS n_toks,
      |       md5('tbm:' || doc_id::VARCHAR) AS h
      |  FROM documents),
      |tot AS (SELECT source, SUM(n_toks) AS t_total FROM lens
      |        GROUP BY source),
      |w AS (SELECT source,
      |             CAST(ROUND(pow(t_total::DOUBLE, 0.5) * 1e6) AS BIGINT)
      |               AS w_e6
      |      FROM tot),
      |b AS (SELECT source,
      |             CAST(FLOOR(12000.0 * w_e6 / (SELECT SUM(w_e6) FROM w))
      |               AS BIGINT) AS b_src
      |      FROM w),
      |c AS (SELECT source, doc_id, n_toks,
      |             SUM(n_toks) OVER (PARTITION BY source
      |                               ORDER BY h, doc_id) AS cum
      |      FROM lens)
      |SELECT c.source, COUNT(*) AS n_docs,
      |       CAST(SUM(c.n_toks) AS BIGINT) AS toks_kept
      |FROM c JOIN b USING (source) WHERE c.cum <= b.b_src
      |GROUP BY c.source ORDER BY c.source""".stripMargin

  private val q99Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM d),
       |q AS (SELECT doc_id,
       |        CAST(ROUND((LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
       |               (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 * 1e6, 0)
       |          AS BIGINT) AS q_e6
       |      FROM m),
       |bn AS (SELECT quantile_cont(q_e6, 0.2) AS b1,
       |              quantile_cont(q_e6, 0.4) AS b2,
       |              quantile_cont(q_e6, 0.6) AS b3,
       |              quantile_cont(q_e6, 0.8) AS b4
       |       FROM q),
       |k AS (SELECT doc_id, q_e6,
       |             (CASE WHEN q_e6 > bn.b1 THEN 1 ELSE 0 END +
       |              CASE WHEN q_e6 > bn.b2 THEN 1 ELSE 0 END +
       |              CASE WHEN q_e6 > bn.b3 THEN 1 ELSE 0 END +
       |              CASE WHEN q_e6 > bn.b4 THEN 1 ELSE 0 END) AS bucket
       |      FROM q, bn),
       |f AS (SELECT bucket, q_e6 FROM k
       |      WHERE ${sqlHex32("md5('qmix:' || doc_id::VARCHAR)")} <
       |            CAST(FLOOR((CASE bucket WHEN 0 THEN 0.1 WHEN 1 THEN 0.3
       |                        WHEN 2 THEN 0.5 WHEN 3 THEN 0.7 ELSE 0.9 END)
       |                       * 4294967296.0) AS BIGINT))
       |SELECT bucket, COUNT(*) AS n_kept,
       |       CAST(SUM(q_e6) AS BIGINT) AS q_sum_e6
       |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin

  /** PQ ANN oracle: the q64 quantize CTEs, md5-ordered codeword source
    * vectors sliced into 8 subspace codebooks, exact-integer argmin
    * encoding (ties to the smaller code — the packed-argmin contract),
    * integer ADC scores over the chosen codewords, reconstructed-norm
    * cosine cut at k*oversample, then the q65 float rerank tail. */
  private val q100Sql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT vec_id, v,
      |         list_reduce(list_prepend(0.0::DOUBLE, v),
      |                     (a, x) -> greatest(a, abs(x))) AS amax
      |  FROM e),
      |qz AS (
      |  SELECT vec_id,
      |         CASE WHEN amax = 0
      |              THEN list_transform(range(1, 65), i -> 0::BIGINT)
      |              ELSE list_transform(range(1, 65),
      |                     i -> CAST(floor(v[i] / (amax / 127.0) + 0.5)
      |                               AS BIGINT))
      |         END AS qd
      |  FROM a),
      |cwsrc AS (
      |  SELECT qd,
      |         ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
      |           - 1 AS cidx
      |  FROM qz QUALIFY cidx < 32),
      |sub AS (SELECT unnest(range(0, 8)) AS s),
      |cw AS (
      |  SELECT sub.s, cwsrc.cidx,
      |         list_transform(range(1, 9), i -> cwsrc.qd[sub.s * 8 + i]) AS w
      |  FROM cwsrc, sub),
      |cwn AS (
      |  SELECT s, cidx, w,
      |         list_reduce(list_prepend(0::BIGINT,
      |             list_transform(w, x -> x * x)), (a, x) -> a + x) AS n2
      |  FROM cw),
      |dist AS (
      |  SELECT z.vec_id, c.s, c.cidx, c.n2,
      |         c.n2 - 2 * list_reduce(list_prepend(0::BIGINT,
      |             list_transform(range(1, 9),
      |               i -> z.qd[c.s * 8 + i] * c.w[i])), (a, x) -> a + x) AS d
      |  FROM qz z, cwn c),
      |codes AS (
      |  SELECT vec_id, s, cidx, n2 FROM (
      |    SELECT vec_id, s, cidx, n2,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, s
      |               ORDER BY d, cidx) AS rk
      |    FROM dist) WHERE rk = 1),
      |css AS (SELECT vec_id, CAST(SUM(n2) AS BIGINT) AS css
      |        FROM codes GROUP BY vec_id),
      |qs AS (
      |  SELECT vec_id, qd,
      |         list_reduce(list_prepend(0::BIGINT,
      |             list_transform(qd, x -> x * x)), (a, x) -> a + x) AS qss
      |  FROM qz WHERE vec_id < 25),
      |adc AS (
      |  SELECT q.vec_id AS qid, cd.vec_id AS nid,
      |         CAST(SUM(list_reduce(list_prepend(0::BIGINT,
      |             list_transform(range(1, 9),
      |               i -> q.qd[w.s * 8 + i] * w.w[i])), (a, x) -> a + x))
      |           AS BIGINT) AS adc
      |  FROM qs q
      |  JOIN codes cd ON cd.vec_id <> q.vec_id
      |  JOIN cwn w ON w.s = cd.s AND w.cidx = cd.cidx
      |  GROUP BY q.vec_id, cd.vec_id),
      |sc AS (
      |  SELECT adc.qid, adc.nid,
      |         CAST(adc.adc AS DOUBLE) /
      |           (sqrt(CAST(q.qss AS DOUBLE)) * sqrt(CAST(c.css AS DOUBLE)))
      |           AS cosq
      |  FROM adc
      |  JOIN qs q ON q.vec_id = adc.qid
      |  JOIN css c ON c.vec_id = adc.nid),
      |cand AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |           ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY cosq DESC, nid) AS rk
      |    FROM sc) WHERE rk <= 40),
      |ve AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         """.stripMargin.stripSuffix("\n") +
    sqlNorm("(embedding::DOUBLE[])") +
    """ AS nm
      |  FROM embeddings),
      |rr AS (
      |  SELECT cand.qid, cand.nid,
      |         """.stripMargin.stripSuffix("\n") + sqlDot("qe.v", "ce.v") +
    """ / (qe.nm * ce.nm) AS cosim
      |  FROM cand
      |  JOIN ve qe ON qe.vec_id = cand.qid
      |  JOIN ve ce ON ce.vec_id = cand.nid),
      |ranked AS (
      |  SELECT qid, nid, cosim,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |             ORDER BY cosim DESC, nid) AS rk
      |  FROM rr)
      |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM ranked WHERE rk <= 5
      |ORDER BY qid, cosim DESC, nid""".stripMargin

  // The bloom prune is exact-join-preserving (false negatives are
  // impossible; false positives die in the join), so the oracle is
  // simply the plain join — the physical pruning is pinned by
  // ScaleOpsSpec, not the oracle.
  private val q101Sql: String =
    """SELECT l_returnflag,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(l_quantity) AS BIGINT) AS qty_sum,
      |       COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_custkey % 10 = 0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q40's IVF oracle with the quantizer restricted to the index's
    * build corpus (vec_id < 400): the store's delta path must give the
    * same answer as assigning every vector against that frozen set. */
  private val q102Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, vn AS cn FROM n
       |          WHERE vec_id < 400
       |          ORDER BY md5(vec_id::VARCHAR) LIMIT 16),
       |cs AS (SELECT n.vec_id, n.v, n.vn, cents.cent_id,
       |              ${sqlDot("n.v", "cents.cv")} / (n.vn * cents.cn) AS ccos
       |       FROM n, cents),
       |ca AS (SELECT vec_id, v, vn, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs)
       |       WHERE rk = 1),
       |qa AS (SELECT vec_id, v, vn, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs
       |         WHERE vec_id < 25)
       |       WHERE rk <= 4),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |             ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |      FROM qa q JOIN ca c USING (cent_id) WHERE c.vec_id <> q.vec_id),
       |r AS (SELECT qid, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, nid) AS rk
       |      FROM p)
       |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM r WHERE rk <= 5
       |ORDER BY qid, cosim DESC, nid""".stripMargin

  private val q103Sql: String =
    s"""WITH h AS (SELECT event_type, event_id, value,
       |                  ${sqlHex32("md5('sq:' || event_id::VARCHAR)")} AS h
       |           FROM events WHERE value IS NOT NULL),
       |r AS (SELECT event_type, value,
       |             ROW_NUMBER() OVER (PARTITION BY event_type
       |                 ORDER BY h, event_id) AS rk
       |      FROM h),
       |s AS (SELECT event_type, value FROM r WHERE rk <= 256)
       |SELECT event_type,
       |       ${sqlE6("quantile_cont(value, 0.5)")} AS p50_e6,
       |       ${sqlE6("quantile_cont(value, 0.9)")} AS p90_e6,
       |       ${sqlE6("quantile_cont(value, 0.99)")} AS p99_e6
       |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // value IS NOT NULL mirrors the aggregate's null-skip contract (no
  // NULLs in the testdata, but the gate must not diverge if some land)
  private val q104Sql: String =
    """WITH r AS (SELECT event_type, event_id, value,
      |                  ROW_NUMBER() OVER (PARTITION BY event_type
      |                      ORDER BY value DESC, event_id) AS rk
      |           FROM events WHERE value IS NOT NULL)
      |SELECT event_type, CAST(rk AS INT) AS rk,
      |       CAST(ROUND(value * 1e6, 0) AS BIGINT) AS value_e6, event_id
      |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin

  /** IVF-PQ oracle: q40's cell-assignment/probe CTEs composed with
    * q100's quantize/codebook/ADC CTEs — the ADC pair join is
    * restricted to (query probe cell = corpus cell), then the q65
    * rerank tail. */
  private val q105Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, vn AS cn FROM n
       |          ORDER BY md5(vec_id::VARCHAR) LIMIT 16),
       |cs AS (SELECT n.vec_id, n.vn, cents.cent_id,
       |              ${sqlDot("n.v", "cents.cv")} / (n.vn * cents.cn) AS ccos
       |       FROM n, cents),
       |ca AS (SELECT vec_id, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs)
       |       WHERE rk = 1),
       |qa AS (SELECT vec_id, cent_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY ccos DESC, cent_id) AS rk FROM cs
       |         WHERE vec_id < 25)
       |       WHERE rk <= 4),
       |a8 AS (
       |  SELECT vec_id, v,
       |         list_reduce(list_prepend(0.0::DOUBLE, v),
       |                     (a, x) -> greatest(a, abs(x))) AS amax
       |  FROM e),
       |qz AS (
       |  SELECT vec_id,
       |         CASE WHEN amax = 0
       |              THEN list_transform(range(1, 65), i -> 0::BIGINT)
       |              ELSE list_transform(range(1, 65),
       |                     i -> CAST(floor(v[i] / (amax / 127.0) + 0.5)
       |                               AS BIGINT))
       |         END AS qd
       |  FROM a8),
       |cwsrc AS (
       |  SELECT qd,
       |         ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
       |           - 1 AS cidx
       |  FROM qz QUALIFY cidx < 32),
       |sub AS (SELECT unnest(range(0, 8)) AS s),
       |cw AS (
       |  SELECT sub.s, cwsrc.cidx,
       |         list_transform(range(1, 9), i -> cwsrc.qd[sub.s * 8 + i]) AS w
       |  FROM cwsrc, sub),
       |cwn AS (
       |  SELECT s, cidx, w,
       |         list_reduce(list_prepend(0::BIGINT,
       |             list_transform(w, x -> x * x)), (a, x) -> a + x) AS n2
       |  FROM cw),
       |dist AS (
       |  SELECT z.vec_id, c.s, c.cidx, c.n2,
       |         c.n2 - 2 * list_reduce(list_prepend(0::BIGINT,
       |             list_transform(range(1, 9),
       |               i -> z.qd[c.s * 8 + i] * c.w[i])), (a, x) -> a + x) AS d
       |  FROM qz z, cwn c),
       |codes AS (
       |  SELECT vec_id, s, cidx, n2 FROM (
       |    SELECT vec_id, s, cidx, n2,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |               ORDER BY d, cidx) AS rk
       |    FROM dist) WHERE rk = 1),
       |css AS (SELECT vec_id, CAST(SUM(n2) AS BIGINT) AS css
       |        FROM codes GROUP BY vec_id),
       |qs AS (
       |  SELECT vec_id, qd,
       |         list_reduce(list_prepend(0::BIGINT,
       |             list_transform(qd, x -> x * x)), (a, x) -> a + x) AS qss
       |  FROM qz WHERE vec_id < 25),
       |adc AS (
       |  SELECT q.vec_id AS qid, cd.vec_id AS nid,
       |         CAST(SUM(list_reduce(list_prepend(0::BIGINT,
       |             list_transform(range(1, 9),
       |               i -> q.qd[w.s * 8 + i] * w.w[i])), (a, x) -> a + x))
       |           AS BIGINT) AS adc
       |  FROM qs q
       |  JOIN qa ON qa.vec_id = q.vec_id
       |  JOIN ca ON ca.cent_id = qa.cent_id
       |  JOIN codes cd ON cd.vec_id = ca.vec_id AND cd.vec_id <> q.vec_id
       |  JOIN cwn w ON w.s = cd.s AND w.cidx = cd.cidx
       |  GROUP BY q.vec_id, cd.vec_id),
       |sc AS (
       |  SELECT adc.qid, adc.nid,
       |         CAST(adc.adc AS DOUBLE) /
       |           (sqrt(CAST(q.qss AS DOUBLE)) * sqrt(CAST(c.css AS DOUBLE)))
       |           AS cosq
       |  FROM adc
       |  JOIN qs q ON q.vec_id = adc.qid
       |  JOIN css c ON c.vec_id = adc.nid),
       |cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY cosq DESC, nid) AS rk
       |    FROM sc) WHERE rk <= 40),
       |rr AS (
       |  SELECT cand.qid, cand.nid,
       |         ${sqlDot("qe.v", "ce.v")} / (qe.vn * ce.vn) AS cosim
       |  FROM cand
       |  JOIN n qe ON qe.vec_id = cand.qid
       |  JOIN n ce ON ce.vec_id = cand.nid),
       |ranked AS (
       |  SELECT qid, nid, cosim,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |             ORDER BY cosim DESC, nid) AS rk
       |  FROM rr)
       |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM ranked WHERE rk <= 5
       |ORDER BY qid, cosim DESC, nid""".stripMargin

  private val q106Sql: String = {
    val marginStructs = (0 until 4).map(p =>
      s"{'m': ABS(${sqlPlaneProj("v", p)}), 'p': $p}").mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |b AS (SELECT vec_id, v, vn, ${sqlBucket("v", 4)} AS bucket FROM n),
       |qm AS (SELECT vec_id, bucket,
       |       unnest([$marginStructs]) AS mp
       |       FROM b WHERE vec_id < 50),
       |fr AS (SELECT vec_id, bucket, mp.p AS p,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id
       |                  ORDER BY mp.m, mp.p) AS rk
       |       FROM qm),
       |probes AS (SELECT vec_id, bucket FROM b WHERE vec_id < 50
       |           UNION ALL
       |           SELECT vec_id, xor(bucket, CAST(1 AS BIGINT) << p)
       |             AS bucket
       |           FROM fr WHERE rk <= 3),
       |s AS (SELECT p.vec_id AS qid, c.vec_id AS nid,
       |             ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |      FROM probes p
       |      JOIN b q ON q.vec_id = p.vec_id
       |      JOIN b c ON c.bucket = p.bucket
       |      WHERE c.vec_id <> p.vec_id),
       |r AS (SELECT qid, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |                 ORDER BY cosim DESC, nid) AS rk
       |      FROM s)
       |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM r WHERE rk <= 5
       |ORDER BY qid, cosim DESC, nid""".stripMargin
  }

  private val q107Sql: String =
    Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
      s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
         |       COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS ndv,
         |       CAST(MIN($c) AS VARCHAR) AS min_str,
         |       CAST(MAX($c) AS VARCHAR) AS max_str
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** Priority sampling: u = hex32(md5) + 1 and ONE IEEE division of
    * two exact integers — the priority doubles are bit-identical
    * across engines, so the top-10 cut and the e12 pin both agree. */
  private val q108Sql: String =
    s"""WITH w AS (
       |  SELECT lang, doc_id,
       |         CAST(n_chars AS DOUBLE) /
       |           CAST(${sqlHex32("md5('ps:' || doc_id::VARCHAR)")} + 1
       |                AS DOUBLE) AS pri
       |  FROM documents
       |  WHERE n_chars IS NOT NULL AND n_chars > 0),
       |r AS (SELECT lang, doc_id, pri,
       |             ROW_NUMBER() OVER (PARTITION BY lang
       |                 ORDER BY pri DESC, doc_id) AS rk
       |      FROM w)
       |SELECT lang, doc_id, CAST(ROUND(pri * 1e12, 0) AS BIGINT) AS pri_e12
       |FROM r WHERE rk <= 10
       |ORDER BY lang, pri_e12 DESC, doc_id""".stripMargin

  /** Banded hyperplane LSH replica: 8 per-band bucket projections
    * (planes 4b..4b+3), bucket-size gate, within-bucket pairs, exact
    * cosine verify — the same candidate set as the Spark side. */
  private val q109Sql: String = {
    val bandSelects = (0 until 8).map(b =>
      s"SELECT vec_id, $b AS band, ${sqlBucket("v", 4, b * 4)} AS bucket FROM n")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |bands AS ($bandSelects),
       |ok AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |       HAVING COUNT(*) BETWEEN 2 AND 1000),
       |pairs AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |          FROM bands a
       |          JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |            AND a.vec_id < b.vec_id
       |          JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket),
       |vf AS (SELECT p.id1, p.id2,
       |              ${sqlDot("x.v", "y.v")} / (x.vn * y.vn) AS cosim
       |       FROM pairs p
       |       JOIN n x ON x.vec_id = p.id1
       |       JOIN n y ON y.vec_id = p.id2)
       |SELECT id1, id2, ROUND(cosim, 6) AS cos FROM vf WHERE cosim >= 0.35
       |ORDER BY id1, id2""".stripMargin
  }

  /** Z-order replica: the same exact-integer quantize (clamp, shift,
    * subtract-remainder floor-div) and bit interleave, in DuckDB
    * integer operators. */
  private val q110Sql: String = {
    val colSpecs = Seq(("l_orderkey", 0L, 16383L), ("l_partkey", 0L, 2047L),
      ("l_suppkey", 0L, 127L))
    val bits = 8
    val cells = colSpecs.map { case (c, mn, mx) =>
      val den = mx - mn + 1
      val a = s"((LEAST(GREATEST(CAST($c AS BIGINT), $mn), $mx) - $mn) << $bits)"
      s"(($a - $a % $den) // $den)"
    }
    val zkey = (0 until bits).flatMap { i =>
      cells.indices.map { dim =>
        s"(((c$dim >> $i) & 1) << ${i * 3 + dim})"
      }
    }.mkString(" | ")
    s"""WITH c AS (
       |  SELECT l_orderkey, l_linenumber,
       |         ${cells(0)} AS c0, ${cells(1)} AS c1, ${cells(2)} AS c2
       |  FROM lineitem WHERE l_suppkey < 25)
       |SELECT l_orderkey, l_linenumber, ($zkey) AS zkey
       |FROM c ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
  }

  /** Cross-corpus LSH replica: per-band buckets on both id splits,
    * candidate equi-join, distinct pairs, exact-cosine verify. */
  private val q111Sql: String = {
    def sel(pred: String) = (0 until 8).map(b =>
      s"SELECT vec_id, $b AS band, ${sqlBucket("v", 4, b * 4)} AS bucket FROM n WHERE $pred")
    val cb = sel("vec_id >= 20").mkString("\nUNION ALL\n")
    val pb = sel("vec_id < 20").mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |cb AS ($cb),
       |pb AS ($pb),
       |cand AS (SELECT DISTINCT pb.vec_id AS pid, cb.vec_id AS tid
       |         FROM cb JOIN pb ON cb.band = pb.band
       |           AND cb.bucket = pb.bucket),
       |vf AS (SELECT cand.pid, cand.tid,
       |              ${sqlDot("p.v", "t.v")} / (p.vn * t.vn) AS cosim
       |       FROM cand
       |       JOIN n p ON p.vec_id = cand.pid
       |       JOIN n t ON t.vec_id = cand.tid)
       |SELECT pid, tid, ROUND(cosim, 6) AS cos FROM vf WHERE cosim >= 0.35
       |ORDER BY pid, tid""".stripMargin
  }

  private val q112Sql: String = {
    val stages = Seq("signup", "view", "click", "purchase")
    val win = "WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id " +
      "ROWS UNBOUNDED PRECEDING)"
    val stageCtes = stages.zipWithIndex.map { case (stg, i) =>
      val src = if (i == 0) "e" else s"s${i - 1}"
      val gate =
        if (i == 0) s"event_type = '$stg'"
        else s"event_type = '$stg' AND t${i - 1} <= tus"
      s"""s$i AS (SELECT *, MIN(CASE WHEN $gate THEN tus END) OVER w AS t$i
         |      FROM $src $win)""".stripMargin
    }.mkString(",\n")
    val mins = stages.indices.map(i => s"MIN(t$i) AS t$i").mkString(", ")
    val cnts = stages.indices.map(i => s"COUNT(t$i) AS c$i").mkString(", ")
    val rows = stages.zipWithIndex.map { case (stg, i) =>
      s"""SELECT $i AS stage_idx, '$stg' AS stage, c$i AS n_entities,
         |       CASE WHEN c0 > 0
         |            THEN CAST(ROUND((c$i::DOUBLE / c0) * 1e6, 0) AS BIGINT)
         |            ELSE 0 END AS conv_e6
         |FROM c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
       |           FROM events),
       |$stageCtes,
       |u AS (SELECT user_id, $mins FROM s${stages.size - 1} GROUP BY user_id),
       |c AS (SELECT $cnts FROM u)
       |$rows
       |ORDER BY stage_idx""".stripMargin
  }

  private val q113Sql: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |                  epoch_us(ts) // 86400000000 AS bucket
      |           FROM events),
      |c AS (SELECT user_id, MIN(bucket) AS cohort FROM a GROUP BY user_id)
      |SELECT c.cohort, a.bucket - c.cohort AS day_offset,
      |       COUNT(*) AS n_active
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q114 oracle: the 5 GD iterations unrolled as a CTE chain, each
    * replaying the exact arithmetic of the Spark loop (z built
    * left-to-right, update = w - (lr*sum)/n). GROUP BY the constant
    * weight columns keeps the per-iteration aggregate one row. */
  private val q114Sql: String = {
    val steps = (1 to 5).map { i =>
      s"""it$i AS (
         |  SELECT b - 1.0 * SUM(p - y) / COUNT(*) AS b,
         |         w1 - 1.0 * SUM((p - y) * x0) / COUNT(*) AS w1,
         |         w2 - 1.0 * SUM((p - y) * x1) / COUNT(*) AS w2
         |  FROM (SELECT y, x0, x1, b, w1, w2,
         |               1.0 / (1.0 + exp(-((b + w1 * x0) + w2 * x1))) AS p
         |        FROM d CROSS JOIN it${i - 1})
         |  GROUP BY b, w1, w2)""".stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT y, len(toks) / 100.0 AS x0,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS x1
       |  FROM d0),
       |it0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2),
       |$steps
       |SELECT ${sqlE6("b")} AS w0_e6, ${sqlE6("w1")} AS w1_e6,
       |       ${sqlE6("w2")} AS w2_e6,
       |       ${sqlE6("SUM(CASE WHEN (((b + w1 * x0) + w2 * x1) >= 0) = (y = 1.0) THEN 1 ELSE 0 END) * 1.0 / COUNT(*)")} AS acc_e6,
       |       COUNT(*) AS n
       |FROM d CROSS JOIN it5
       |GROUP BY b, w1, w2""".stripMargin
  }

  /** q118 oracle: the q114 GD-iteration CTEs with doc_id carried
    * through, then per-doc sigmoid scoring against the it5 weights —
    * the score expression parenthesizes exactly like the Spark side
    * ((b + w1*x0) + w2*x1). */
  private val q118Sql: String = {
    val steps = (1 to 5).map { i =>
      s"""it$i AS (
         |  SELECT b - 1.0 * SUM(p - y) / COUNT(*) AS b,
         |         w1 - 1.0 * SUM((p - y) * x0) / COUNT(*) AS w1,
         |         w2 - 1.0 * SUM((p - y) * x1) / COUNT(*) AS w2
         |  FROM (SELECT y, x0, x1, b, w1, w2,
         |               1.0 / (1.0 + exp(-((b + w1 * x0) + w2 * x1))) AS p
         |        FROM d CROSS JOIN it${i - 1})
         |  GROUP BY b, w1, w2)""".stripMargin
    }.mkString(",\n")
    val score = "1.0 / (1.0 + exp(-((b + w1 * x0) + w2 * x1)))"
    s"""WITH d0 AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, y, len(toks) / 100.0 AS x0,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS x1
       |  FROM d0),
       |it0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2),
       |$steps
       |SELECT doc_id, ${sqlE6(score)} AS score_e6,
       |       CAST(CASE WHEN $score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM d CROSS JOIN it5 ORDER BY doc_id""".stripMargin
  }

  /** q119 oracle: the q109 banded candidate machinery, directed
    * (a <> b instead of a < b), ranked per source node. */
  private val q119Sql: String = {
    val bandSelects = (0 until 8).map(b =>
      s"SELECT vec_id, $b AS band, ${sqlBucket("v", 4, b * 4)} AS bucket FROM n")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |bands AS ($bandSelects),
       |ok AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |       HAVING COUNT(*) BETWEEN 2 AND 1000),
       |cand AS (SELECT DISTINCT a.vec_id AS id, b.vec_id AS nid
       |         FROM bands a
       |         JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |           AND a.vec_id <> b.vec_id
       |         JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket),
       |vf AS (SELECT c.id, c.nid,
       |              ${sqlDot("x.v", "y.v")} / (x.vn * y.vn) AS cosim
       |       FROM cand c
       |       JOIN n x ON x.vec_id = c.id
       |       JOIN n y ON y.vec_id = c.nid),
       |r AS (SELECT id, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY id
       |                 ORDER BY cosim DESC, nid) AS rk
       |      FROM vf)
       |SELECT id, nid, ROUND(cosim, 6) AS cos FROM r WHERE rk <= 3
       |ORDER BY id, cosim DESC, nid""".stripMargin
  }

  /** q120 oracle: the q26/q47 signature + banding CTEs, aggregated to
    * per-band bucket-population moments instead of pairs. All integer
    * outputs. */
  private val q120Sql: String = {
    val sigList = (0 until 8)
      .map(i => s"list_min(list_transform(sh, x -> md5('$i:' || x)))")
      .mkString("[", ", ", "]")
    val bandedUnion = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, md5(sig[${2 * b + 1}] || '|' || sig[${2 * b + 2}]) AS bucket FROM g")
      .mkString("\n  UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |g AS (SELECT doc_id, sh, $sigList AS sig FROM s WHERE len(sh) > 0),
       |banded AS (
       |  $bandedUnion),
       |m AS (SELECT band, bucket, COUNT(*) AS m FROM banded
       |      GROUP BY band, bucket)
       |SELECT band, CAST(SUM(m) AS BIGINT) AS n_docs,
       |       COUNT(*) AS n_buckets,
       |       CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_ge2,
       |       CAST(SUM(m * (m - 1)) // 2 AS BIGINT) AS cand_pairs,
       |       CAST(MAX(m) AS BIGINT) AS max_bucket
       |FROM m GROUP BY band ORDER BY band""".stripMargin
  }

  /** q121 oracle: the HLL register pipeline in integer arithmetic —
    * register = top 8 bits of the 32-bit md5 hash, rho via the
    * minimal-binary length both engines share (`bin`), harmonic sum
    * carried as the exact integer sum of 2^(25-rho). The raw estimate
    * is alpha*m^2*2^25/reg_sum_p — one IEEE multiply+divide on
    * identical operands, so the e6 pin is engine-independent. */
  private val q121Sql: String = {
    val alpha = "0.7213 / (1.0 + 1.079 / 256.0)"
    s"""WITH h AS (
       |  SELECT event_type,
       |         ${sqlHex32("md5('hll:' || user_id::VARCHAR)")} AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, h // 16777216 AS j,
       |         CASE WHEN h % 16777216 = 0 THEN 25
       |              ELSE 25 - len(bin(h % 16777216)) END AS rho
       |  FROM h),
       |m AS (SELECT event_type, j, MAX(rho) AS r FROM r GROUP BY 1, 2),
       |s AS (SELECT event_type, COUNT(*) AS n_regs,
       |             CAST(SUM((1::BIGINT) << (25 - r)) AS BIGINT) AS sp
       |      FROM m GROUP BY 1),
       |x AS (SELECT event_type, n_regs,
       |             sp + (256 - n_regs) * 33554432 AS reg_sum_p
       |      FROM s),
       |c AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       |      FROM events GROUP BY 1)
       |SELECT c.event_type, c.n_exact, x.n_regs, x.reg_sum_p,
       |       ${sqlE6(s"($alpha) * 2199023255552.0 / CAST(x.reg_sum_p AS DOUBLE)")} AS est_raw_e6
       |FROM c JOIN x USING (event_type)
       |ORDER BY c.event_type""".stripMargin
  }

  /** q122 oracle: term frequencies collapse to the distinct-frequency
    * table; the threshold crossing closes in integer arithmetic inside
    * the crossing group (j = ceil((target - cum_before)/n)) — the
    * exact construction of TextOps.vocabCoverage. */
  private val q122Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |tf AS (SELECT t, COUNT(*) AS n FROM tok WHERE t <> '' GROUP BY t),
      |gc AS (SELECT n, COUNT(*) AS g_terms, n * COUNT(*) AS toks
      |       FROM tf GROUP BY n),
      |w AS (
      |  SELECT n, g_terms, toks,
      |         CAST(SUM(toks) OVER (ORDER BY n DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum_end,
      |         CAST(COALESCE(SUM(g_terms) OVER (ORDER BY n DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS terms_before
      |  FROM gc),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tf),
      |th AS (SELECT unnest([50, 90, 95, 99]) AS pct),
      |pick AS (
      |  SELECT th.pct, w.n, w.cum_end - w.toks AS cum_before,
      |         w.terms_before, tot.total
      |  FROM th, w, tot
      |  WHERE w.cum_end * 100 >= tot.total * th.pct
      |    AND (w.cum_end - w.toks) * 100 < tot.total * th.pct),
      |calc AS (
      |  SELECT pct, total,
      |         ((total * pct + 99) // 100 - cum_before + n - 1) // n AS j,
      |         cum_before, terms_before, n
      |  FROM pick)
      |SELECT pct, terms_before + j AS vocab_size,
      |       cum_before + j * n AS cum_tokens, total AS total_tokens
      |FROM calc ORDER BY pct""".stripMargin

  /** Shared gram-table CTE prefix for q123/q124: distinct 2-grams per
    * document under the corpus tokenizer (the q56 segmentation). */
  private val gram2Ctes: String =
    """d AS (
      |  SELECT doc_id, source,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, source,
      |         CASE WHEN len(toks) >= 2
      |              THEN list_distinct(list_transform(range(1, len(toks)),
      |                     i -> array_to_string(toks[i:i+1], ' ')))
      |              ELSE [] END AS grams
      |  FROM d),
      |g AS (SELECT doc_id, source, unnest(grams) AS gram FROM sh)""".stripMargin

  /** q123 oracle: within-source gram document frequency against the
    * per-source doc count; >= 20% flags boilerplate. */
  private val q123Sql: String =
    s"""WITH $gram2Ctes,
       |sn AS (SELECT source, COUNT(*) AS nd FROM documents GROUP BY source),
       |b AS (SELECT source, gram, COUNT(*) AS dfreq FROM g
       |      GROUP BY source, gram),
       |bo AS (SELECT b.source, b.gram FROM b JOIN sn USING (source)
       |       WHERE b.dfreq * 100 >= sn.nd * 20),
       |base AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
       |nb AS (SELECT g.doc_id, COUNT(*) AS n_boiler
       |       FROM g JOIN bo ON g.source = bo.source AND g.gram = bo.gram
       |       GROUP BY g.doc_id)
       |SELECT base.doc_id, base.n_grams,
       |       COALESCE(nb.n_boiler, 0) AS n_boiler,
       |       (COALESCE(nb.n_boiler, 0) * 100 >= base.n_grams * 50)
       |         AS is_template
       |FROM base LEFT JOIN nb USING (doc_id)
       |ORDER BY base.doc_id""".stripMargin

  /** q124 oracle: first-occurrence doc per gram (min doc_id), then the
    * per-doc novel-gram count. */
  private val q124Sql: String =
    s"""WITH $gram2Ctes,
       |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
       |p AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams,
       |         CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_novel
       |  FROM g JOIN f USING (gram) GROUP BY g.doc_id)
       |SELECT doc_id, n_grams, n_novel FROM p ORDER BY doc_id""".stripMargin

  /** q125 oracle: the q67 k-means CTE chain, re-centered on each final
    * cluster's integer mean, exact integer squared distance, farthest-
    * first rank within cluster, top-10% outlier flag. */
  private val q125Sql: String =
    s"""WITH $kmeansAfCtes,
       |cm AS (
       |  SELECT a.cid, q.pos,
       |         CAST(FLOOR(CAST(SUM(q.qv) AS DOUBLE) / COUNT(*) + 0.5)
       |              AS BIGINT) AS val
       |  FROM af a JOIN qup q USING (vec_id)
       |  GROUP BY a.cid, q.pos),
       |dd AS (
       |  SELECT a.vec_id, a.cid,
       |         CAST(SUM((q.qv - m.val) * (q.qv - m.val)) AS BIGINT) AS dist
       |  FROM af a JOIN qup q USING (vec_id)
       |       JOIN cm m ON m.cid = a.cid AND m.pos = q.pos
       |  GROUP BY a.vec_id, a.cid),
       |rk AS (
       |  SELECT vec_id, cid, dist,
       |         ROW_NUMBER() OVER (PARTITION BY cid
       |             ORDER BY dist DESC, vec_id) AS rk,
       |         COUNT(*) OVER (PARTITION BY cid) AS n
       |  FROM dd)
       |SELECT vec_id, cid, dist, rk, n,
       |       (rk * 100 <= n * 10) AS is_outlier
       |FROM rk ORDER BY vec_id""".stripMargin

  /** q132 oracle: the q22 quality arithmetic feeding per-source
    * (quality DESC, doc_id) windows — rank + exclusive token prefix
    * sum + the budget gate, all integers. */
  private val q132Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, source, len(toks) AS n_toks,
      |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
      |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
      |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
      |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
      |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
      |  FROM d),
      |q AS (
      |  SELECT doc_id, source, n_toks,
      |         (LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
      |          (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 AS qual
      |  FROM m),
      |r AS (
      |  SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |             ORDER BY qual DESC, doc_id) AS q_rank,
      |         CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source
      |             ORDER BY qual DESC, doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS cum_before
      |  FROM q)
      |SELECT doc_id, source, n_toks, q_rank, cum_before,
      |       (cum_before < 2000) AS kept
      |FROM r ORDER BY doc_id""".stripMargin

  /** q133 oracle: the q54 component chain, then per cluster the
    * (quality DESC, doc_id) head with the cluster size. */
  private val q133Sql: String =
    s"""WITH RECURSIVE $simhashParityCtes,
       |p AS (SELECT id1, id2 FROM cand WHERE bit_count(xor(s1, s2)) <= 8),
       |edges AS (SELECT id1 AS s, id2 AS dd FROM p
       |          UNION SELECT id2, id1 FROM p),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id),
       |comp AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach
       |         GROUP BY id),
       |dq AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |mq AS (
       |  SELECT doc_id,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
       |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
       |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
       |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
       |  FROM dq),
       |qq AS (
       |  SELECT doc_id,
       |         (LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
       |          (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 AS qual
       |  FROM mq),
       |r AS (
       |  SELECT comp.cluster_id, comp.doc_id, qq.qual,
       |         ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
       |             ORDER BY qq.qual DESC, comp.doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY comp.cluster_id) AS sz
       |  FROM comp JOIN qq USING (doc_id))
       |SELECT cluster_id, doc_id AS rep_id, CAST(sz AS BIGINT) AS size,
       |       ${sqlE6("qual")} AS rep_quality_e6
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** q130 oracle: the q56 bigram counts + unigram counts, association
    * lift via the exact division chain of CurationOps.collocations
    * (identical operand order), TOP-20 by (lift, gram). */
  private val q130Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |uni AS (
      |  SELECT t AS w, COUNT(*) AS cw FROM (
      |    SELECT unnest(toks) AS t FROM d) WHERE t <> '' GROUP BY t),
      |big AS (
      |  SELECT gram, COUNT(*) AS c_ab FROM (
      |    SELECT unnest(CASE WHEN len(toks) >= 2
      |             THEN list_transform(range(1, len(toks)),
      |                    i -> array_to_string(toks[i:i+1], ' '))
      |             ELSE [] END) AS gram
      |    FROM d)
      |  GROUP BY gram HAVING COUNT(*) >= 5),
      |nu AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM uni),
      |nb AS (SELECT CAST(SUM(GREATEST(len(toks) - 1, 0)) AS BIGINT) AS n_big
      |       FROM d),
      |lifted AS (
      |  SELECT big.gram, big.c_ab, a.cw AS c_a, b.cw AS c_b,
      |         CAST(big.c_ab AS DOUBLE) * CAST(nu.n_uni AS DOUBLE) *
      |           CAST(nu.n_uni AS DOUBLE) / CAST(a.cw AS DOUBLE) /
      |           CAST(b.cw AS DOUBLE) / CAST(nb.n_big AS DOUBLE) AS lift
      |  FROM big
      |  JOIN uni a ON a.w = string_split(big.gram, ' ')[1]
      |  JOIN uni b ON b.w = string_split(big.gram, ' ')[2]
      |  CROSS JOIN nu CROSS JOIN nb),
      |top AS (
      |  SELECT gram, c_ab, c_a, c_b,
      |         CAST(ROUND(lift * 1e6, 0) AS BIGINT) AS lift_e6
      |  FROM lifted ORDER BY lift DESC, gram LIMIT 20)
      |SELECT gram, c_ab, c_a, c_b, lift_e6
      |FROM top ORDER BY lift_e6 DESC, gram""".stripMargin

  /** q131 oracle: the q118 GD chain, decile bins over the e6 integer
    * score (binning on the pinned integer can never straddle a
    * cross-engine ulp), per-bin integer aggregates. */
  private val q131Sql: String = {
    val steps = (1 to 5).map { i =>
      s"""it$i AS (
         |  SELECT b - 1.0 * SUM(p - y) / COUNT(*) AS b,
         |         w1 - 1.0 * SUM((p - y) * x0) / COUNT(*) AS w1,
         |         w2 - 1.0 * SUM((p - y) * x1) / COUNT(*) AS w2
         |  FROM (SELECT y, x0, x1, b, w1, w2,
         |               1.0 / (1.0 + exp(-((b + w1 * x0) + w2 * x1))) AS p
         |        FROM d CROSS JOIN it${i - 1})
         |  GROUP BY b, w1, w2)""".stripMargin
    }.mkString(",\n")
    val score = "1.0 / (1.0 + exp(-((b + w1 * x0) + w2 * x1)))"
    s"""WITH d0 AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, y, len(toks) / 100.0 AS x0,
       |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
       |           * 1.0 / GREATEST(len(toks), 1) AS x1
       |  FROM d0),
       |it0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2),
       |$steps,
       |sc AS (
       |  SELECT doc_id, y, ${sqlE6(score)} AS se6
       |  FROM d CROSS JOIN it5),
       |binned AS (
       |  SELECT y, se6,
       |         (ROW_NUMBER() OVER (ORDER BY se6, doc_id) - 1) * 10
       |           // COUNT(*) OVER () AS bin
       |  FROM sc)
       |SELECT bin, COUNT(*) AS n,
       |       CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |       CAST(SUM(se6) AS BIGINT) AS sum_score_e6,
       |       CAST(ROUND(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) /
       |         CAST(COUNT(*) AS DOUBLE) * 1e6, 0) AS BIGINT) AS pos_rate_e6
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** q128 oracle: the q121 register pipeline for every key, pairwise
    * inclusion-exclusion with the union sum decomposed into both-live
    * max terms + one-sided terms + empty-register padding — the exact
    * integer construction of StatsOps.hllIntersect. */
  private val q128Sql: String = {
    val alpha = "0.7213 / (1.0 + 1.079 / 256.0)"
    def raw(c: String) =
      s"($alpha) * 2199023255552.0 / CAST($c AS DOUBLE)"
    s"""WITH h AS (
       |  SELECT event_type,
       |         ${sqlHex32("md5('hll:' || user_id::VARCHAR)")} AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, h // 16777216 AS j,
       |         CASE WHEN h % 16777216 = 0 THEN 25
       |              ELSE 25 - len(bin(h % 16777216)) END AS rho
       |  FROM h),
       |mm AS (SELECT event_type AS k, j, MAX(rho) AS r FROM r GROUP BY 1, 2),
       |tot AS (SELECT k, COUNT(*) AS n,
       |               CAST(SUM((1::BIGINT) << (25 - r)) AS BIGINT) AS sp
       |        FROM mm GROUP BY k),
       |pair AS (
       |  SELECT a.k AS key_a, b.k AS key_b, a.r AS ra2, b.r AS rb2
       |  FROM mm a JOIN mm b ON a.j = b.j AND a.k < b.k),
       |bth AS (
       |  SELECT key_a, key_b,
       |         CAST(SUM((1::BIGINT) << (25 - GREATEST(ra2, rb2))) AS BIGINT) AS spab,
       |         CAST(SUM((1::BIGINT) << (25 - ra2)) AS BIGINT) AS spa_b,
       |         CAST(SUM((1::BIGINT) << (25 - rb2)) AS BIGINT) AS spb_b,
       |         COUNT(*) AS nb
       |  FROM pair GROUP BY 1, 2),
       |x AS (
       |  SELECT key_a, key_b,
       |         ta.sp + (256 - ta.n) * 33554432 AS reg_sum_a,
       |         tb.sp + (256 - tb.n) * 33554432 AS reg_sum_b,
       |         spab + (ta.sp - spa_b) + (tb.sp - spb_b) +
       |           (256 - ta.n - tb.n + nb) * 33554432 AS reg_sum_ab
       |  FROM bth JOIN tot ta ON ta.k = key_a
       |            JOIN tot tb ON tb.k = key_b),
       |ex AS (
       |  SELECT a.event_type AS key_a, b.event_type AS key_b,
       |         COUNT(*) AS n_exact
       |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
       |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT x.key_a, x.key_b, COALESCE(ex.n_exact, 0) AS n_exact,
       |       x.reg_sum_a, x.reg_sum_b, x.reg_sum_ab,
       |       CAST(ROUND(GREATEST(0.0,
       |         ${raw("x.reg_sum_a")} + ${raw("x.reg_sum_b")} -
       |         ${raw("x.reg_sum_ab")}) * 1e6, 0) AS BIGINT) AS inter_raw_e6
       |FROM x LEFT JOIN ex USING (key_a, key_b)
       |ORDER BY x.key_a, x.key_b""".stripMargin
  }

  /** q129 oracle: integer bin width from the global range, dense
    * (source x live-bin) grid, exact integer CDF cross-multiplication
    * — StatsOps.ksDrift exactly. */
  private val q129Sql: String =
    """WITH d AS (
      |  SELECT source,
      |         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS v
      |  FROM documents),
      |g AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM d),
      |pk AS (
      |  SELECT source, (v - g.lo) // ((g.hi - g.lo) // 32 + 1) AS b,
      |         COUNT(*) AS c
      |  FROM d, g GROUP BY 1, 2),
      |ks AS (SELECT DISTINCT source FROM pk),
      |bt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS tc FROM pk GROUP BY b),
      |grid AS (
      |  SELECT ks.source, bt.b, bt.tc, COALESCE(pk.c, 0) AS c
      |  FROM ks CROSS JOIN bt
      |  LEFT JOIN pk ON pk.source = ks.source AND pk.b = bt.b),
      |cum AS (
      |  SELECT source, b,
      |         CAST(SUM(c) OVER w AS BIGINT) AS ck,
      |         CAST(SUM(tc) OVER w AS BIGINT) AS ct,
      |         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS nk,
      |         CAST(SUM(tc) OVER (PARTITION BY source) AS BIGINT) AS nt
      |  FROM grid
      |  WINDOW w AS (PARTITION BY source ORDER BY b
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |agg AS (
      |  SELECT source, MAX(nk) AS n_key, MAX(nt) - MAX(nk) AS n_rest,
      |         MAX(ABS(ck * (nt - nk) - (ct - ck) * nk)) AS ks_num
      |  FROM cum GROUP BY source)
      |SELECT source, n_key, n_rest, ks_num,
      |       CAST(ROUND(CAST(ks_num AS DOUBLE) /
      |         CAST(n_key * n_rest AS DOUBLE) * 1e6, 0) AS BIGINT) AS ks_e6
      |FROM agg ORDER BY source""".stripMargin

  /** q126 oracle: the q25 pair derivation (directed id1 -> id2), two
    * unrolled integer HITS rounds (a = A^T h then h = A a with the
    * fresh authorities — GraphOps.hits exactly). */
  private val q126Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents WHERE doc_id < 100),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 2
      |              THEN list_distinct(list_transform(range(1, len(toks)),
      |                     i -> array_to_string(toks[i:i+1], ' ')))
      |              ELSE [] END AS sh
      |  FROM d),
      |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
      |pp AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
      |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(sh) AS n FROM s),
      |e AS (
      |  SELECT id1 AS src, id2 AS dst FROM pp
      |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
      |nd AS (SELECT DISTINCT node FROM (
      |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |a1 AS (SELECT dst, COUNT(*) AS auth FROM e GROUP BY dst),
      |h1 AS (SELECT e.src, CAST(SUM(COALESCE(a1.auth, 0)) AS BIGINT) AS hub
      |       FROM e LEFT JOIN a1 USING (dst) GROUP BY e.src),
      |a2 AS (SELECT e.dst, CAST(SUM(COALESCE(h1.hub, 0)) AS BIGINT) AS auth
      |       FROM e LEFT JOIN h1 USING (src) GROUP BY e.dst),
      |h2 AS (SELECT e.src, CAST(SUM(COALESCE(a2.auth, 0)) AS BIGINT) AS hub
      |       FROM e LEFT JOIN a2 USING (dst) GROUP BY e.src)
      |SELECT nd.node AS doc_id, COALESCE(h2.hub, 0) AS hub,
      |       COALESCE(a2.auth, 0) AS auth
      |FROM nd LEFT JOIN h2 ON nd.node = h2.src
      |        LEFT JOIN a2 ON nd.node = a2.dst
      |ORDER BY doc_id""".stripMargin

  /** q127 oracle: the q22 quality arithmetic (identical IEEE ops),
    * plain ROW_NUMBER ranks with the same (value, id) tiebreak, rank
    * sum blend. */
  private val q127Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(toks) AS n_tok,
      |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
      |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
      |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
      |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
      |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
      |  FROM d),
      |q AS (
      |  SELECT doc_id, n_tok,
      |         (LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
      |          (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 AS qual
      |  FROM m),
      |r AS (
      |  SELECT doc_id,
      |         ROW_NUMBER() OVER (ORDER BY qual, doc_id) AS q_rank,
      |         ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS l_rank,
      |         COUNT(*) OVER () AS n
      |  FROM q)
      |SELECT doc_id, q_rank, l_rank, q_rank + l_rank AS blend,
      |       (q_rank + l_rank >= n) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** q115 oracle: the q25 pair derivation feeding 3 unrolled PageRank
    * iterations — update arithmetic mirrors GraphOps.pageRank exactly
    * ((1.0 - 0.85)/n + 0.85 * COALESCE(SUM(pr/deg), 0.0)). */
  private val q115Sql: String = {
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT nd.node, (1.0 - 0.85) / nn.n +
         |         0.85 * COALESCE(SUM(c.w), 0.0) AS pr
         |  FROM nd CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst, p${i - 1}.pr / deg.deg AS w
         |             FROM e JOIN p${i - 1} ON e.src = p${i - 1}.node
         |                    JOIN deg ON e.src = deg.src) c
         |    ON c.dst = nd.node
         |  GROUP BY nd.node, nn.n)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 100),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst FROM fil
       |      UNION ALL SELECT id2, id1 FROM fil),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nd),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nd CROSS JOIN nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node AS doc_id,
       |       ${sqlE6("pr")} AS pr_e6
       |FROM p3 ORDER BY doc_id""".stripMargin
  }

  /** q116 oracle: same pair derivation (doc_id < 500), wedge-join
    * triangle enumeration, cc = 2*tri/(deg*(deg-1)) mirroring
    * GraphOps.triangleStatsBucketed exactly. */
  private val q116Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents WHERE doc_id < 500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 2
      |              THEN list_distinct(list_transform(range(1, len(toks)),
      |                     i -> array_to_string(toks[i:i+1], ' ')))
      |              ELSE [] END AS sh
      |  FROM d),
      |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
      |pp AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
      |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(sh) AS n FROM s),
      |fil AS (
      |  SELECT id1, id2 FROM pp
      |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg
      |  FROM (SELECT id1 AS node FROM fil UNION ALL SELECT id2 FROM fil)
      |  GROUP BY node),
      |tri0 AS (
      |  SELECT e1.id1 AS x, e1.id2 AS y, e2.id2 AS z
      |  FROM fil e1 JOIN fil e2 ON e1.id2 = e2.id1
      |       JOIN fil e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
      |tc AS (
      |  SELECT node, COUNT(*) AS tri
      |  FROM (SELECT unnest([x, y, z]) AS node FROM tri0) GROUP BY node)
      |SELECT deg.node AS doc_id, deg.deg, COALESCE(tc.tri, 0) AS tri,
      |       CAST(ROUND((CASE WHEN deg.deg < 2 THEN 0.0
      |                        ELSE 2.0 * COALESCE(tc.tri, 0) /
      |                             (deg.deg * (deg.deg - 1)) END) * 1e6, 0)
      |            AS BIGINT) AS cc_e6
      |FROM deg LEFT JOIN tc USING (node)
      |ORDER BY doc_id""".stripMargin

  /** q117 oracle: 3 unrolled label-propagation rounds — most frequent
    * in-neighbor label, ties to the smallest (ROW_NUMBER ORDER BY
    * c DESC, lab), keep-old on no in-neighbors. All-integer, so no
    * float parity concerns. */
  private val q117Sql: String = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst, l${i - 1}.lab, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
         |  GROUP BY e.dst, l${i - 1}.lab),
         |b$i AS (
         |  SELECT dst, lab FROM (
         |    SELECT dst, lab,
         |           ROW_NUMBER() OVER (PARTITION BY dst
         |                              ORDER BY c DESC, lab) AS rk
         |    FROM c$i) WHERE rk = 1),
         |l$i AS (
         |  SELECT l${i - 1}.node, COALESCE(b$i.lab, l${i - 1}.lab) AS lab
         |  FROM l${i - 1} LEFT JOIN b$i ON b$i.dst = l${i - 1}.node)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst FROM fil
       |      UNION ALL SELECT id2, id1 FROM fil),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node AS doc_id, lab AS community
       |FROM l3 ORDER BY doc_id""".stripMargin
  }

  /** q134 oracle: the q117 label chain, then per-community integer
    * degree / internal-edge counts and the two-division modularity
    * contribution (GraphOps.modularity exactly). */
  private val q134Sql: String = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst, l${i - 1}.lab, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
         |  GROUP BY e.dst, l${i - 1}.lab),
         |b$i AS (
         |  SELECT dst, lab FROM (
         |    SELECT dst, lab,
         |           ROW_NUMBER() OVER (PARTITION BY dst
         |                              ORDER BY c DESC, lab) AS rk
         |    FROM c$i) WHERE rk = 1),
         |l$i AS (
         |  SELECT l${i - 1}.node, COALESCE(b$i.lab, l${i - 1}.lab) AS lab
         |  FROM l${i - 1} LEFT JOIN b$i ON b$i.dst = l${i - 1}.node)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst FROM fil
       |      UNION ALL SELECT id2, id1 FROM fil),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |m2 AS (SELECT COUNT(*) AS m2 FROM e),
       |dc AS (SELECT l3.lab AS c, COUNT(*) AS d_c
       |       FROM e JOIN l3 ON e.src = l3.node GROUP BY 1),
       |ein AS (SELECT a.lab AS c, COUNT(*) AS e_in2
       |        FROM e JOIN l3 a ON e.src = a.node
       |               JOIN l3 b ON e.dst = b.node
       |        WHERE a.lab = b.lab GROUP BY 1),
       |nn AS (SELECT lab AS c, COUNT(*) AS n_nodes FROM l3 GROUP BY 1)
       |SELECT nn.c AS community, nn.n_nodes,
       |       COALESCE(ein.e_in2, 0) AS e_in2,
       |       COALESCE(dc.d_c, 0) AS d_c,
       |       ${sqlE6("""CAST(COALESCE(ein.e_in2, 0) AS DOUBLE) / m2.m2 -
         (CAST(COALESCE(dc.d_c, 0) AS DOUBLE) / m2.m2) *
         (CAST(COALESCE(dc.d_c, 0) AS DOUBLE) / m2.m2)""")} AS mod_e6
       |FROM nn LEFT JOIN dc ON dc.c = nn.c
       |        LEFT JOIN ein ON ein.c = nn.c
       |        CROSS JOIN m2
       |ORDER BY community""".stripMargin
  }

  /** q135 oracle: the q119 kNN chain joined with labels, per-vector
    * neighbor agreement counts. */
  private val q135Sql: String = {
    val bandSelects = (0 until 8).map(b =>
      s"SELECT vec_id, $b AS band, ${sqlBucket("v", 4, b * 4)} AS bucket FROM n")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |bands AS ($bandSelects),
       |ok AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |       HAVING COUNT(*) BETWEEN 2 AND 1000),
       |cand AS (SELECT DISTINCT a.vec_id AS id, b.vec_id AS nid
       |         FROM bands a
       |         JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |           AND a.vec_id <> b.vec_id
       |         JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket),
       |vf AS (SELECT c.id, c.nid,
       |              ${sqlDot("x.v", "y.v")} / (x.vn * y.vn) AS cosim
       |       FROM cand c
       |       JOIN n x ON x.vec_id = c.id
       |       JOIN n y ON y.vec_id = c.nid),
       |r AS (SELECT id, nid, cosim,
       |             ROW_NUMBER() OVER (PARTITION BY id
       |                 ORDER BY cosim DESC, nid) AS rk
       |      FROM vf),
       |knn AS (SELECT id, nid FROM r WHERE rk <= 3),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |j AS (SELECT k.id, la.label AS own, lb.label AS nl
       |      FROM knn k JOIN lab la ON la.vec_id = k.id
       |                 JOIN lab lb ON lb.vec_id = k.nid)
       |SELECT id AS vec_id, MIN(own) AS label, COUNT(*) AS n_nbrs,
       |       CAST(SUM(CASE WHEN nl = own THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_agree,
       |       (CAST(SUM(CASE WHEN nl = own THEN 1 ELSE 0 END) AS BIGINT)
       |          * 2 < COUNT(*)) AS is_suspect
       |FROM j GROUP BY id ORDER BY vec_id""".stripMargin
  }

  /** q136 oracle: the q54 component chain + cluster sizes + the
    * md5-integer keep compare (hash * size < 2^32). */
  private val q136Sql: String =
    s"""WITH RECURSIVE $simhashParityCtes,
       |p AS (SELECT id1, id2 FROM cand WHERE bit_count(xor(s1, s2)) <= 8),
       |edges AS (SELECT id1 AS s, id2 AS dd FROM p
       |          UNION SELECT id2, id1 FROM p),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id),
       |comp AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach
       |         GROUP BY id),
       |sz AS (SELECT cluster_id, COUNT(*) AS size FROM comp
       |       GROUP BY cluster_id)
       |SELECT comp.doc_id, comp.cluster_id, sz.size,
       |       (${sqlHex32("md5('cds:' || comp.doc_id::VARCHAR)")} * sz.size
       |          < 4294967296) AS kept
       |FROM comp JOIN sz USING (cluster_id)
       |ORDER BY comp.doc_id""".stripMargin

  /** q137 oracle: the q28 brute list and the q29 LSH list restricted
    * to queries vec_id < 5, fused by reciprocal rank (a-term first,
    * one IEEE division each — SimilarityOps.rrfFuse exactly). */
  private val q137Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |              ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |       FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 5),
       |br AS (SELECT qid, nid,
       |              ROW_NUMBER() OVER (PARTITION BY qid
       |                  ORDER BY cosim DESC, nid) AS ra
       |       FROM bs QUALIFY ra <= 5),
       |bkt AS (SELECT vec_id, v, vn, ${sqlBucket("v", 4)} AS bucket FROM n),
       |ls AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |              ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |       FROM bkt q JOIN bkt c ON q.bucket = c.bucket
       |         AND c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 5),
       |lr AS (SELECT qid, nid,
       |              ROW_NUMBER() OVER (PARTITION BY qid
       |                  ORDER BY cosim DESC, nid) AS rb
       |       FROM ls QUALIFY rb <= 5),
       |f AS (SELECT COALESCE(br.qid, lr.qid) AS qid,
       |             COALESCE(br.nid, lr.nid) AS nid, br.ra, lr.rb
       |      FROM br FULL OUTER JOIN lr
       |        ON br.qid = lr.qid AND br.nid = lr.nid),
       |s AS (SELECT qid, nid, ra, rb,
       |             COALESCE(1.0 / (60.0 + ra), 0.0) +
       |             COALESCE(1.0 / (60.0 + rb), 0.0) AS rrf
       |      FROM f),
       |r AS (SELECT qid, nid, ra, rb, rrf,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |                 ORDER BY rrf DESC, nid) AS frk
       |      FROM s)
       |SELECT qid, nid, COALESCE(ra, 0) AS rank_brute,
       |       COALESCE(rb, 0) AS rank_lsh,
       |       ${sqlE6("rrf")} AS rrf_e6
       |FROM r WHERE frk <= 5
       |ORDER BY qid, rrf_e6 DESC, nid""".stripMargin

  /** q138 oracle: the q115 pair chain with e6-integer Jaccard weights
    * feeding 3 unrolled weighted-PageRank rounds — update arithmetic
    * mirrors GraphOps.pageRankWeighted exactly. */
  private val q138Sql: String = {
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT nd.node, (1.0 - 0.85) / nn.n +
         |         0.85 * COALESCE(SUM(c.wc), 0.0) AS pr
         |  FROM nd CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst, p${i - 1}.pr * e.w / ws.wsum AS wc
         |             FROM e JOIN p${i - 1} ON e.src = p${i - 1}.node
         |                    JOIN ws ON e.src = ws.src) c
         |    ON c.dst = nd.node
         |  GROUP BY nd.node, nn.n)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 100),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2,
       |         CAST(ROUND(shared * 1.0 / (x.n + y.n - shared) * 1e6, 0)
       |              AS BIGINT) AS w
       |  FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst, w FROM fil
       |      UNION ALL SELECT id2, id1, w FROM fil),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nd),
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e
       |       GROUP BY src),
       |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nd CROSS JOIN nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node AS doc_id,
       |       ${sqlE6("pr")} AS pr_e6
       |FROM p3 ORDER BY doc_id""".stripMargin
  }

  /** q139 oracle: the q117 label chain, joined to the embeddings
    * labels, then the all-integer pair-counting Rand index
    * (StatsOps.randIndex exactly). */
  private val q139Sql: String = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst, l${i - 1}.lab, COUNT(*) AS c
         |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
         |  GROUP BY e.dst, l${i - 1}.lab),
         |b$i AS (
         |  SELECT dst, lab FROM (
         |    SELECT dst, lab,
         |           ROW_NUMBER() OVER (PARTITION BY dst
         |                              ORDER BY c DESC, lab) AS rk
         |    FROM c$i) WHERE rk = 1),
         |l$i AS (
         |  SELECT l${i - 1}.node, COALESCE(b$i.lab, l${i - 1}.lab) AS lab
         |  FROM l${i - 1} LEFT JOIN b$i ON b$i.dst = l${i - 1}.node)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst FROM fil
       |      UNION ALL SELECT id2, id1 FROM fil),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |jn AS (SELECT l3.lab AS la, emb.label AS lb
       |       FROM l3 JOIN embeddings emb ON emb.vec_id = l3.node),
       |cells AS (SELECT la, lb, COUNT(*) AS n FROM jn GROUP BY 1, 2),
       |st AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
       |              CAST(SUM(n * (n - 1)) AS BIGINT) AS sc FROM cells),
       |rt AS (SELECT CAST(SUM(nr * (nr - 1)) AS BIGINT) AS sr
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS nr FROM cells
       |             GROUP BY la)),
       |ct AS (SELECT CAST(SUM(nc * (nc - 1)) AS BIGINT) AS scc
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS nc FROM cells
       |             GROUP BY lb))
       |SELECT st.nt AS n_items, st.sc // 2 AS a_pairs,
       |       rt.sr // 2 AS row_pairs, ct.scc // 2 AS col_pairs,
       |       (st.nt * (st.nt - 1)) // 2 AS total_pairs,
       |       ${sqlE6("""CAST((st.nt * (st.nt - 1)) // 2 + 2 * (st.sc // 2) -
         rt.sr // 2 - ct.scc // 2 AS DOUBLE) /
         CAST((st.nt * (st.nt - 1)) // 2 AS DOUBLE)""")} AS rand_e6
       |FROM st CROSS JOIN rt CROSS JOIN ct
       |ORDER BY n_items""".stripMargin
  }

  /** q140 oracle: the JSON `props` field via a core regexp (DuckDB's
    * JSON functions live in an extension; the {"k": N} payload makes
    * the regexp extraction exactly equivalent to $.k). The regexp
    * also accepts negative and quoted integer payloads ("k": -3,
    * "k": "7") so a driver-side fixture widening cannot silently
    * diverge from Spark's get_json_object+cast; PropsCanarySpec pins
    * the current payload shape. */
  private val q140Sql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         CAST(NULLIF(regexp_extract(props,
       |                     '"k":\\s*"?(-?\\d+)', 1),
       |                     '') AS BIGINT) AS k
       |  FROM events)
       |SELECT event_type, COUNT(*) AS n,
       |       CAST(SUM(k) AS BIGINT) AS k_sum,
       |       MIN(k) AS k_min, MAX(k) AS k_max,
       |       ${sqlE6("CAST(SUM(k) AS DOUBLE) / COUNT(k)")} AS k_avg_e6
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q141 oracle: mixtureReweight's exact integer weights + one
    * division / LEAST per derived column, target shares inlined as a
    * VALUES table. */
  private val q141Sql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS nt
       |  FROM documents),
       |w AS (SELECT lang, COUNT(*) AS n_rows,
       |             CAST(SUM(nt) AS BIGINT) AS tokens
       |      FROM d GROUP BY lang),
       |tgt AS (SELECT * FROM (VALUES ('en', 0.30), ('zh', 0.25),
       |        ('es', 0.15), ('de', 0.15), ('fr', 0.15)) t(g, ts)),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM w),
       |f AS (SELECT COALESCE(w.lang, tgt.g) AS lang,
       |             COALESCE(w.n_rows, 0) AS n_rows,
       |             COALESCE(w.tokens, 0) AS tokens,
       |             COALESCE(tgt.ts, 0.0) AS ts
       |      FROM w FULL JOIN tgt ON w.lang = tgt.g)
       |SELECT f.lang, f.n_rows, f.tokens,
       |       ${sqlE6("CAST(f.tokens AS DOUBLE) / tot.total")} AS nat_e6,
       |       ${sqlE6("f.ts")} AS tgt_e6,
       |       ${sqlE6("CASE WHEN f.tokens > 0 THEN LEAST(4.0, f.ts * tot.total / f.tokens) ELSE 0.0 END")} AS rate_e6,
       |       CAST(ROUND(CASE WHEN f.tokens > 0
       |                  THEN LEAST(4.0, f.ts * tot.total / f.tokens)
       |                  ELSE 0.0 END * f.tokens, 0) AS BIGINT)
       |         AS exp_tokens
       |FROM f CROSS JOIN tot
       |ORDER BY f.lang""".stripMargin

  /** Shared distinct (group, term) vocabulary CTE body for
    * q142/q143 (mirrors TextOps.groupVocab: whitespace tokens,
    * blanks dropped). */
  private def sqlGroupVocab(groupCol: String): String =
    s"""v AS (
       |  SELECT DISTINCT g, t FROM (
       |    SELECT $groupCol AS g,
       |           unnest(regexp_split_to_array(lower(trim(text)),
       |                  '\\s+')) AS t
       |    FROM documents)
       |  WHERE t <> '')""".stripMargin

  /** q142 oracle: exact pairwise vocab Jaccard — term-keyed self-join
    * on the distinct vocabulary, count/size arithmetic all integer. */
  private val q142Sql: String =
    s"""WITH ${sqlGroupVocab("source")},
       |s AS (SELECT g, COUNT(*) AS v FROM v GROUP BY g),
       |p AS (SELECT a.g AS g1, b.g AS g2, COUNT(*) AS shared
       |      FROM v a JOIN v b ON a.t = b.t AND a.g < b.g
       |      GROUP BY 1, 2)
       |SELECT g1, g2, x.v AS v1, y.v AS v2, shared,
       |       ${sqlE6("CAST(shared AS DOUBLE) / (x.v + y.v - shared)")} AS jacc_e6
       |FROM p JOIN s x ON g1 = x.g JOIN s y ON g2 = y.g
       |ORDER BY g1, g2""".stripMargin

  /** q143 oracle: k-min md5 vocabulary signatures (the md5Hash32
    * idiom, seed || ':' || term) and the signature match fraction. */
  private val q143Sql: String = {
    val h = sqlHex32("md5(CAST(seed AS VARCHAR) || ':' || t)")
    s"""WITH ${sqlGroupVocab("source")},
       |sig AS (
       |  SELECT g, seed, MIN($h) AS minh
       |  FROM v CROSS JOIN range(0, 16) r(seed)
       |  GROUP BY g, seed),
       |p AS (SELECT a.g AS g1, b.g AS g2,
       |             CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0
       |                  END) AS BIGINT) AS matches
       |      FROM sig a JOIN sig b ON a.seed = b.seed AND a.g < b.g
       |      GROUP BY 1, 2)
       |SELECT g1, g2, 16 AS k, matches,
       |       ${sqlE6("CAST(matches AS DOUBLE) / 16.0")} AS est_e6
       |FROM p ORDER BY g1, g2""".stripMargin
  }

  /** q144 oracle: fertility ratios from exact integer sums (token /
    * subword mirrors = the q22 constructions). */
  private val q144Sql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS nt,
       |         len(list_filter(regexp_split_to_array(lower(text),
       |             '[^a-z0-9]+'), t -> len(t) > 0)) AS ns,
       |         length(text) AS nc
       |  FROM documents),
       |a AS (SELECT lang, COUNT(*) AS n_docs,
       |             CAST(SUM(nt) AS BIGINT) AS tokens,
       |             CAST(SUM(ns) AS BIGINT) AS subwords,
       |             CAST(SUM(nc) AS BIGINT) AS chars
       |      FROM d GROUP BY lang)
       |SELECT lang, n_docs, tokens, subwords, chars,
       |       ${sqlE6("CAST(subwords AS DOUBLE) / tokens")} AS fert_e6,
       |       ${sqlE6("CAST(chars AS DOUBLE) / subwords")} AS cps_e6,
       |       ${sqlE6("CAST(chars AS DOUBLE) / tokens")} AS cpt_e6
       |FROM a ORDER BY lang""".stripMargin

  /** q145 oracle: labelCentroidSkew replayed — integer-quantized
    * element sums, one division per centroid component, list
    * assembly in dim order, and the sqlDot left-to-right fold. */
  private val q145Sql: String =
    s"""WITH q AS (
       |  SELECT label, i.i AS pos,
       |         CAST(ROUND(embedding[i.i]::DOUBLE * 1e6, 0) AS BIGINT)
       |           AS qv
       |  FROM embeddings CROSS JOIN range(1, ${Dims + 1}) i(i)),
       |lp AS (SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s,
       |              COUNT(*) AS n
       |       FROM q GROUP BY label, pos),
       |lv AS (SELECT label, MAX(n) AS n_vecs,
       |              list(CAST(s AS DOUBLE) / n ORDER BY pos) AS v
       |       FROM lp GROUP BY label),
       |gp AS (SELECT pos, CAST(SUM(s) AS BIGINT) AS gs,
       |              CAST(SUM(n) AS BIGINT) AS gn
       |       FROM lp GROUP BY pos),
       |gl AS (SELECT list(CAST(gs AS DOUBLE) / gn ORDER BY pos) AS g
       |       FROM gp)
       |SELECT label, n_vecs,
       |       ${sqlE6(s"${sqlDot("v", "g")} / (sqrt(${sqlDot("v", "v")}) * sqrt(${sqlDot("g", "g")}))")} AS cosg_e6,
       |       CAST(ROUND(sqrt(${sqlDot("v", "v")}), 0) AS BIGINT) AS cnorm,
       |       CAST(ROUND(sqrt(${sqlDot("g", "g")}), 0) AS BIGINT) AS gnorm
       |FROM lv CROSS JOIN gl ORDER BY label""".stripMargin

  /** q146 oracle: the q138 2-gram Jaccard pair chain (threshold 0.1,
    * doc_id < 500), pair-greedy drop of every id2, rolled up to
    * docs/tokens kept per source. */
  private val q146Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |s AS (
       |  SELECT doc_id, source, len(toks) AS nt,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |dr AS (SELECT DISTINCT id2 FROM fil),
       |k AS (SELECT s.doc_id, s.source, s.nt,
       |             dr.id2 IS NULL AS keep
       |      FROM s LEFT JOIN dr ON s.doc_id = dr.id2)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       CAST(SUM(nt) AS BIGINT) AS tokens_total,
       |       CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
       |         AS tokens_kept,
       |       ${sqlE6("""CAST(SUM(nt) - SUM(CASE WHEN keep THEN nt ELSE 0 END) AS DOUBLE) / SUM(nt)""")} AS drop_e6
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** q147 oracle: zScoreRank replayed — exact integer moments per
    * language, the identical mean/sd/z op sequence, composite fold
    * 1.0*z1 + (-1.0)*z2 + 0.5*z3, top-5 by composite desc. */
  private val q147Sql: String = {
    def z(x: String, s: String, ss: String): String =
      s"""CASE WHEN n > 1 AND (CAST($ss AS DOUBLE) -
         |       CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
         |     THEN (CAST($x AS DOUBLE) - CAST($s AS DOUBLE) / CAST(n AS DOUBLE))
         |          / sqrt((CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) *
         |              CAST($s AS DOUBLE) / CAST(n AS DOUBLE))
         |              / (CAST(n AS DOUBLE) - 1.0))
         |     ELSE 0.0 END""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+'))
       |           AS n_tokens,
       |         len(list_filter(regexp_split_to_array(lower(trim(text)),
       |             '\\s+'), t -> list_contains(['a','the','and','of','to','data'], t)))
       |           AS n_stop,
       |         length(text) AS n_chars
       |  FROM documents),
       |m AS (SELECT lang, COUNT(*) AS n,
       |             CAST(SUM(n_tokens) AS BIGINT) AS s1,
       |             CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS ss1,
       |             CAST(SUM(n_stop) AS BIGINT) AS s2,
       |             CAST(SUM(n_stop * n_stop) AS BIGINT) AS ss2,
       |             CAST(SUM(n_chars) AS BIGINT) AS s3,
       |             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss3
       |      FROM d GROUP BY lang),
       |z AS (SELECT d.doc_id, d.lang, d.n_tokens, d.n_stop, d.n_chars,
       |             1.0 * (${z("d.n_tokens", "m.s1", "m.ss1")}) +
       |             (-1.0) * (${z("d.n_stop", "m.s2", "m.ss2")}) +
       |             0.5 * (${z("d.n_chars", "m.s3", "m.ss3")})
       |               AS composite
       |      FROM d JOIN m ON d.lang = m.lang),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |               ORDER BY composite DESC, doc_id) AS rank
       |      FROM z)
       |SELECT lang, doc_id, n_tokens, n_stop, n_chars,
       |       ${sqlE6("composite")} AS comp_e6,
       |       CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin
  }

  /** q148 oracle: q145's quantized-centroid replay with the label
    * taken from the documents⋈embeddings join (language). */
  private val q148Sql: String =
    s"""WITH j AS (
       |  SELECT d.lang AS label, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |q AS (
       |  SELECT label, i.i AS pos,
       |         CAST(ROUND(embedding[i.i]::DOUBLE * 1e6, 0) AS BIGINT)
       |           AS qv
       |  FROM j CROSS JOIN range(1, ${Dims + 1}) i(i)),
       |lp AS (SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s,
       |              COUNT(*) AS n
       |       FROM q GROUP BY label, pos),
       |lv AS (SELECT label, MAX(n) AS n_vecs,
       |              list(CAST(s AS DOUBLE) / n ORDER BY pos) AS v
       |       FROM lp GROUP BY label),
       |gp AS (SELECT pos, CAST(SUM(s) AS BIGINT) AS gs,
       |              CAST(SUM(n) AS BIGINT) AS gn
       |       FROM lp GROUP BY pos),
       |gl AS (SELECT list(CAST(gs AS DOUBLE) / gn ORDER BY pos) AS g
       |       FROM gp)
       |SELECT label AS lang, n_vecs,
       |       ${sqlE6(s"${sqlDot("v", "g")} / (sqrt(${sqlDot("v", "v")}) * sqrt(${sqlDot("g", "g")}))")} AS cosg_e6,
       |       CAST(ROUND(sqrt(${sqlDot("v", "v")}), 0) AS BIGINT) AS cnorm
       |FROM lv CROSS JOIN gl ORDER BY lang""".stripMargin

  /** Shared 2/3-gram Jaccard/containment pair-chain CTEs (mirrors
    * DedupOps.stagedShingles + the inverted-index join) over
    * doc_id < 500. Emits CTEs {p}d, {p}s, {p}inv, {p}pp, {p}sz —
    * pass a prefix when two chains coexist in one query. */
  private def sqlPairChain(n: Int, p: String = ""): String = {
    val lastStart = s"len(toks) - ${n - 2}"
    s"""${p}d AS (
       |  SELECT doc_id, source,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |${p}s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= $n
       |              THEN list_distinct(list_transform(range(1, $lastStart),
       |                     i -> array_to_string(toks[i:i+${n - 1}], ' ')))
       |              ELSE [] END AS sh
       |  FROM ${p}d),
       |${p}inv AS (SELECT doc_id, unnest(sh) AS s1 FROM ${p}s),
       |${p}pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM ${p}inv a JOIN ${p}inv b
       |    ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |${p}sz AS (SELECT doc_id, len(sh) AS n FROM ${p}s)""".stripMargin
  }

  /** q149 oracle: the 3-gram pair chain with asymmetric containment
    * in both directions, kept when either clears 0.5. */
  private val q149Sql: String =
    s"""WITH ${sqlPairChain(3)}
       |SELECT id1, id2, x.n AS n1, y.n AS n2, shared,
       |       ${sqlE6("CAST(shared AS DOUBLE) / x.n")} AS cont1_e6,
       |       ${sqlE6("CAST(shared AS DOUBLE) / y.n")} AS cont2_e6
       |FROM pp JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |WHERE GREATEST(CAST(shared AS DOUBLE) / x.n,
       |               CAST(shared AS DOUBLE) / y.n) >= 0.5
       |ORDER BY id1, id2""".stripMargin

  /** q150 oracle: the 2-gram threshold-0.1 pair chain symmetrized,
    * then 3 unrolled degree-< 2 peels (kCorePeel exactly). */
  private val q150Sql: String = {
    def peel(i: Int): String =
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src
         |        HAVING COUNT(*) >= 2),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN k$i a ON e.src = a.src
         |        JOIN k$i b ON e.dst = b.src)""".stripMargin
    s"""WITH ${sqlPairChain(2)},
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1),
       |e0 AS (SELECT id1 AS src, id2 AS dst FROM fil
       |       UNION ALL SELECT id2, id1 FROM fil),
       |${peel(1)},
       |${peel(2)},
       |${peel(3)}
       |SELECT src AS doc_id, COUNT(*) AS deg
       |FROM e3 GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** q151 oracle: hourly activity buckets per user, peak-vs-mean
    * concentration over ACTIVE hours. */
  private val q151Sql: String =
    s"""WITH h AS (
       |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
       |         COUNT(*) AS nh
       |  FROM events GROUP BY 1, 2),
       |u AS (SELECT user_id, CAST(SUM(nh) AS BIGINT) AS n_events,
       |             COUNT(*) AS n_hours, MAX(nh) AS max_hour
       |      FROM h GROUP BY user_id)
       |SELECT user_id, n_events, n_hours, max_hour,
       |       ${sqlE6("CAST(max_hour * n_hours AS DOUBLE) / n_events")} AS burst_e6
       |FROM u ORDER BY user_id""".stripMargin

  /** q152 oracle: quantileNormalize replayed — within-source rank r
    * of ng maps to global rank ceil(r*N/ng) (integer DIV), the global
    * value at that rank is the normalized score. Ties (value, id) on
    * both sides. */
  private val q152Sql: String =
    s"""WITH d AS (SELECT source, doc_id, n_chars AS value
       |           FROM documents),
       |g AS (SELECT value AS norm,
       |             ROW_NUMBER() OVER (ORDER BY value, doc_id) AS grank
       |      FROM d),
       |t AS (SELECT COUNT(*) AS n FROM d),
       |sz AS (SELECT source, COUNT(*) AS ng FROM d GROUP BY source),
       |p AS (SELECT source, doc_id, value,
       |             ROW_NUMBER() OVER (PARTITION BY source
       |                 ORDER BY value, doc_id) AS r
       |      FROM d)
       |SELECT p.source, p.doc_id, p.value AS n_chars, g.norm
       |FROM p JOIN sz ON p.source = sz.source CROSS JOIN t
       |JOIN g ON g.grank = (p.r * t.n + sz.ng - 1) // sz.ng
       |ORDER BY p.source, p.doc_id""".stripMargin

  /** q153 oracle: char trigrams as space-joined char triples (the
    * shinglesFromTokens-over-chars key format), ALL positions, corpus
    * count join-back. */
  private val q153Sql: String =
    s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, length(t) - 1),
       |           i -> substr(t, i, 1) || ' ' || substr(t, i + 1, 1)
       |                || ' ' || substr(t, i + 2, 1))) AS tri
       |  FROM d),
       |c AS (SELECT tri, COUNT(*) AS cnt FROM tri GROUP BY tri),
       |a AS (SELECT doc_id, COUNT(*) AS n_tris,
       |             CAST(SUM(cnt) AS BIGINT) AS freq_sum
       |      FROM tri JOIN c USING (tri) GROUP BY doc_id)
       |SELECT doc_id, n_tris, freq_sum,
       |       ${sqlE6("CAST(freq_sum AS DOUBLE) / n_tris")} AS comm_e6
       |FROM a ORDER BY doc_id""".stripMargin

  /** q154 oracle: chi2GoodnessOfFit replayed — integral bin DIV, the
    * same (o-e)^2/e op sequence, bin-ordered list fold. */
  private val q154Sql: String =
    s"""WITH b AS (SELECT source,
       |                  GREATEST(0, LEAST(n_chars // 64, 7)) AS bin
       |           FROM documents),
       |obs AS (SELECT source, bin, COUNT(*) AS o FROM b GROUP BY 1, 2),
       |gb AS (SELECT bin, CAST(SUM(o) AS BIGINT) AS g FROM obs
       |       GROUP BY bin),
       |ns AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n FROM obs
       |       GROUP BY source),
       |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS nn FROM gb),
       |dense AS (
       |  SELECT ns.source, ns.n, gb.bin,
       |         CAST(COALESCE(obs.o, 0) AS DOUBLE) AS o,
       |         CAST(gb.g AS DOUBLE) * ns.n / tot.nn AS e
       |  FROM ns CROSS JOIN gb CROSS JOIN tot
       |  LEFT JOIN obs ON obs.source = ns.source AND obs.bin = gb.bin),
       |tt AS (SELECT source, n, bin, (o - e) * (o - e) / e AS term
       |       FROM dense),
       |c AS (SELECT source, MAX(n) AS n, COUNT(*) AS n_bins,
       |             list(term ORDER BY bin) AS terms
       |      FROM tt GROUP BY source)
       |SELECT source, n, n_bins,
       |       ${sqlE6("list_reduce(list_prepend(0.0::DOUBLE, terms), (a, x) -> a + x)")} AS chi2_e6
       |FROM c ORDER BY source""".stripMargin

  /** q155 oracle: first-8-token prefixes, groups of >= 2. */
  private val q155Sql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |         array_to_string((regexp_split_to_array(lower(trim(text)),
       |             '\\s+'))[1:8], ' ') AS prefix
       |  FROM documents)
       |SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
       |FROM p GROUP BY prefix HAVING COUNT(*) >= 2
       |ORDER BY prefix""".stripMargin

  /** q156 oracle: first-occurrence doc per term + cumulative tokens,
    * evaluated at each checkpoint (docs with id < cp). */
  private val q156Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |f AS (SELECT t, MIN(doc_id) AS fd FROM (
       |        SELECT doc_id, unnest(toks) AS t FROM d)
       |      WHERE t <> '' GROUP BY t),
       |cps AS (SELECT CAST(cp AS BIGINT) AS cp FROM (VALUES (50),
       |        (100), (200), (500), (1000), (2000), (5000)) c(cp))
       |SELECT cp,
       |       CAST((SELECT COUNT(*) FROM f WHERE fd < cp) AS BIGINT)
       |         AS vocab_size,
       |       CAST((SELECT COALESCE(SUM(len(toks)), 0) FROM d
       |             WHERE doc_id < cp) AS BIGINT) AS tokens_seen
       |FROM cps ORDER BY cp""".stripMargin

  /** The maxTokenRun (mx, cur, prev) state machine as a DuckDB
    * list_reduce over a token-array expression. */
  private def sqlMaxRun(toks: String): String = {
    val zero =
      "{'mx': CAST(0 AS BIGINT), 'cur': CAST(0 AS BIGINT), 'prev': ''}"
    val step = "{'mx': GREATEST(a.mx, CASE WHEN x.prev = a.prev " +
      "THEN a.cur + 1 ELSE 1 END), 'cur': CASE WHEN x.prev = a.prev " +
      "THEN a.cur + 1 ELSE 1 END, 'prev': x.prev}"
    s"""struct_extract(list_reduce(list_prepend($zero,
       |  list_transform($toks, t -> {'mx': CAST(0 AS BIGINT),
       |    'cur': CAST(0 AS BIGINT), 'prev': t})),
       |  (a, x) -> $step), 'mx')""".stripMargin
  }

  /** q157 oracle: the maxTokenRun fold replayed as a list_reduce with
    * the identical (mx, cur, prev) state machine. */
  private val q157Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |       ${sqlMaxRun("toks")} AS max_run
       |FROM d ORDER BY doc_id""".stripMargin

  /** q158 oracle: the 2-gram pair chain symmetrized, degree per node,
    * then the degree histogram. */
  private val q158Sql: String =
    s"""WITH ${sqlPairChain(2)},
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1),
       |e0 AS (SELECT id1 AS src FROM fil
       |       UNION ALL SELECT id2 FROM fil),
       |dg AS (SELECT src AS node, COUNT(*) AS deg FROM e0
       |       GROUP BY src)
       |SELECT deg, COUNT(*) AS n_nodes FROM dg GROUP BY deg
       |ORDER BY deg""".stripMargin

  /** q159 oracle: the q64 int8 quantization chain with the RAW mae
    * fold pinned to e9 per row, then exact integer label sums. */
  private val q159Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, label, v,
       |         list_reduce(list_prepend(0.0::DOUBLE, v),
       |                     (a, x) -> greatest(a, abs(x))) AS amax
       |  FROM e),
       |q AS (
       |  SELECT vec_id, label, v, amax,
       |         CASE WHEN amax = 0
       |              THEN list_transform(range(1, 65), i -> 0.0::DOUBLE)
       |              ELSE list_transform(range(1, 65),
       |                     i -> floor(v[i] / (amax / 127.0) + 0.5))
       |         END AS qd
       |  FROM a),
       |m AS (
       |  SELECT label,
       |         CAST(ROUND(list_reduce(list_prepend(0.0::DOUBLE,
       |               list_transform(range(1, 65),
       |                 i -> abs(v[i] - qd[i] * (amax / 127.0)))),
       |               (a, e) -> a + e) / 64.0 * 1e9, 0) AS BIGINT)
       |           AS mae_e9
       |  FROM q)
       |SELECT label, COUNT(*) AS n_vecs,
       |       CAST(SUM(mae_e9) AS BIGINT) AS sum_mae_e9,
       |       MAX(mae_e9) AS max_mae_e9,
       |       CAST(ROUND(CAST(SUM(mae_e9) AS DOUBLE) / COUNT(*), 0)
       |            AS BIGINT) AS mean_mae_e9
       |FROM m GROUP BY label ORDER BY label""".stripMargin

  /** q160 oracle: the three gates replayed with integer comparisons
    * and the maxTokenRun fold. */
  private val q160Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+'))
       |           AS nt,
       |         len(list_filter(regexp_split_to_array(lower(trim(text)),
       |             '\\s+'), t -> list_contains(['a','the','and','of','to','data'], t)))
       |           AS nstop,
       |         ${sqlMaxRun("regexp_split_to_array(lower(trim(text)), '\\s+')")}
       |           AS run
       |  FROM documents),
       |g AS (SELECT source,
       |             CASE WHEN nt BETWEEN 30 AND 70 THEN 1 ELSE 0 END AS gl,
       |             CASE WHEN nstop * 1000 >= nt * 50 THEN 1 ELSE 0 END AS gs,
       |             CASE WHEN run <= 2 THEN 1 ELSE 0 END AS gr
       |      FROM d)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(gl) AS BIGINT) AS pass_len,
       |       CAST(SUM(gs) AS BIGINT) AS pass_stop,
       |       CAST(SUM(gr) AS BIGINT) AS pass_run,
       |       CAST(SUM(gl * gs * gr) AS BIGINT) AS pass_all,
       |       ${sqlE6("CAST(SUM(gl * gs * gr) AS DOUBLE) / COUNT(*)")} AS rate_e6
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** q161 oracle: distinct 3-grams per doc, corpus doc frequency,
    * ROW_NUMBER argmax with (df desc, gram asc) ties. */
  private val q161Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(toks) >= 3
       |           THEN list_distinct(list_transform(range(1, len(toks) - 1),
       |                  i -> array_to_string(toks[i:i+2], ' ')))
       |           ELSE [] END) AS g
       |  FROM d),
       |fq AS (SELECT g, COUNT(*) AS gram_df FROM g GROUP BY g),
       |r AS (SELECT g.doc_id, g.g, fq.gram_df,
       |             ROW_NUMBER() OVER (PARTITION BY g.doc_id
       |                 ORDER BY fq.gram_df DESC, g.g) AS rk
       |      FROM g JOIN fq USING (g))
       |SELECT doc_id, g AS top_gram, gram_df FROM r WHERE rk = 1
       |ORDER BY doc_id""".stripMargin

  /** q162 oracle: the dataset card as scalar subqueries over one WITH
    * (near-dup pairs reuse the chain CTEs). */
  private val q162Sql: String =
    s"""WITH ${sqlPairChain(2)},
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1)
       |SELECT
       |  (SELECT COUNT(*) FROM documents) AS n_docs,
       |  (SELECT CAST(SUM(len(regexp_split_to_array(lower(trim(text)),
       |       '\\s+'))) AS BIGINT) FROM documents) AS n_tokens,
       |  (SELECT COUNT(DISTINCT t) FROM (
       |     SELECT unnest(regexp_split_to_array(lower(trim(text)),
       |       '\\s+')) AS t FROM documents) WHERE t <> '') AS vocab_size,
       |  (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
       |  (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
       |  (SELECT COUNT(*) FROM (SELECT text FROM documents
       |     GROUP BY text HAVING COUNT(*) >= 2)) AS exact_dup_groups,
       |  (SELECT COUNT(*) FROM (
       |     SELECT array_to_string((regexp_split_to_array(lower(trim(text)),
       |       '\\s+'))[1:8], ' ') AS p FROM documents
       |     GROUP BY p HAVING COUNT(*) >= 2)) AS template_groups,
       |  (SELECT COUNT(*) FROM fil) AS near_dup_pairs""".stripMargin

  /** q163 oracle: type-token ratio + Simpson index from exact term
    * counts. */
  private val q163Sql: String =
    s"""WITH tf AS (
       |  SELECT source, t, COUNT(*) AS c FROM (
       |    SELECT source, unnest(regexp_split_to_array(lower(trim(text)),
       |      '\\s+')) AS t FROM documents)
       |  WHERE t <> '' GROUP BY source, t),
       |a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |             COUNT(*) AS n_types,
       |             CAST(SUM(c * c) AS BIGINT) AS sum_c2
       |      FROM tf GROUP BY source)
       |SELECT source, n_tokens, n_types,
       |       ${sqlE6("CAST(n_types AS DOUBLE) / n_tokens")} AS ttr_e6,
       |       ${sqlE6("1.0 - CAST(sum_c2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))")} AS simpson_e6
       |FROM a ORDER BY source""".stripMargin

  /** q164 oracle: LAG over (user, (ts, event_id)) — the transition
    * matrix. */
  private val q164Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) AS tu FROM events),
       |l AS (SELECT event_type AS next_type,
       |             LAG(event_type) OVER (PARTITION BY user_id
       |                 ORDER BY tu, event_id) AS prev_type
       |      FROM e)
       |SELECT prev_type, next_type, COUNT(*) AS n FROM l
       |WHERE prev_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY prev_type, next_type""".stripMargin

  /** q165 oracle: both pair chains (2-gram Jaccard 0.1, 3-gram
    * containment 0.5) and their overlap counts. */
  private val q165Sql: String =
    s"""WITH ${sqlPairChain(2)},
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1),
       |${sqlPairChain(3, "c")},
       |cfil AS (
       |  SELECT id1, id2 FROM cpp
       |  JOIN csz x ON id1 = x.doc_id JOIN csz y ON id2 = y.doc_id
       |  WHERE GREATEST(CAST(shared AS DOUBLE) / x.n,
       |                 CAST(shared AS DOUBLE) / y.n) >= 0.5),
       |nj AS (SELECT COUNT(*) AS n_jac FROM fil),
       |nc AS (SELECT COUNT(*) AS n_con FROM cfil),
       |nb AS (SELECT COUNT(*) AS n_both FROM fil
       |       JOIN cfil USING (id1, id2))
       |SELECT n_jac, n_con, n_both,
       |       ${sqlE6("CAST(n_both AS DOUBLE) / (n_jac + n_con - n_both)")} AS agree_e6
       |FROM nj CROSS JOIN nc CROSS JOIN nb""".stripMargin

  /** q166 oracle: the e6-pinned pair list crossed with the threshold
    * spine — counts per threshold from one pair computation. */
  private val q166Sql: String =
    s"""WITH ${sqlPairChain(2)},
       |filv AS (
       |  SELECT id1, id2,
       |         CAST(ROUND(CAST(shared AS DOUBLE) / (x.n + y.n - shared)
       |              * 1e6, 0) AS BIGINT) AS j6
       |  FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1),
       |th AS (SELECT CAST(thr AS BIGINT) AS thr_e6 FROM (VALUES
       |       (100000), (200000), (300000), (400000), (500000)) t(thr))
       |SELECT thr_e6, COUNT(*) AS n_pairs,
       |       COUNT(DISTINCT id2) AS n_dropped
       |FROM filv CROSS JOIN th WHERE j6 >= thr_e6
       |GROUP BY thr_e6 ORDER BY thr_e6""".stripMargin

  /** q167 oracle: the q148 centroid chain keyed by source, then the
    * pairwise fold-ordered cosine. */
  private val q167Sql: String =
    s"""WITH j AS (
       |  SELECT d.source AS label, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |q AS (
       |  SELECT label, i.i AS pos,
       |         CAST(ROUND(embedding[i.i]::DOUBLE * 1e6, 0) AS BIGINT)
       |           AS qv
       |  FROM j CROSS JOIN range(1, ${Dims + 1}) i(i)),
       |lp AS (SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s,
       |              COUNT(*) AS n
       |       FROM q GROUP BY label, pos),
       |lv AS (SELECT label, MAX(n) AS n_vecs,
       |              list(CAST(s AS DOUBLE) / n ORDER BY pos) AS v
       |       FROM lp GROUP BY label)
       |SELECT a.label AS s1, b.label AS s2,
       |       a.n_vecs AS n1, b.n_vecs AS n2,
       |       ${sqlE6(s"${sqlDot("a.v", "b.v")} / (sqrt(${sqlDot("a.v", "a.v")}) * sqrt(${sqlDot("b.v", "b.v")}))")} AS cos_e6
       |FROM lv a JOIN lv b ON a.label < b.label
       |ORDER BY s1, s2""".stripMargin

  /** q168 oracle: dense hour spine x types, zero-filled, 3-row
    * trailing window. */
  private val q168Sql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
       |         COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
       |spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM b),
       |ty AS (SELECT DISTINCT event_type FROM hourly),
       |dense AS (
       |  SELECT ty.event_type, spine.h, COALESCE(hourly.n, 0) AS n
       |  FROM ty CROSS JOIN spine
       |  LEFT JOIN hourly ON hourly.event_type = ty.event_type
       |    AND hourly.h = spine.h),
       |m AS (SELECT event_type, h, n, SUM(n) OVER w AS s3,
       |             COUNT(*) OVER w AS c3
       |      FROM dense
       |      WINDOW w AS (PARTITION BY event_type ORDER BY h
       |                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
       |SELECT event_type, h, CAST(n AS BIGINT) AS n,
       |       ${sqlE6("CAST(s3 AS DOUBLE) / c3")} AS ma3_e6
       |FROM m ORDER BY event_type, h""".stripMargin

  /** q169 oracle: the rank-sum Gini with integer numerator. */
  private val q169Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, n_chars AS x,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |             ORDER BY n_chars, doc_id) AS i
       |  FROM documents),
       |a AS (SELECT source, COUNT(*) AS n_docs,
       |             CAST(SUM(x) AS BIGINT) AS chars_sum,
       |             CAST(SUM(i * x) AS BIGINT) AS sxi
       |      FROM d GROUP BY source)
       |SELECT source, n_docs, chars_sum,
       |       ${sqlE6("CAST(2 * sxi - (n_docs + 1) * chars_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(chars_sum AS DOUBLE))")} AS gini_e6
       |FROM a ORDER BY source""".stripMargin

  /** q170 oracle: the k-means assignment chain (af) joined to labels,
    * majority label per cluster via ROW_NUMBER (count desc, label). */
  private val q170Sql: String =
    s"""WITH $kmeansAfCtes,
       |cl AS (SELECT a.cid, e.label FROM af a
       |       JOIN embeddings e ON a.vec_id = e.vec_id),
       |cnt AS (SELECT cid, label, COUNT(*) AS c FROM cl GROUP BY 1, 2),
       |tot AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS n FROM cnt
       |        GROUP BY cid),
       |r AS (SELECT cid, label, c,
       |             ROW_NUMBER() OVER (PARTITION BY cid
       |                 ORDER BY c DESC, label) AS rk
       |      FROM cnt)
       |SELECT r.cid, tot.n, r.label AS top_label,
       |       CAST(r.c AS BIGINT) AS top_n,
       |       ${sqlE6("CAST(r.c AS DOUBLE) / tot.n")} AS purity_e6
       |FROM r JOIN tot ON r.cid = tot.cid WHERE r.rk = 1
       |ORDER BY r.cid""".stripMargin

  /** q171 oracle: recursive min-label reach over the symmetrized
    * Jaccard pairs (the q54 component idiom), then the size
    * histogram. */
  private val q171Sql: String =
    s"""WITH RECURSIVE ${sqlPairChain(2)},
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.1),
       |edges AS (SELECT id1 AS s2, id2 AS dd FROM fil
       |          UNION SELECT id2, id1 FROM fil),
       |nodes AS (SELECT DISTINCT s2 AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s2 = r.id),
       |comp AS (SELECT id, MIN(lab) AS cl FROM reach GROUP BY id),
       |szs AS (SELECT cl, COUNT(*) AS size FROM comp GROUP BY cl)
       |SELECT size, COUNT(*) AS n_clusters FROM szs GROUP BY size
       |ORDER BY size""".stripMargin

  /** q172 oracle: the same word-boundary mask (global flag —
    * DuckDB's regexp_replace defaults to first-match-only) and the
    * rolling-hash replay over the redacted text. */
  private val q172Sql: String = {
    val pat = "\\b(" + Stopwords.mkString("|") + ")\\b"
    s"""WITH d AS (SELECT doc_id, lower(text) AS low,
       |                  regexp_split_to_array(lower(trim(text)),
       |                    '\\s+') AS toks
       |           FROM documents),
       |r AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |             CAST(len(regexp_extract_all(low, '$pat'))
       |                  AS BIGINT) AS n_masked,
       |             regexp_replace(low, '$pat', '[X]', 'g') AS red
       |      FROM d)
       |SELECT doc_id, n_tokens, n_masked,
       |       ${sqlRollingHash("red")} AS red_hash
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** q173 oracle: the q57 session-id construction (LAG + running
    * is-start sum), then distinct per-session types and the ordered
    * pair count. */
  private val q173Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) AS tu FROM events),
       |l AS (SELECT *, LAG(tu) OVER (PARTITION BY user_id
       |               ORDER BY tu, event_id) AS prev FROM e),
       |s AS (SELECT user_id, event_type,
       |             SUM(CASE WHEN prev IS NULL OR tu - prev > 1800000000
       |                 THEN 1 ELSE 0 END)
       |               OVER (PARTITION BY user_id ORDER BY tu, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS sess
       |      FROM l),
       |st AS (SELECT DISTINCT user_id, sess, event_type FROM s),
       |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
       |      FROM st a JOIN st b
       |        ON a.user_id = b.user_id AND a.sess = b.sess
       |       AND a.event_type < b.event_type)
       |SELECT type_a, type_b, COUNT(*) AS n_sessions
       |FROM p GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  /** Shared CTE prelude for q174/q180: the q115 pair derivation
    * (doc_id < 100 bigram-Jaccard graph), symmetrized into `e` with
    * node set `nd`. */
  /** Parameterized twin of [[nearDupEdges100Sql]] for queries that
    * need a denser similarity graph (lower threshold / more docs). */
  private def nearDupEdgesSqlAt(maxId: Int, thr: String): String =
    nearDupEdges100Sql
      .replace("doc_id < 100", s"doc_id < $maxId")
      .replace(">= 0.1", s">= $thr")

  private val nearDupEdges100Sql: String =
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 100),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |e AS (SELECT id1 AS src, id2 AS dst FROM fil
       |      UNION ALL SELECT id2, id1 FROM fil),
       |nd AS (SELECT DISTINCT src AS node FROM e)""".stripMargin

  /** q174 oracle: the q115 graph, 3 unrolled personalized-PageRank
    * iterations with teleport uniform over the 10 smallest node ids —
    * arithmetic mirrors GraphOps.personalizedPageRank exactly. */
  private val q174Sql: String = {
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT ndf.node,
         |         (1.0 - 0.85) * (CASE WHEN ndf.is_seed = 1
         |                         THEN 1.0 / sn.n ELSE 0.0 END) +
         |         0.85 * COALESCE(SUM(c.w), 0.0) AS pr
         |  FROM ndf CROSS JOIN sn
         |  LEFT JOIN (SELECT e.dst, p${i - 1}.pr / deg.deg AS w
         |             FROM e JOIN p${i - 1} ON e.src = p${i - 1}.node
         |                    JOIN deg ON e.src = deg.src) c
         |    ON c.dst = ndf.node
         |  GROUP BY ndf.node, ndf.is_seed, sn.n)""".stripMargin
    s"""WITH $nearDupEdges100Sql,
       |sd AS (SELECT node FROM nd ORDER BY node LIMIT 10),
       |sn AS (SELECT COUNT(*) AS n FROM sd),
       |ndf AS (SELECT nd.node,
       |               CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END
       |                 AS is_seed
       |        FROM nd LEFT JOIN sd ON nd.node = sd.node),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT node, CASE WHEN is_seed = 1 THEN 1.0 / sn.n
       |                    ELSE 0.0 END AS pr
       |       FROM ndf CROSS JOIN sn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node AS doc_id, ${sqlE6("pr")} AS ppr_e6
       |FROM p3 ORDER BY doc_id""".stripMargin
  }

  /** q175 oracle: 6-token prefix blocking + levenshtein — DuckDB's
    * levenshtein() is the same unit-cost edit distance as Spark's. */
  private val q175Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lower(trim(text)) AS t,
       |         array_to_string((regexp_split_to_array(lower(trim(text)),
       |             '\\s+'))[1:6], ' ') AS pfx
       |  FROM documents),
       |g AS (SELECT *, COUNT(*) OVER (PARTITION BY pfx) AS gsz FROM b),
       |f AS (SELECT * FROM g WHERE gsz BETWEEN 2 AND 64),
       |p AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
       |             levenshtein(a.t, c.t) AS dist,
       |             GREATEST(length(a.t), length(c.t)) AS max_len
       |      FROM f a JOIN f c ON a.pfx = c.pfx AND a.doc_id < c.doc_id)
       |SELECT id1, id2, dist, max_len,
       |       CASE WHEN dist <= FLOOR(0.3 * max_len) THEN 1 ELSE 0 END
       |         AS keep
       |FROM p ORDER BY id1, id2""".stripMargin

  /** q176 oracle: quasi-class counts then per-lang risk rollup. */
  private val q176Sql: String =
    s"""WITH c AS (
       |  SELECT lang, source, n_chars // 256 AS lb, COUNT(*) AS cn
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT lang, CAST(SUM(cn) AS BIGINT) AS n_rows,
       |       COUNT(*) AS n_classes, MIN(cn) AS min_class,
       |       CAST(SUM(CASE WHEN cn < 5 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_small,
       |       CAST(SUM(CASE WHEN cn < 5 THEN cn ELSE 0 END) AS BIGINT)
       |         AS rows_at_risk,
       |       ${sqlE6("CAST(SUM(CASE WHEN cn < 5 THEN cn ELSE 0 END) AS DOUBLE) / SUM(cn)")}
       |         AS risk_e6
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** q177 oracle: trigram TF-IDF cosine knn — idf pinned to an
    * integer once (idf3), every dot product an exact BIGINT sum,
    * cosine one sqrt+divide on exact operands. */
  private val q177Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS t
       |  FROM toks WHERE len(tk) >= 3),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
       |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
       |dfc AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
       |kept AS (
       |  SELECT t, CAST(ROUND(ln((nn.n + 1.0) / (df + 1.0)) * 1e3, 0)
       |              AS BIGINT) AS idf3
       |  FROM dfc CROSS JOIN nn WHERE df BETWEEN 2 AND 200),
       |w AS (SELECT doc_id, tf.t, tf * idf3 AS w
       |      FROM tf JOIN kept ON tf.t = kept.t),
       |ssq AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS ssq
       |        FROM w GROUP BY 1),
       |num AS (
       |  SELECT a.doc_id AS qid, b.doc_id AS nid, COUNT(*) AS shared,
       |         CAST(SUM(a.w * b.w) AS BIGINT) AS num
       |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT qid, nid, shared,
       |         num::DOUBLE / sqrt(sa.ssq::DOUBLE * sb.ssq::DOUBLE) AS cos
       |  FROM num JOIN ssq sa ON num.qid = sa.doc_id
       |           JOIN ssq sb ON num.nid = sb.doc_id),
       |r AS (SELECT qid, nid, shared, cos,
       |             ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY cos DESC, nid) AS rk
       |      FROM sc)
       |SELECT qid, nid, shared, ${sqlE6("cos")} AS cos_e6, rk
       |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** q178 oracle: canonical token stream, replace-based
    * non-overlapping count (identical semantics both engines),
    * first_pos from the space count of the match prefix. */
  private val q178Sql: String = {
    def arm(name: String, phrase: Seq[String]): String = {
      val needle = " " + phrase.mkString(" ") + " "
      s"""SELECT '$name' AS phrase, doc_id,
         |       (length(s) - length(replace(s, '$needle', '')))
         |         // ${needle.length} AS n_hits,
         |       instr(s, '$needle') AS ix, s
         |FROM cs""".stripMargin
    }
    s"""WITH cs AS (
       |  SELECT doc_id,
       |         ' ' || array_to_string(regexp_split_to_array(
       |           lower(trim(text)), '\\s+'), ' ') || ' ' AS s
       |  FROM documents),
       |h AS (${arm("batch_stream", Seq("batch", "stream"))}
       |      UNION ALL
       |      ${arm("data_data", Seq("data", "data"))}),
       |f AS (
       |  SELECT phrase, doc_id, CAST(n_hits AS BIGINT) AS n_hits,
       |         CASE WHEN ix > 0 THEN CAST(length(p) -
       |           length(replace(p, ' ', '')) + 1 AS BIGINT) END
       |           AS first_pos
       |  FROM (SELECT *, substr(s, 1, ix - 1) AS p FROM h))
       |SELECT phrase, doc_id, n_hits, first_pos FROM f
       |WHERE n_hits > 0 ORDER BY phrase, doc_id""".stripMargin
  }

  /** q179 oracle: the q116-style pair derivation at doc_id < 500 fed
    * through the q52 md5 split, cross-split pairs rolled up. */
  private val q179Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 500),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |m AS (SELECT doc_id, md5('graft:' || doc_id::VARCHAR) AS h
       |      FROM d),
       |hv AS (SELECT doc_id, ${sqlHex32("h")} AS hv FROM m),
       |spl AS (SELECT doc_id, ${splitCaseSql(SplitWeights)} AS split
       |        FROM hv),
       |x AS (
       |  SELECT LEAST(s1.split, s2.split) AS split_a,
       |         GREATEST(s1.split, s2.split) AS split_b, id1, id2
       |  FROM fil JOIN spl s1 ON fil.id1 = s1.doc_id
       |           JOIN spl s2 ON fil.id2 = s2.doc_id
       |  WHERE s1.split <> s2.split)
       |SELECT split_a, split_b, COUNT(*) AS n_pairs,
       |       MIN({'id1': id1, 'id2': id2}).id1 AS ex_id1,
       |       MIN({'id1': id1, 'id2': id2}).id2 AS ex_id2
       |FROM x GROUP BY split_a, split_b
       |ORDER BY split_a, split_b""".stripMargin

  /** q180 oracle: 3 unrolled walk steps; next hop = argmin of the
    * md5Hash32 of "walk:w:s:u:v" over out-neighbors, ties to the
    * smaller dst — mirrors GraphOps.deterministicWalks' struct-min. */
  private val q180Sql: String = {
    def hop(i: Int): String = {
      val h = sqlHex32(s"md5('walk:' || walk || ':' || $i || ':' || " +
        "node || ':' || dst)")
      s"""s$i AS (
         |  SELECT start, walk, $i AS step, nxt AS node FROM (
         |    SELECT f.start, f.walk, e.dst AS nxt,
         |           ROW_NUMBER() OVER (PARTITION BY f.start, f.walk
         |             ORDER BY $h, e.dst) AS rk
         |    FROM s${i - 1} f JOIN e ON f.node = e.src)
         |  WHERE rk = 1)""".stripMargin
    }
    s"""WITH $nearDupEdges100Sql,
       |s0 AS (SELECT node AS start, w AS walk, 0 AS step, node
       |       FROM nd CROSS JOIN (VALUES (0), (1)) v(w)),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)}
       |SELECT start, walk, step, node FROM
       |  (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |   UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
       |ORDER BY start, walk, step""".stripMargin
  }

  /** q181 oracle: brute-force and hyperplane-LSH top-5 CTEs (the
    * q28/q29 machinery) joined per (qid, nid); recall@5 + MRR. */
  private val q181Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqlNorm("v")} AS vn FROM e),
       |q AS (SELECT * FROM n WHERE vec_id < 50),
       |bs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |              ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |       FROM q JOIN n c ON c.vec_id <> q.vec_id),
       |bt AS (SELECT qid, nid,
       |              ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY cosim DESC, nid) AS t_rk
       |       FROM bs),
       |tt AS (SELECT qid, nid, t_rk FROM bt WHERE t_rk <= 5),
       |b AS (SELECT vec_id, v, vn, ${sqlBucket("v", 4)} AS bucket FROM n),
       |ls AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |              ${sqlDot("q.v", "c.v")} / (q.vn * c.vn) AS cosim
       |       FROM b q JOIN b c ON q.bucket = c.bucket
       |            AND c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 50),
       |lr AS (SELECT qid, nid,
       |              ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY cosim DESC, nid) AS a_rk
       |       FROM ls),
       |aa AS (SELECT qid, nid, a_rk FROM lr WHERE a_rk <= 5),
       |j AS (SELECT tt.qid, tt.t_rk, aa.a_rk
       |      FROM tt LEFT JOIN aa ON tt.qid = aa.qid
       |              AND tt.nid = aa.nid)
       |SELECT qid, COUNT(*) AS n_truth,
       |       CAST(SUM(CASE WHEN a_rk IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       ${sqlE6("CAST(SUM(CASE WHEN a_rk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")}
       |         AS recall_e6,
       |       ${sqlE6("COALESCE(1.0 / MAX(CASE WHEN t_rk = 1 THEN a_rk END), 0.0)")}
       |         AS rr_e6
       |FROM j GROUP BY qid ORDER BY qid""".stripMargin

  /** q182 oracle: the q180 walk CTEs + a (start, walk)-keyed
    * self-join within window 2. */
  private val q182Sql: String = {
    def hop(i: Int): String = {
      val h = sqlHex32(s"md5('walk:' || walk || ':' || $i || ':' || " +
        "node || ':' || dst)")
      s"""s$i AS (
         |  SELECT start, walk, $i AS step, nxt AS node FROM (
         |    SELECT f.start, f.walk, e.dst AS nxt,
         |           ROW_NUMBER() OVER (PARTITION BY f.start, f.walk
         |             ORDER BY $h, e.dst) AS rk
         |    FROM s${i - 1} f JOIN e ON f.node = e.src)
         |  WHERE rk = 1)""".stripMargin
    }
    s"""WITH $nearDupEdges100Sql,
       |s0 AS (SELECT node AS start, w AS walk, 0 AS step, node
       |       FROM nd CROSS JOIN (VALUES (0), (1)) v(w)),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)},
       |wk AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |       UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
       |SELECT a.node AS center, b.node AS context, COUNT(*) AS n
       |FROM wk a JOIN wk b ON a.start = b.start AND a.walk = b.walk
       |     AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2 ORDER BY center, context""".stripMargin
  }

  /** q183 oracle: the q154 dense grid carrying the smoothed-share PSI
    * term, bin-ordered fold. */
  private val q183Sql: String =
    s"""WITH b AS (SELECT source,
       |                  GREATEST(0, LEAST(n_chars // 64, 7)) AS bin
       |           FROM documents),
       |obs AS (SELECT source, bin, COUNT(*) AS o FROM b GROUP BY 1, 2),
       |gb AS (SELECT bin, CAST(SUM(o) AS BIGINT) AS g FROM obs
       |       GROUP BY bin),
       |ns AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n FROM obs
       |       GROUP BY source),
       |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS nn,
       |               COUNT(*) AS bb FROM gb),
       |dense AS (
       |  SELECT ns.source, ns.n, gb.bin,
       |         (CAST(COALESCE(obs.o, 0) AS DOUBLE) + 0.5) /
       |           (CAST(ns.n AS DOUBLE) + 0.5 * tot.bb) AS p,
       |         (CAST(gb.g AS DOUBLE) + 0.5) /
       |           (CAST(tot.nn AS DOUBLE) + 0.5 * tot.bb) AS q
       |  FROM ns CROSS JOIN gb CROSS JOIN tot
       |  LEFT JOIN obs ON obs.source = ns.source AND obs.bin = gb.bin),
       |tt AS (SELECT source, n, bin, (p - q) * ln(p / q) AS term
       |       FROM dense),
       |c AS (SELECT source, MAX(n) AS n, COUNT(*) AS n_bins,
       |             list(term ORDER BY bin) AS terms
       |      FROM tt GROUP BY source)
       |SELECT source, n, n_bins,
       |       ${sqlE6("list_reduce(list_prepend(0.0::DOUBLE, terms), (a, x) -> a + x)")} AS psi_e6
       |FROM c ORDER BY source""".stripMargin

  /** q184 oracle: the q141 rate chain, each doc exploded into
    * floor(rate)+1 candidate copies, the last kept by the md5
    * Bernoulli threshold. */
  private val q184Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS nt
       |  FROM documents),
       |w AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS tokens
       |      FROM d GROUP BY lang),
       |tgt AS (SELECT * FROM (VALUES ('en', 0.30), ('zh', 0.25),
       |        ('es', 0.15), ('de', 0.15), ('fr', 0.15)) t(g, ts)),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM w),
       |r AS (SELECT w.lang,
       |             CASE WHEN w.tokens > 0
       |                  THEN LEAST(4.0, COALESCE(tgt.ts, 0.0) *
       |                             tot.total / w.tokens)
       |                  ELSE 0.0 END AS rate
       |      FROM w LEFT JOIN tgt ON w.lang = tgt.g CROSS JOIN tot),
       |x AS (
       |  SELECT d.lang, d.doc_id AS id,
       |         CAST(FLOOR(r.rate) AS BIGINT) AS nf,
       |         r.rate - FLOOR(r.rate) AS frac,
       |         ${sqlHex32("md5('epoch:' || d.doc_id::VARCHAR)")} AS h
       |  FROM d JOIN r ON d.lang = r.lang),
       |k AS (SELECT lang, id, nf,
       |             h < CAST(FLOOR(frac * 4294967296.0) AS BIGINT)
       |               AS keep_x
       |      FROM x),
       |ex AS (SELECT lang, id, nf, keep_x,
       |              unnest(range(0, nf + 1)) AS copy
       |       FROM k WHERE nf > 0 OR keep_x)
       |SELECT lang, id, copy FROM ex
       |WHERE copy < nf OR (copy = nf AND keep_x)
       |ORDER BY lang, id, copy""".stripMargin

  /** q185 oracle: group counts + the seeded inverse-CDF Laplace
    * draw replayed op for op. */
  private val q185Sql: String =
    s"""WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents
       |           GROUP BY 1, 2),
       |u AS (SELECT lang, source, n,
       |             (${sqlHex32("md5('dp:' || lang || '|' || source)")}
       |              + 0.5) / 4294967296.0 AS u
       |      FROM c)
       |SELECT lang, source, n,
       |       ${sqlE6("n + (-1.0 / 1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))")}
       |         AS noisy_e6
       |FROM u ORDER BY lang, source""".stripMargin

  /** q186 oracle: positional (multiset) bigram counts, the q115 fil
    * pairs, clipped-count precision. */
  private val q186Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 100),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |gm AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(toks) >= 2
       |                THEN list_transform(range(1, len(toks)),
       |                       i -> array_to_string(toks[i:i+1], ' '))
       |                ELSE [] END) AS g
       |  FROM d),
       |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gm GROUP BY 1, 2),
       |j AS (
       |  SELECT fil.id1, fil.id2, g2.c AS c2, COALESCE(g1.c, 0) AS c1
       |  FROM fil JOIN gc g2 ON g2.doc_id = fil.id2
       |  LEFT JOIN gc g1 ON g1.doc_id = fil.id1 AND g1.g = g2.g)
       |SELECT id1, id2, CAST(SUM(c2) AS BIGINT) AS total2,
       |       CAST(SUM(LEAST(c2, c1)) AS BIGINT) AS clipped,
       |       ${sqlE6("CAST(SUM(LEAST(c2, c1)) AS DOUBLE) / SUM(c2)")}
       |         AS prec_e6
       |FROM j GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin

  /** q187 oracle: per-dim moments over the exploded embedding table —
    * mean/var replayed with the identical op sequence. */
  private val q187Sql: String =
    s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT unnest(v) AS val,
       |             generate_subscripts(v, 1) - 1 AS dim FROM e),
       |a AS (SELECT dim, COUNT(*) AS n, SUM(val) AS s,
       |             SUM(val * val) AS ss, MIN(val) AS vmin,
       |             MAX(val) AS vmax,
       |             CAST(SUM(CASE WHEN val = 0.0 THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS z
       |      FROM u GROUP BY dim)
       |SELECT dim, n, ${sqlE6("s / n")} AS mean_e6,
       |       ${sqlE6("ss / n - (s / n) * (s / n)")} AS var_e6,
       |       ${sqlE6("vmin")} AS vmin_e6, ${sqlE6("vmax")} AS vmax_e6,
       |       ${sqlE6("CAST(z AS DOUBLE) / n")} AS zero_e6
       |FROM a ORDER BY dim""".stripMargin

  /** Variable-dims dot for q188's truncated side. */
  private def sqlDotN(a: String, b: String, dims: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dims + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  /** q188 oracle: the q181 recall/MRR harness with the approx side
    * an exact search over the first 32 dims. */
  private val q188Sql: String = {
    def brute(dims: Int, rkName: String): String =
      s"""SELECT q.vec_id AS qid, c.vec_id AS nid,
         |       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |         ${sqlDotN("q.v", "c.v", dims)} /
         |         (sqrt(${sqlDotN("q.v", "q.v", dims)}) *
         |          sqrt(${sqlDotN("c.v", "c.v", dims)})) DESC,
         |         c.vec_id) AS $rkName
         |FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |WHERE q.vec_id < 50""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bt AS (${brute(64, "t_rk")}),
       |tt AS (SELECT qid, nid, t_rk FROM bt WHERE t_rk <= 5),
       |ar AS (${brute(32, "a_rk")}),
       |aa AS (SELECT qid, nid, a_rk FROM ar WHERE a_rk <= 5),
       |j AS (SELECT tt.qid, tt.t_rk, aa.a_rk
       |      FROM tt LEFT JOIN aa ON tt.qid = aa.qid
       |              AND tt.nid = aa.nid)
       |SELECT qid, COUNT(*) AS n_truth,
       |       CAST(SUM(CASE WHEN a_rk IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       ${sqlE6("CAST(SUM(CASE WHEN a_rk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")}
       |         AS recall_e6,
       |       ${sqlE6("COALESCE(1.0 / MAX(CASE WHEN t_rk = 1 THEN a_rk END), 0.0)")}
       |         AS rr_e6
       |FROM j GROUP BY qid ORDER BY qid""".stripMargin
  }

  /** q189 oracle: the PLAIN exact trigram-Jaccard derivation — prefix
    * filtering is lossless, so ground truth needs no replication of
    * the optimization. */
  private val q189Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) >= 3
       |              THEN list_distinct(list_transform(range(1, len(tk) - 1),
       |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s)
       |SELECT id1, id2,
       |       ${sqlE6("shared * 1.0 / (x.n + y.n - shared)")} AS jacc_e6
       |FROM pp JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.4
       |ORDER BY id1, id2""".stripMargin

  /** q190 oracle: the q26 md5 minhash signature CTEs + one banding
    * per config, integer bucket statistics. */
  private val q190Sql: String = {
    val sigList = (0 until 8)
      .map(i => s"list_min(list_transform(sh, x -> md5('$i:' || x)))")
      .mkString("[", ", ", "]")
    def cfg(b: Int): String = {
      val r = 8 / b
      val banded = (0 until b).map { j =>
        val parts = (1 to r).map(i => s"sig[${j * r + i}]")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $j AS band, md5($parts) AS bucket FROM g"
      }.mkString("\n    UNION ALL ")
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |       COUNT(*) AS n_buckets,
         |       CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_buckets_ge2,
         |       CAST(SUM(CASE WHEN m >= 2 THEN m * (m - 1) // 2
         |                ELSE 0 END) AS BIGINT) AS cand_pairs,
         |       MAX(m) AS max_bucket
         |FROM (SELECT band, bucket, COUNT(*) AS m FROM (
         |    $banded) GROUP BY band, bucket)""".stripMargin
    }
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |g AS (SELECT doc_id, $sigList AS sig FROM s)
       |${Seq(8, 4, 2, 1).map(cfg).mkString("\nUNION ALL\n")}
       |ORDER BY bands DESC""".stripMargin
  }

  /** q191 oracle: global keep-first content dedup, per-source byte
    * rollup. */
  private val q191Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |         md5(lower(trim(text))) AS h
       |  FROM documents),
       |k AS (SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_kept,
       |       CAST(SUM(n_chars) AS BIGINT) AS bytes,
       |       CAST(SUM(CASE WHEN doc_id = keeper THEN n_chars
       |                ELSE 0 END) AS BIGINT) AS kept_bytes,
       |       ${sqlE6("1.0 - CAST(SUM(CASE WHEN doc_id = keeper THEN n_chars ELSE 0 END) AS DOUBLE) / SUM(n_chars)")}
       |         AS savings_e6
       |FROM d JOIN k USING (h)
       |GROUP BY source ORDER BY source""".stripMargin

  /** q192 oracle: per-doc positional window pairs, PMI as ln of ONE
    * double quotient mirroring windowPmi's op sequence. */
  private val q192Sql: String =
    s"""WITH inv AS (
       |  SELECT doc_id,
       |         generate_subscripts(regexp_split_to_array(lower(trim(text)),
       |           '\\s+'), 1) - 1 AS p,
       |         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |uni AS (SELECT t, COUNT(*) AS c FROM inv GROUP BY t),
       |nt AS (SELECT COUNT(*) AS n FROM inv),
       |pr AS (
       |  SELECT LEAST(a.t, b.t) AS t1, GREATEST(a.t, b.t) AS t2
       |  FROM inv a JOIN inv b ON a.doc_id = b.doc_id
       |       AND b.p > a.p AND b.p - a.p <= 3),
       |cp AS (SELECT t1, t2, COUNT(*) AS c_pair FROM pr GROUP BY 1, 2),
       |np AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS n FROM cp),
       |sc AS (
       |  SELECT t1, t2, c_pair, u1.c AS c1, u2.c AS c2,
       |         ln((CAST(c_pair AS DOUBLE) * CAST(nt.n AS DOUBLE) *
       |             CAST(nt.n AS DOUBLE)) /
       |            (CAST(np.n AS DOUBLE) * c1 * c2)) AS pmi
       |  FROM cp JOIN uni u1 ON cp.t1 = u1.t
       |          JOIN uni u2 ON cp.t2 = u2.t
       |          CROSS JOIN nt CROSS JOIN np
       |  WHERE c_pair >= 10)
       |SELECT t1, t2, c_pair, c1, c2, pmi_e6 FROM (
       |  SELECT t1, t2, c_pair, c1, c2, ${sqlE6("pmi")} AS pmi_e6
       |  FROM sc ORDER BY pmi DESC, t1, t2 LIMIT 20)
       |ORDER BY pmi_e6 DESC, t1, t2""".stripMargin

  /** q193 oracle: the q95 BM25 replay (the store path is exactly the
    * scan path — folded stats are value-identical), top-50 cut on the
    * raw score, output re-ordered on the e6 pin. */
  private val q193Sql: String =
    s"""WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |           FROM documents),
       |l AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM d),
       |s AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM l),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE AS tf FROM tok
       |       WHERE t IN ('data','query','window') GROUP BY doc_id, t),
       |idf AS (SELECT t, ln(1.0 + ((SELECT n FROM s) - nd + 0.5)/(nd + 0.5)) AS idf
       |        FROM (SELECT t, COUNT(*)::DOUBLE AS nd FROM tf GROUP BY t)),
       |sc AS (
       |  SELECT tf.doc_id,
       |         SUM(idf.idf * tf.tf * 2.2 /
       |             (tf.tf + 1.2 * (0.25 + 0.75 * l.dl /
       |                             (SELECT avgdl FROM s)))) AS bm25
       |  FROM tf JOIN idf USING (t) JOIN l ON tf.doc_id = l.doc_id
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, bm25_e6 FROM (
       |  SELECT doc_id, ${sqlE6("bm25")} AS bm25_e6
       |  FROM sc ORDER BY bm25 DESC, doc_id LIMIT 50)
       |ORDER BY bm25_e6 DESC, doc_id""".stripMargin

  /** q194 oracle: quantile_cont == Spark's type-7 percentile (the
    * q44 pin); same deviation / threshold / degenerate-MAD ops. */
  private val q194Sql: String =
    s"""WITH b AS (SELECT source, n_chars::DOUBLE AS v FROM documents),
       |m AS (SELECT source, quantile_cont(v, 0.5) AS med
       |      FROM b GROUP BY source),
       |d AS (SELECT b.source, ABS(b.v - m.med) AS dv, m.med
       |      FROM b JOIN m USING (source)),
       |md AS (SELECT source, MAX(med) AS med,
       |              quantile_cont(dv, 0.5) AS mad, COUNT(*) AS n
       |       FROM d GROUP BY source),
       |o AS (SELECT d.source,
       |             CASE WHEN md.mad > 0
       |                  THEN d.dv > 3.0 * 1.4826 * md.mad
       |                  ELSE d.dv > 0 END AS is_out
       |      FROM d JOIN md USING (source))
       |SELECT md.source, md.n, ${sqlE6("md.med")} AS med_e6,
       |       ${sqlE6("md.mad")} AS mad_e6,
       |       CAST(SUM(CASE WHEN o.is_out THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_out,
       |       ${sqlE6("CAST(SUM(CASE WHEN o.is_out THEN 1 ELSE 0 END) AS DOUBLE) / md.n")}
       |         AS frac_e6
       |FROM o JOIN md USING (source)
       |GROUP BY md.source, md.n, md.med, md.mad
       |ORDER BY md.source""".stripMargin

  /** q195 oracle: the near-dup edge CTE + a middle-node self-join,
    * distinct union of 1- and 2-hop targets, self excluded. */
  private val q195Sql: String =
    s"""WITH $nearDupEdges100Sql,
       |one AS (SELECT src, dst AS r FROM e),
       |two AS (SELECT a.src, b.dst AS r
       |        FROM e a JOIN e b ON a.dst = b.src),
       |u AS (SELECT DISTINCT src, r FROM
       |        (SELECT * FROM one UNION ALL SELECT * FROM two)
       |      WHERE r <> src),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
       |SELECT u.src AS doc_id, deg.deg, COUNT(*) AS reach2
       |FROM u JOIN deg USING (src)
       |GROUP BY u.src, deg.deg ORDER BY doc_id""".stripMargin

  /** q196 oracle: the q47 parity CTEs + the signature-match estimate
    * per candidate pair, MAE/bias rollup. */
  private val q196Sql: String =
    s"""WITH $minhashParityCtes,
       |wj AS (
       |  SELECT ver.id1, ver.id2, ver.jaccard,
       |         len(list_filter(range(1, 9),
       |               i -> x.sig[i] = y.sig[i]))::DOUBLE / 8 AS est
       |  FROM ver JOIN g x ON ver.id1 = x.doc_id
       |           JOIN g y ON ver.id2 = y.doc_id)
       |SELECT COUNT(*) AS n_pairs,
       |       ${sqlE6("AVG(ABS(est - jaccard))")} AS mae_e6,
       |       ${sqlE6("AVG(est - jaccard)")} AS bias_e6
       |FROM wj ORDER BY n_pairs""".stripMargin

  /** q197 oracle: DuckDB's jaro_winkler_similarity implements the
    * same rapidfuzz byte semantics the native expression pins
    * (JaroWinklerSpec); argmax replayed as ROW_NUMBER over the
    * e6-pinned score with the candidate-id tiebreak. */
  private val q197Sql: String =
    s"""WITH c AS (SELECT c_nationkey AS b, c_custkey AS k, c_name AS n
       |           FROM customer),
       |p AS (SELECT a.b, a.k, x.k AS ck,
       |             ${sqlE6("jaro_winkler_similarity(a.n, x.n)")} AS jw
       |      FROM c a JOIN c x ON a.b = x.b AND a.k <> x.k),
       |r AS (SELECT b, k, ck, jw, ROW_NUMBER() OVER
       |        (PARTITION BY k ORDER BY jw DESC, ck) AS rn FROM p)
       |SELECT CAST(b AS BIGINT) AS nation, k AS c_custkey,
       |       ck AS match_id, jw AS jw_e6
       |FROM r WHERE rn = 1 ORDER BY c_custkey""".stripMargin

  /** q198 oracle: the PLAIN all-pairs levenshtein derivation — the
    * deletion-neighborhood blocking is lossless at d = 1, so the
    * oracle needs no knowledge of it. */
  private val q198Sql: String =
    s"""WITH c AS (SELECT c_custkey AS k, c_name AS n FROM customer
       |           WHERE c_custkey < 2000)
       |SELECT a.k AS id1, x.k AS id2,
       |       CAST(levenshtein(a.n, x.n) AS BIGINT) AS dist
       |FROM c a JOIN c x ON a.k < x.k
       |WHERE levenshtein(a.n, x.n) <= 1
       |ORDER BY id1, id2""".stripMargin

  /** q199 oracle: per-conversion correlated pick of the latest
    * in-window touch (ts desc, event_id desc), channel rollup. */
  private val q199Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value,
       |                  epoch_us(ts) AS tu FROM events),
       |conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
       |tch AS (SELECT * FROM e
       |        WHERE event_type IN ('click', 'view', 'signup')),
       |pick AS (SELECT c.event_id, c.value,
       |    (SELECT t.event_type FROM tch t
       |     WHERE t.user_id = c.user_id AND t.tu <= c.tu
       |       AND c.tu - t.tu <= CAST(14400000000 AS BIGINT)
       |     ORDER BY t.tu DESC, t.event_id DESC LIMIT 1) AS ch
       |  FROM conv c)
       |SELECT COALESCE(ch, '(none)') AS channel,
       |       COUNT(*) AS n_conv, ${sqlE6("SUM(value)")} AS rev_e6
       |FROM pick GROUP BY 1 ORDER BY channel""".stripMargin

  /** q200 oracle: plain in-window inequality join (DuckDB handles
    * the small side), channel rollups + the untouched remainder. */
  private val q200Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) AS tu FROM events),
       |conv AS (SELECT user_id, event_id AS cid, tu AS ctu FROM e
       |         WHERE event_type = 'purchase'),
       |tch AS (SELECT user_id, event_type AS tt, tu AS ttu FROM e
       |        WHERE event_type IN ('click', 'view', 'signup')),
       |p AS (SELECT c.cid, t.tt FROM conv c JOIN tch t
       |      ON c.user_id = t.user_id AND t.ttu <= c.ctu
       |         AND c.ctu - t.ttu <= CAST(14400000000 AS BIGINT)),
       |ch AS (SELECT tt AS channel, COUNT(*) AS n_pairs,
       |              COUNT(DISTINCT cid) AS n_conv FROM p GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS c FROM conv),
       |tchd AS (SELECT COUNT(DISTINCT cid) AS t FROM p)
       |SELECT channel, n_pairs, n_conv FROM ch
       |UNION ALL
       |SELECT '(none)', CAST(0 AS BIGINT), c - t FROM tot, tchd
       |ORDER BY channel""".stripMargin

  /** q201 oracle: GROUP BY ROLLUP with GROUPING() — bit-compatible
    * with Spark's grouping_id (probed: (0, 1, 3)). */
  private val q201Sql: String =
    s"""SELECT CAST(GROUPING(r_name, n_name) AS BIGINT) AS lvl,
       |       COALESCE(r_name, '(all)') AS region,
       |       COALESCE(n_name, '(all)') AS nation,
       |       COUNT(*) AS n_orders,
       |       ${sqlE6("SUM(o_totalprice)")} AS rev_e6
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY lvl, region, nation""".stripMargin

  /** q202 oracle: GROUP BY CUBE, same grouping-bit contract. */
  private val q202Sql: String =
    s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
       |         AS lvl,
       |       COALESCE(l_returnflag, '(all)') AS rflag,
       |       COALESCE(l_linestatus, '(all)') AS lstatus,
       |       COUNT(*) AS n,
       |       ${sqlE6("SUM(l_quantity)")} AS qty_e6,
       |       ${sqlE6("SUM(l_extendedprice * (1.0 - l_discount))")}
       |         AS rev_e6
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY lvl, rflag, lstatus""".stripMargin

  /** q203 oracle: monthly rollup joined to its one-month shift. */
  private val q203Sql: String =
    s"""WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon,
       |                  COUNT(*) AS n_orders,
       |                  SUM(o_totalprice) AS rev
       |           FROM orders GROUP BY 1)
       |SELECT strftime(a.mon, '%Y-%m') AS month, a.n_orders,
       |       ${sqlE6("a.rev")} AS rev_e6,
       |       ${sqlE6("(a.rev - b.rev) / b.rev")} AS growth_e6
       |FROM m a JOIN m b ON a.mon = b.mon + INTERVAL 1 MONTH
       |ORDER BY month""".stripMargin

  /** q204 oracle: per-nation rollup + the sum-of-group-sums total
    * (matching the Spark derivation's fold structure). */
  private val q204Sql: String =
    s"""WITH n AS (SELECT n_name AS nation, COUNT(*) AS n_orders,
       |                  SUM(o_totalprice) AS rev
       |           FROM orders
       |           JOIN customer ON o_custkey = c_custkey
       |           JOIN nation ON c_nationkey = n_nationkey
       |           GROUP BY 1),
       |t AS (SELECT SUM(rev) AS tot FROM n)
       |SELECT nation, n_orders, ${sqlE6("rev")} AS rev_e6,
       |       ${sqlE6("rev / tot")} AS share_e6
       |FROM n, t ORDER BY nation""".stripMargin

  /** q205 oracle: the same two derived snapshots, full-outer joined,
    * fingerprints compared by md5 like the Spark side. */
  private val q205Sql: String =
    """WITH oldd AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0
      |              THEN substring(text, 1, greatest(1, length(text) - 20))
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0),
      |newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |j AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |         CASE WHEN o.doc_id IS NULL THEN 'added'
      |              WHEN n.doc_id IS NULL THEN 'removed'
      |              WHEN md5(o.text) <> md5(n.text) THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
      |SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
      |       MAX(doc_id) AS max_id
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** q206 oracle: per-term BM25 ranking (q95's formula, unsummed) with
    * row_number cutoffs and the shared ln(r+1)/ln(2) discount. */
  private val q206Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |                  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |           FROM documents),
       |l AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM d),
       |s AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM l),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE AS tf FROM tok
       |       WHERE t IN ('data','query','window') GROUP BY doc_id, t),
       |idf AS (SELECT t, ln(1.0 + ((SELECT n FROM s) - nd + 0.5)/(nd + 0.5)) AS idf
       |        FROM (SELECT t, COUNT(*)::DOUBLE AS nd FROM tf GROUP BY t)),
       |sc AS (SELECT tf.t, tf.doc_id, tf.tf,
       |              idf.idf * tf.tf * 2.2 /
       |                (tf.tf + 1.2 * (0.25 + 0.75 * l.dl /
       |                                (SELECT avgdl FROM s))) AS score
       |       FROM tf JOIN idf USING (t) JOIN l ON tf.doc_id = l.doc_id),
       |r AS (SELECT t, tf,
       |             row_number() OVER (PARTITION BY t
       |                                ORDER BY score DESC, doc_id) AS rnk,
       |             row_number() OVER (PARTITION BY t
       |                                ORDER BY tf DESC, doc_id) AS grank
       |      FROM sc),
       |a AS (SELECT t AS term, COUNT(*) AS n_docs,
       |             SUM(CASE WHEN rnk <= 10
       |                      THEN tf / (ln(rnk + 1.0) / ln(2.0))
       |                      ELSE 0.0 END) AS dcg,
       |             SUM(CASE WHEN grank <= 10
       |                      THEN tf / (ln(grank + 1.0) / ln(2.0))
       |                      ELSE 0.0 END) AS idcg
       |      FROM r GROUP BY t)
       |SELECT term, n_docs, ${sqlE6("dcg")} AS dcg_e6,
       |       ${sqlE6("idcg")} AS idcg_e6,
       |       ${sqlE6("CASE WHEN idcg > 0.0 THEN dcg / idcg ELSE 0.0 END")} AS ndcg_e6
       |FROM a ORDER BY term""".stripMargin

  /** q207 oracle: inner join on shared terms for the min-sums, the
    * max-sum via tot_a + tot_b - inter. */
  private val q207Sql: String =
    s"""WITH tok AS (SELECT source AS g,
       |                    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |             FROM documents),
       |c AS (SELECT g, t, COUNT(*) AS c FROM tok GROUP BY g, t),
       |tt AS (SELECT g, SUM(c) AS tot FROM c GROUP BY g),
       |sh AS (SELECT a.g AS src_a, b.g AS src_b,
       |              SUM(LEAST(a.c, b.c)) AS inter
       |       FROM c a JOIN c b ON a.t = b.t AND a.g < b.g
       |       GROUP BY 1, 2)
       |SELECT x.g AS src_a, y.g AS src_b,
       |       CAST(COALESCE(sh.inter, 0) AS BIGINT) AS inter,
       |       CAST(x.tot AS BIGINT) AS tot_a, CAST(y.tot AS BIGINT) AS tot_b,
       |       ${sqlE6("COALESCE(sh.inter, 0)::DOUBLE / (x.tot + y.tot - COALESCE(sh.inter, 0))::DOUBLE")} AS wjacc_e6
       |FROM tt x JOIN tt y ON x.g < y.g
       |LEFT JOIN sh ON sh.src_a = x.g AND sh.src_b = y.g
       |ORDER BY src_a, src_b""".stripMargin

  /** q208 oracle: the q168 dense spine + the exact-integer scaled
    * CUSUM argmax (n·prefix − i·S). */
  private val q208Sql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
       |         COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
       |spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM b),
       |ty AS (SELECT DISTINCT event_type FROM hourly),
       |dense AS (
       |  SELECT ty.event_type, spine.h, COALESCE(hourly.n, 0) AS n
       |  FROM ty CROSS JOIN spine
       |  LEFT JOIN hourly ON hourly.event_type = ty.event_type
       |    AND hourly.h = spine.h),
       |m AS (SELECT event_type, SUM(n) AS s, COUNT(*) AS np
       |      FROM dense GROUP BY 1),
       |cu AS (SELECT d.event_type, d.h, m.np,
       |              SUM(d.n) OVER w * m.np -
       |                ROW_NUMBER() OVER w * m.s AS scaled
       |       FROM dense d JOIN m ON d.event_type = m.event_type
       |       WINDOW w AS (PARTITION BY d.event_type ORDER BY d.h
       |                    ROWS BETWEEN UNBOUNDED PRECEDING
       |                    AND CURRENT ROW)),
       |r AS (SELECT event_type, h, scaled, np,
       |             ROW_NUMBER() OVER (PARTITION BY event_type
       |                                ORDER BY ABS(scaled) DESC, h) AS rn
       |      FROM cu)
       |SELECT event_type, h AS change_h,
       |       ${sqlE6("scaled::DOUBLE / np::DOUBLE")} AS cusum_e6,
       |       CAST(np AS BIGINT) AS n_hours
       |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** q209 oracle: first digit via floor(v / 10^floor(log10 v)) with
    * the same 0/10 -> 1 power-of-ten guard as the Spark side. */
  private val q209Sql: String =
    s"""WITH v AS (SELECT o_totalprice::DOUBLE AS v FROM orders
       |           WHERE o_totalprice >= 1.0),
       |d0 AS (SELECT CAST(FLOOR(v / POWER(10.0, FLOOR(LOG10(v)))) AS BIGINT) AS raw
       |       FROM v),
       |dd AS (SELECT CASE WHEN raw = 0 OR raw = 10 THEN 1 ELSE raw END AS digit
       |       FROM d0),
       |pd AS (SELECT digit, COUNT(*) AS n_obs FROM dd GROUP BY digit),
       |tt AS (SELECT SUM(n_obs) AS n FROM pd)
       |SELECT digit, n_obs,
       |       ${sqlE6("n_obs::DOUBLE / n")} AS obs_share_e6,
       |       ${sqlE6("LOG10(1.0 + 1.0 / digit::DOUBLE)")} AS exp_share_e6,
       |       ${sqlE6("(n_obs::DOUBLE - LOG10(1.0 + 1.0 / digit::DOUBLE) * n::DOUBLE) * (n_obs::DOUBLE - LOG10(1.0 + 1.0 / digit::DOUBLE) * n::DOUBLE) / (LOG10(1.0 + 1.0 / digit::DOUBLE) * n::DOUBLE)")} AS chi2_e6
       |FROM pd, tt ORDER BY digit""".stripMargin

  /** q210 oracle: integer nanosecond gap sums (lambda bit-exact), the
    * fitted CDF and two-sided KS rank bounds. */
  private val q210Sql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) * 1000 AS ts_ns, event_id
       |           FROM events),
       |g AS (SELECT event_type,
       |             ts_ns - LAG(ts_ns) OVER (PARTITION BY event_type
       |                                      ORDER BY ts_ns, event_id) AS gap
       |      FROM e),
       |gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
       |st AS (SELECT event_type, COUNT(*) AS n, SUM(gap) AS s
       |       FROM gg GROUP BY 1),
       |r AS (SELECT gg.event_type, gg.gap, st.n, st.s,
       |             st.n::DOUBLE * 1e9 / st.s::DOUBLE AS lam,
       |             ROW_NUMBER() OVER (PARTITION BY gg.event_type
       |                                ORDER BY gg.gap) AS i
       |      FROM gg JOIN st USING (event_type) WHERE st.s > 0),
       |k AS (SELECT event_type, n, s,
       |             GREATEST(
       |               i::DOUBLE / n -
       |                 (1.0 - EXP(-lam * gap::DOUBLE / 1e9)),
       |               (1.0 - EXP(-lam * gap::DOUBLE / 1e9)) -
       |                 (i - 1)::DOUBLE / n) AS d
       |      FROM r)
       |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
       |       ${sqlE6("s::DOUBLE / n::DOUBLE / 1e9")} AS mean_gap_s_e6,
       |       ${sqlE6("n::DOUBLE * 1e9 / s::DOUBLE")} AS rate_hz_e6,
       |       ${sqlE6("MAX(d)")} AS ks_e6
       |FROM k GROUP BY event_type, n, s ORDER BY event_type""".stripMargin

  /** q211 oracle: integer time midpoint, pooled theta from explicit
    * avg-of-products moments — the Spark expression shape verbatim. */
  private val q211Sql: String =
    s"""WITH b AS (SELECT (MIN(epoch_us(ts) * 1000) +
       |                   MAX(epoch_us(ts) * 1000)) // 2 AS mid
       |           FROM events),
       |u AS (SELECT user_id % 2 AS arm, user_id,
       |             SUM(CASE WHEN epoch_us(ts) * 1000 < b.mid
       |                      THEN value ELSE 0.0 END) AS pre,
       |             SUM(CASE WHEN epoch_us(ts) * 1000 >= b.mid
       |                      THEN value ELSE 0.0 END) AS post
       |      FROM events, b GROUP BY 1, 2),
       |p AS (SELECT AVG(pre) AS mpre, AVG(post) AS mpost,
       |             AVG(pre * pre) AS mpre2,
       |             AVG(pre * post) AS mprepost FROM u),
       |th AS (SELECT mpre,
       |              (mprepost - mpre * mpost) /
       |                (mpre2 - mpre * mpre) AS theta FROM p),
       |a AS (SELECT u.arm, u.post,
       |             u.post - th.theta * (u.pre - th.mpre) AS adj
       |      FROM u, th),
       |f AS (SELECT arm, COUNT(*) AS n_units, AVG(post) AS mean_post,
       |             AVG(post * post) - AVG(post) * AVG(post) AS var_post,
       |             AVG(adj * adj) - AVG(adj) * AVG(adj) AS var_adj
       |      FROM a GROUP BY arm)
       |SELECT arm, n_units, ${sqlE6("mean_post")} AS mean_post_e6,
       |       ${sqlE6("var_post")} AS var_post_e6,
       |       ${sqlE6("var_adj")} AS var_adj_e6,
       |       ${sqlE6("CASE WHEN var_post > 0.0 THEN 1.0 - var_adj / var_post ELSE 0.0 END")} AS var_red_e6
       |FROM f ORDER BY arm""".stripMargin

  /** q212 oracle: rank desc with source tiebreak, boustrophedon bin
    * id, 1-row total bracket. */
  private val q212Sql: String =
    s"""WITH tok AS (
       |  SELECT source,
       |         SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
       |  FROM documents GROUP BY source),
       |r AS (SELECT source, tok,
       |             ROW_NUMBER() OVER (ORDER BY tok DESC, source) - 1 AS pos
       |      FROM tok),
       |bn AS (SELECT source, tok,
       |              CASE WHEN (pos // 4) % 2 = 0 THEN pos % 4
       |                   ELSE 3 - pos % 4 END AS bin
       |       FROM r),
       |o AS (SELECT bin, COUNT(*) AS n_sources, SUM(tok) AS tot_tokens
       |      FROM bn GROUP BY bin),
       |t AS (SELECT SUM(tot_tokens) AS tot FROM o)
       |SELECT CAST(bin AS BIGINT) AS bin, n_sources,
       |       CAST(tot_tokens AS BIGINT) AS tot_tokens,
       |       ${sqlE6("tot_tokens::DOUBLE * 4 / tot::DOUBLE")} AS load_e6
       |FROM o, t ORDER BY bin""".stripMargin

  /** q213 oracle: dense r×c grid via row/col total cross join, chi2
    * over every cell, V = sqrt(chi2/(N·(min(r,c)−1))). */
  private val q213Sql: String =
    s"""WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
       |                      COUNT(*) AS n
       |               FROM orders GROUP BY 1, 2),
       |rt AS (SELECT st, SUM(n) AS rn FROM cells GROUP BY st),
       |ct AS (SELECT pr, SUM(n) AS cn FROM cells GROUP BY pr),
       |tt AS (SELECT SUM(n) AS grand_n FROM cells),
       |dense AS (
       |  SELECT rt.st, ct.pr, rt.rn, ct.cn,
       |         COALESCE(cells.n, 0) AS n, tt.grand_n
       |  FROM rt CROSS JOIN ct
       |  LEFT JOIN cells ON cells.st = rt.st AND cells.pr = ct.pr
       |  CROSS JOIN tt),
       |co AS (SELECT n::DOUBLE AS nd,
       |              rn::DOUBLE * cn::DOUBLE / grand_n::DOUBLE AS exp,
       |              st, pr, grand_n
       |       FROM dense),
       |ag AS (SELECT SUM((nd - exp) * (nd - exp) / exp) AS chi2,
       |              COUNT(DISTINCT st) AS r, COUNT(DISTINCT pr) AS c,
       |              MAX(grand_n) AS n_orders
       |       FROM co)
       |SELECT ${sqlE6("chi2")} AS chi2_e6,
       |       ${sqlE6("SQRT(chi2 / (n_orders::DOUBLE * (LEAST(r, c) - 1)::DOUBLE))")} AS v_e6,
       |       CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
       |       CAST(n_orders AS BIGINT) AS n_orders
       |FROM ag ORDER BY r""".stripMargin

  /** q214 oracle: explicit moment expressions, slope in a CTE so the
    * intercept references the same double. */
  private val q214Sql: String =
    s"""WITH nl AS (SELECT l_orderkey, COUNT(*)::DOUBLE AS x
       |            FROM lineitem GROUP BY l_orderkey),
       |j AS (SELECT o_orderpriority AS prio, nl.x, o_totalprice AS y
       |      FROM orders JOIN nl ON o_orderkey = nl.l_orderkey),
       |m AS (SELECT prio, COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
       |             AVG(x * x) AS mxx, AVG(y * y) AS myy,
       |             AVG(x * y) AS mxy
       |      FROM j GROUP BY prio),
       |sl AS (SELECT *, (mxy - mx * my) / (mxx - mx * mx) AS slope
       |       FROM m)
       |SELECT prio, n, ${sqlE6("slope")} AS slope_e6,
       |       ${sqlE6("my - slope * mx")} AS intercept_e6,
       |       ${sqlE6("(mxy - mx * my) * (mxy - mx * my) / ((mxx - mx * mx) * (myy - my * my))")} AS r2_e6
       |FROM sl ORDER BY prio""".stripMargin

  /** q215 oracle: distinct-value tie groups, prefix-sum average
    * ranks, tie-corrected sigma — the Spark expressions verbatim. */
  private val q215Sql: String =
    s"""WITH s AS (SELECT value AS v,
       |                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
       |           FROM events WHERE event_type IN ('click', 'view')),
       |g AS (SELECT v, COUNT(*) AS t, SUM(a) AS ta FROM s GROUP BY v),
       |c AS (SELECT t, ta,
       |             COALESCE(SUM(t) OVER (ORDER BY v
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0) AS bef
       |      FROM g),
       |ag AS (SELECT SUM(t) AS n, SUM(ta) AS n1,
       |              SUM(ta::DOUBLE * (bef::DOUBLE + (t + 1)::DOUBLE / 2.0)) AS r1,
       |              SUM(t * t * t - t) AS tie_t
       |       FROM c),
       |f AS (SELECT n, n1, n - n1 AS n2, r1, tie_t,
       |             r1 - (n1 * (n1 + 1))::DOUBLE / 2.0 AS u1
       |      FROM ag)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |       ${sqlE6("u1")} AS u1_e6,
       |       ${sqlE6("(u1 - (n1 * n2)::DOUBLE / 2.0) / SQRT((n1 * n2)::DOUBLE / 12.0 * ((n + 1)::DOUBLE - tie_t::DOUBLE / (n * (n - 1))::DOUBLE))")} AS z_e6
       |FROM f ORDER BY n1""".stripMargin

  /** q216 oracle: distinct (order, brand), basket-key self-join with
    * a < b, supports joined back. */
  private val q216Sql: String =
    s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
       |            FROM lineitem JOIN part ON l_partkey = p_partkey),
       |nb AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi),
       |itn AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY i),
       |pr AS (SELECT a.i AS item_a, c.i AS item_b, COUNT(*) AS pair_n
       |       FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 5)
       |SELECT item_a, item_b, pair_n, na.n AS n_a, nbb.n AS n_b,
       |       nb.n_baskets,
       |       ${sqlE6("pair_n::DOUBLE / nb.n_baskets::DOUBLE")} AS support_e6,
       |       ${sqlE6("pair_n::DOUBLE / na.n::DOUBLE")} AS conf_e6,
       |       ${sqlE6("pair_n::DOUBLE * nb.n_baskets::DOUBLE / (na.n::DOUBLE * nbb.n::DOUBLE)")} AS lift_e6
       |FROM pr JOIN itn na ON na.i = item_a
       |        JOIN itn nbb ON nbb.i = item_b
       |        CROSS JOIN nb
       |ORDER BY item_a, item_b""".stripMargin

  /** q217 oracle: per-user durations, distinct-duration prefix sums,
    * surv = exp(sum ln(1 - d/n)) with the d = n_risk terminal row
    * emitted as exactly 0 (ln(0) differs across engines). */
  private val q217Sql: String =
    s"""WITH per AS (SELECT user_id, MIN(epoch_us(ts) * 1000) AS t0,
       |                    MIN(CASE WHEN event_type = 'purchase'
       |                             THEN epoch_us(ts) * 1000 END) AS p,
       |                    MAX(epoch_us(ts) * 1000) AS last_ts
       |             FROM events GROUP BY user_id),
       |d AS (SELECT (COALESCE(p, last_ts) - t0) // 86400000000000 AS dur,
       |             CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS e
       |      FROM per),
       |g AS (SELECT dur, COUNT(*) AS n, SUM(e) AS d_events
       |      FROM d GROUP BY dur),
       |tt AS (SELECT SUM(n) AS tot FROM g),
       |r AS (SELECT dur, n, d_events,
       |             tot - COALESCE(SUM(n) OVER (ORDER BY dur
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0) AS n_risk
       |      FROM g, tt),
       |sv AS (SELECT dur, n, d_events, n_risk,
       |              CASE WHEN d_events = n_risk THEN 0.0
       |                   ELSE EXP(SUM(CASE WHEN d_events > 0
       |                       AND d_events < n_risk
       |                     THEN LN(1.0 - d_events::DOUBLE / n_risk::DOUBLE)
       |                     ELSE 0.0 END) OVER (ORDER BY dur
       |                       ROWS BETWEEN UNBOUNDED PRECEDING
       |                       AND CURRENT ROW))
       |              END AS surv
       |       FROM r)
       |SELECT CAST(dur AS BIGINT) AS duration,
       |       CAST(n_risk AS BIGINT) AS n_risk,
       |       CAST(d_events AS BIGINT) AS d_events,
       |       CAST(n - d_events AS BIGINT) AS c_censored,
       |       ${sqlE6("surv")} AS surv_e6
       |FROM sv WHERE d_events > 0 ORDER BY duration""".stripMargin

  /** q218 oracle: per-source running token sum BEFORE each doc,
    * integer-divided by the 2000-token target. */
  private val q218Sql: String =
    s"""WITH tk AS (SELECT source, doc_id,
       |         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS sz
       |       FROM documents),
       |c AS (SELECT source, doc_id, sz,
       |        COALESCE(SUM(sz) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          // 2000 AS shard
       |      FROM tk)
       |SELECT source, CAST(shard AS BIGINT) AS shard,
       |       COUNT(*) AS n_items, CAST(SUM(sz) AS BIGINT) AS tot_size,
       |       MIN(doc_id) AS first_item, MAX(doc_id) AS last_item,
       |       ${sqlE6("SUM(sz)::DOUBLE / 2000.0")} AS fill_e6
       |FROM c GROUP BY source, shard ORDER BY source, shard""".stripMargin

  /** q219 oracle: 30-row day table, pair join on day difference,
    * full-series mean and denominator. */
  private val q219Sql: String =
    s"""WITH d AS (SELECT epoch_us(ts) * 1000 // 86400000000000 AS t,
       |                  COUNT(*) AS x
       |           FROM events GROUP BY 1),
       |m AS (SELECT AVG(x::DOUBLE) AS m FROM d),
       |den AS (SELECT SUM((x::DOUBLE - m) * (x::DOUBLE - m)) AS den
       |        FROM d, m),
       |p AS (SELECT b.t - a.t AS lag, COUNT(*) AS n_pairs,
       |             SUM((a.x::DOUBLE - m) * (b.x::DOUBLE - m)) AS num
       |      FROM d a, d b, m
       |      WHERE b.t - a.t BETWEEN 1 AND 5 GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       |       ${sqlE6("num / den")} AS acf_e6
       |FROM p, den ORDER BY lag""".stripMargin

  /** q220 oracle: epoch-day mod 7 weekday, per-dow mean over overall
    * mean — integer sums, no calendar functions. */
  private val q220Sql: String =
    s"""WITH d AS (SELECT epoch_us(ts) * 1000 // 86400000000000 AS day,
       |                  COUNT(*) AS n
       |           FROM events GROUP BY 1),
       |oa AS (SELECT AVG(n::DOUBLE) AS oa FROM d),
       |w AS (SELECT day % 7 AS dow, COUNT(*) AS n_days,
       |             AVG(n::DOUBLE) AS avg_n
       |      FROM d GROUP BY 1)
       |SELECT CAST(dow AS BIGINT) AS dow, n_days,
       |       ${sqlE6("avg_n")} AS avg_n_e6,
       |       ${sqlE6("avg_n / oa")} AS idx_e6
       |FROM w, oa ORDER BY dow""".stripMargin

  /** q221 oracle: stratum propensities, Hajek-normalized IPW means,
    * degenerate strata excluded and counted. */
  private val q221Sql: String =
    s"""WITH u AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1.0 ELSE 0.0 END
       |                    AS t,
       |                  event_type AS s, value AS y FROM events),
       |st AS (SELECT s, AVG(t) AS e FROM u GROUP BY s),
       |j AS (SELECT u.t, u.y, st.e, st.s,
       |             (st.e > 0.0 AND st.e < 1.0) AS ok
       |      FROM u JOIN st ON u.s = st.s),
       |ag AS (SELECT COUNT(*) AS n_units,
       |              COUNT(DISTINCT s) AS n_strata,
       |              COUNT(DISTINCT CASE WHEN NOT ok THEN s END)
       |                AS n_excluded,
       |              SUM(CASE WHEN ok THEN t * y / e ELSE 0.0 END) AS ty,
       |              SUM(CASE WHEN ok THEN t / e ELSE 0.0 END) AS tw,
       |              SUM(CASE WHEN ok THEN (1.0 - t) * y / (1.0 - e)
       |                  ELSE 0.0 END) AS cy,
       |              SUM(CASE WHEN ok THEN (1.0 - t) / (1.0 - e)
       |                  ELSE 0.0 END) AS cw
       |       FROM j)
       |SELECT n_units, n_strata, n_excluded,
       |       ${sqlE6("ty / tw")} AS mean_t_e6,
       |       ${sqlE6("cy / cw")} AS mean_c_e6,
       |       ${sqlE6("ty / tw - cy / cw")} AS ate_e6
       |FROM ag ORDER BY n_units""".stripMargin

  /** q222 oracle: the Holt recursion as a recursive CTE — identical
    * literal double arithmetic to the Spark fold (0.5/0.25/0.75 all
    * exactly representable). */
  private val q222Sql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) * 1000 // 86400000000000 AS t,
       |         COUNT(*)::DOUBLE AS x
       |  FROM events GROUP BY 1),
       |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY t) AS i FROM d),
       |nn AS (SELECT MAX(i) AS n FROM r),
       |s AS (
       |  SELECT 2 AS i,
       |         (SELECT x FROM r WHERE i = 2) AS l,
       |         (SELECT x FROM r WHERE i = 2) -
       |           (SELECT x FROM r WHERE i = 1) AS b
       |  UNION ALL
       |  SELECT q.i + 1, q.lnew,
       |         0.25 * (q.lnew - q.l) + 0.75 * q.b
       |  FROM (SELECT s.i, s.l, s.b,
       |               0.5 * r.x + 0.5 * (s.l + s.b) AS lnew
       |        FROM s JOIN r ON r.i = s.i + 1) q),
       |fin AS (SELECT l, b FROM s, nn WHERE s.i = nn.n)
       |SELECT h, ${sqlE6("l")} AS level_e6, ${sqlE6("b")} AS trend_e6,
       |       ${sqlE6("l + h * b")} AS forecast_e6
       |FROM fin, generate_series(1, 7) AS g(h)
       |ORDER BY h""".stripMargin

  /** q223 oracle: top-20 part keys by line count (partkey tiebreak),
    * share and ceil-ratio salt at 32 tasks. */
  private val q223Sql: String =
    s"""WITH c AS (SELECT l_partkey, COUNT(*) AS n
       |           FROM lineitem GROUP BY 1),
       |tt AS (SELECT SUM(n) AS tot FROM c),
       |r AS (SELECT l_partkey, n,
       |             ROW_NUMBER() OVER (ORDER BY n DESC, l_partkey)
       |               AS rank
       |      FROM c)
       |SELECT CAST(rank AS BIGINT) AS rank, l_partkey, n,
       |       ${sqlE6("n::DOUBLE / tot::DOUBLE")} AS share_e6,
       |       GREATEST(1, CAST(CEIL(n::DOUBLE * 32.0 / tot::DOUBLE)
       |         AS BIGINT)) AS salt
       |FROM r, tt WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** q224 oracle: md5-deterministic 10% order sample (hex32 parity
    * with CurationOps.hashKeep at rate 0.1), x10 scale-up vs exact. */
  private val q224Sql: String = {
    val thr = math.floor(0.1 * 4294967296.0).toLong
    s"""WITH samp AS (SELECT o_orderkey FROM orders
       |  WHERE ${sqlHex32("md5('cardest:' || CAST(o_orderkey AS VARCHAR))")} < $thr),
       |ns AS (SELECT COUNT(*) AS n_sample FROM samp),
       |je AS (SELECT COUNT(*) AS joined FROM lineitem
       |       JOIN samp ON l_orderkey = o_orderkey),
       |jx AS (SELECT COUNT(*) AS exact_rows FROM lineitem
       |       JOIN orders ON l_orderkey = o_orderkey)
       |SELECT n_sample, joined * 10 AS est_rows, exact_rows,
       |       ${sqlE6("(joined * 10 - exact_rows)::DOUBLE / exact_rows::DOUBLE")} AS rel_err_e6
       |FROM ns, je, jx ORDER BY n_sample""".stripMargin
  }

  /** q225 oracle: identical NTILE total orders (custkey tiebreak). */
  private val q225Sql: String =
    s"""WITH per AS (SELECT o_custkey, MAX(o_orderdate::DATE) AS last_d,
       |                    COUNT(*) AS freq,
       |                    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
       |             FROM orders GROUP BY 1),
       |sc AS (SELECT o_custkey, cents,
       |         NTILE(4) OVER (ORDER BY last_d, o_custkey) AS r,
       |         NTILE(4) OVER (ORDER BY freq, o_custkey) AS f,
       |         NTILE(4) OVER (ORDER BY cents, o_custkey) AS m
       |       FROM per)
       |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
       |       CAST(m AS BIGINT) AS m, COUNT(*) AS n_customers,
       |       CAST(SUM(cents) AS BIGINT) AS tot_cents
       |FROM sc GROUP BY r, f, m ORDER BY r, f, m""".stripMargin

  /** q226 oracle: exact-cents brand rollup, cumulative sum over the
    * (rev desc, brand) total order, integer 80/95 cut. */
  private val q226Sql: String =
    s"""WITH rev AS (SELECT p_brand AS brand,
       |         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |             AS BIGINT)) AS rev_cents
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       GROUP BY 1),
       |tt AS (SELECT SUM(rev_cents) AS tot FROM rev),
       |c AS (SELECT brand, rev_cents, tot,
       |        SUM(rev_cents) OVER (ORDER BY rev_cents DESC, brand
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS cum_cents
       |      FROM rev, tt)
       |SELECT brand, CAST(rev_cents AS BIGINT) AS rev_cents,
       |       CAST(cum_cents AS BIGINT) AS cum_cents,
       |       CASE WHEN cum_cents * 100 <= tot * 80 THEN 'A'
       |            WHEN cum_cents * 100 <= tot * 95 THEN 'B'
       |            ELSE 'C' END AS cls,
       |       ${sqlE6("rev_cents::DOUBLE / tot::DOUBLE")} AS share_e6
       |FROM c ORDER BY cls, brand""".stripMargin

  /** q227 oracle: distinct-day grid, 7-day range join, distinct
    * users per grid day. */
  private val q227Sql: String =
    s"""WITH ev AS (SELECT epoch_us(ts) * 1000 // 86400000000000 AS day,
       |                   user_id
       |            FROM events),
       |dg AS (SELECT DISTINCT day AS d FROM ev)
       |SELECT d AS day, COUNT(DISTINCT user_id) AS users_7d,
       |       COUNT(DISTINCT ev.day) AS days_present
       |FROM ev JOIN dg ON ev.day BETWEEN dg.d - 6 AND dg.d
       |GROUP BY d ORDER BY day""".stripMargin

  /** q228 oracle: the full recompute the merged partial states must
    * equal bit-for-bit (exact integer cents). */
  private val q228Sql: String =
    s"""SELECT o_orderpriority AS prio, COUNT(*) AS n,
       |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS sum_cents,
       |       CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS min_cents,
       |       CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS max_cents
       |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin

  /** q229 oracle: epoch-day integer week/28-day buckets. */
  private val q229Sql: String =
    s"""WITH ev AS (SELECT (epoch_us(ts) * 1000 // 86400000000000) // 7
       |                     AS week,
       |                   (epoch_us(ts) * 1000 // 86400000000000) // 28
       |                     AS period,
       |                   user_id
       |            FROM events),
       |w AS (SELECT week, COUNT(DISTINCT user_id) AS wau
       |      FROM ev GROUP BY 1),
       |m AS (SELECT period, COUNT(DISTINCT user_id) AS mau
       |      FROM ev GROUP BY 1)
       |SELECT week, wau, mau,
       |       ${sqlE6("wau::DOUBLE / mau::DOUBLE")} AS stick_e6
       |FROM w JOIN m ON w.week // 4 = m.period
       |ORDER BY week""".stripMargin

  /** q230 oracle: integer day lags, quantile_cont matches Spark's
    * exact interpolating percentile. */
  private val q230Sql: String =
    s"""WITH j AS (SELECT o_orderpriority AS prio,
       |         date_diff('day', o_orderdate::DATE, l_shipdate::DATE)
       |           AS lag_d
       |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT prio, COUNT(*) AS n, MIN(lag_d) AS min_lag,
       |       MAX(lag_d) AS max_lag,
       |       ${sqlE6("AVG(lag_d::DOUBLE)")} AS avg_lag_e6,
       |       ${sqlE6("quantile_cont(lag_d, 0.5)")} AS p50_lag_e6
       |FROM j GROUP BY prio ORDER BY prio""".stripMargin

  /** q231 oracle: per-user click/purchase counts, one conditional-sum
    * confusion aggregate, guarded metric denominators. */
  private val q231Sql: String =
    s"""WITH per AS (SELECT user_id,
       |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |           AS clicks,
       |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |           AS buys
       |       FROM events GROUP BY 1),
       |c AS (SELECT
       |        SUM(CASE WHEN clicks >= 13 AND buys >= 13 THEN 1 ELSE 0 END) AS tp,
       |        SUM(CASE WHEN clicks >= 13 AND buys < 13 THEN 1 ELSE 0 END) AS fp,
       |        SUM(CASE WHEN clicks < 13 AND buys >= 13 THEN 1 ELSE 0 END) AS fn,
       |        SUM(CASE WHEN clicks < 13 AND buys < 13 THEN 1 ELSE 0 END) AS tn
       |      FROM per),
       |m AS (SELECT tp, fp, fn, tn,
       |        (tp + tn)::DOUBLE / (tp + fp + fn + tn)::DOUBLE AS accuracy,
       |        CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp)::DOUBLE
       |             ELSE 0.0 END AS precision,
       |        CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE
       |             ELSE 0.0 END AS recall
       |      FROM c)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       |       ${sqlE6("accuracy")} AS acc_e6,
       |       ${sqlE6("precision")} AS prec_e6,
       |       ${sqlE6("recall")} AS rec_e6,
       |       ${sqlE6("CASE WHEN precision + recall > 0 THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END")} AS f1_e6,
       |       ${sqlE6("CASE WHEN (tp+fp)::DOUBLE*(tp+fn)::DOUBLE*(tn+fp)::DOUBLE*(tn+fn)::DOUBLE > 0 THEN (tp::DOUBLE*tn::DOUBLE - fp::DOUBLE*fn::DOUBLE) / SQRT((tp+fp)::DOUBLE*(tp+fn)::DOUBLE*(tn+fp)::DOUBLE*(tn+fn)::DOUBLE) ELSE 0.0 END")} AS mcc_e6
       |FROM m ORDER BY tp""".stripMargin

  /** q232 oracle: per-customer LAG over (date, orderkey), segment
    * rollup. */
  private val q232Sql: String =
    s"""WITH g AS (SELECT o_custkey,
       |         date_diff('day',
       |           LAG(o_orderdate::DATE) OVER (PARTITION BY o_custkey
       |             ORDER BY o_orderdate::DATE, o_orderkey),
       |           o_orderdate::DATE) AS gap
       |       FROM orders),
       |f AS (SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL)
       |SELECT c_mktsegment AS segment, COUNT(*) AS n_gaps,
       |       ${sqlE6("AVG(gap::DOUBLE)")} AS avg_gap_e6,
       |       MIN(gap) AS min_gap, MAX(gap) AS max_gap
       |FROM f JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY segment""".stripMargin

  /** q233 oracle: final state by the version rules — delete (ver 2)
    * beats the ver-1 upsert on the %100 overlap. */
  private val q233Sql: String =
    s"""WITH m AS (SELECT o_orderkey,
       |         CASE WHEN o_orderkey % 10 = 0 THEN 'X'
       |              ELSE o_orderstatus END AS status
       |       FROM orders WHERE o_orderkey % 100 <> 0)
       |SELECT status, COUNT(*) AS n FROM m GROUP BY 1
       |ORDER BY status""".stripMargin

  /** q234 oracle: first-order month per customer, (cohort, k) grid,
    * cumulative exact cents over k. */
  private val q234Sql: String =
    s"""WITH o AS (SELECT o_custkey,
       |         year(o_orderdate) * 12 + month(o_orderdate) AS mi,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
       |       FROM orders),
       |f AS (SELECT o_custkey, MIN(mi) AS c0 FROM o GROUP BY 1),
       |sz AS (SELECT c0, COUNT(*) AS n_cust FROM f GROUP BY 1),
       |g AS (SELECT f.c0, o.mi - f.c0 AS k, SUM(o.cents) AS rev_cents
       |      FROM o JOIN f ON o.o_custkey = f.o_custkey
       |      GROUP BY 1, 2),
       |c AS (SELECT c0, k, rev_cents,
       |        SUM(rev_cents) OVER (PARTITION BY c0 ORDER BY k
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS cum_cents
       |      FROM g)
       |SELECT c.c0 AS cohort, CAST(c.k AS BIGINT) AS k, sz.n_cust,
       |       CAST(c.rev_cents AS BIGINT) AS rev_cents,
       |       CAST(c.cum_cents AS BIGINT) AS cum_cents,
       |       ${sqlE6("c.cum_cents::DOUBLE / 100.0 / sz.n_cust::DOUBLE")} AS ltv_e6
       |FROM c JOIN sz ON c.c0 = sz.c0
       |ORDER BY cohort, k""".stripMargin

  /** q235 oracle: per-(year, nation) exact-cents rollup, squared
    * shares summed per year. */
  private val q235Sql: String =
    s"""WITH n AS (SELECT year(o_orderdate) AS yr, n_name,
       |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
       |       FROM orders
       |       JOIN customer ON o_custkey = c_custkey
       |       JOIN nation ON c_nationkey = n_nationkey
       |       GROUP BY 1, 2),
       |t AS (SELECT yr, SUM(cents) AS tot, COUNT(*) AS n_nations
       |      FROM n GROUP BY 1)
       |SELECT CAST(n.yr AS BIGINT) AS yr, t.n_nations,
       |       ${sqlE6("SUM((n.cents::DOUBLE / t.tot::DOUBLE) * (n.cents::DOUBLE / t.tot::DOUBLE))")} AS hhi_e6
       |FROM n JOIN t ON n.yr = t.yr
       |GROUP BY n.yr, t.n_nations ORDER BY yr""".stripMargin

  /** q236 oracle: integer epoch dow/hour cells + global share. */
  private val q236Sql: String =
    s"""WITH c AS (SELECT (epoch_us(ts) * 1000 // 86400000000000) % 7
       |                    AS dow,
       |                  (epoch_us(ts) * 1000 // 3600000000000) % 24
       |                    AS hr,
       |                  COUNT(*) AS n
       |           FROM events GROUP BY 1, 2),
       |t AS (SELECT SUM(n) AS tot FROM c)
       |SELECT dow, hr, n, ${sqlE6("n::DOUBLE / tot::DOUBLE")} AS share_e6
       |FROM c, t ORDER BY dow, hr""".stripMargin

  /** q237 oracle: recursive-CTE BFS bounded at 3 hops over the dense
    * graph, min dist per node, from the 3 smallest node ids. The
    * frontier recursion carries (node, dist) pairs DISTINCT per level
    * (USING KEY would be nicer, but plain dedup-per-level keeps the
    * row count at nodes x hops instead of path-enumeration blowup). */
  private val q237Sql: String =
    s"""WITH RECURSIVE ${nearDupEdgesSqlAt(200, "0.05")},
       |seeds AS (SELECT DISTINCT src AS node FROM e
       |          ORDER BY node LIMIT 3),
       |walk(node, dist) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, w.dist + 1 FROM walk w
       |  JOIN e ON w.node = e.src WHERE w.dist < 3),
       |bd AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
       |SELECT node AS doc_id, CAST(dist AS BIGINT) AS dist
       |FROM bd ORDER BY doc_id""".stripMargin

  /** q238 oracle: broadcast-dim rollup with exact returned cents. */
  private val q238Sql: String =
    s"""SELECT p_brand AS brand, COUNT(*) AS n_lines,
       |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_returned,
       |       CAST(SUM(CASE WHEN l_returnflag = 'R'
       |           THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |                AS BIGINT) ELSE 0 END) AS BIGINT) AS ret_cents,
       |       ${sqlE6("SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS ret_rate_e6
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1 ORDER BY brand""".stripMargin

  /** q239 oracle: endpoint degrees joined to the directed pair list,
    * the SAME guarded population-moment Pearson form as the operator
    * (engine corr() uses streaming internals; the moment expressions
    * replay bit-for-bit). */
  private val q239Sql: String =
    s"""WITH ${nearDupEdgesSqlAt(200, "0.05")},
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |          SELECT src AS node FROM e
       |          UNION ALL SELECT dst AS node FROM e) GROUP BY node),
       |mo AS (SELECT COUNT(*) AS n_edges,
       |              AVG(a.deg::DOUBLE) AS mx, AVG(b.deg::DOUBLE) AS my,
       |              AVG(a.deg::DOUBLE * b.deg::DOUBLE) AS mxy,
       |              AVG(a.deg::DOUBLE * a.deg::DOUBLE) AS mxx,
       |              AVG(b.deg::DOUBLE * b.deg::DOUBLE) AS myy
       |       FROM e JOIN deg a ON e.src = a.node
       |              JOIN deg b ON e.dst = b.node)
       |SELECT n_edges,
       |       CASE WHEN mxx - mx * mx > 0 AND myy - my * my > 0
       |            THEN ${sqlE6("(mxy - mx * my) / SQRT((mxx - mx * mx) * (myy - my * my))")}
       |            ELSE NULL END AS r_e6
       |FROM mo ORDER BY n_edges""".stripMargin

  /** q240 oracle: first-3 pivot via conditional MAX, concat_ws
    * (NULL-skipping in both engines). */
  private val q240Sql: String =
    s"""WITH r AS (SELECT user_id, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts) * 1000, event_id) AS rn
       |       FROM events),
       |p AS (SELECT user_id,
       |        MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
       |        MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
       |        MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
       |      FROM r WHERE rn <= 3 GROUP BY user_id)
       |SELECT concat_ws('>', e1, e2, e3) AS path, COUNT(*) AS n_users
       |FROM p GROUP BY 1 ORDER BY path""".stripMargin

  /** q241 oracle: top-101 by (length desc, doc_id), x_(k+1) = the
    * minimal member under the reversed order, Hill mean of logs. */
  private val q241Sql: String =
    s"""WITH t1 AS (SELECT n_chars::DOUBLE AS x, doc_id FROM documents
       |            ORDER BY n_chars DESC, doc_id LIMIT 101),
       |mn AS (SELECT x AS xmin FROM t1 ORDER BY x ASC, doc_id DESC
       |       LIMIT 1),
       |tk AS (SELECT x FROM t1 ORDER BY x DESC, doc_id LIMIT 100),
       |ag AS (SELECT COUNT(*) AS k, AVG(LN(x / xmin)) AS ia
       |       FROM tk, mn)
       |SELECT k, ${sqlE6("ia")} AS inv_alpha_e6,
       |       CASE WHEN ia > 0 THEN ${sqlE6("1.0 / ia")}
       |            ELSE NULL END AS alpha_e6
       |FROM ag ORDER BY k""".stripMargin

  /** q242 oracle: exact-cents per customer, 1-row mean, Theil T. */
  private val q242Sql: String =
    s"""WITH per AS (SELECT o_custkey,
       |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
       |       FROM orders GROUP BY 1),
       |m AS (SELECT AVG(cents::DOUBLE) AS mu FROM per)
       |SELECT COUNT(*) AS n_cust,
       |       ${sqlE6("AVG((cents::DOUBLE / mu) * LN(cents::DOUBLE / mu))")} AS theil_e6
       |FROM per, m ORDER BY n_cust""".stripMargin

  /** q243 oracle: per-user first/last epoch day, global max day,
    * churn = silent for the final 7 days. */
  private val q243Sql: String =
    s"""WITH per AS (SELECT user_id,
       |         MIN(epoch_us(ts) * 1000 // 86400000000000) AS d0,
       |         MAX(epoch_us(ts) * 1000 // 86400000000000) AS dl
       |       FROM events GROUP BY 1),
       |mx AS (SELECT MAX(dl) AS dmax FROM per)
       |SELECT d0 // 7 AS cohort_week, COUNT(*) AS n_users,
       |       CAST(SUM(CASE WHEN dl < dmax - 7 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_churned,
       |       ${sqlE6("SUM(CASE WHEN dl < dmax - 7 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS churn_e6
       |FROM per, mx GROUP BY d0 // 7
       |ORDER BY cohort_week""".stripMargin

  /** q244 oracle: suppliers-per-part distinct counts histogrammed. */
  private val q244Sql: String =
    s"""WITH d AS (SELECT l_partkey,
       |                  COUNT(DISTINCT l_suppkey) AS k_suppliers
       |           FROM lineitem GROUP BY 1)
       |SELECT k_suppliers, COUNT(*) AS n_parts FROM d
       |GROUP BY 1 ORDER BY k_suppliers""".stripMargin

  /** q245 oracle: the q153 trigram CTE counted, three ordered-LIMIT
    * head sums unioned, 1-row total. */
  private val q245Sql: String = {
    def head(k: Int): String =
      s"""SELECT $k AS k, COUNT(*) AS n_grams,
         |       COALESCE(SUM(n), 0) AS mass
         |FROM (SELECT n FROM c ORDER BY n DESC, g LIMIT $k)""".stripMargin
    s"""WITH d AS (SELECT lower(text) AS t FROM documents),
       |tri AS (
       |  SELECT unnest(list_transform(range(1, length(t) - 1),
       |           i -> substr(t, i, 1) || ' ' || substr(t, i + 1, 1)
       |                || ' ' || substr(t, i + 2, 1))) AS g
       |  FROM d),
       |c AS (SELECT g, COUNT(*) AS n FROM tri GROUP BY g),
       |tt AS (SELECT SUM(n) AS tot FROM c),
       |u AS (${head(10)} UNION ALL ${head(100)} UNION ALL ${head(1000)})
       |SELECT k, n_grams, CAST(mass AS BIGINT) AS mass,
       |       ${sqlE6("mass::DOUBLE / tot::DOUBLE")} AS cover_e6
       |FROM u, tt ORDER BY k""".stripMargin
  }

  /** q246 oracle: identical moment expressions and pinned z
    * literals. */
  private val q246Sql: String =
    s"""WITH g AS (SELECT event_type, COUNT(*) AS n,
       |                  AVG(value) AS m, AVG(value * value) AS m2
       |           FROM events GROUP BY 1),
       |s AS (SELECT event_type, n, m,
       |             (m2 - m * m) * n::DOUBLE / (n::DOUBLE - 1.0) AS s2,
       |             m * 0.05 AS delta
       |      FROM g)
       |SELECT event_type, n, ${sqlE6("m")} AS mean_e6,
       |       ${sqlE6("s2")} AS var_e6,
       |       ${sqlE6("2.0 * ((1.96 + 0.84) * (1.96 + 0.84)) * s2 / (delta * delta)")} AS n_req_e6
       |FROM s ORDER BY event_type""".stripMargin

  /** q247 oracle: 7-day centered MA trend over the bounded day
    * table, per-dow mean residual. */
  private val q247Sql: String =
    s"""WITH daily AS (SELECT epoch_us(ts) * 1000 // 86400000000000
       |                        AS day,
       |                      COUNT(*)::DOUBLE AS n
       |               FROM events GROUP BY 1),
       |tr AS (SELECT day, n,
       |         AVG(n) OVER (ORDER BY day
       |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
       |       FROM daily)
       |SELECT day % 7 AS dow, COUNT(*) AS n_days,
       |       ${sqlE6("AVG(n - trend)")} AS seas_e6
       |FROM tr GROUP BY 1 ORDER BY dow""".stripMargin

  /** q248 oracle: conditional-sum pivot, identical price/effect
    * expressions (exact qty sums, exact cents). */
  private val q248Sql: String =
    s"""WITH li AS (SELECT p_brand AS brand, year(l_shipdate) AS yr,
       |         l_quantity AS qty,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |              AS BIGINT) AS c
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       WHERE year(l_shipdate) IN (1996, 1997)),
       |g AS (SELECT brand,
       |        SUM(CASE WHEN yr = 1996 THEN qty ELSE 0 END) AS q1,
       |        SUM(CASE WHEN yr = 1997 THEN qty ELSE 0 END) AS q2,
       |        SUM(CASE WHEN yr = 1996 THEN c ELSE 0 END) AS r1,
       |        SUM(CASE WHEN yr = 1997 THEN c ELSE 0 END) AS r2
       |      FROM li GROUP BY 1),
       |f AS (SELECT brand, q1, q2,
       |             CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
       |             r1::DOUBLE / 100.0 / q1 AS p1,
       |             r2::DOUBLE / 100.0 / q2 AS p2
       |      FROM g WHERE q1 > 0 AND q2 > 0)
       |SELECT brand, r1, r2, ${sqlE6("q1")} AS q1_e6,
       |       ${sqlE6("q2")} AS q2_e6,
       |       ${sqlE6("(q2 - q1) * p1")} AS vol_eff_e6,
       |       ${sqlE6("(p2 - p1) * q2")} AS price_eff_e6
       |FROM f ORDER BY brand""".stripMargin

  /** q249 oracle: change-flag prefix-sum run ids, per-run min ts,
    * LEAD to the next run's start, per-state rollup. */
  private val q249Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) * 1000 AS ts_ns FROM events),
       |l AS (SELECT *, CASE WHEN LAG(event_type) OVER w IS NULL
       |                       OR LAG(event_type) OVER w <> event_type
       |                     THEN 1 ELSE 0 END AS chg
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |                          ORDER BY ts_ns, event_id)),
       |r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
       |        ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING)
       |        AS run_id FROM l),
       |runs AS (SELECT user_id, run_id, event_type AS state,
       |                MIN(ts_ns) AS t0
       |         FROM r GROUP BY 1, 2, 3),
       |iv AS (SELECT state, t0, LEAD(t0) OVER (PARTITION BY user_id
       |                ORDER BY run_id) AS t1 FROM runs)
       |SELECT state, COUNT(*) AS n_intervals,
       |       CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_closed,
       |       CAST(COALESCE(SUM(t1 - t0), 0) AS BIGINT) AS dur_ns
       |FROM iv GROUP BY 1 ORDER BY state""".stripMargin

  /** q250 oracle: transition counts, then the one-aggregate entropy
    * identity H = ln n - (sum c ln c)/n. */
  private val q250Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) * 1000 AS ts_ns FROM events),
       |l AS (SELECT event_type,
       |             LAG(event_type) OVER (PARTITION BY user_id
       |                 ORDER BY ts_ns, event_id) AS prev_type
       |      FROM e),
       |tr AS (SELECT prev_type, event_type, COUNT(*) AS c FROM l
       |       WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |g AS (SELECT prev_type, CAST(SUM(c) AS BIGINT) AS n,
       |             COUNT(*) AS n_next,
       |             SUM(c::DOUBLE * LN(c::DOUBLE)) AS slc
       |      FROM tr GROUP BY 1),
       |h AS (SELECT prev_type, n, n_next,
       |             LN(n::DOUBLE) - slc / n::DOUBLE AS h FROM g)
       |SELECT prev_type, n, n_next, ${sqlE6("h")} AS entropy_e6,
       |       ${sqlE6("EXP(h)")} AS ppl_e6
       |FROM h ORDER BY prev_type""".stripMargin

  /** q251 oracle: per-user 24h-window conversion, parity arms,
    * pooled z with the same degeneracy guard. */
  private val q251Sql: String =
    s"""WITH u0 AS (SELECT user_id,
       |         MIN(epoch_us(ts) * 1000) AS t0,
       |         MIN(CASE WHEN event_type = 'purchase'
       |             THEN epoch_us(ts) * 1000 END) AS tp
       |       FROM events GROUP BY 1),
       |u AS (SELECT user_id,
       |        CASE WHEN tp IS NOT NULL AND tp < t0 + $DayNs
       |             THEN 1 ELSE 0 END AS conv
       |      FROM u0),
       |a AS (SELECT
       |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n0,
       |  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n1,
       |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
       |       AS BIGINT) AS c0,
       |  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
       |       AS BIGINT) AS c1
       |  FROM u),
       |p AS (SELECT n0, n1, c0, c1,
       |             c0::DOUBLE / n0::DOUBLE AS p0,
       |             c1::DOUBLE / n1::DOUBLE AS p1,
       |             (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE AS pp
       |      FROM a)
       |SELECT n0, n1, c0, c1, ${sqlE6("p0")} AS p0_e6,
       |       ${sqlE6("p1")} AS p1_e6,
       |       CASE WHEN pp > 0 AND pp < 1 THEN
       |         ${sqlE6("(p1 - p0) / SQRT(pp * (1 - pp) * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE))")}
       |       ELSE NULL END AS z_e6
       |FROM p ORDER BY n0""".stripMargin

  /** q252 oracle: one token-keyed side pivot, 1-row totals, symmetric
    * KL-to-midpoint. */
  private val q252Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id % 2 AS side,
       |         unnest(regexp_split_to_array(lower(trim(text)),
       |                                      '\\s+')) AS tok
       |  FROM documents),
       |c AS (SELECT tok,
       |        CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
       |             AS BIGINT) AS c0,
       |        CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
       |             AS BIGINT) AS c1
       |      FROM tk WHERE length(tok) > 0 GROUP BY 1),
       |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
       |             CAST(SUM(c1) AS BIGINT) AS t1 FROM c),
       |p AS (SELECT c0, c1, c0::DOUBLE / t0::DOUBLE AS p,
       |             c1::DOUBLE / t1::DOUBLE AS q,
       |             (c0::DOUBLE / t0::DOUBLE +
       |              c1::DOUBLE / t1::DOUBLE) / 2.0 AS m
       |      FROM c, t)
       |SELECT
       |  CAST(SUM(CASE WHEN c0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0,
       |  CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |  CAST(SUM(CASE WHEN c0 > 0 AND c1 > 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS v_shared,
       |  ${sqlE6("SUM((CASE WHEN p > 0 THEN p * LN(p / m) ELSE 0.0 END) * 0.5 + (CASE WHEN q > 0 THEN q * LN(q / m) ELSE 0.0 END) * 0.5)")} AS jsd_e6,
       |  ${sqlE6("SUM((CASE WHEN p > 0 THEN p * LN(p / m) ELSE 0.0 END) * 0.5 + (CASE WHEN q > 0 THEN q * LN(q / m) ELSE 0.0 END) * 0.5) / LN(2.0)")} AS jsd_bits_e6
       |FROM p ORDER BY v0""".stripMargin

  /** q253 oracle: per-brand log-log OLS slope + r2 from identical
    * moment expressions. */
  private val q253Sql: String =
    s"""WITH li AS (SELECT p_brand AS brand,
       |         LN(l_extendedprice * (1 - l_discount) / l_quantity)
       |           AS x,
       |         LN(l_quantity) AS y
       |       FROM lineitem JOIN part ON l_partkey = p_partkey),
       |g AS (SELECT brand, COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
       |             AVG(x * x) AS mx2, AVG(y * y) AS my2,
       |             AVG(x * y) AS mxy
       |      FROM li GROUP BY 1)
       |SELECT brand, n,
       |       ${sqlE6("(mxy - mx * my) / (mx2 - mx * mx)")} AS slope_e6,
       |       ${sqlE6("(mxy - mx * my) * (mxy - mx * my) / ((mx2 - mx * mx) * (my2 - my * my))")} AS r2_e6
       |FROM g ORDER BY brand""".stripMargin

  /** q254 oracle: per-value collapse, 9-row grid cross, binary
    * entropies with the same 0/1 guards, degenerate splits NULL. */
  private val q254Sql: String = {
    def bent(p: String): String =
      s"(CASE WHEN ($p) > 0 AND ($p) < 1 THEN -(($p) * LN($p) + " +
        s"(1 - ($p)) * LN(1 - ($p))) ELSE 0.0 END)"
    val pPar = "pos_tot::DOUBLE / n_tot::DOUBLE"
    val pLe = "pos_le::DOUBLE / n_le::DOUBLE"
    val pGt = "pos_gt::DOUBLE / n_gt::DOUBLE"
    val gain = s"${bent(pPar)} - (n_le::DOUBLE / n_tot::DOUBLE) * " +
      s"${bent(pLe)} - (n_gt::DOUBLE / n_tot::DOUBLE) * ${bent(pGt)}"
    s"""WITH pv AS (SELECT n_chars, COUNT(*) AS cnt,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS pos
       |       FROM documents GROUP BY 1),
       |grid AS (SELECT range AS thr FROM range(100, 501, 50)),
       |le AS (SELECT thr,
       |         CAST(SUM(CASE WHEN n_chars <= thr THEN cnt ELSE 0
       |              END) AS BIGINT) AS n_le,
       |         CAST(SUM(CASE WHEN n_chars <= thr THEN pos ELSE 0
       |              END) AS BIGINT) AS pos_le
       |       FROM pv, grid GROUP BY 1),
       |par AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot,
       |               CAST(SUM(pos) AS BIGINT) AS pos_tot FROM pv),
       |j AS (SELECT thr, n_le, pos_le, n_tot - n_le AS n_gt,
       |             pos_tot - pos_le AS pos_gt, n_tot, pos_tot
       |      FROM le, par)
       |SELECT thr, n_le, pos_le, n_gt, pos_gt,
       |       CASE WHEN n_le > 0 AND n_gt > 0
       |            THEN ${sqlE6(gain)} ELSE NULL END AS gain_e6
       |FROM j ORDER BY thr""".stripMargin
  }

  /** q255 oracle: (lang, term) counts then singleton/doubleton
    * rollup. */
  private val q255Sql: String =
    s"""WITH tk AS (
       |  SELECT lang,
       |         unnest(regexp_split_to_array(lower(trim(text)),
       |                                      '\\s+')) AS tok
       |  FROM documents),
       |c AS (SELECT lang, tok, COUNT(*) AS c FROM tk
       |      WHERE length(tok) > 0 GROUP BY 1, 2),
       |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |             COUNT(*) AS v_types,
       |             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS n1,
       |             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS n2
       |      FROM c GROUP BY 1)
       |SELECT lang, n_tokens, v_types, n1, n2,
       |       ${sqlE6("n1::DOUBLE / n_tokens::DOUBLE")} AS p_unseen_e6
       |FROM g ORDER BY lang""".stripMargin

  /** q256 oracle: one moment row, six unpivoted pair correlations. */
  private val q256Sql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def corr(i: Int, j: Int): String =
      sqlE6(s"(x$i$j - m$i * m$j) / SQRT((s$i - m$i * m$i) * " +
        s"(s$j - m$j * m$j))")
    val branches = (for { i <- 1 to 4; j <- (i + 1) to 4 } yield
      s"""SELECT '${cols(i - 1)}' AS var1, '${cols(j - 1)}' AS var2,
         |       n, ${corr(i, j)} AS corr_e6 FROM m""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT COUNT(*) AS n,
       |  AVG(l_quantity) AS m1, AVG(l_extendedprice) AS m2,
       |  AVG(l_discount) AS m3, AVG(l_tax) AS m4,
       |  AVG(l_quantity * l_quantity) AS s1,
       |  AVG(l_extendedprice * l_extendedprice) AS s2,
       |  AVG(l_discount * l_discount) AS s3,
       |  AVG(l_tax * l_tax) AS s4,
       |  AVG(l_quantity * l_extendedprice) AS x12,
       |  AVG(l_quantity * l_discount) AS x13,
       |  AVG(l_quantity * l_tax) AS x14,
       |  AVG(l_extendedprice * l_discount) AS x23,
       |  AVG(l_extendedprice * l_tax) AS x24,
       |  AVG(l_discount * l_tax) AS x34
       |  FROM lineitem)
       |$branches
       |ORDER BY var1, var2""".stripMargin
  }

  /** q257 oracle: average-rank maps over the collapsed value tables,
    * broadcast-style joins back, Pearson on ranks. */
  private val q257Sql: String =
    s"""WITH q AS (SELECT l_quantity AS v, COUNT(*) AS cnt
       |           FROM lineitem GROUP BY 1),
       |qr AS (SELECT v,
       |         COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
       |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE +
       |         (cnt::DOUBLE + 1.0) / 2.0 AS rq
       |       FROM q),
       |d AS (SELECT l_discount AS v, COUNT(*) AS cnt
       |      FROM lineitem GROUP BY 1),
       |dr AS (SELECT v,
       |         COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
       |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE +
       |         (cnt::DOUBLE + 1.0) / 2.0 AS rd
       |       FROM d),
       |j AS (SELECT rq, rd FROM lineitem
       |      JOIN qr ON l_quantity = qr.v
       |      JOIN dr ON l_discount = dr.v),
       |g AS (SELECT COUNT(*) AS n, AVG(rq) AS mx, AVG(rd) AS my,
       |             AVG(rq * rq) AS mx2, AVG(rd * rd) AS my2,
       |             AVG(rq * rd) AS mxy
       |      FROM j)
       |SELECT n,
       |       ${sqlE6("(mxy - mx * my) / SQRT((mx2 - mx * mx) * (my2 - my * my))")} AS rho_e6
       |FROM g ORDER BY n""".stripMargin

  /** q258 oracle: even-half add-one unigram LM, odd-half scoring,
    * identical smoothing expression. */
  private val q258Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id % 2 AS side, lang,
       |         unnest(regexp_split_to_array(lower(trim(text)),
       |                                      '\\s+')) AS tok
       |  FROM documents),
       |f AS (SELECT * FROM tk WHERE length(tok) > 0),
       |tr AS (SELECT lang, tok, COUNT(*) AS c FROM f
       |       WHERE side = 0 GROUP BY 1, 2),
       |tt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_train,
       |              COUNT(*) AS v_train FROM tr GROUP BY 1),
       |te AS (SELECT lang, tok, COUNT(*) AS m FROM f
       |       WHERE side = 1 GROUP BY 1, 2),
       |j AS (SELECT te.lang, te.m,
       |             LN((COALESCE(tr.c, 0)::DOUBLE + 1.0) /
       |                (tt.n_train + tt.v_train)::DOUBLE) AS lp,
       |             tt.n_train, tt.v_train
       |      FROM te LEFT JOIN tr ON te.lang = tr.lang
       |                          AND te.tok = tr.tok
       |      JOIN tt ON te.lang = tt.lang),
       |g AS (SELECT lang, ANY_VALUE(n_train) AS n_train,
       |             ANY_VALUE(v_train) AS v_train,
       |             CAST(SUM(m) AS BIGINT) AS n_test,
       |             -SUM(m::DOUBLE * lp) / SUM(m)::DOUBLE AS xent
       |      FROM j GROUP BY 1)
       |SELECT lang, n_train, v_train, n_test,
       |       ${sqlE6("xent")} AS xent_e6, ${sqlE6("EXP(xent)")} AS ppl_e6
       |FROM g ORDER BY lang""".stripMargin

  /** q259 oracle: sample-sd moments re-joined on the type key, the
    * same 1/2/3-sigma conditional shares. */
  private val q259Sql: String = {
    def w(k: Int): String = sqlE6(
      s"SUM(CASE WHEN ABS(value - mu) <= $k.0 * sd THEN 1 ELSE 0 " +
        "END)::DOUBLE / COUNT(*)::DOUBLE")
    s"""WITH m AS (SELECT event_type, COUNT(*) AS n, AVG(value) AS mu,
       |                  AVG(value * value) AS m2
       |           FROM events GROUP BY 1),
       |s AS (SELECT event_type, n, mu,
       |             SQRT((m2 - mu * mu) * n::DOUBLE /
       |                  (n::DOUBLE - 1.0)) AS sd
       |      FROM m),
       |j AS (SELECT e.event_type, e.value, s.mu, s.sd
       |      FROM events e JOIN s ON e.event_type = s.event_type)
       |SELECT event_type, COUNT(*) AS n, ${w(1)} AS within1_e6,
       |       ${w(2)} AS within2_e6, ${w(3)} AS within3_e6
       |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** q260 oracle: percent_rank trim window, identical mean
    * expressions. */
  private val q260Sql: String =
    s"""WITH r AS (SELECT event_type, value,
       |             PERCENT_RANK() OVER (PARTITION BY event_type
       |                                  ORDER BY value) AS pr
       |           FROM events)
       |SELECT event_type, COUNT(*) AS n,
       |       CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_pos,
       |       ${sqlE6("AVG(value)")} AS mean_e6,
       |       ${sqlE6("EXP(AVG(CASE WHEN value > 0 THEN LN(value) END))")} AS geo_e6,
       |       ${sqlE6("SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END)::DOUBLE / SUM(CASE WHEN value > 0 THEN 1.0 / value END)")} AS harm_e6,
       |       ${sqlE6("AVG(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN value END)")} AS trim_e6
       |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q261 oracle: left-join reconciliation in exact cents + anti-join
    * orphan count. */
  private val q261Sql: String =
    s"""WITH ls AS (SELECT l_orderkey,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
       |              AS BIGINT) AS lc
       |       FROM lineitem GROUP BY 1),
       |a AS (SELECT COUNT(*) AS n_orders,
       |        CAST(SUM(CASE WHEN lc IS NOT NULL THEN 1 ELSE 0 END)
       |             AS BIGINT) AS n_with_lines,
       |        CAST(SUM(CASE WHEN lc IS NULL THEN 1 ELSE 0 END)
       |             AS BIGINT) AS n_childless,
       |        ${sqlE6("AVG(CASE WHEN lc IS NOT NULL THEN ABS(CAST(ROUND(o_totalprice * 100) AS BIGINT) - lc)::DOUBLE END)")} AS avg_absdiff_cents_e6,
       |        CAST(COALESCE(MAX(CASE WHEN lc IS NOT NULL THEN
       |          ABS(CAST(ROUND(o_totalprice * 100) AS BIGINT) - lc)
       |          END), 0) AS BIGINT) AS max_absdiff_cents
       |      FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey),
       |o AS (SELECT COUNT(*) AS n_orphan_lines FROM lineitem
       |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
       |SELECT n_orders, n_with_lines, n_childless, n_orphan_lines,
       |       avg_absdiff_cents_e6, max_absdiff_cents
       |FROM a, o ORDER BY n_orders""".stripMargin

  /** q262 oracle: range() day spine, zero-filled left join, 7-day
    * trailing window, 30-day-bucket rollup. */
  private val q262Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |t AS (SELECT day, rev,
       |        CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 6
       |             PRECEDING AND CURRENT ROW) AS BIGINT) AS t7
       |      FROM z)
       |SELECT day // 30 AS epoch_month, COUNT(*) AS n_days,
       |       CAST(SUM(rev) AS BIGINT) AS rev,
       |       CAST(MIN(t7) AS BIGINT) AS t7_min,
       |       CAST(MAX(t7) AS BIGINT) AS t7_max
       |FROM t GROUP BY 1 ORDER BY epoch_month""".stripMargin

  /** q263 oracle: 30-min-gap sessions, first-error vs first-purchase
    * ordering classes. */
  private val q263Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) * 1000 AS ts_ns FROM events),
       |l AS (SELECT *, CASE WHEN LAG(ts_ns) OVER w IS NULL
       |                       OR ts_ns - LAG(ts_ns) OVER w
       |                          > 1800000000000
       |                     THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |                          ORDER BY ts_ns, event_id)),
       |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
       |        ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING)
       |        AS sess FROM l),
       |g AS (SELECT user_id, sess,
       |        MIN(CASE WHEN event_type = 'error' THEN ts_ns END)
       |          AS te,
       |        MIN(CASE WHEN event_type = 'purchase' THEN ts_ns END)
       |          AS tp
       |      FROM s GROUP BY 1, 2),
       |c AS (SELECT CASE
       |        WHEN te IS NOT NULL AND tp IS NOT NULL AND te < tp
       |          THEN 'error_then_purchase'
       |        WHEN te IS NOT NULL AND tp IS NOT NULL
       |          THEN 'purchase_then_error'
       |        WHEN te IS NOT NULL THEN 'error_only'
       |        WHEN tp IS NOT NULL THEN 'purchase_only'
       |        ELSE 'neither' END AS pattern
       |      FROM g)
       |SELECT pattern, COUNT(*) AS n_sessions FROM c
       |GROUP BY 1 ORDER BY pattern""".stripMargin

  /** q264 oracle: daily type counts, LAG log returns, sample-sd
    * moments. */
  private val q264Sql: String =
    s"""WITH d AS (SELECT event_type,
       |                  epoch_us(ts) * 1000 // $DayNs AS day,
       |                  COUNT(*)::DOUBLE AS n
       |           FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type,
       |             LN(n / LAG(n) OVER (PARTITION BY event_type
       |                                 ORDER BY day)) AS r
       |      FROM d),
       |f AS (SELECT * FROM r WHERE r IS NOT NULL),
       |g AS (SELECT event_type, COUNT(*) AS n_rets, AVG(r) AS mr,
       |             AVG(r * r) AS mr2, MAX(ABS(r)) AS mx
       |      FROM f GROUP BY 1)
       |SELECT event_type, n_rets,
       |       ${sqlE6("SQRT((mr2 - mr * mr) * n_rets::DOUBLE / (n_rets::DOUBLE - 1.0))")} AS vol_e6,
       |       ${sqlE6("mx")} AS max_abs_ret_e6
       |FROM g ORDER BY event_type""".stripMargin

  /** q265 oracle: 1996/1997 activity flags left-joined onto the
    * customer dimension. */
  private val q265Sql: String =
    s"""WITH fl AS (SELECT o_custkey,
       |         MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0
       |             END) AS a96,
       |         MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0
       |             END) AS a97
       |       FROM orders
       |       WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1)
       |SELECT c_mktsegment AS segment,
       |       CASE WHEN a96 = 1 AND a97 = 1 THEN 'retained'
       |            WHEN a96 = 1 THEN 'churned'
       |            WHEN a97 = 1 THEN 'new'
       |            ELSE 'inactive' END AS status,
       |       COUNT(*) AS n_customers
       |FROM customer LEFT JOIN fl ON c_custkey = o_custkey
       |GROUP BY 1, 2 ORDER BY segment, status""".stripMargin

  /** q266 oracle: first-order month per customer joined back, exact
    * cents. */
  private val q266Sql: String =
    s"""WITH om AS (SELECT o_custkey,
       |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |       FROM orders),
       |f AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1)
       |SELECT om.m AS m,
       |  CAST(SUM(CASE WHEN om.m <= f.m0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_new,
       |  CAST(SUM(CASE WHEN om.m > f.m0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_repeat,
       |  CAST(SUM(CASE WHEN om.m <= f.m0 THEN c ELSE 0 END) AS BIGINT)
       |    AS rev_new,
       |  CAST(SUM(CASE WHEN om.m > f.m0 THEN c ELSE 0 END) AS BIGINT)
       |    AS rev_repeat
       |FROM om JOIN f ON om.o_custkey = f.o_custkey
       |GROUP BY 1 ORDER BY m""".stripMargin

  /** q267 oracle: the q81 NB prediction table wrapped as a derived
    * table, per-class confusion rollup with the same guards. */
  private val q267Sql: String =
    s"""WITH cm AS (SELECT label, pred, COUNT(*) AS n
       |            FROM ($q81Sql) GROUP BY 1, 2),
       |bt AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_true,
       |         CAST(SUM(CASE WHEN pred = label THEN n ELSE 0 END)
       |              AS BIGINT) AS tp
       |       FROM cm GROUP BY 1),
       |bp AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS n_pred
       |       FROM cm GROUP BY 1),
       |j AS (SELECT bt.label, bt.n_true,
       |             COALESCE(bp.n_pred, 0) AS n_pred, bt.tp,
       |             CASE WHEN bp.n_pred > 0
       |                  THEN bt.tp::DOUBLE / bp.n_pred::DOUBLE
       |                  END AS prec,
       |             bt.tp::DOUBLE / bt.n_true::DOUBLE AS rec
       |      FROM bt LEFT JOIN bp ON bt.label = bp.pred)
       |SELECT label, n_true, n_pred, tp, ${sqlE6("prec")} AS prec_e6,
       |       ${sqlE6("rec")} AS rec_e6,
       |       CASE WHEN prec IS NOT NULL AND prec + rec > 0 THEN
       |         ${sqlE6("2.0 * prec * rec / (prec + rec)")}
       |       ELSE NULL END AS f1_e6
       |FROM j ORDER BY label""".stripMargin

  /** q268 oracle: order-to-ship slip by supplier nation. */
  private val q268Sql: String =
    s"""WITH li AS (SELECT n_name,
       |         DATE_DIFF('day', CAST(o_orderdate AS DATE),
       |                   CAST(l_shipdate AS DATE)) AS slip
       |       FROM lineitem
       |       JOIN orders ON l_orderkey = o_orderkey
       |       JOIN supplier ON l_suppkey = s_suppkey
       |       JOIN nation ON s_nationkey = n_nationkey)
       |SELECT n_name, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN slip > 90 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_late,
       |  ${sqlE6("SUM(CASE WHEN slip > 90 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS late_share_e6,
       |  ${sqlE6("AVG(CASE WHEN slip > 90 THEN slip::DOUBLE END)")} AS avg_slip_e6
       |FROM li GROUP BY 1 ORDER BY n_name""".stripMargin

  /** q269 oracle: per-flag distinct-quantity weight grid, cumulative
    * weights, first value crossing each quantile. */
  private val q269Sql: String =
    s"""WITH v AS (SELECT l_returnflag AS flag,
       |         CAST(l_quantity AS BIGINT) AS q,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS w
       |       FROM lineitem GROUP BY 1, 2),
       |c AS (SELECT flag, q, w,
       |        CAST(SUM(w) OVER (PARTITION BY flag ORDER BY q
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
       |      FROM v),
       |t AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tw FROM v
       |      GROUP BY 1)
       |SELECT c.flag AS flag, ANY_VALUE(t.tw) AS total_w,
       |       MIN(CASE WHEN cw::DOUBLE >= 0.5 * tw::DOUBLE THEN q END)
       |         AS p50_q,
       |       MIN(CASE WHEN cw::DOUBLE >= 0.9 * tw::DOUBLE THEN q END)
       |         AS p90_q
       |FROM c JOIN t ON c.flag = t.flag
       |GROUP BY 1 ORDER BY flag""".stripMargin

  /** q270 oracle: exact-cents 35-cell table, identical SS / eta2
    * expressions, whole-unit BIGINT pins. */
  private val q270Sql: String =
    s"""WITH cells AS (SELECT event_type AS a,
       |         (epoch_us(ts) * 1000 // $DayNs) % 7 AS b,
       |         COUNT(*) AS n,
       |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
       |              AS BIGINT) AS sv,
       |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) *
       |                  CAST(ROUND(value * 100) AS BIGINT))
       |              AS BIGINT) AS sv2
       |       FROM events GROUP BY 1, 2),
       |grand AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |                 CAST(SUM(sv) AS BIGINT) AS gs,
       |                 CAST(SUM(sv2) AS BIGINT) AS gs2 FROM cells),
       |ac AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na,
       |              CAST(SUM(sv) AS BIGINT) AS sa
       |       FROM cells GROUP BY 1),
       |bc AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb,
       |              CAST(SUM(sv) AS BIGINT) AS sb
       |       FROM cells GROUP BY 1),
       |sa AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |         list(na::DOUBLE *
       |         (sa::DOUBLE / na::DOUBLE - gs::DOUBLE / nn::DOUBLE) *
       |         (sa::DOUBLE / na::DOUBLE - gs::DOUBLE / nn::DOUBLE)
       |         ORDER BY a)), (x, y) -> x + y) AS ss_a
       |       FROM ac, grand),
       |sb AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |         list(nb::DOUBLE *
       |         (sb::DOUBLE / nb::DOUBLE - gs::DOUBLE / nn::DOUBLE) *
       |         (sb::DOUBLE / nb::DOUBLE - gs::DOUBLE / nn::DOUBLE)
       |         ORDER BY b)), (x, y) -> x + y) AS ss_b
       |       FROM bc, grand),
       |sc AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |         list(n::DOUBLE *
       |         (sv::DOUBLE / n::DOUBLE - gs::DOUBLE / nn::DOUBLE) *
       |         (sv::DOUBLE / n::DOUBLE - gs::DOUBLE / nn::DOUBLE)
       |         ORDER BY a, b)), (x, y) -> x + y) AS ss_cells
       |       FROM cells, grand),
       |st AS (SELECT nn, gs2::DOUBLE - nn::DOUBLE *
       |         (gs::DOUBLE / nn::DOUBLE) * (gs::DOUBLE / nn::DOUBLE)
       |         AS ss_tot
       |       FROM grand)
       |SELECT nn AS n,
       |  CAST(ROUND(ss_tot / 1e4, 0) AS BIGINT) AS ss_tot,
       |  ${sqlE6("ss_a / ss_tot")} AS eta2_a_e6,
       |  ${sqlE6("ss_b / ss_tot")} AS eta2_b_e6,
       |  ${sqlE6("(ss_cells - ss_a - ss_b) / ss_tot")} AS eta2_ab_e6,
       |  ${sqlE6("(ss_tot - ss_cells) / ss_tot")} AS eta2_resid_e6
       |FROM st, sa, sb, sc ORDER BY n""".stripMargin

  /** q271 oracle: session ids as q263, FIRST_VALUE entry type,
    * per-entry conversion. */
  private val q271Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) * 1000 AS ts_ns FROM events),
       |l AS (SELECT *, CASE WHEN LAG(ts_ns) OVER w IS NULL
       |                       OR ts_ns - LAG(ts_ns) OVER w
       |                          > 1800000000000
       |                     THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |                          ORDER BY ts_ns, event_id)),
       |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
       |        ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING)
       |        AS sess FROM l),
       |fe AS (SELECT *, FIRST_VALUE(event_type) OVER (
       |         PARTITION BY user_id, sess
       |         ORDER BY ts_ns, event_id) AS entry FROM s),
       |g AS (SELECT user_id, sess, MAX(entry) AS entry,
       |        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |            END) AS conv
       |      FROM fe GROUP BY 1, 2)
       |SELECT entry, COUNT(*) AS n_sessions,
       |       CAST(SUM(conv) AS BIGINT) AS n_conv,
       |       ${sqlE6("SUM(conv)::DOUBLE / COUNT(*)::DOUBLE")} AS conv_e6
       |FROM g GROUP BY 1 ORDER BY entry""".stripMargin

  /** q272 oracle: lines-per-order histogram vs Poisson expectation,
    * factorial() on both engines. */
  private val q272Sql: String =
    s"""WITH k AS (SELECT l_orderkey, COUNT(*) AS k FROM lineitem
       |           GROUP BY 1),
       |h AS (SELECT k, COUNT(*) AS n_orders FROM k GROUP BY 1),
       |m AS (SELECT COUNT(*) AS nn, AVG(k) AS lam,
       |             AVG(k::DOUBLE * k::DOUBLE) AS m2 FROM k)
       |SELECT h.k AS k, h.n_orders,
       |  ${sqlE6("nn::DOUBLE * EXP(-lam) * POW(lam, k::DOUBLE) / factorial(k::INTEGER)::DOUBLE")} AS expected_e6,
       |  ${sqlE6("lam")} AS lambda_e6,
       |  ${sqlE6("(m2 - lam * lam) * nn::DOUBLE / (nn::DOUBLE - 1.0) / lam")} AS dispersion_e6
       |FROM h, m ORDER BY k""".stripMargin

  /** q273 oracle: integer band projection + per-cell mean net
    * revenue. */
  private val q273Sql: String =
    s"""WITH b AS (SELECT
       |         (CAST(l_quantity AS BIGINT) - 1) // 10 AS q_band,
       |         CAST(ROUND(l_discount * 100) AS BIGINT) // 2 AS d_band,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |              AS BIGINT) AS c
       |       FROM lineitem)
       |SELECT q_band, d_band, COUNT(*) AS n,
       |       ${sqlE6("AVG(c::DOUBLE) / 100.0")} AS avg_net_e6
       |FROM b GROUP BY 1, 2 ORDER BY q_band, d_band""".stripMargin

  /** q274 oracle: collapsed score histogram + midrank AUC identity. */
  private val q274Sql: String =
    s"""WITH per AS (SELECT user_id,
       |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |           AS score,
       |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |             END) >= 13 AS pos
       |       FROM events GROUP BY 1),
       |h AS (SELECT score,
       |        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
       |          AS np,
       |        CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
       |          AS nn
       |      FROM per GROUP BY 1),
       |c AS (SELECT np, nn,
       |        CAST(SUM(nn) OVER (ORDER BY score
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nn
       |      FROM h),
       |a AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       |             CAST(SUM(nn) AS BIGINT) AS n_neg,
       |             SUM(np::DOUBLE * ((cum_nn - nn)::DOUBLE
       |                 + nn::DOUBLE / 2.0)) AS num
       |      FROM c)
       |SELECT n_pos, n_neg,
       |  ${sqlE6("num / (n_pos::DOUBLE * n_neg::DOUBLE)")} AS auc_e6,
       |  ${sqlE6("2.0 * num / (n_pos::DOUBLE * n_neg::DOUBLE) - 1.0")} AS gini_e6
       |FROM a ORDER BY n_pos""".stripMargin

  /** q275 oracle: zero-filled spine, identical exact-BIGINT MA-7,
    * UNION ALL of the three methods. */
  private val q275Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |f AS (SELECT day, rev,
       |        ROW_NUMBER() OVER w AS rn,
       |        LAG(rev, 1) OVER w AS naive,
       |        LAG(rev, 7) OVER w AS snaive,
       |        CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 7
       |          PRECEDING AND 1 PRECEDING) AS BIGINT)::DOUBLE / 7.0
       |          AS ma7
       |      FROM z WINDOW w AS (ORDER BY day)),
       |e AS (SELECT method, rev, fc - rev::DOUBLE AS err FROM (
       |        SELECT 'naive' AS method, rev, naive::DOUBLE AS fc
       |        FROM f WHERE rn > 7
       |        UNION ALL
       |        SELECT 'snaive', rev, snaive::DOUBLE FROM f WHERE rn > 7
       |        UNION ALL
       |        SELECT 'ma7', rev, ma7 FROM f WHERE rn > 7))
       |SELECT method, COUNT(*) AS n_days,
       |  ${sqlE6("AVG(ABS(err)) / 100.0")} AS mae_e6,
       |  ${sqlE6("SQRT(AVG(err * err)) / 100.0")} AS rmse_e6,
       |  ${sqlE6("AVG(CASE WHEN rev > 0 THEN ABS(err) / rev::DOUBLE END)")} AS mape_e6
       |FROM e GROUP BY 1 ORDER BY method""".stripMargin

  /** q276 oracle: distinct edges, degree window [2, 30], wedge
    * self-join, 1/ln(deg) sum. */
  private val q276Sql: String =
    s"""WITH edges AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
       |               FROM lineitem),
       |deg AS (SELECT p, COUNT(*) AS d FROM edges GROUP BY 1
       |        HAVING COUNT(*) BETWEEN 2 AND 30),
       |e AS (SELECT edges.p, edges.s, deg.d FROM edges
       |      JOIN deg ON edges.p = deg.p)
       |SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_common,
       |       ${sqlE6("SUM(1.0 / LN(a.d::DOUBLE))")} AS aa_e6
       |FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY s1, s2""".stripMargin

  /** q277 oracle: (customer, $100 band) blocking, within-45-day
    * pairs. */
  private val q277Sql: String =
    s"""WITH o AS (SELECT o_custkey AS cust, o_orderkey AS k,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) // 10000
       |           AS band
       |       FROM orders)
       |SELECT a.cust AS cust, a.k AS k1, b.k AS k2, a.c AS c1,
       |       b.c AS c2, CAST(ABS(a.day - b.day) AS BIGINT) AS day_gap
       |FROM o a JOIN o b ON a.cust = b.cust AND a.band = b.band
       |WHERE a.k < b.k AND ABS(a.day - b.day) <= 45
       |ORDER BY cust, k1, k2""".stripMargin

  /** q278 oracle: $100-bin histogram, same grid/bandwidth doubles,
    * Gaussian kernel sum. */
  private val q278Sql: String =
    s"""WITH cents AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |                 AS c FROM orders),
       |hist AS (SELECT c // 10000 AS bin, COUNT(*) AS nb FROM cents
       |         GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, MIN(c) AS mn, MAX(c) AS mx
       |       FROM cents),
       |grid AS (SELECT n, mn, mx, unnest(range(0, 25)) AS i FROM st),
       |g2 AS (SELECT i, n,
       |         mn::DOUBLE / 100.0 + i::DOUBLE *
       |           ((mx - mn)::DOUBLE / 100.0) / 24.0 AS g,
       |         ((mx - mn)::DOUBLE / 100.0) / 20.0 AS h
       |       FROM grid),
       |k AS (SELECT i, g, h, n,
       |        SUM(nb::DOUBLE * EXP(((g - (bin::DOUBLE * 100.0 + 50.0))
       |          / h) * ((g - (bin::DOUBLE * 100.0 + 50.0)) / h)
       |          * -0.5)) AS ksum
       |      FROM g2, hist GROUP BY 1, 2, 3, 4)
       |SELECT i, ${sqlE6("g")} AS g_e6,
       |  ${sqlE6(s"ksum / (h * ${math.sqrt(2.0 * math.Pi)}) * 1000.0")} AS exp_per_1k_e6
       |FROM k ORDER BY i""".stripMargin

  /** q279 oracle: identical integer power sums, identical score
    * expression, argmax by (score DESC, class). */
  private val q279Sql: String =
    s"""WITH f AS (SELECT doc_id, lang AS label,
       |         CAST(LENGTH(text) AS BIGINT) AS x1,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           '[0-9]', '', 'g')) AS BIGINT) AS x2,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           ' ', '', 'g')) AS BIGINT) AS x3
       |       FROM documents),
       |st AS (SELECT label AS cl, COUNT(*) AS nc,
       |         CAST(SUM(x1) AS BIGINT) AS s1a,
       |         CAST(SUM(x1 * x1) AS BIGINT) AS s2a,
       |         CAST(SUM(x2) AS BIGINT) AS s1b,
       |         CAST(SUM(x2 * x2) AS BIGINT) AS s2b,
       |         CAST(SUM(x3) AS BIGINT) AS s1c,
       |         CAST(SUM(x3 * x3) AS BIGINT) AS s2c
       |       FROM f GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS nt FROM f),
       |sc AS (SELECT f.doc_id, f.label, st.cl,
       |         (-0.5 * LN(GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE) * (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE) * (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE) * (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + LN(st.nc::DOUBLE / tot.nt::DOUBLE) AS score
       |       FROM f, st, tot),
       |p AS (SELECT doc_id, label, cl,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY score DESC, cl) AS rk
       |      FROM sc)
       |SELECT label, cl AS pred, COUNT(*) AS n FROM p WHERE rk = 1
       |GROUP BY 1, 2 ORDER BY label, pred""".stripMargin

  /** q280 oracle: identical md5 -> integer-threshold Poisson(1)
    * weights, exact BIGINT replicate sums. */
  private val q280Sql: String = {
    val thr = Seq(1580030169L, 3160060337L, 3950075422L, 4213413783L,
      4279248374L, 4292415292L, 4294609778L, 4294923276L)
    val wExpr = thr.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH o AS (SELECT o_orderkey AS k,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |       FROM orders),
       |x AS (SELECT b, c,
       |        ${sqlHex32("md5('boot:' || b::VARCHAR || ':' || k::VARCHAR)")} AS u
       |      FROM o, (SELECT unnest(range(1, 65)) AS b) bs),
       |ww AS (SELECT b, c, CAST($wExpr AS BIGINT) AS w FROM x),
       |reps AS (SELECT CAST(SUM(w * c) AS BIGINT)::DOUBLE /
       |           CAST(SUM(w) AS BIGINT)::DOUBLE / 100.0 AS m
       |         FROM ww GROUP BY b),
       |base AS (SELECT COUNT(*) AS n_orders, AVG(c::DOUBLE) AS mean_c
       |         FROM o)
       |SELECT base.n_orders, (SELECT COUNT(*) FROM reps) AS n_reps,
       |  ${sqlE6("base.mean_c / 100.0")} AS mean_e6,
       |  (SELECT ${sqlE6("AVG(m)")} FROM reps) AS boot_mean_e6,
       |  (SELECT ${sqlE6("STDDEV_SAMP(m)")} FROM reps) AS boot_se_e6,
       |  (SELECT ${sqlE6("MIN(m)")} FROM reps) AS boot_min_e6,
       |  (SELECT ${sqlE6("MAX(m)")} FROM reps) AS boot_max_e6
       |FROM base ORDER BY n_orders""".stripMargin
  }

  /** q281 oracle: exact p99 threshold from the cents histogram
    * cumulative scan, per-month whale share. */
  private val q281Sql: String =
    s"""WITH o AS (SELECT
       |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |       FROM orders),
       |hist AS (SELECT c, COUNT(*) AS n FROM o GROUP BY 1),
       |cum AS (SELECT c, CAST(SUM(n) OVER (ORDER BY c
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM hist),
       |nt AS (SELECT COUNT(*) AS nt FROM o),
       |thr AS (SELECT MIN(c) AS thr FROM cum, nt
       |        WHERE cum::DOUBLE >= nt::DOUBLE * 0.99)
       |SELECT m, COUNT(*) AS n_orders,
       |  CAST(SUM(CASE WHEN c >= thr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_whale,
       |  CAST(SUM(c) AS BIGINT) AS rev,
       |  CAST(SUM(CASE WHEN c >= thr THEN c ELSE 0 END) AS BIGINT)
       |    AS whale_rev,
       |  MAX(thr) AS thr,
       |  ${sqlE6("SUM(CASE WHEN c >= thr THEN c ELSE 0 END)::DOUBLE / SUM(c)::DOUBLE")} AS share_e6
       |FROM o, thr GROUP BY 1 ORDER BY m""".stripMargin

  /** q282 oracle: identical raw-power-sum central-moment algebra. */
  private val q282Sql: String =
    s"""WITH a AS (SELECT event_type, COUNT(*)::DOUBLE AS n,
       |         SUM(value) AS s1, SUM(value * value) AS s2,
       |         SUM(value * value * value) AS s3,
       |         SUM(value * value * value * value) AS s4
       |       FROM events GROUP BY 1),
       |m AS (SELECT event_type, n, s1 / n AS mu,
       |        s2 / n - (s1 / n) * (s1 / n) AS m2,
       |        s3 / n - 3.0 * (s1 / n) * s2 / n
       |          + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
       |        s4 / n - 4.0 * (s1 / n) * s3 / n
       |          + 6.0 * (s1 / n) * (s1 / n) * s2 / n
       |          - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
       |          AS m4
       |      FROM a),
       |g AS (SELECT event_type, n, mu, m2,
       |        m3 / POW(m2, 1.5) AS g1,
       |        m4 / (m2 * m2) - 3.0 AS g2
       |      FROM m)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  ${sqlE6("mu")} AS mean_e6,
       |  ${sqlE6("SQRT(m2 * n / (n - 1.0))")} AS sd_e6,
       |  ${sqlE6("g1")} AS skew_e6, ${sqlE6("g2")} AS kurt_e6,
       |  ${sqlE6("(g1 * g1 + 1.0) / (g2 + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0)))")} AS bimodality_e6
       |FROM g ORDER BY event_type""".stripMargin

  /** q283 oracle: score histogram, integer decile mapping, cumulative
    * capture. */
  private val q283Sql: String =
    s"""WITH per AS (SELECT user_id,
       |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |           AS score,
       |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |             END) >= 13 AS conv
       |       FROM events GROUP BY 1),
       |h AS (SELECT score, COUNT(*) AS nu,
       |        CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
       |          AS nc
       |      FROM per GROUP BY 1),
       |t AS (SELECT CAST(SUM(nu) AS BIGINT) AS tu,
       |             CAST(SUM(nc) AS BIGINT) AS tc FROM h),
       |c AS (SELECT score, nu, nc,
       |        CAST(COALESCE(SUM(nu) OVER (ORDER BY score DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cumb
       |      FROM h),
       |d AS (SELECT (10 * cumb) // tu AS decile,
       |        CAST(SUM(nu) AS BIGINT) AS n_users,
       |        CAST(SUM(nc) AS BIGINT) AS n_conv, MAX(tc) AS tc
       |      FROM c, t GROUP BY 1),
       |e AS (SELECT decile, n_users, n_conv, tc,
       |        CAST(SUM(n_conv) OVER (ORDER BY decile
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_conv
       |      FROM d)
       |SELECT decile, n_users, n_conv,
       |  ${sqlE6("n_conv::DOUBLE / n_users::DOUBLE")} AS rate_e6,
       |  ${sqlE6("cum_conv::DOUBLE / tc::DOUBLE")} AS capture_e6
       |FROM e ORDER BY decile""".stripMargin

  /** q284 oracle: gaps-and-islands longest streak, streak histogram. */
  private val q284Sql: String =
    s"""WITH days AS (SELECT DISTINCT user_id,
       |         epoch_us(ts) * 1000 // $DayNs AS day FROM events),
       |i AS (SELECT user_id,
       |        day - ROW_NUMBER() OVER (PARTITION BY user_id
       |          ORDER BY day) AS isl
       |      FROM days),
       |runs AS (SELECT user_id, isl, COUNT(*) AS len FROM i
       |         GROUP BY 1, 2),
       |best AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS best
       |         FROM runs GROUP BY 1)
       |SELECT best AS streak_days, COUNT(*) AS n_users
       |FROM best GROUP BY 1 ORDER BY streak_days""".stripMargin

  /** q285 oracle: identical regexp counting (global flag), exact
    * BIGINT sums, Flesch on aggregate ratios. */
  private val q285Sql: String =
    s"""WITH f AS (SELECT source,
       |         CAST(LENGTH(regexp_replace(text, ' +', 'S', 'g'))
       |           - LENGTH(regexp_replace(text, ' +', '', 'g')) + 1
       |           AS BIGINT) AS w,
       |         GREATEST(1, CAST(LENGTH(text)
       |           - LENGTH(regexp_replace(text, '[.!?]', '', 'g'))
       |           AS BIGINT)) AS sn,
       |         CAST(LENGTH(regexp_replace(LOWER(text), '[aeiouy]+',
       |             'V', 'g'))
       |           - LENGTH(regexp_replace(LOWER(text), '[aeiouy]+',
       |             '', 'g')) AS BIGINT) AS y
       |       FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  ${sqlE6("SUM(w)::DOUBLE / SUM(sn)::DOUBLE")} AS words_per_sent_e6,
       |  ${sqlE6("SUM(y)::DOUBLE / SUM(w)::DOUBLE")} AS syll_per_word_e6,
       |  ${sqlE6("206.835 - 1.015 * SUM(w)::DOUBLE / SUM(sn)::DOUBLE - 84.6 * SUM(y)::DOUBLE / SUM(w)::DOUBLE")} AS flesch_e6
       |FROM f GROUP BY 1 ORDER BY source""".stripMargin

  /** q286 oracle: identical md5-ordered round-robin fold dealing. */
  private val q286Sql: String =
    s"""WITH folded AS (SELECT lang, n_chars,
       |         (ROW_NUMBER() OVER (PARTITION BY lang
       |            ORDER BY md5('kf:' || doc_id::VARCHAR), doc_id)
       |          - 1) % 5 AS fold
       |       FROM documents),
       |g AS (SELECT lang, fold, COUNT(*) AS n_docs,
       |        CAST(SUM(n_chars) AS BIGINT) AS cs
       |      FROM folded GROUP BY 1, 2),
       |l AS (SELECT lang, fold, n_docs, cs,
       |        CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
       |          AS lang_total
       |      FROM g)
       |SELECT lang, CAST(fold AS BIGINT) AS fold, n_docs,
       |  ${sqlE6("n_docs::DOUBLE / lang_total::DOUBLE")} AS share_e6,
       |  ${sqlE6("cs::DOUBLE / n_docs::DOUBLE")} AS mean_chars_e6
       |FROM l ORDER BY lang, fold""".stripMargin

  /** q287 oracle: as-of bracket, same bucket grid. */
  private val q287Sql: String =
    s"""WITH o AS (SELECT o_orderstatus AS status,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |       FROM orders),
       |ao AS (SELECT MAX(day) AS aday FROM o),
       |b AS (SELECT status, c, aday - day AS age,
       |        CASE WHEN aday - day <= 30 THEN 'a_0_30'
       |             WHEN aday - day <= 60 THEN 'b_31_60'
       |             WHEN aday - day <= 90 THEN 'c_61_90'
       |             WHEN aday - day <= 180 THEN 'd_91_180'
       |             WHEN aday - day <= 365 THEN 'e_181_365'
       |             ELSE 'f_365_plus' END AS bucket
       |      FROM o, ao WHERE status <> 'F')
       |SELECT status, bucket, COUNT(*) AS n_orders,
       |       CAST(SUM(c) AS BIGINT) AS cents
       |FROM b GROUP BY 1, 2 ORDER BY status, bucket""".stripMargin

  /** q288 oracle: the identical Holt-Winters fold as a DuckDB
    * list_reduce (list-typed accumulator via the list_prepend trick;
    * constants interpolate the same Scala doubles as the Spark
    * side). */
  private val q288Sql: String = {
    val (a1, a2) = (s"$HwA", s"${1 - HwA}")
    val (b1, b2) = (s"$HwB", s"${1 - HwB}")
    val (g1, g2) = (s"$HwG", s"${1 - HwG}")
    val slot = "CAST(list_extract(acc, 4) AS INT) % 7"
    val sEl = s"list_extract(acc, 5 + $slot)"
    val x = "list_extract(xe, 1)"
    val lNew = s"($a1 * ($x - $sEl) + $a2 * (list_extract(acc, 1) + list_extract(acc, 2)))"
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0)::DOUBLE AS v
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |arr AS (SELECT list(v ORDER BY day) AS a FROM z),
       |init AS (SELECT a,
       |    list_aggregate(list_slice(a, 1, 7), 'sum') / 7.0 AS l0,
       |    (list_aggregate(list_slice(a, 8, 14), 'sum') / 7.0
       |     - list_aggregate(list_slice(a, 1, 7), 'sum') / 7.0) / 7.0
       |      AS t0
       |  FROM arr),
       |st0 AS (SELECT a, list_concat([l0, t0, 0.0, 0.0],
       |    list_transform(list_slice(a, 1, 7), x -> x - l0)) AS s0
       |  FROM init),
       |f AS (SELECT list_reduce(
       |    list_prepend(s0, list_transform(
       |      list_slice(a, 15, length(a)), x -> [x])),
       |    (acc, xe) -> list_transform(range(0, 11), i -> CASE
       |      WHEN i = 0 THEN $lNew
       |      WHEN i = 1 THEN $b1 * ($lNew - list_extract(acc, 1))
       |        + $b2 * list_extract(acc, 2)
       |      WHEN i = 2 THEN list_extract(acc, 3) + abs($x -
       |        (list_extract(acc, 1) + list_extract(acc, 2) + $sEl))
       |      WHEN i = 3 THEN list_extract(acc, 4) + 1.0
       |      WHEN i - 4 = $slot THEN $g1 * ($x - $lNew) + $g2 * $sEl
       |      ELSE list_extract(acc, i + 1) END)) AS st
       |  FROM st0)
       |SELECT CAST(list_extract(st, 4) AS BIGINT) AS n_fit,
       |  ${sqlE6("list_extract(st, 1) / 100.0")} AS level_e6,
       |  ${sqlE6("list_extract(st, 2) / 100.0")} AS trend_e6,
       |  ${sqlE6("list_extract(st, 3) / list_extract(st, 4) / 100.0")} AS mae_e6,
       |  ${sqlE6("list_extract(st, 5) / 100.0")} AS s1_e6,
       |  ${sqlE6("list_extract(st, 6) / 100.0")} AS s2_e6,
       |  ${sqlE6("list_extract(st, 7) / 100.0")} AS s3_e6,
       |  ${sqlE6("list_extract(st, 8) / 100.0")} AS s4_e6,
       |  ${sqlE6("list_extract(st, 9) / 100.0")} AS s5_e6,
       |  ${sqlE6("list_extract(st, 10) / 100.0")} AS s6_e6,
       |  ${sqlE6("list_extract(st, 11) / 100.0")} AS s7_e6
       |FROM f ORDER BY n_fit""".stripMargin
  }

  /** q289 oracle: integer 4*S7 vs S28 signal, crossing counts. */
  private val q289Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |w AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn,
       |        CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 6
       |          PRECEDING AND CURRENT ROW) AS BIGINT) AS s7,
       |        CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 27
       |          PRECEDING AND CURRENT ROW) AS BIGINT) AS s28
       |      FROM z),
       |sig AS (SELECT day,
       |          CASE WHEN s7 * 4 > s28 THEN 1
       |               WHEN s7 * 4 < s28 THEN -1 ELSE 0 END AS sig
       |        FROM w WHERE rn >= 28),
       |l AS (SELECT day, sig, LAG(sig, 1) OVER (ORDER BY day) AS prev
       |      FROM sig)
       |SELECT COUNT(*) AS n_days,
       |  CAST(SUM(CASE WHEN sig = 1 AND prev = -1 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_golden,
       |  CAST(SUM(CASE WHEN sig = -1 AND prev = 1 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_death,
       |  MAX(CASE WHEN sig <> prev AND sig <> 0 AND prev <> 0
       |      THEN day END) AS last_cross_day,
       |  CAST(max_by(sig, day) AS BIGINT) AS last_sig
       |FROM l ORDER BY n_days""".stripMargin

  /** q290 oracle: identical md5-parity split and exact integer
    * residual-rank selection. */
  private val q290Sql: String =
    s"""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS k,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
       |         ${sqlHex32("md5('conf:' || o_orderkey::VARCHAR)")}
       |           < 2147483648 AS calib
       |       FROM orders),
       |st AS (SELECT prio, COUNT(*) AS m,
       |         CAST(SUM(c) AS BIGINT) AS sc
       |       FROM o WHERE calib GROUP BY 1),
       |res AS (SELECT o.prio, st.m, st.sc, ABS(c * st.m - st.sc) AS r,
       |          COUNT(*) AS nr
       |        FROM o JOIN st ON o.prio = st.prio WHERE calib
       |        GROUP BY 1, 2, 3, 4),
       |cum AS (SELECT prio, m, sc, r,
       |          CAST(SUM(nr) OVER (PARTITION BY prio ORDER BY r
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM res),
       |qh AS (SELECT prio, m, sc, MIN(r) AS rstar FROM cum
       |       WHERE cum::DOUBLE >= CEIL((m + 1)::DOUBLE * 0.9)
       |       GROUP BY 1, 2, 3)
       |SELECT o.prio AS prio, MAX(qh.m) AS n_calib,
       |  COUNT(*) AS n_test,
       |  ${sqlE6("MAX(qh.rstar)::DOUBLE / MAX(qh.m)::DOUBLE / 100.0")} AS qhat_e6,
       |  ${sqlE6("AVG(CASE WHEN ABS(c * qh.m - qh.sc) <= qh.rstar THEN 1.0 ELSE 0.0 END)")} AS cover_e6
       |FROM o JOIN qh ON o.prio = qh.prio WHERE NOT calib
       |GROUP BY 1 ORDER BY prio""".stripMargin

  /** q291 oracle: bounded (type, day) grid, same decay constant. */
  private val q291Sql: String =
    s"""WITH grid AS (SELECT event_type,
       |         epoch_us(ts) * 1000 // $DayNs AS day, COUNT(*) AS n
       |       FROM events GROUP BY 1, 2),
       |mx AS (SELECT MAX(day) AS mxd FROM grid),
       |sc AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
       |         SUM(n::DOUBLE * EXP((day - mxd)::DOUBLE * 0.1))
       |           AS score
       |       FROM grid, mx GROUP BY 1),
       |tot AS (SELECT SUM(score) AS ts FROM sc)
       |SELECT event_type, n_events, ${sqlE6("score")} AS score_e6,
       |       ${sqlE6("score / ts")} AS share_e6
       |FROM sc, tot ORDER BY event_type""".stripMargin

  /** q292 oracle: the q279 score CTE extended with top-2 ranks and
    * the margin threshold. */
  private val q292Sql: String =
    s"""WITH f AS (SELECT doc_id, lang AS label,
       |         CAST(LENGTH(text) AS BIGINT) AS x1,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           '[0-9]', '', 'g')) AS BIGINT) AS x2,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           ' ', '', 'g')) AS BIGINT) AS x3
       |       FROM documents),
       |st AS (SELECT label AS cl, COUNT(*) AS nc,
       |         CAST(SUM(x1) AS BIGINT) AS s1a,
       |         CAST(SUM(x1 * x1) AS BIGINT) AS s2a,
       |         CAST(SUM(x2) AS BIGINT) AS s1b,
       |         CAST(SUM(x2 * x2) AS BIGINT) AS s2b,
       |         CAST(SUM(x3) AS BIGINT) AS s1c,
       |         CAST(SUM(x3 * x3) AS BIGINT) AS s2c
       |       FROM f GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS nt FROM f),
       |sc AS (SELECT f.doc_id, f.label, st.cl,
       |         (-0.5 * LN(GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE) * (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE) * (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE) * (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + LN(st.nc::DOUBLE / tot.nt::DOUBLE) AS score
       |       FROM f, st, tot),
       |p AS (SELECT doc_id, label, score,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY score DESC, cl) AS rk
       |      FROM sc),
       |m AS (SELECT doc_id, label,
       |        MAX(CASE WHEN rk = 1 THEN score END)
       |        - MAX(CASE WHEN rk = 2 THEN score END) AS margin
       |      FROM p WHERE rk <= 2 GROUP BY 1, 2)
       |SELECT label, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN margin < 5.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_uncertain,
       |  ${sqlE6("AVG(margin)")} AS mean_margin_e6
       |FROM m GROUP BY 1 ORDER BY label""".stripMargin

  /** q293 oracle: full-outer of current vs shifted week activity. */
  private val q293Sql: String =
    s"""WITH uw AS (SELECT DISTINCT user_id,
       |         (epoch_us(ts) * 1000 // $DayNs) // 7 AS w FROM events),
       |f AS (SELECT user_id, MIN(w) AS w0 FROM uw GROUP BY 1),
       |prev AS (SELECT user_id, w + 1 AS w, 1 AS was_active FROM uw),
       |cur AS (SELECT COALESCE(l.user_id, prev.user_id) AS user_id,
       |          COALESCE(l.w, prev.w) AS w, l.w0, prev.was_active
       |        FROM (SELECT uw.user_id, uw.w, f.w0 FROM uw
       |              JOIN f ON uw.user_id = f.user_id) l
       |        FULL OUTER JOIN prev
       |          ON l.user_id = prev.user_id AND l.w = prev.w)
       |SELECT w,
       |  CAST(SUM(CASE WHEN w0 = w THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_new,
       |  CAST(SUM(CASE WHEN w0 < w AND was_active IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |  CAST(SUM(CASE WHEN w0 < w AND was_active IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
       |  CAST(SUM(CASE WHEN w0 IS NULL AND was_active IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
       |FROM cur GROUP BY 1 ORDER BY w""".stripMargin

  /** q294 oracle: dense grid anti-join + gaps-and-islands on missing
    * cells. */
  private val q294Sql: String =
    s"""WITH od AS (SELECT DISTINCT o_orderpriority AS prio,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day
       |       FROM orders),
       |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM od),
       |grid AS (SELECT prio, unnest(range(d0, d1 + 1)) AS day
       |         FROM (SELECT DISTINCT prio FROM od), span),
       |miss AS (SELECT g.prio, g.day FROM grid g
       |         LEFT JOIN od ON g.prio = od.prio AND g.day = od.day
       |         WHERE od.prio IS NULL),
       |runs AS (SELECT prio, CAST(MAX(len) AS BIGINT) AS longest_gap
       |         FROM (SELECT prio, isl, COUNT(*) AS len
       |               FROM (SELECT prio, day,
       |                       day - ROW_NUMBER() OVER (
       |                         PARTITION BY prio ORDER BY day) AS isl
       |                     FROM miss)
       |               GROUP BY 1, 2)
       |         GROUP BY 1),
       |mt AS (SELECT prio, COUNT(*) AS n_missing FROM miss GROUP BY 1),
       |et AS (SELECT prio, COUNT(*) AS n_expected FROM grid GROUP BY 1)
       |SELECT et.prio AS prio, et.n_expected,
       |  COALESCE(mt.n_missing, 0) AS n_missing,
       |  ${sqlE6("1.0 - COALESCE(mt.n_missing, 0)::DOUBLE / et.n_expected::DOUBLE")} AS fill_e6,
       |  COALESCE(runs.longest_gap, 0) AS longest_gap
       |FROM et LEFT JOIN mt ON et.prio = mt.prio
       |LEFT JOIN runs ON et.prio = runs.prio
       |ORDER BY prio""".stripMargin

  /** q295 oracle: identical dominant-brand rank and consecutive-order
    * lag. */
  private val q295Sql: String =
    s"""WITH ob AS (SELECT l_orderkey AS k, p_brand AS brand,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS c
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       GROUP BY 1, 2),
       |dom AS (SELECT k, brand FROM (SELECT k, brand,
       |          ROW_NUMBER() OVER (PARTITION BY k
       |            ORDER BY c DESC, brand DESC) AS rk
       |        FROM ob) WHERE rk = 1),
       |sq AS (SELECT o.o_custkey AS cust,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o.o_orderdate)
       |           AS day,
       |         o.o_orderkey AS k, dom.brand
       |       FROM orders o JOIN dom ON o.o_orderkey = dom.k),
       |tr AS (SELECT LAG(brand, 1) OVER (PARTITION BY cust
       |         ORDER BY day, k) AS from_brand, brand AS to_brand
       |       FROM sq)
       |SELECT from_brand, to_brand, COUNT(*) AS n FROM tr
       |WHERE from_brand IS NOT NULL
       |GROUP BY 1, 2 ORDER BY from_brand, to_brand""".stripMargin

  /** q296 oracle: histogram midrank Gini + integer decile mapping. */
  private val q296Sql: String =
    s"""WITH pc AS (SELECT o_custkey,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS c
       |       FROM orders GROUP BY 1),
       |h AS (SELECT c, COUNT(*) AS nu FROM pc GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n,
       |               CAST(SUM(nu * c) AS BIGINT) AS tc FROM h),
       |cum AS (SELECT c, nu,
       |          CAST(COALESCE(SUM(nu) OVER (ORDER BY c
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |            0) AS BIGINT) AS cumb, n, tc
       |        FROM h, tot),
       |gini AS (SELECT SUM((2.0 * (cumb::DOUBLE
       |             + (nu::DOUBLE + 1.0) / 2.0)
       |             - n::DOUBLE - 1.0) * nu::DOUBLE * c::DOUBLE)
       |           / (MAX(n)::DOUBLE * MAX(tc)::DOUBLE) AS gini
       |         FROM cum),
       |dec AS (SELECT (10 * cumb) // n AS decile,
       |          CAST(SUM(nu) AS BIGINT) AS n_cust,
       |          CAST(SUM(nu * c) AS BIGINT) AS rev, MAX(tc) AS tc
       |        FROM cum GROUP BY 1),
       |e AS (SELECT decile, n_cust, rev, tc,
       |        CAST(SUM(rev) OVER (ORDER BY decile
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
       |      FROM dec)
       |SELECT decile, n_cust,
       |  ${sqlE6("rev::DOUBLE / tc::DOUBLE")} AS rev_share_e6,
       |  ${sqlE6("cum_rev::DOUBLE / tc::DOUBLE")} AS cum_share_e6,
       |  ${sqlE6("(SELECT gini FROM gini)")} AS gini_e6
       |FROM e ORDER BY decile""".stripMargin

  /** q297 oracle: identical exact-integer cumulative deviations and
    * double bs2 power sum, same four block sizes. */
  private val q297Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev,
       |        ROW_NUMBER() OVER (ORDER BY s.day) AS rn
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |sized AS (SELECT z.*, sz.sz, (rn - 1) // sz.sz AS blk
       |          FROM z, (SELECT unnest([32, 64, 128, 256]) AS sz) sz),
       |bst AS (SELECT sz, blk, COUNT(*) AS bn,
       |          CAST(SUM(rev) AS BIGINT) AS bs,
       |          SUM(rev::DOUBLE * rev::DOUBLE) AS bs2
       |        FROM sized GROUP BY 1, 2 HAVING COUNT(*) = sz),
       |devs AS (SELECT s.sz, s.blk, bst.bs, bst.bs2,
       |           s.sz * (CAST(SUM(s.rev) OVER (PARTITION BY s.sz,
       |             s.blk ORDER BY s.rn ROWS UNBOUNDED PRECEDING)
       |             AS BIGINT)) - (s.rn - s.blk * s.sz) * bst.bs
       |             AS dev
       |         FROM sized s JOIN bst
       |           ON s.sz = bst.sz AND s.blk = bst.blk),
       |rsb AS (SELECT sz, blk, bs, bs2,
       |          (MAX(dev) - MIN(dev))::DOUBLE / sz::DOUBLE AS r
       |        FROM devs GROUP BY 1, 2, 3, 4),
       |rs AS (SELECT sz, COUNT(*) AS nb, AVG(r / sd) AS mrs
       |       FROM (SELECT sz, r, SQRT(bs2 / sz::DOUBLE
       |               - (bs::DOUBLE / sz::DOUBLE)
       |                 * (bs::DOUBLE / sz::DOUBLE)) AS sd
       |             FROM rsb) WHERE sd > 0.0
       |       GROUP BY 1),
       |ols AS (SELECT ((SUM(LN(sz::DOUBLE) * LN(mrs))
       |          - SUM(LN(sz::DOUBLE)) * SUM(LN(mrs))
       |            / COUNT(*)::DOUBLE)
       |          / (SUM(LN(sz::DOUBLE) * LN(sz::DOUBLE))
       |          - SUM(LN(sz::DOUBLE)) * SUM(LN(sz::DOUBLE))
       |            / COUNT(*)::DOUBLE)) AS hurst
       |        FROM rs)
       |SELECT CAST(sz AS BIGINT) AS sz, nb,
       |  ${sqlE6("mrs")} AS mean_rs_e6,
       |  ${sqlE6("(SELECT hurst FROM ols)")} AS hurst_e6
       |FROM rs ORDER BY sz""".stripMargin

  /** q298 oracle: identical prefix-sum gain algebra, rank-1 pick. */
  private val q298Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |bb AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(bb.d0, bb.d1 + 1)) AS day FROM bb),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev,
       |        ROW_NUMBER() OVER (ORDER BY s.day) AS rn,
       |        CAST(SUM(COALESCE(d.rev, 0)) OVER (ORDER BY s.day
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |tot AS (SELECT MAX(rn) AS n, MAX(cs) AS s,
       |          SUM(rev::DOUBLE * rev::DOUBLE) AS s2 FROM z),
       |g AS (SELECT day, rn, cs, n, s, s2,
       |        cs::DOUBLE * cs::DOUBLE / rn::DOUBLE
       |        + (s - cs)::DOUBLE * (s - cs)::DOUBLE
       |          / (n - rn)::DOUBLE
       |        - s::DOUBLE * s::DOUBLE / n::DOUBLE AS gain
       |      FROM z, tot WHERE rn < n),
       |pick AS (SELECT * FROM (SELECT g.*,
       |          ROW_NUMBER() OVER (ORDER BY gain DESC, day) AS rk
       |        FROM g) WHERE rk = 1)
       |SELECT day AS split_day, CAST(rn AS BIGINT) AS n_left,
       |  CAST(n - rn AS BIGINT) AS n_right,
       |  ${sqlE6("cs::DOUBLE / rn::DOUBLE / 100.0")} AS mean_left_e6,
       |  ${sqlE6("(s - cs)::DOUBLE / (n - rn)::DOUBLE / 100.0")} AS mean_right_e6,
       |  ${sqlE6("gain / (s2 - s::DOUBLE * s::DOUBLE / n::DOUBLE)")} AS gain_share_e6
       |FROM pick ORDER BY split_day""".stripMargin

  /** q299 oracle: per-arm cents histogram, exact type-lower deciles
    * on the shared grid. */
  private val q299Sql: String =
    s"""WITH v AS (SELECT user_id % 2 = 0 AS armA,
       |         CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |h AS (SELECT armA, c, COUNT(*) AS n FROM v GROUP BY 1, 2),
       |tot AS (SELECT armA, CAST(SUM(n) AS BIGINT) AS nt FROM h
       |        GROUP BY 1),
       |cum AS (SELECT h.armA, h.c,
       |          CAST(SUM(h.n) OVER (PARTITION BY h.armA ORDER BY h.c
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumn,
       |          tot.nt
       |        FROM h JOIN tot ON h.armA = tot.armA),
       |qs AS (SELECT q, armA, MIN(c) AS qc
       |       FROM cum, (SELECT unnest([10, 20, 30, 40, 50, 60, 70,
       |                    80, 90]) AS q) grid
       |       WHERE cumn::DOUBLE >= CEIL(nt::DOUBLE * q / 100.0)
       |       GROUP BY 1, 2)
       |SELECT CAST(q AS BIGINT) AS q,
       |  ${sqlE6("MAX(CASE WHEN armA THEN qc END)::DOUBLE / 100.0")} AS a_e6,
       |  ${sqlE6("MAX(CASE WHEN NOT armA THEN qc END)::DOUBLE / 100.0")} AS b_e6,
       |  ${sqlE6("(MAX(CASE WHEN armA THEN qc END) - MAX(CASE WHEN NOT armA THEN qc END))::DOUBLE / 100.0")} AS qte_e6
       |FROM qs GROUP BY 1 ORDER BY q""".stripMargin

  /** q300 oracle: identical md5 candidate ids modulo the table count,
    * identical fingerprint hash. */
  private val q300Sql: String =
    s"""WITH e AS (SELECT vec_id, label FROM embeddings),
       |n AS (SELECT COUNT(*) AS nv FROM e),
       |cand AS (SELECT e.vec_id, e.label,
       |           ${sqlHex32("md5('neg:' || e.vec_id::VARCHAR || ':' || jj::VARCHAR)")} % n.nv AS cand
       |         FROM e, n,
       |           (SELECT unnest(range(1, 5)) AS jj) js),
       |r AS (SELECT cand.vec_id, cand.label, cand.cand, e2.label AS cl
       |      FROM cand JOIN e e2 ON cand.cand = e2.vec_id)
       |SELECT label,
       |  CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_anchors,
       |  COUNT(*) AS n_cand,
       |  CAST(SUM(CASE WHEN cl <> label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  ${sqlE6("SUM(CASE WHEN cl <> label THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS keep_e6,
       |  CAST(SUM(CASE WHEN cl <> label THEN
       |      ${sqlHex32("md5(vec_id::VARCHAR || ':' || cand::VARCHAR)")}
       |    ELSE 0 END) AS BIGINT) AS fingerprint
       |FROM r GROUP BY 1 ORDER BY label""".stripMargin

  /** q301 oracle: identical three raters and kappa algebra. */
  private val q301Sql: String =
    s"""WITH f AS (SELECT
       |         CASE WHEN LENGTH(text) >= 500 THEN 1 ELSE 0 END
       |         + CASE WHEN (LENGTH(text) - LENGTH(regexp_replace(
       |             text, ' ', '', 'g')))::DOUBLE
       |             / GREATEST(LENGTH(text), 1)::DOUBLE
       |             BETWEEN 0.1 AND 0.25 THEN 1 ELSE 0 END
       |         + CASE WHEN (LENGTH(text) - LENGTH(regexp_replace(
       |             text, '[0-9]', '', 'g')))::DOUBLE
       |             / GREATEST(LENGTH(text), 1)::DOUBLE < 0.05
       |             THEN 1 ELSE 0 END AS pos
       |       FROM documents),
       |a AS (SELECT COUNT(*)::DOUBLE AS n,
       |        AVG((pos * (pos - 1) + (3 - pos) * (2 - pos))::DOUBLE
       |            / 6.0) AS pbar,
       |        AVG(pos::DOUBLE / 3.0) AS ppos
       |      FROM f)
       |SELECT CAST(n AS BIGINT) AS n_docs, ${sqlE6("pbar")} AS p_bar_e6,
       |  ${sqlE6("ppos * ppos + (1.0 - ppos) * (1.0 - ppos)")} AS p_e_e6,
       |  ${sqlE6("(pbar - (ppos * ppos + (1.0 - ppos) * (1.0 - ppos))) / (1.0 - (ppos * ppos + (1.0 - ppos) * (1.0 - ppos)))")} AS kappa_e6
       |FROM a ORDER BY n_docs""".stripMargin

  /** q302 oracle: the q279/q292 score CTE with stable softmax
    * confidence, same binning and ECE fold. */
  private val q302Sql: String =
    s"""WITH f AS (SELECT doc_id, lang AS label,
       |         CAST(LENGTH(text) AS BIGINT) AS x1,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           '[0-9]', '', 'g')) AS BIGINT) AS x2,
       |         CAST(LENGTH(text) - LENGTH(regexp_replace(text,
       |           ' ', '', 'g')) AS BIGINT) AS x3
       |       FROM documents),
       |st AS (SELECT label AS cl, COUNT(*) AS nc,
       |         CAST(SUM(x1) AS BIGINT) AS s1a,
       |         CAST(SUM(x1 * x1) AS BIGINT) AS s2a,
       |         CAST(SUM(x2) AS BIGINT) AS s1b,
       |         CAST(SUM(x2 * x2) AS BIGINT) AS s2b,
       |         CAST(SUM(x3) AS BIGINT) AS s1c,
       |         CAST(SUM(x3 * x3) AS BIGINT) AS s2c
       |       FROM f GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS nt FROM f),
       |sc AS (SELECT f.doc_id, f.label, st.cl,
       |         (-0.5 * LN(GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE) * (f.x1::DOUBLE - st.s1a::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2a - st.s1a * st.s1a)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE) * (f.x2::DOUBLE - st.s1b::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2b - st.s1b * st.s1b)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + (-0.5 * LN(GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5))
       |          - (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE) * (f.x3::DOUBLE - st.s1c::DOUBLE / st.nc::DOUBLE)
       |            / (GREATEST((st.nc * st.s2c - st.s1c * st.s1c)::DOUBLE / (st.nc * st.nc)::DOUBLE, 0.5) * 2.0))
       |         + LN(st.nc::DOUBLE / tot.nt::DOUBLE) AS score
       |       FROM f, st, tot),
       |mx AS (SELECT doc_id, label, cl, score,
       |         MAX(score) OVER (PARTITION BY doc_id) AS smax
       |       FROM sc),
       |agg AS (SELECT doc_id, label, SUM(EXP(score - smax)) AS z,
       |          MIN(CASE WHEN score = smax THEN cl END) AS pred
       |        FROM mx GROUP BY 1, 2),
       |binned AS (SELECT LEAST(CAST(FLOOR((1.0 / z) * 10.0) AS BIGINT),
       |             9) AS bin,
       |           1.0 / z AS conf,
       |           CASE WHEN pred = label THEN 1.0 ELSE 0.0 END AS hit
       |         FROM agg),
       |pb AS (SELECT bin, COUNT(*) AS n, AVG(conf) AS mconf,
       |         AVG(hit) AS acc
       |       FROM binned GROUP BY 1),
       |ec AS (SELECT SUM(n::DOUBLE * ABS(acc - mconf)) / SUM(n)::DOUBLE
       |         AS ece FROM pb)
       |SELECT bin, n, ${sqlE6("mconf")} AS conf_e6,
       |  ${sqlE6("acc")} AS acc_e6,
       |  ${sqlE6("(SELECT ece FROM ec)")} AS ece_e6
       |FROM pb ORDER BY bin""".stripMargin

  /** q303 oracle: identical integer power-sum correlations. */
  private val q303Sql: String =
    s"""WITH base AS (SELECT n_name,
       |         CAST(l_quantity AS BIGINT) AS x,
       |         CAST(ROUND(l_discount * 100) AS BIGINT) AS y
       |       FROM lineitem
       |       JOIN supplier ON l_suppkey = s_suppkey
       |       JOIN nation ON s_nationkey = n_nationkey),
       |per AS (SELECT n_name, COUNT(*) AS n,
       |          CAST(SUM(x) AS BIGINT) AS sx,
       |          CAST(SUM(y) AS BIGINT) AS sy,
       |          CAST(SUM(x * x) AS BIGINT) AS sxx,
       |          CAST(SUM(y * y) AS BIGINT) AS syy,
       |          CAST(SUM(x * y) AS BIGINT) AS sxy
       |        FROM base GROUP BY 1),
       |pc AS (SELECT n_name, n,
       |         (n * sxy - sx * sy)::DOUBLE /
       |         (SQRT((n * sxx - sx * sx)::DOUBLE) *
       |          SQRT((n * syy - sy * sy)::DOUBLE)) AS corr
       |       FROM per),
       |pooled AS (SELECT (n * sxy - sx * sy)::DOUBLE /
       |             (SQRT((n * sxx - sx * sx)::DOUBLE) *
       |              SQRT((n * syy - sy * sy)::DOUBLE)) AS pooled_corr
       |           FROM (SELECT COUNT(*) AS n,
       |                   CAST(SUM(x) AS BIGINT) AS sx,
       |                   CAST(SUM(y) AS BIGINT) AS sy,
       |                   CAST(SUM(x * x) AS BIGINT) AS sxx,
       |                   CAST(SUM(y * y) AS BIGINT) AS syy,
       |                   CAST(SUM(x * y) AS BIGINT) AS sxy
       |                 FROM base))
       |SELECT n_name, n, ${sqlE6("corr")} AS corr_e6,
       |  ${sqlE6("pooled_corr")} AS pooled_e6,
       |  CAST(CASE WHEN SIGN(corr) <> SIGN(pooled_corr) THEN 1 ELSE 0
       |       END AS BIGINT) AS sign_flip
       |FROM pc, pooled ORDER BY n_name""".stripMargin

  /** q304 oracle: identical two-pass Levene deviations. */
  private val q304Sql: String =
    s"""WITH v AS (SELECT event_type AS g,
       |         CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |means AS (SELECT g, COUNT(*) AS ng,
       |            CAST(SUM(c) AS BIGINT) AS sg
       |          FROM v GROUP BY 1),
       |z AS (SELECT v.g, ABS(v.c::DOUBLE
       |          - means.sg::DOUBLE / means.ng::DOUBLE) / 100.0 AS z
       |      FROM v JOIN means ON v.g = means.g),
       |zg AS (SELECT g, COUNT(*) AS n, SUM(z) AS sz,
       |         SUM(z * z) AS sz2 FROM z GROUP BY 1),
       |gt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(sz) AS szt,
       |         COUNT(*) AS k FROM zg),
       |parts AS (SELECT MAX(nn) AS nn, MAX(k) AS k,
       |            SUM(n::DOUBLE * (sz / n::DOUBLE - szt / nn::DOUBLE)
       |              * (sz / n::DOUBLE - szt / nn::DOUBLE)) AS ssb,
       |            SUM(sz2 - sz * sz / n::DOUBLE) AS ssw
       |          FROM zg, gt)
       |SELECT nn AS n_total, CAST(k AS BIGINT) AS n_groups,
       |  ${sqlE6("(nn - k)::DOUBLE / (k - 1)::DOUBLE * ssb / ssw")} AS levene_w_e6,
       |  CAST(k - 1 AS BIGINT) AS df1, CAST(nn - k AS BIGINT) AS df2
       |FROM parts ORDER BY n_total""".stripMargin

  /** q305 oracle: identical day-level SPRT fold; the two log
    * constants interpolate the same Scala doubles. */
  private val q305Sql: String = {
    val (p0, p1) = (0.30, 0.35)
    val la = math.log(p1 / p0); val lb = math.log((1 - p1) / (1 - p0))
    val bound = math.log(19.0)
    s"""WITH per AS (SELECT user_id,
       |         epoch_us(ts) * 1000 // $DayNs AS day,
       |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |             END) AS conv
       |       FROM events GROUP BY 1, 2),
       |d AS (SELECT day, COUNT(*) AS n,
       |        CAST(SUM(conv) AS BIGINT) AS nc
       |      FROM per WHERE user_id % 2 = 0 GROUP BY 1),
       |l AS (SELECT day,
       |        CAST(SUM(nc) OVER w AS BIGINT) AS cum_c,
       |        CAST(SUM(n) OVER w AS BIGINT) AS cum_n
       |      FROM d WINDOW w AS (ORDER BY day
       |        ROWS UNBOUNDED PRECEDING)),
       |r AS (SELECT day, cum_n, cum_c,
       |        cum_c::DOUBLE * $la + (cum_n - cum_c)::DOUBLE * $lb
       |          AS llr
       |      FROM l),
       |a AS (SELECT MAX(cum_n) AS n_units, MAX(cum_c) AS n_conv,
       |        MIN(CASE WHEN llr >= $bound THEN day END)
       |          AS accept_h1_day,
       |        MIN(CASE WHEN llr <= ${-bound} THEN day END)
       |          AS accept_h0_day,
       |        ${sqlE6("max_by(llr, day)")} AS final_llr_e6
       |      FROM r)
       |SELECT n_units, n_conv, accept_h1_day, accept_h0_day,
       |  final_llr_e6,
       |  CASE WHEN accept_h1_day IS NOT NULL AND (accept_h0_day IS
       |         NULL OR accept_h1_day <= accept_h0_day)
       |       THEN 'accept_h1'
       |       WHEN accept_h0_day IS NOT NULL THEN 'accept_h0'
       |       ELSE 'continue' END AS verdict
       |FROM a ORDER BY n_units""".stripMargin
  }

  /** q306 oracle: identical midpoint bracket, user-period means,
    * 4-cell DiD algebra. */
  private val q306Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) * 1000 // $DayNs
       |         AS day, CAST(ROUND(value * 100) AS BIGINT) AS c
       |       FROM events),
       |mid AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev),
       |up AS (SELECT user_id, user_id % 2 = 0 AS treat,
       |         day >= mid AS post,
       |         CAST(SUM(c) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE
       |           / 100.0 AS y
       |       FROM ev, mid GROUP BY 1, 2, 3),
       |cells AS (SELECT treat, post, COUNT(*) AS n, AVG(y) AS m,
       |            (SUM(y * y) - SUM(y) * SUM(y) / COUNT(*)::DOUBLE)
       |              / (COUNT(*) - 1)::DOUBLE / COUNT(*)::DOUBLE AS v
       |          FROM up GROUP BY 1, 2)
       |SELECT CAST(SUM(n) AS BIGINT) AS n_user_periods,
       |  ${sqlE6("MAX(CASE WHEN treat AND post THEN m END)")} AS tp_e6,
       |  ${sqlE6("MAX(CASE WHEN treat AND NOT post THEN m END)")} AS tq_e6,
       |  ${sqlE6("MAX(CASE WHEN NOT treat AND post THEN m END)")} AS cp_e6,
       |  ${sqlE6("MAX(CASE WHEN NOT treat AND NOT post THEN m END)")} AS cq_e6,
       |  ${sqlE6("MAX(CASE WHEN treat AND post THEN m END) - MAX(CASE WHEN treat AND NOT post THEN m END) - (MAX(CASE WHEN NOT treat AND post THEN m END) - MAX(CASE WHEN NOT treat AND NOT post THEN m END))")} AS did_e6,
       |  ${sqlE6("SQRT(SUM(v))")} AS se_e6
       |FROM cells ORDER BY n_user_periods""".stripMargin

  /** q307 oracle: identical fixed-init E-step and M-step sums. */
  private val q307Sql: String =
    s"""WITH r AS (SELECT LN(value) AS x,
       |         EXP((LN(value) - 5.0) * (LN(value) - 5.0)
       |             / (-2.0 * 1.5 * 1.5)) * 0.5 /
       |         (EXP((LN(value) - 5.0) * (LN(value) - 5.0)
       |              / (-2.0 * 1.5 * 1.5)) * 0.5
       |          + EXP((LN(value) - 1.0) * (LN(value) - 1.0)
       |                / (-2.0 * 1.5 * 1.5)) * 0.5) AS r2
       |       FROM events WHERE value > 0),
       |a AS (SELECT COUNT(*)::DOUBLE AS n, SUM(r2) AS w2,
       |        SUM(r2 * x) AS s2, SUM((1.0 - r2) * x) AS s1,
       |        SUM(r2 * x * x) AS ss2, SUM((1.0 - r2) * x * x) AS ss1
       |      FROM r)
       |SELECT CAST(n AS BIGINT) AS n, ${sqlE6("w2 / n")} AS pi2_e6,
       |  ${sqlE6("s1 / (n - w2)")} AS mu1_e6,
       |  ${sqlE6("s2 / w2")} AS mu2_e6,
       |  ${sqlE6("SQRT(ss1 / (n - w2) - (s1 / (n - w2)) * (s1 / (n - w2)))")} AS sd1_e6,
       |  ${sqlE6("SQRT(ss2 / w2 - (s2 / w2) * (s2 / w2))")} AS sd2_e6
       |FROM a ORDER BY n""".stripMargin

  /** q308 oracle: identical fixed windows and 2-sigma bracket. */
  private val q308Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev,
       |        MAX(COALESCE(d.rev, 0)) OVER (ORDER BY s.day
       |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pmax,
       |        MAX(COALESCE(d.rev, 0)) OVER (ORDER BY s.day
       |          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nmax
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |st AS (SELECT AVG(rev::DOUBLE) AS mu,
       |         STDDEV_SAMP(rev::DOUBLE) AS sd FROM z)
       |SELECT day, rev, ${sqlE6("(rev::DOUBLE - mu) / sd")} AS z_e6
       |FROM z, st
       |WHERE pmax IS NOT NULL AND nmax IS NOT NULL AND rev > pmax
       |  AND rev >= nmax AND rev::DOUBLE > mu + 2.0 * sd
       |ORDER BY day""".stripMargin

  /** q309 oracle: identical delta-on-lag power-sum regression. */
  private val q309Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev,
       |        LAG(COALESCE(d.rev, 0)) OVER (ORDER BY s.day) AS xl
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |p AS (SELECT xl::DOUBLE / 100.0 AS xd,
       |        (rev - xl)::DOUBLE / 100.0 AS yd
       |      FROM z WHERE xl IS NOT NULL),
       |a AS (SELECT COUNT(*)::DOUBLE AS n, SUM(xd) AS sx,
       |        SUM(yd) AS sy, SUM(xd * xd) AS sxx, SUM(yd * yd) AS syy,
       |        SUM(xd * yd) AS sxy
       |      FROM p),
       |r AS (SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n)
       |        AS beta, sxx - sx * sx / n AS sxxc,
       |        syy - sy * sy / n AS syyc
       |      FROM a)
       |SELECT CAST(n AS BIGINT) AS n_days, ${sqlE6("beta")} AS beta_e6,
       |  ${sqlE6("beta / SQRT((syyc - beta * beta * sxxc) / (n - 2.0) / sxxc)")} AS t_e6
       |FROM r ORDER BY n_days""".stripMargin

  /** q310 oracle: same 19 z literals, exact type-lower quantiles,
    * moment line. */
  private val q310Sql: String = {
    val gridSql = Zq.map { case (q, z) => s"($q, $z)" }.mkString(", ")
    s"""WITH cents AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |         AS c FROM orders),
       |h AS (SELECT c, COUNT(*) AS n FROM cents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM h),
       |mom AS (SELECT AVG(LN(c::DOUBLE)) AS mu,
       |          STDDEV_SAMP(LN(c::DOUBLE)) AS sd FROM cents),
       |cum AS (SELECT c, CAST(SUM(n) OVER (ORDER BY c
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, nt
       |        FROM h, tot),
       |grid AS (SELECT * FROM (VALUES $gridSql) AS g(q, z)),
       |qs AS (SELECT q, z, MIN(c) AS qc FROM cum, grid
       |       WHERE cum::DOUBLE >= CEIL(nt::DOUBLE * q / 100.0)
       |       GROUP BY 1, 2)
       |SELECT CAST(q AS BIGINT) AS q,
       |  ${sqlE6("LN(qc::DOUBLE)")} AS sample_e6,
       |  ${sqlE6("mu + z * sd")} AS theo_e6,
       |  ${sqlE6("LN(qc::DOUBLE) - (mu + z * sd)")} AS gap_e6
       |FROM qs, mom ORDER BY q""".stripMargin
  }

  /** q311 oracle: identical dominance anti-join skyline. */
  private val q311Sql: String =
    s"""WITH b AS (SELECT p_brand AS brand,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS rev,
       |         COUNT(*) AS n_lines,
       |         ${sqlE6("SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE")} AS ret_e6
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       GROUP BY 1)
       |SELECT brand, rev, n_lines, ret_e6 FROM b a
       |WHERE NOT EXISTS (SELECT 1 FROM b d
       |  WHERE d.rev >= a.rev AND d.ret_e6 <= a.ret_e6
       |    AND (d.rev > a.rev OR d.ret_e6 < a.ret_e6))
       |ORDER BY brand""".stripMargin

  /** q312 oracle: exact quartiles, Bowley, scaled-integer fences. */
  private val q312Sql: String =
    s"""WITH v AS (SELECT event_type AS g,
       |         CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
       |h AS (SELECT g, c, COUNT(*) AS n FROM v GROUP BY 1, 2),
       |tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS nt FROM h
       |        GROUP BY 1),
       |cum AS (SELECT h.g, h.c,
       |          CAST(SUM(h.n) OVER (PARTITION BY h.g ORDER BY h.c
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, tot.nt
       |        FROM h JOIN tot ON h.g = tot.g),
       |q1 AS (SELECT g, MIN(c) AS q1 FROM cum
       |       WHERE cum::DOUBLE >= CEIL(nt::DOUBLE * 0.25) GROUP BY 1),
       |q2 AS (SELECT g, MIN(c) AS q2 FROM cum
       |       WHERE cum::DOUBLE >= CEIL(nt::DOUBLE * 0.5) GROUP BY 1),
       |q3 AS (SELECT g, MIN(c) AS q3 FROM cum
       |       WHERE cum::DOUBLE >= CEIL(nt::DOUBLE * 0.75) GROUP BY 1),
       |qs AS (SELECT q1.g, q1.q1, q2.q2, q3.q3 FROM q1
       |       JOIN q2 ON q1.g = q2.g JOIN q3 ON q1.g = q3.g)
       |SELECT v.g AS event_type, COUNT(*) AS n, MAX(qs.q1) AS q1,
       |  MAX(qs.q2) AS q2, MAX(qs.q3) AS q3,
       |  ${sqlE6("(MAX(qs.q3) + MAX(qs.q1) - 2 * MAX(qs.q2))::DOUBLE / (MAX(qs.q3) - MAX(qs.q1))::DOUBLE")} AS bowley_e6,
       |  CAST(SUM(CASE WHEN v.c * 4 < qs.q1 * 4 - (qs.q3 - qs.q1) * 6
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low_out,
       |  CAST(SUM(CASE WHEN v.c * 4 > qs.q3 * 4 + (qs.q3 - qs.q1) * 6
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_high_out
       |FROM v JOIN qs ON v.g = qs.g
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q313 oracle: identical shifted-day pair join and power sums. */
  private val q313Sql: String =
    s"""WITH g AS (SELECT event_type AS ty,
       |         epoch_us(ts) * 1000 // $DayNs AS day, COUNT(*) AS n
       |       FROM events GROUP BY 1, 2),
       |j AS (SELECT a.ty AS a, b.ty AS b, lg.lag, a.n AS xa, b.n AS xb
       |      FROM g a
       |      JOIN (SELECT unnest([0, 1, 2, 3]) AS lag) lg ON TRUE
       |      JOIN g b ON b.day + lg.lag = a.day AND a.ty < b.ty)
       |SELECT a, b, CAST(lag AS BIGINT) AS lag, COUNT(*) AS n_days,
       |  ${sqlE6("(COUNT(*) * SUM(xa * xb) - SUM(xa) * SUM(xb))::DOUBLE / (SQRT((COUNT(*) * SUM(xa * xa) - SUM(xa) * SUM(xa))::DOUBLE) * SQRT((COUNT(*) * SUM(xb * xb) - SUM(xb) * SUM(xb))::DOUBLE))")} AS corr_e6
       |FROM j GROUP BY 1, 2, 3 ORDER BY a, b, lag""".stripMargin

  /** q314 oracle: identical life table and guarded log-survival
    * fold. */
  private val q314Sql: String =
    s"""WITH uw AS (SELECT DISTINCT user_id,
       |         (epoch_us(ts) * 1000 // $DayNs) // 7 AS w FROM events),
       |per AS (SELECT user_id, MIN(w) AS w0, MAX(w) AS wl FROM uw
       |        GROUP BY 1),
       |hz AS (SELECT MAX(w) AS wmax FROM uw),
       |life AS (SELECT wl - w0 + 1 AS tenure, wl = wmax AS censored
       |         FROM per, hz),
       |bt AS (SELECT tenure, COUNT(*) AS n_ending,
       |         CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END)
       |              AS BIGINT) AS n_churned
       |       FROM life GROUP BY 1),
       |r AS (SELECT tenure, n_ending, n_churned,
       |        CAST(SUM(n_ending) OVER (ORDER BY tenure DESC
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
       |      FROM bt),
       |h AS (SELECT tenure, at_risk, n_churned,
       |        n_churned::DOUBLE / at_risk::DOUBLE AS h
       |      FROM r),
       |sv AS (SELECT tenure, at_risk, n_churned, h,
       |         EXP(SUM(LN(1.0 - h + 1e-300)) OVER (ORDER BY tenure
       |           ROWS UNBOUNDED PRECEDING)) AS surv
       |       FROM h)
       |SELECT tenure, at_risk, n_churned, ${sqlE6("h")} AS hazard_e6,
       |       ${sqlE6("surv")} AS surv_e6
       |FROM sv ORDER BY tenure""".stripMargin

  /** q315 oracle: plain 7-day window join (the bucketed join is
    * result-identical), identical rank credit split. */
  private val q315Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(ts) * 1000 AS ts_ns FROM events),
       |conv AS (SELECT user_id, ts_ns AS cts, event_id AS cid
       |         FROM ev WHERE event_type = 'purchase'),
       |touch AS (SELECT user_id, ts_ns AS tts, event_id AS tid,
       |            event_type AS channel
       |          FROM ev WHERE event_type IN ('click', 'view')),
       |j AS (SELECT conv.cid, touch.tts, touch.tid, touch.channel
       |      FROM conv JOIN touch ON conv.user_id = touch.user_id
       |      WHERE touch.tts < conv.cts
       |        AND touch.tts >= conv.cts - ${7L * DayNs}),
       |rk AS (SELECT cid, channel,
       |         COUNT(*) OVER (PARTITION BY cid) AS m,
       |         ROW_NUMBER() OVER (PARTITION BY cid
       |           ORDER BY tts, tid) AS ra,
       |         ROW_NUMBER() OVER (PARTITION BY cid
       |           ORDER BY tts DESC, tid DESC) AS rd
       |       FROM j),
       |cr AS (SELECT cid, channel,
       |         CASE WHEN m = 1 THEN 1.0 WHEN m = 2 THEN 0.5
       |              WHEN ra = 1 OR rd = 1 THEN 0.4
       |              ELSE 0.2 / (m - 2)::DOUBLE END AS credit
       |       FROM rk)
       |SELECT channel, COUNT(*) AS n_touches,
       |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_convs_touched,
       |  ${sqlE6("SUM(credit)")} AS credit_e6
       |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin

  /** q316 oracle: identical entropy identity on exact cents. */
  private val q316Sql: String =
    s"""WITH cb AS (SELECT o_custkey AS cust, p_brand,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS c
       |       FROM lineitem
       |       JOIN part ON l_partkey = p_partkey
       |       JOIN orders ON l_orderkey = o_orderkey
       |       GROUP BY 1, 2),
       |pc AS (SELECT cust, COUNT(*) AS n_brands,
       |         CAST(SUM(c) AS BIGINT) AS tc,
       |         SUM(c::DOUBLE * LN(c::DOUBLE)) AS slc
       |       FROM cb GROUP BY 1),
       |h AS (SELECT cust, n_brands,
       |        LN(tc::DOUBLE) - slc / tc::DOUBLE AS h FROM pc)
       |SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
       |  ${sqlE6("AVG(h)")} AS avg_entropy_e6,
       |  ${sqlE6("AVG(CASE WHEN n_brands = 1 THEN 1.0 ELSE 0.0 END)")} AS single_brand_share_e6,
       |  ${sqlE6("AVG(n_brands::DOUBLE)")} AS avg_brands_e6
       |FROM h JOIN customer ON cust = c_custkey
       |GROUP BY 1 ORDER BY segment""".stripMargin

  /** q317 oracle: identical md5 pair sample, slope histogram median,
    * OLS comparison. */
  private val q317Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev,
       |        ROW_NUMBER() OVER (ORDER BY s.day) AS rn
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |n AS (SELECT MAX(rn) AS n FROM z),
       |pairs AS (SELECT
       |    ${sqlHex32("md5('ts:a:' || k::VARCHAR)")} % n.n + 1 AS i,
       |    ${sqlHex32("md5('ts:b:' || k::VARCHAR)")} % n.n + 1 AS j
       |  FROM (SELECT unnest(range(1, 100001)) AS k) ks, n),
       |sl AS (SELECT (zj.rev - zi.rev)::DOUBLE
       |         / (p.j - p.i)::DOUBLE / 100.0 AS slope
       |       FROM pairs p JOIN z zi ON p.i = zi.rn
       |       JOIN z zj ON p.j = zj.rn
       |       WHERE p.i < p.j),
       |hist AS (SELECT slope, COUNT(*) AS m FROM sl GROUP BY 1),
       |tot AS (SELECT CAST(SUM(m) AS BIGINT) AS mt FROM hist),
       |med AS (SELECT MAX(mt) AS n_pairs, MIN(slope) AS ts
       |        FROM (SELECT slope, mt,
       |                CAST(SUM(m) OVER (ORDER BY slope
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |              FROM hist, tot)
       |        WHERE cum::DOUBLE >= CEIL(mt::DOUBLE * 0.5)),
       |ols AS (SELECT ((SUM(rn::DOUBLE * (rev::DOUBLE / 100.0))
       |          - SUM(rn::DOUBLE) * SUM(rev::DOUBLE / 100.0)
       |            / COUNT(*)::DOUBLE)
       |          / (SUM(rn::DOUBLE * rn::DOUBLE)
       |          - SUM(rn::DOUBLE) * SUM(rn::DOUBLE)
       |            / COUNT(*)::DOUBLE)) AS ols
       |        FROM z)
       |SELECT n_pairs, ${sqlE6("ts")} AS theil_sen_e6,
       |       ${sqlE6("(SELECT ols FROM ols)")} AS ols_e6
       |FROM med ORDER BY n_pairs""".stripMargin

  /** q318 oracle: identical integer ABC thresholds and CV classes. */
  private val q318Sql: String =
    s"""WITH li AS (SELECT p_brand AS brand,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           // 7 AS w,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |              AS BIGINT) AS c,
       |         CAST(l_quantity AS BIGINT) AS q
       |       FROM lineitem
       |       JOIN part ON l_partkey = p_partkey
       |       JOIN orders ON l_orderkey = o_orderkey),
       |bw AS (SELECT brand, w, CAST(SUM(q) AS BIGINT) AS qw FROM li
       |       GROUP BY 1, 2),
       |xyz AS (SELECT brand,
       |          CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
       |               ELSE 'Z' END AS xyz
       |        FROM (SELECT brand,
       |                SQRT((COUNT(*) * SUM(qw * qw)
       |                  - SUM(qw) * SUM(qw))::DOUBLE
       |                  / (COUNT(*) * COUNT(*))::DOUBLE)
       |                / (SUM(qw)::DOUBLE / COUNT(*)::DOUBLE) AS cv
       |              FROM bw GROUP BY 1)),
       |rev AS (SELECT brand, CAST(SUM(c) AS BIGINT) AS rev FROM li
       |        GROUP BY 1),
       |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS tr FROM rev),
       |abc AS (SELECT brand, rev,
       |          CASE WHEN cum * 100 <= tr * 80 THEN 'A'
       |               WHEN cum * 100 <= tr * 95 THEN 'B'
       |               ELSE 'C' END AS abc
       |        FROM (SELECT brand, rev, tr,
       |                CAST(SUM(rev) OVER (ORDER BY rev DESC, brand
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |              FROM rev, tot))
       |SELECT abc.abc, xyz.xyz, COUNT(*) AS n_brands,
       |       CAST(SUM(abc.rev) AS BIGINT) AS rev
       |FROM abc JOIN xyz ON abc.brand = xyz.brand
       |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin

  /** q319 oracle: identical exact-integer knee selection. */
  private val q319Sql: String =
    s"""WITH rev AS (SELECT p_brand AS brand,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS rev
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       GROUP BY 1),
       |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS tr,
       |               COUNT(*) AS nb FROM rev),
       |curve AS (SELECT brand, rev, tr, nb,
       |            ROW_NUMBER() OVER (ORDER BY rev DESC, brand) AS i,
       |            CAST(SUM(rev) OVER (ORDER BY rev DESC, brand
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |          FROM rev, tot),
       |g AS (SELECT *, cum * nb - i * tr AS gap_int FROM curve),
       |knee AS (SELECT i AS ki FROM g
       |         ORDER BY gap_int DESC, i LIMIT 1)
       |SELECT CAST(i AS BIGINT) AS i, brand, rev,
       |  ${sqlE6("cum::DOUBLE / tr::DOUBLE")} AS cum_share_e6,
       |  ${sqlE6("gap_int::DOUBLE / (nb * tr)::DOUBLE")} AS gap_e6,
       |  CAST(CASE WHEN i = (SELECT ki FROM knee) THEN 1 ELSE 0 END
       |       AS BIGINT) AS is_knee
       |FROM g ORDER BY i""".stripMargin

  /** q320 oracle: identical distinct (user, type) self-join. */
  private val q320Sql: String =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
       |inter AS (SELECT a.event_type AS a, b.event_type AS b,
       |            COUNT(*) AS n_both
       |          FROM ut a JOIN ut b ON a.user_id = b.user_id
       |          WHERE a.event_type < b.event_type GROUP BY 1, 2)
       |SELECT inter.a, inter.b, sa.n AS na, sb.n AS nb, n_both,
       |  ${sqlE6("n_both::DOUBLE / (sa.n + sb.n - n_both)::DOUBLE")} AS jaccard_e6,
       |  ${sqlE6("n_both::DOUBLE / LEAST(sa.n, sb.n)::DOUBLE")} AS containment_e6
       |FROM inter JOIN sz sa ON inter.a = sa.event_type
       |JOIN sz sb ON inter.b = sb.event_type
       |ORDER BY a, b""".stripMargin

  /** q321 oracle: identical modal-price rank and brand rollup. */
  private val q321Sql: String =
    s"""WITH pp AS (SELECT l_partkey AS pk,
       |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
       |         COUNT(*) AS n
       |       FROM lineitem GROUP BY 1, 2),
       |per AS (SELECT pk, CAST(SUM(n) AS BIGINT) AS n_lines,
       |          COUNT(*) AS n_prices,
       |          CAST(MAX(CASE WHEN rk = 1 THEN n END) AS BIGINT)
       |            AS mode_n
       |        FROM (SELECT pp.*, ROW_NUMBER() OVER (PARTITION BY pk
       |                ORDER BY n DESC, price) AS rk FROM pp)
       |        GROUP BY 1)
       |SELECT p_brand AS brand, COUNT(*) AS n_parts,
       |  ${sqlE6("AVG(n_prices::DOUBLE)")} AS avg_prices_e6,
       |  ${sqlE6("AVG(mode_n::DOUBLE / n_lines::DOUBLE)")} AS avg_mode_share_e6
       |FROM per JOIN part ON pk = p_partkey
       |GROUP BY 1 ORDER BY brand""".stripMargin

  /** q322 oracle: same weekly-demand histogram, 0.8 fractile,
    * expected overage/underage. */
  private val q322Sql: String =
    s"""WITH bw AS (SELECT p_brand AS brand,
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           // 7 AS w,
       |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
       |       FROM lineitem
       |       JOIN part ON l_partkey = p_partkey
       |       JOIN orders ON l_orderkey = o_orderkey
       |       GROUP BY 1, 2),
       |h AS (SELECT brand, d, COUNT(*) AS n FROM bw GROUP BY 1, 2),
       |tot AS (SELECT brand, CAST(SUM(n) AS BIGINT) AS nt FROM h
       |        GROUP BY 1),
       |cum AS (SELECT h.brand, h.d, h.n,
       |          CAST(SUM(h.n) OVER (PARTITION BY h.brand
       |            ORDER BY h.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |            AS cumn, tot.nt
       |        FROM h JOIN tot ON h.brand = tot.brand),
       |st AS (SELECT brand, MIN(d) AS s FROM cum
       |       WHERE cumn::DOUBLE >= CEIL(nt::DOUBLE * 0.8)
       |       GROUP BY 1)
       |SELECT h.brand AS brand, MAX(tot.nt) AS n_weeks,
       |  MAX(st.s) AS stock_q80,
       |  ${sqlE6("SUM(CASE WHEN h.d < st.s THEN (st.s - h.d) * h.n ELSE 0 END)::DOUBLE / MAX(tot.nt)::DOUBLE")} AS exp_overage_e6,
       |  ${sqlE6("SUM(CASE WHEN h.d > st.s THEN (h.d - st.s) * h.n ELSE 0 END)::DOUBLE / MAX(tot.nt)::DOUBLE")} AS exp_underage_e6
       |FROM h JOIN st ON h.brand = st.brand
       |JOIN tot ON h.brand = tot.brand
       |GROUP BY 1 ORDER BY brand""".stripMargin

  /** q323 oracle: identical power sums, pooled SD, midrank U. */
  private val q323Sql: String =
    s"""WITH v AS (SELECT event_type = 'click' AS isA,
       |         CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
       |       WHERE event_type IN ('click', 'view')),
       |mom AS (SELECT
       |    CAST(MAX(CASE WHEN isA THEN n END) AS BIGINT) AS n1,
       |    CAST(MAX(CASE WHEN isA THEN sc END) AS BIGINT) AS s1,
       |    CAST(MAX(CASE WHEN isA THEN sc2 END) AS BIGINT) AS ss1,
       |    CAST(MAX(CASE WHEN NOT isA THEN n END) AS BIGINT) AS n2,
       |    CAST(MAX(CASE WHEN NOT isA THEN sc END) AS BIGINT) AS s2,
       |    CAST(MAX(CASE WHEN NOT isA THEN sc2 END) AS BIGINT) AS ss2
       |  FROM (SELECT isA, COUNT(*) AS n, SUM(c) AS sc,
       |          SUM(c * c) AS sc2 FROM v GROUP BY 1)),
       |h AS (SELECT c,
       |        CAST(SUM(CASE WHEN isA THEN 1 ELSE 0 END) AS BIGINT)
       |          AS na,
       |        CAST(SUM(CASE WHEN isA THEN 0 ELSE 1 END) AS BIGINT)
       |          AS nb
       |      FROM v GROUP BY 1),
       |u AS (SELECT SUM(na::DOUBLE * ((cum_nb - nb)::DOUBLE
       |          + nb::DOUBLE / 2.0)) AS uA
       |      FROM (SELECT na, nb, CAST(SUM(nb) OVER (ORDER BY c
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nb
       |            FROM h)),
       |d AS (SELECT n1, n2,
       |        ((s1::DOUBLE / n1::DOUBLE / 100.0)
       |         - (s2::DOUBLE / n2::DOUBLE / 100.0)) /
       |        SQRT((((n1::DOUBLE * ss1::DOUBLE - s1::DOUBLE * s1::DOUBLE)
       |            / (n1::DOUBLE * (n1::DOUBLE - 1.0)) / 10000.0)
       |            * (n1::DOUBLE - 1.0)
       |          + ((n2::DOUBLE * ss2::DOUBLE - s2::DOUBLE * s2::DOUBLE)
       |            / (n2::DOUBLE * (n2::DOUBLE - 1.0)) / 10000.0)
       |            * (n2::DOUBLE - 1.0))
       |          / (n1::DOUBLE + n2::DOUBLE - 2.0)) AS d,
       |        uA
       |      FROM mom, u)
       |SELECT n1, n2, ${sqlE6("d")} AS cohen_d_e6,
       |  ${sqlE6("d * (1.0 - 3.0 / (4.0 * (n1::DOUBLE + n2::DOUBLE) - 9.0))")} AS hedges_g_e6,
       |  ${sqlE6("2.0 * uA / (n1::DOUBLE * n2::DOUBLE) - 1.0")} AS cliffs_delta_e6
       |FROM d ORDER BY n1""".stripMargin

  /** q324 oracle: identical grid MI / entropy ratios. */
  private val q324Sql: String =
    s"""WITH g AS (SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS x,
       |         CAST(ROUND(l_discount * 100) AS BIGINT) // 2 AS y,
       |         COUNT(*) AS n
       |       FROM lineitem GROUP BY 1, 2),
       |mx AS (SELECT x, CAST(SUM(n) AS BIGINT) AS nx FROM g
       |       GROUP BY 1),
       |my AS (SELECT y, CAST(SUM(n) AS BIGINT) AS ny FROM g
       |       GROUP BY 1),
       |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM g),
       |mi AS (SELECT MAX(nt) AS n,
       |         SUM(g.n::DOUBLE / nt::DOUBLE *
       |           LN(g.n::DOUBLE * nt::DOUBLE
       |              / (nx::DOUBLE * ny::DOUBLE))) AS mi
       |       FROM g JOIN mx ON g.x = mx.x JOIN my ON g.y = my.y,
       |            nt),
       |hx AS (SELECT SUM(nx::DOUBLE / nt::DOUBLE * -1.0 *
       |         LN(nx::DOUBLE / nt::DOUBLE)) AS hx FROM mx, nt),
       |hy AS (SELECT SUM(ny::DOUBLE / nt::DOUBLE * -1.0 *
       |         LN(ny::DOUBLE / nt::DOUBLE)) AS hy FROM my, nt)
       |SELECT n, ${sqlE6("mi")} AS mi_e6, ${sqlE6("hx")} AS hx_e6,
       |  ${sqlE6("hy")} AS hy_e6,
       |  ${sqlE6("mi / SQRT(hx * hy)")} AS nmi_e6
       |FROM mi, hx, hy ORDER BY n""".stripMargin

  /** q325 oracle: same moments estimator and return levels. */
  private val q325Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |mxm AS (SELECT day // 30 AS m, CAST(MAX(rev) AS BIGINT) AS mx
       |        FROM daily GROUP BY 1),
       |a AS (SELECT COUNT(*) AS n_months, AVG(mx::DOUBLE / 100.0)
       |        AS mean, STDDEV_SAMP(mx::DOUBLE / 100.0) AS sd
       |      FROM mxm),
       |p AS (SELECT n_months, sd * SQRT(6.0) / PI() AS beta,
       |        mean - 0.5772156649015329 * (sd * SQRT(6.0) / PI())
       |          AS mu
       |      FROM a)
       |SELECT n_months, ${sqlE6("mu")} AS mu_e6,
       |  ${sqlE6("beta")} AS beta_e6,
       |  ${sqlE6("mu - beta * LN(-1.0 * LN(1.0 - 1.0 / 12.0))")} AS rl_12m_e6,
       |  ${sqlE6("mu - beta * LN(-1.0 * LN(1.0 - 1.0 / 120.0))")} AS rl_120m_e6
       |FROM p ORDER BY n_months""".stripMargin

  /** q326 oracle: identical md5 sample membership and Chapman
    * estimator. */
  private val q326Sql: String =
    s"""WITH cust AS (SELECT DISTINCT o_custkey FROM orders),
       |f AS (SELECT o_custkey,
       |        ${sqlHex32("md5('crA:' || o_custkey::VARCHAR)")}
       |          < 2147483648 AS inA,
       |        ${sqlHex32("md5('crB:' || o_custkey::VARCHAR)")}
       |          < 2147483648 AS inB
       |      FROM cust),
       |a AS (SELECT COUNT(*) AS n_true,
       |        CAST(SUM(CASE WHEN inA THEN 1 ELSE 0 END) AS BIGINT)
       |          AS na,
       |        CAST(SUM(CASE WHEN inB THEN 1 ELSE 0 END) AS BIGINT)
       |          AS nb,
       |        CAST(SUM(CASE WHEN inA AND inB THEN 1 ELSE 0 END)
       |             AS BIGINT) AS nab
       |      FROM f),
       |c AS (SELECT *, (na + 1)::DOUBLE * (nb + 1)::DOUBLE
       |        / (nab + 1)::DOUBLE - 1.0 AS chapman FROM a)
       |SELECT n_true, na, nb, nab, ${sqlE6("chapman")} AS chapman_e6,
       |  ${sqlE6("(chapman - n_true::DOUBLE) / n_true::DOUBLE")} AS rel_err_e6
       |FROM c ORDER BY n_true""".stripMargin

  /** q327 oracle: identical grid-pair concordance counts and tau-b. */
  private val q327Sql: String =
    s"""WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS x,
       |         CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
       |         COUNT(*) AS n
       |       FROM lineitem GROUP BY 1, 2),
       |cd AS (SELECT
       |    CAST(SUM(CASE WHEN a.y < b.y THEN a.n * b.n ELSE 0 END)
       |         AS BIGINT) AS cc,
       |    CAST(SUM(CASE WHEN a.y > b.y THEN a.n * b.n ELSE 0 END)
       |         AS BIGINT) AS dd
       |  FROM g a JOIN g b ON a.x < b.x),
       |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM g),
       |tx AS (SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g
       |             GROUP BY x)),
       |ty AS (SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g
       |             GROUP BY y))
       |SELECT n, cc, dd,
       |  ${sqlE6("(cc - dd)::DOUBLE / SQRT((n * (n - 1) / 2 - n1)::DOUBLE * (n * (n - 1) / 2 - n2)::DOUBLE)")} AS tau_b_e6
       |FROM cd, nt, tx, ty ORDER BY n""".stripMargin

  /** q328 oracle: identical integer S7 running peak, rank-1 trough. */
  private val q328Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day,
       |        ROW_NUMBER() OVER (ORDER BY s.day) AS rn,
       |        CAST(SUM(COALESCE(d.rev, 0)) OVER (ORDER BY s.day
       |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
       |          AS s7
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |p AS (SELECT day, s7,
       |        CAST(MAX(s7) OVER (ORDER BY day
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
       |      FROM z WHERE rn >= 7),
       |dd AS (SELECT day, s7, peak,
       |         (peak - s7)::DOUBLE / peak::DOUBLE AS dd,
       |         ROW_NUMBER() OVER (ORDER BY (peak - s7)::DOUBLE
       |           / peak::DOUBLE DESC, day) AS rk
       |       FROM p)
       |SELECT day AS trough_day, peak AS peak_s7, s7 AS trough_s7,
       |  ${sqlE6("dd")} AS max_dd_e6
       |FROM dd WHERE rk = 1 ORDER BY trough_day""".stripMargin

  /** q329 oracle: identical ANOVA components, m0, ICC, DEFF. */
  private val q329Sql: String =
    s"""WITH o AS (SELECT o_custkey AS cl,
       |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |       FROM orders),
       |gt AS (SELECT COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
       |         SUM(c::DOUBLE * c::DOUBLE) AS ss FROM o),
       |k AS (SELECT COUNT(*) AS k,
       |        CAST(SUM(m * m) AS BIGINT) AS sm2,
       |        SUM(sc::DOUBLE * sc::DOUBLE / m::DOUBLE) AS ssb_raw
       |      FROM (SELECT cl, COUNT(*) AS m,
       |              CAST(SUM(c) AS BIGINT) AS sc
       |            FROM o GROUP BY 1)),
       |d AS (SELECT n, k,
       |        (ssb_raw - s::DOUBLE * s::DOUBLE / n::DOUBLE)
       |          / (k::DOUBLE - 1.0) AS msb,
       |        (ss - ssb_raw) / (n::DOUBLE - k::DOUBLE) AS msw,
       |        (n::DOUBLE - sm2::DOUBLE / n::DOUBLE)
       |          / (k::DOUBLE - 1.0) AS m0
       |      FROM gt, k),
       |r AS (SELECT n, k, m0,
       |        (msb - msw) / (msb + (m0 - 1.0) * msw) AS icc
       |      FROM d)
       |SELECT CAST(n AS BIGINT) AS n_orders,
       |  CAST(k AS BIGINT) AS n_clusters, ${sqlE6("m0")} AS m0_e6,
       |  ${sqlE6("icc")} AS icc_e6,
       |  ${sqlE6("1.0 + (m0 - 1.0) * icc")} AS deff_e6
       |FROM r ORDER BY n_orders""".stripMargin

  /** q330 oracle: identical per-brand-year unit prices and index
    * sums. */
  private val q330Sql: String =
    s"""WITH by AS (SELECT p_brand AS brand, year(o_orderdate) AS yr,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT) AS c,
       |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
       |       FROM lineitem
       |       JOIN part ON l_partkey = p_partkey
       |       JOIN orders ON l_orderkey = o_orderkey
       |       WHERE year(o_orderdate) IN (1996, 1997)
       |       GROUP BY 1, 2),
       |w AS (SELECT brand,
       |        MAX(CASE WHEN yr = 1996 THEN c END) AS c0,
       |        MAX(CASE WHEN yr = 1996 THEN q END) AS q0,
       |        MAX(CASE WHEN yr = 1997 THEN c END) AS c1,
       |        MAX(CASE WHEN yr = 1997 THEN q END) AS q1
       |      FROM by GROUP BY 1),
       |p AS (SELECT c0::DOUBLE / q0::DOUBLE AS p0,
       |        c1::DOUBLE / q1::DOUBLE AS p1, q0, q1
       |      FROM w WHERE c0 IS NOT NULL AND c1 IS NOT NULL),
       |a AS (SELECT COUNT(*) AS n_brands,
       |        SUM(p1 * q0::DOUBLE) / SUM(p0 * q0::DOUBLE) AS lasp,
       |        SUM(p1 * q1::DOUBLE) / SUM(p0 * q1::DOUBLE) AS paas
       |      FROM p)
       |SELECT n_brands, ${sqlE6("lasp")} AS laspeyres_e6,
       |  ${sqlE6("paas")} AS paasche_e6,
       |  ${sqlE6("SQRT(lasp * paas)")} AS fisher_e6
       |FROM a ORDER BY n_brands""".stripMargin

  /** q331 oracle: identical pairwise signs, tie-corrected variance,
    * continuity correction. */
  private val q331Sql: String =
    s"""WITH m AS (SELECT year(o_orderdate) * 12 + month(o_orderdate)
       |         AS m,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS x
       |       FROM orders GROUP BY 1),
       |ss AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
       |           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
       |       FROM m a JOIN m b ON a.m < b.m),
       |ties AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
       |           AS tc
       |         FROM (SELECT COUNT(*) AS t FROM m GROUP BY x)),
       |n AS (SELECT COUNT(*) AS n FROM m),
       |v AS (SELECT s, n, (n * (n - 1) * (2 * n + 5) - tc)::DOUBLE
       |        / 18.0 AS v
       |      FROM ss, ties, n)
       |SELECT CAST(n AS BIGINT) AS n_months, s,
       |  ${sqlE6("(s::DOUBLE - SIGN(s::DOUBLE)) / SQRT(v)")} AS z_e6
       |FROM v ORDER BY n_months""".stripMargin

  /** q332 oracle: identical exact median, run-change sum,
    * expectation/variance. */
  private val q332Sql: String =
    s"""WITH daily AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS rev
       |       FROM orders GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) AS day FROM b),
       |z AS (SELECT s.day, COALESCE(d.rev, 0) AS rev
       |      FROM spine s LEFT JOIN daily d ON s.day = d.day),
       |h AS (SELECT rev, COUNT(*) AS n FROM z GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM h),
       |med AS (SELECT MIN(rev) AS med FROM (SELECT rev,
       |          CAST(SUM(n) OVER (ORDER BY rev
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM h), tot
       |        WHERE cum::DOUBLE >= CEIL(nt::DOUBLE * 0.5)),
       |ab AS (SELECT day, CASE WHEN rev > med THEN 1 ELSE 0 END AS ab
       |       FROM z, med),
       |ch AS (SELECT CAST(SUM(CASE WHEN prev IS NULL OR prev <> ab
       |           THEN 1 ELSE 0 END) AS BIGINT) AS r,
       |         CAST(SUM(ab) AS BIGINT) AS n1,
       |         CAST(SUM(1 - ab) AS BIGINT) AS n2
       |       FROM (SELECT ab, LAG(ab) OVER (ORDER BY day) AS prev
       |             FROM ab)),
       |e AS (SELECT n1, n2, r,
       |        2.0 * n1 * n2 / (n1 + n2)::DOUBLE + 1.0 AS er,
       |        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
       |          ((n1 + n2)::DOUBLE * (n1 + n2)::DOUBLE
       |           * (n1 + n2 - 1)::DOUBLE) AS vr
       |      FROM ch)
       |SELECT n1, n2, r AS n_runs, ${sqlE6("er")} AS expected_runs_e6,
       |  ${sqlE6("(r::DOUBLE - er) / SQRT(vr)")} AS z_e6
       |FROM e ORDER BY n1""".stripMargin

  /** q333 oracle: identical ln power sums and JB. */
  private val q333Sql: String =
    s"""WITH a AS (SELECT COUNT(*)::DOUBLE AS n,
       |         SUM(x) AS s1, SUM(x * x) AS s2,
       |         SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
       |       FROM (SELECT LN(CAST(ROUND(o_totalprice * 100)
       |               AS BIGINT)::DOUBLE) AS x FROM orders)),
       |m AS (SELECT n, s1 / n AS mu,
       |        s2 / n - (s1 / n) * (s1 / n) AS m2,
       |        s3 / n - 3.0 * (s1 / n) * s2 / n
       |          + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
       |        s4 / n - 4.0 * (s1 / n) * s3 / n
       |          + 6.0 * (s1 / n) * (s1 / n) * s2 / n
       |          - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
       |          AS m4
       |      FROM a),
       |g AS (SELECT n, m3 / POW(m2, 1.5) AS g1,
       |        m4 / (m2 * m2) - 3.0 AS g2
       |      FROM m)
       |SELECT CAST(n AS BIGINT) AS n, ${sqlE6("g1")} AS skew_e6,
       |  ${sqlE6("g2")} AS kurt_e6,
       |  ${sqlE6("n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)")} AS jb_e6
       |FROM g ORDER BY n""".stripMargin

  /** q334 oracle: identical grid concordance over outcome pairs. */
  private val q334Sql: String =
    s"""WITH g AS (SELECT s, b, COUNT(*) AS n FROM (
       |         SELECT user_id,
       |           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
       |               END) AS s,
       |           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |               END) AS b
       |         FROM events GROUP BY 1) GROUP BY 1, 2),
       |p AS (SELECT
       |    CAST(SUM(CASE WHEN a.s < c.s THEN a.n * c.n ELSE 0 END)
       |         AS BIGINT) AS cc,
       |    CAST(SUM(CASE WHEN a.s > c.s THEN a.n * c.n ELSE 0 END)
       |         AS BIGINT) AS dd,
       |    CAST(SUM(CASE WHEN a.s = c.s THEN a.n * c.n ELSE 0 END)
       |         AS BIGINT) AS tt
       |  FROM g a JOIN g c ON a.b < c.b)
       |SELECT cc, dd, tt,
       |  ${sqlE6("(cc::DOUBLE + tt::DOUBLE / 2.0) / (cc + dd + tt)::DOUBLE")} AS c_index_e6
       |FROM p ORDER BY cc""".stripMargin

  /** q335 oracle: identical vector normalization, weights, ideal
    * distances, rank. */
  private val q335Sql: String =
    s"""WITH b AS (SELECT p_brand AS brand,
       |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
       |              * 100) AS BIGINT)) AS BIGINT)::DOUBLE AS rev,
       |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
       |             END)::DOUBLE / COUNT(*)::DOUBLE AS ret,
       |         COUNT(DISTINCT CAST(ROUND(l_extendedprice * 100)
       |           AS BIGINT))::DOUBLE / COUNT(*)::DOUBLE AS disp
       |       FROM lineitem JOIN part ON l_partkey = p_partkey
       |       GROUP BY 1),
       |nm AS (SELECT SQRT(SUM(rev * rev)) AS nr,
       |         SQRT(SUM(ret * ret)) AS nt,
       |         SQRT(SUM(disp * disp)) AS nd FROM b),
       |v AS (SELECT brand, rev / nr / 3.0 AS vr, ret / nt / 3.0 AS vt,
       |        disp / nd / 3.0 AS vd FROM b, nm),
       |ideal AS (SELECT MAX(vr) AS ir, MIN(vt) AS it, MIN(vd) AS id2,
       |            MIN(vr) AS ar, MAX(vt) AS at2, MAX(vd) AS ad
       |          FROM v),
       |s AS (SELECT brand,
       |        SQRT((vr - ir) * (vr - ir) + (vt - it) * (vt - it)
       |          + (vd - id2) * (vd - id2)) AS dp,
       |        SQRT((vr - ar) * (vr - ar) + (vt - at2) * (vt - at2)
       |          + (vd - ad) * (vd - ad)) AS dm
       |      FROM v, ideal),
       |c AS (SELECT brand, ${sqlE6("dm / (dp + dm)")} AS closeness_e6
       |      FROM s)
       |SELECT brand, closeness_e6,
       |  CAST(ROW_NUMBER() OVER (ORDER BY closeness_e6 DESC, brand)
       |       AS BIGINT) AS rank
       |FROM c ORDER BY brand""".stripMargin

  /** q336 oracle: identical two-pass OLS + auxiliary correlation. */
  private val q336Sql: String =
    s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |              AS BIGINT)::DOUBLE / 100.0 AS y
       |       FROM lineitem),
       |p1 AS (SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx,
       |         SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
       |       FROM d),
       |ab AS (SELECT n,
       |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS beta,
       |         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
       |           * sx / n AS alpha
       |       FROM p1),
       |r AS (SELECT MAX(n) AS n, MAX(beta) AS beta,
       |        SUM(x) AS gx,
       |        SUM((y - alpha - beta * x) * (y - alpha - beta * x))
       |          AS ge,
       |        SUM(x * x) AS gxx,
       |        SUM((y - alpha - beta * x) * (y - alpha - beta * x)
       |          * (y - alpha - beta * x) * (y - alpha - beta * x))
       |          AS gee,
       |        SUM(x * (y - alpha - beta * x)
       |          * (y - alpha - beta * x)) AS gxe
       |      FROM d, ab),
       |q AS (SELECT n, beta,
       |        (n * gxe - gx * ge) / (SQRT(n * gxx - gx * gx)
       |          * SQRT(n * gee - ge * ge)) AS r
       |      FROM r)
       |SELECT CAST(n AS BIGINT) AS n, ${sqlE6("beta")} AS beta_e6,
       |  ${sqlE6("r * r")} AS aux_r2_e6,
       |  ${sqlE6("n * r * r")} AS lm_e6
       |FROM q ORDER BY n""".stripMargin

  /** q337 oracle: identical national bracket and shift split. */
  private val q337Sql: String =
    s"""WITH ny AS (SELECT n_name,
       |         CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN
       |             CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |           ELSE 0 END) AS BIGINT) AS r0,
       |         CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN
       |             CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |           ELSE 0 END) AS BIGINT) AS r1
       |       FROM orders
       |       JOIN customer ON o_custkey = c_custkey
       |       JOIN nation ON c_nationkey = n_nationkey
       |       WHERE year(o_orderdate) IN (1996, 1997)
       |       GROUP BY 1),
       |natl AS (SELECT CAST(SUM(r0) AS BIGINT) AS t0,
       |                CAST(SUM(r1) AS BIGINT) AS t1 FROM ny)
       |SELECT n_name, r0, r1,
       |  ${sqlE6("t1::DOUBLE / t0::DOUBLE - 1.0")} AS natl_growth_e6,
       |  ${sqlE6("r0::DOUBLE * (t1::DOUBLE / t0::DOUBLE - 1.0) / 100.0")} AS natl_effect_e6,
       |  ${sqlE6("((r1 - r0)::DOUBLE - r0::DOUBLE * (t1::DOUBLE / t0::DOUBLE - 1.0)) / 100.0")} AS shift_e6
       |FROM ny, natl ORDER BY n_name""".stripMargin

  /** q338 oracle: identical lag pairs, grid totals, normalization. */
  private val q338Sql: String =
    s"""WITH s AS (SELECT user_id, event_type,
       |        LAG(event_type) OVER (PARTITION BY user_id
       |          ORDER BY epoch_us(ts), event_id) AS f
       |      FROM events),
       |p AS (SELECT f AS from_state, event_type AS to_state,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM s WHERE f IS NOT NULL GROUP BY 1, 2),
       |q AS (SELECT from_state, to_state, n,
       |        CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT)
       |          AS n_from
       |      FROM p)
       |SELECT from_state, to_state, n, n_from,
       |  ${sqlE6("n::DOUBLE / n_from::DOUBLE")} AS prob_e6
       |FROM q ORDER BY from_state, to_state""".stripMargin

  /** q339 oracle: identical exact-sum means, centered OLS, and
    * day-ordered lag residual fold. */
  private val q339Sql: String =
    s"""WITH d0 AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) AS cents
       |       FROM orders GROUP BY 1),
       |m AS (SELECT COUNT(*)::DOUBLE AS n,
       |        SUM(day)::DOUBLE / COUNT(*)::DOUBLE AS mx,
       |        SUM(cents)::DOUBLE / 100.0 / COUNT(*)::DOUBLE AS my
       |      FROM d0),
       |c AS (SELECT day, day::DOUBLE - mx AS dx,
       |        cents::DOUBLE / 100.0 - my AS dy
       |      FROM d0, m),
       |b AS (SELECT SUM(dx * dy) / SUM(dx * dx) AS beta FROM c),
       |e AS (SELECT day, beta, dy - beta * dx AS e,
       |        LAG(dy - beta * dx) OVER (ORDER BY day) AS el
       |      FROM c, b)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       |  ${sqlE6("MAX(beta)")} AS beta_e6,
       |  ${sqlE6("SUM(CASE WHEN el IS NULL THEN 0.0 ELSE (e - el) * (e - el) END) / SUM(e * e)")} AS dw_e6,
       |  ${sqlE6("1.0 - SUM(CASE WHEN el IS NULL THEN 0.0 ELSE (e - el) * (e - el) END) / SUM(e * e) / 2.0")} AS rho1_e6
       |FROM e ORDER BY n_days""".stripMargin

  /** q340 oracle: identical double-lag trigram grid and support. */
  private val q340Sql: String =
    s"""WITH s AS (SELECT user_id, event_type,
       |        LAG(event_type, 2) OVER (PARTITION BY user_id
       |          ORDER BY epoch_us(ts), event_id) AS t1,
       |        LAG(event_type, 1) OVER (PARTITION BY user_id
       |          ORDER BY epoch_us(ts), event_id) AS t2
       |      FROM events),
       |g AS (SELECT t1, t2, event_type AS t3,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
       |q AS (SELECT t1, t2, t3, n,
       |        CAST(SUM(n) OVER () AS BIGINT) AS total FROM g)
       |SELECT t1, t2, t3, n,
       |  ${sqlE6("n::DOUBLE / total::DOUBLE")} AS support_e6
       |FROM q ORDER BY t1, t2, t3""".stripMargin

  /** q341 oracle: identical explicit cumulative mean/sum/min windows
    * and E6-ranked peak selection. */
  private val q341Sql: String =
    s"""WITH daily AS (SELECT epoch_us(ts) * 1000 // $DayNs AS day,
       |        SUM(value) / COUNT(*)::DOUBLE AS m
       |      FROM events GROUP BY 1),
       |c AS (SELECT day, m,
       |        SUM(m) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) /
       |          (COUNT(*) OVER (ORDER BY day ROWS UNBOUNDED
       |            PRECEDING))::DOUBLE AS mbar
       |      FROM daily),
       |d AS (SELECT day, m - mbar AS dev FROM c),
       |t AS (SELECT day,
       |        SUM(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |          AS mt
       |      FROM d),
       |p AS (SELECT day,
       |        ${sqlE6("mt - MIN(mt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)")}
       |          AS ph_e6
       |      FROM t),
       |r AS (SELECT day, ph_e6,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
       |        ROW_NUMBER() OVER (ORDER BY ph_e6 DESC, day) AS rk
       |      FROM p)
       |SELECT day, ph_e6, n_days FROM r WHERE rk = 1
       |ORDER BY day""".stripMargin

  /** q342 oracle: identical integer midpoint bracket, per-user
    * indicators, and continuity-corrected chi-square. */
  private val q342Sql: String =
    s"""WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
       |             AS mid FROM events),
       |per AS (SELECT user_id,
       |        MAX(CASE WHEN event_type = 'purchase'
       |              AND epoch_us(ts) <= mid THEN 1 ELSE 0 END)
       |          AS early,
       |        MAX(CASE WHEN event_type = 'purchase'
       |              AND epoch_us(ts) > mid THEN 1 ELSE 0 END) AS late
       |      FROM events, b GROUP BY 1),
       |ct AS (SELECT
       |    CAST(SUM(CASE WHEN early = 0 AND late = 0 THEN 1 ELSE 0
       |      END) AS BIGINT) AS n00,
       |    CAST(SUM(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0
       |      END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0
       |      END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0
       |      END) AS BIGINT) AS n11
       |  FROM per)
       |SELECT n00, n01, n10, n11,
       |  ${sqlE6("CASE WHEN (n01 + n10) > 0 THEN ((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1))::DOUBLE / (n01 + n10)::DOUBLE ELSE 0.0 END")} AS chi2_e6
       |FROM ct ORDER BY n00""".stripMargin

  /** q343 oracle: identical Welch power sums, A&S 26.2.17 tail
    * polynomial, E6-pinned rank order, and BH reverse running min. */
  private val q343Sql: String =
    s"""WITH d AS (SELECT p_brand AS brand, l_returnflag = 'R' AS ret,
       |        CAST(ROUND(l_extendedprice * 100) AS BIGINT)::DOUBLE
       |          / 100.0 AS y
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |g AS (SELECT brand,
       |        CAST(SUM(CASE WHEN ret THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n1,
       |        CAST(SUM(CASE WHEN NOT ret THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n2,
       |        SUM(CASE WHEN ret THEN y ELSE 0.0 END) AS s1,
       |        SUM(CASE WHEN NOT ret THEN y ELSE 0.0 END) AS s2,
       |        SUM(CASE WHEN ret THEN y * y ELSE 0.0 END) AS q1,
       |        SUM(CASE WHEN NOT ret THEN y * y ELSE 0.0 END) AS q2
       |      FROM d GROUP BY 1),
       |w AS (SELECT brand, n1, n2,
       |        (s1 / n1 - s2 / n2) /
       |          SQRT(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 +
       |               ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) AS tstat
       |      FROM g),
       |k AS (SELECT brand, n1, n2, tstat,
       |        1.0 / (1.0 + 0.2316419 * ABS(tstat)) AS k,
       |        EXP(-ABS(tstat) * ABS(tstat) / 2.0) / SQRT(2.0 * PI())
       |          AS phi
       |      FROM w),
       |pv AS (SELECT brand, n1, n2, tstat,
       |        LEAST(1.0, 2.0 * phi * (0.319381530 * k
       |          - 0.356563782 * k * k + 1.781477937 * k * k * k
       |          - 1.821255978 * k * k * k * k
       |          + 1.330274429 * k * k * k * k * k)) AS p
       |      FROM k),
       |r AS (SELECT brand, n1, n2, ${sqlE6("tstat")} AS t_e6,
       |        ${sqlE6("p")} AS p_e6,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS m
       |      FROM pv),
       |rk AS (SELECT brand, n1, n2, t_e6, p_e6, m,
       |        CAST(ROW_NUMBER() OVER (ORDER BY p_e6, brand)
       |          AS BIGINT) AS rank
       |      FROM r),
       |adj AS (SELECT brand, n1, n2, t_e6, p_e6, rank,
       |        LEAST(1.0, MIN(p_e6::DOUBLE / 1e6 * m::DOUBLE
       |            / rank::DOUBLE)
       |          OVER (ORDER BY rank DESC ROWS UNBOUNDED PRECEDING))
       |          AS padj
       |      FROM rk)
       |SELECT brand, n1, n2, t_e6, p_e6, rank,
       |  ${sqlE6("padj")} AS padj_e6,
       |  CAST(CASE WHEN ${sqlE6("padj")} <= 50000 THEN 1 ELSE 0 END
       |       AS BIGINT) AS sig
       |FROM adj ORDER BY brand""".stripMargin

  /** q344 oracle: identical forward-frame next-event windows and
    * exact integer micros aggregates. */
  private val q344Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |        epoch_us(ts) AS tus FROM events),
       |nx AS (SELECT user_id, event_type, tus,
       |        MIN(CASE WHEN event_type = 'click' THEN tus END) OVER
       |          (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |          AS ncl,
       |        MIN(CASE WHEN event_type = 'purchase' THEN tus END)
       |          OVER (PARTITION BY user_id ORDER BY tus, event_id
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |          AS npu
       |      FROM e),
       |v AS (SELECT * FROM nx WHERE event_type = 'view'),
       |u AS (SELECT 'click' AS target, CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(ncl - tus) AS BIGINT) AS sum_us,
       |        CAST(MAX(ncl - tus) AS BIGINT) AS max_us
       |      FROM v WHERE ncl IS NOT NULL
       |      UNION ALL
       |      SELECT 'purchase', CAST(COUNT(*) AS BIGINT),
       |        CAST(SUM(npu - tus) AS BIGINT),
       |        CAST(MAX(npu - tus) AS BIGINT)
       |      FROM v WHERE npu IS NOT NULL)
       |SELECT target, n, sum_us, max_us,
       |  CAST(sum_us // n AS BIGINT) AS avg_us
       |FROM u ORDER BY target""".stripMargin

  /** q345 oracle: identical grid margins, chi-square, V, and Bergsma
    * corrected V. */
  private val q345Sql: String =
    s"""WITH g AS (SELECT o_orderpriority AS pr, l_returnflag AS rf,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |      GROUP BY 1, 2),
       |m AS (SELECT pr, rf, n,
       |        CAST(SUM(n) OVER (PARTITION BY pr) AS BIGINT) AS rp,
       |        CAST(SUM(n) OVER (PARTITION BY rf) AS BIGINT) AS cf,
       |        CAST(SUM(n) OVER () AS BIGINT) AS tot
       |      FROM g),
       |x AS (SELECT MAX(tot) AS nn,
       |        CAST(COUNT(DISTINCT pr) AS BIGINT) AS r,
       |        CAST(COUNT(DISTINCT rf) AS BIGINT) AS c,
       |        SUM((n::DOUBLE - rp::DOUBLE * cf::DOUBLE / tot::DOUBLE)
       |          * (n::DOUBLE - rp::DOUBLE * cf::DOUBLE / tot::DOUBLE)
       |          / (rp::DOUBLE * cf::DOUBLE / tot::DOUBLE)) AS chi2
       |      FROM m),
       |f AS (SELECT nn, r, c, chi2,
       |        GREATEST(0.0, chi2 / nn::DOUBLE
       |          - (r - 1)::DOUBLE * (c - 1)::DOUBLE
       |            / (nn - 1)::DOUBLE) AS phi2c,
       |        r::DOUBLE - (r - 1)::DOUBLE * (r - 1)::DOUBLE
       |          / (nn - 1)::DOUBLE AS rc,
       |        c::DOUBLE - (c - 1)::DOUBLE * (c - 1)::DOUBLE
       |          / (nn - 1)::DOUBLE AS cc2
       |      FROM x)
       |SELECT CAST(nn AS BIGINT) AS n, r, c,
       |  ${sqlE6("chi2")} AS chi2_e6,
       |  ${sqlE6("SQRT(chi2 / (nn::DOUBLE * LEAST(r - 1, c - 1)::DOUBLE))")} AS v_e6,
       |  ${sqlE6("SQRT(phi2c / LEAST(rc - 1.0, cc2 - 1.0))")} AS vc_e6
       |FROM f ORDER BY n""".stripMargin

  /** q346 oracle: identical smoothed trigram grid, vocab bracket,
    * and per-cell log-likelihood contribution. */
  private val q346Sql: String =
    s"""WITH s AS (SELECT user_id, event_type,
       |        LAG(event_type, 2) OVER (PARTITION BY user_id
       |          ORDER BY epoch_us(ts), event_id) AS t1,
       |        LAG(event_type, 1) OVER (PARTITION BY user_id
       |          ORDER BY epoch_us(ts), event_id) AS t2
       |      FROM events),
       |g AS (SELECT t1, t2, event_type AS t3,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
       |vv AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS v
       |       FROM events),
       |q AS (SELECT t1, t2, t3, n,
       |        CAST(SUM(n) OVER (PARTITION BY t1, t2) AS BIGINT)
       |          AS n12
       |      FROM g)
       |SELECT t1, t2, t3, n, n12, v,
       |  ${sqlE6("(n::DOUBLE + 1.0) / (n12::DOUBLE + 1.0 * v::DOUBLE)")} AS p_e6,
       |  ${sqlE6("n::DOUBLE * LN((n::DOUBLE + 1.0) / (n12::DOUBLE + 1.0 * v::DOUBLE))")} AS ll_e6
       |FROM q, vv ORDER BY t1, t2, t3""".stripMargin

  /** q347 oracle: identical double-lag trigram grid with both
    * consecutive gaps window-computed in micros. */
  private val q347Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |        epoch_us(ts) AS tus FROM events),
       |s AS (SELECT user_id, event_type,
       |        LAG(event_type, 2) OVER w AS t1,
       |        LAG(event_type, 1) OVER w AS t2,
       |        tus - LAG(tus, 1) OVER w AS g2,
       |        LAG(tus, 1) OVER w - LAG(tus, 2) OVER w AS g1
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |        ORDER BY tus, event_id)),
       |g AS (SELECT t1, t2, event_type AS t3,
       |        CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN g1 <= 1800000000 AND
       |          g2 <= 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_fast
       |      FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
       |SELECT t1, t2, t3, n, n_fast,
       |  ${sqlE6("n_fast::DOUBLE / n::DOUBLE")} AS fast_e6
       |FROM g ORDER BY t1, t2, t3""".stripMargin

  /** q348 oracle: identical 1-step/2-step grids, bounded mid-state
    * self-join, FULL OUTER cell union. */
  private val q348Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |        epoch_us(ts) AS tus FROM events),
       |s AS (SELECT user_id, event_type,
       |        LAG(event_type, 1) OVER w AS p1,
       |        LAG(event_type, 2) OVER w AS p2
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |        ORDER BY tus, event_id)),
       |g1 AS (SELECT p1 AS a, event_type AS b,
       |         CAST(COUNT(*) AS BIGINT) AS n1
       |       FROM s WHERE p1 IS NOT NULL GROUP BY 1, 2),
       |t1 AS (SELECT a, b, n1::DOUBLE /
       |         (SUM(n1) OVER (PARTITION BY a))::DOUBLE AS p
       |       FROM g1),
       |g2 AS (SELECT p2 AS a, event_type AS c,
       |         CAST(COUNT(*) AS BIGINT) AS n2
       |       FROM s WHERE p2 IS NOT NULL GROUP BY 1, 2),
       |t2 AS (SELECT a, c, n2, n2::DOUBLE /
       |         (SUM(n2) OVER (PARTITION BY a))::DOUBLE AS pemp
       |       FROM g2),
       |ch AS (SELECT x.a AS a, y.b AS c, SUM(x.p * y.p) AS pch
       |       FROM t1 x JOIN t1 y ON x.b = y.a GROUP BY 1, 2)
       |SELECT COALESCE(t2.a, ch.a) AS a, COALESCE(t2.c, ch.c) AS c,
       |  CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
       |  ${sqlE6("COALESCE(pemp, 0.0)")} AS p2emp_e6,
       |  ${sqlE6("COALESCE(pch, 0.0)")} AS p2chain_e6,
       |  ${sqlE6("ABS(COALESCE(pemp, 0.0) - COALESCE(pch, 0.0))")} AS diff_e6
       |FROM t2 FULL OUTER JOIN ch ON t2.a = ch.a AND t2.c = ch.c
       |ORDER BY a, c""".stripMargin

  /** q349 oracle: identical target-time half split, within-from-state
    * margins, e > 0 guarded cell terms. */
  private val q349Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |        epoch_us(ts) AS tus FROM events),
       |b AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS mid FROM e),
       |s AS (SELECT user_id, event_type, tus,
       |        LAG(event_type, 1) OVER (PARTITION BY user_id
       |          ORDER BY tus, event_id) AS p1
       |      FROM e),
       |g AS (SELECT p1 AS a, event_type AS bb,
       |        CAST(SUM(CASE WHEN tus <= mid THEN 1 ELSE 0 END)
       |          AS BIGINT) AS oe,
       |        CAST(SUM(CASE WHEN tus > mid THEN 1 ELSE 0 END)
       |          AS BIGINT) AS ol
       |      FROM s, b WHERE p1 IS NOT NULL GROUP BY 1, 2),
       |m AS (SELECT a, oe, ol,
       |        CAST(SUM(oe) OVER (PARTITION BY a) AS BIGINT) AS ce,
       |        CAST(SUM(ol) OVER (PARTITION BY a) AS BIGINT) AS cl
       |      FROM g),
       |x AS (SELECT a, ce, cl,
       |        (oe + ol)::DOUBLE * ce::DOUBLE / (ce + cl)::DOUBLE
       |          AS ee,
       |        (oe + ol)::DOUBLE * cl::DOUBLE / (ce + cl)::DOUBLE
       |          AS el,
       |        oe, ol
       |      FROM m),
       |t AS (SELECT a, ce, cl,
       |        (CASE WHEN ee > 0.0 THEN (oe::DOUBLE - ee) *
       |           (oe::DOUBLE - ee) / ee ELSE 0.0 END) +
       |        (CASE WHEN el > 0.0 THEN (ol::DOUBLE - el) *
       |           (ol::DOUBLE - el) / el ELSE 0.0 END) AS term
       |      FROM x)
       |SELECT a, MAX(ce) AS n_early, MAX(cl) AS n_late,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS df,
       |  ${sqlE6("SUM(term)")} AS chi2_e6
       |FROM t GROUP BY a ORDER BY a""".stripMargin

  /** q350 oracle: identical exact-integer power sums, population
    * variances over the global user count. */
  private val q350Sql: String =
    s"""WITH nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |              AS nu FROM events),
       |pc AS (SELECT user_id, event_type,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |       FROM events GROUP BY 1, 2),
       |item AS (SELECT event_type,
       |           CAST(SUM(c) AS BIGINT) AS s1,
       |           CAST(SUM(c * c) AS BIGINT) AS s2
       |         FROM pc GROUP BY 1),
       |iv AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |         SUM(s2::DOUBLE / nu - (s1::DOUBLE / nu) *
       |           (s1::DOUBLE / nu)) AS siv
       |       FROM item, nu),
       |tc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS tc
       |       FROM events GROUP BY 1),
       |tv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         SUM(tc::DOUBLE * tc::DOUBLE) / COUNT(*) -
       |           (SUM(tc::DOUBLE) / COUNT(*)) *
       |           (SUM(tc::DOUBLE) / COUNT(*)) AS vt
       |       FROM tc)
       |SELECT k, n AS n_users, ${sqlE6("siv")} AS sum_item_var_e6,
       |  ${sqlE6("vt")} AS total_var_e6,
       |  ${sqlE6("CASE WHEN vt > 0.0 THEN k::DOUBLE / (k - 1)::DOUBLE * (1.0 - siv / vt) ELSE 0.0 END")} AS alpha_e6
       |FROM iv, tv ORDER BY k""".stripMargin

  /** q351 oracle: identical positive-cents guard, exact arithmetic
    * mean, ln-sum geometric mean. */
  private val q351Sql: String =
    s"""WITH x AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |             AS cents FROM orders
       |           WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(cents) AS BIGINT) AS sc,
       |        SUM(LN(cents::DOUBLE / 100.0)) AS sl
       |      FROM x)
       |SELECT n, ${sqlE6("sc::DOUBLE / 100.0 / n::DOUBLE")} AS mean_e6,
       |  ${sqlE6("EXP(sl / n::DOUBLE)")} AS geomean_e6,
       |  ${sqlE6("1.0 - EXP(sl / n::DOUBLE) / (sc::DOUBLE / 100.0 / n::DOUBLE)")} AS atkinson_e6
       |FROM a ORDER BY n""".stripMargin

  /** q352 oracle: identical integer day/dollar sums, midpoint
    * bracket, per-segment centered OLS SSR, Chow F. */
  private val q352Sql: String =
    s"""WITH d0 AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT))
       |           AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d0),
       |seg AS (SELECT CASE WHEN day <= mid THEN 0 ELSE 1 END AS h,
       |          COUNT(*)::DOUBLE AS n,
       |          SUM(day)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
       |          SUM(day * day)::DOUBLE AS sxx,
       |          SUM(day * y)::DOUBLE AS sxy,
       |          SUM(y::DOUBLE * y::DOUBLE) AS syy
       |        FROM d0, b GROUP BY 1),
       |sr AS (SELECT h, n, sx, sy, sxx, sxy, syy,
       |         (syy - sy * sy / n) -
       |         (sxy - sx * sy / n) * (sxy - sx * sy / n) /
       |         (sxx - sx * sx / n) AS ssr
       |       FROM seg),
       |tots AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
       |           SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy,
       |           SUM(ssr) AS ssr_p,
       |           SUM(CASE WHEN h = 0 THEN n ELSE 0.0 END) AS n1
       |         FROM sr),
       |f AS (SELECT n, n1, ssr_p,
       |        (syy - sy * sy / n) -
       |        (sxy - sx * sy / n) * (sxy - sx * sy / n) /
       |        (sxx - sx * sx / n) AS ssr_f
       |      FROM tots)
       |SELECT CAST(n AS BIGINT) AS n_days, CAST(n1 AS BIGINT)
       |    AS n_first,
       |  ${sqlE6("(ssr_f - ssr_p) / 2.0 / (ssr_p / (n - 4.0))")} AS f_e6,
       |  ${sqlE6("ssr_p / ssr_f")} AS ssr_ratio_e6
       |FROM f ORDER BY n_days""".stripMargin

  /** q353 oracle: identical per-user counts, exact power sums, MoM
    * under the same overdispersion guard. */
  private val q353Sql: String =
    s"""WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
       |           FROM events GROUP BY 1),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(c) AS BIGINT) AS s1,
       |        CAST(SUM(c * c) AS BIGINT) AS s2
       |      FROM c),
       |m AS (SELECT n, s1::DOUBLE / n::DOUBLE AS m,
       |        s2::DOUBLE / n::DOUBLE -
       |          (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)
       |          AS v
       |      FROM a)
       |SELECT n AS n_users, ${sqlE6("m")} AS mean_e6,
       |  ${sqlE6("v")} AS var_e6,
       |  ${sqlE6("CASE WHEN v > m THEN m * m / (v - m) ELSE 0.0 END")} AS r_e6,
       |  ${sqlE6("CASE WHEN v > m THEN m / v ELSE 0.0 END")} AS p_e6
       |FROM m ORDER BY n_users""".stripMargin

  /** q354 oracle: identical day spine, sample sd from power sums,
    * E6-pinned arg-max selection. */
  private val q354Sql: String =
    s"""WITH d0 AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT))
       |           AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |st AS (SELECT COUNT(*)::DOUBLE AS n,
       |         SUM(y)::DOUBLE / COUNT(*)::DOUBLE AS mean,
       |         SQRT((SUM(y::DOUBLE * y::DOUBLE) -
       |           SUM(y)::DOUBLE * SUM(y)::DOUBLE /
       |             COUNT(*)::DOUBLE) / (COUNT(*)::DOUBLE - 1.0))
       |           AS sd
       |       FROM d0),
       |r AS (SELECT day, CAST(n AS BIGINT) AS n_days,
       |        ${sqlE6("ABS(y::DOUBLE - mean) / sd")} AS dev_e6
       |      FROM d0, st),
       |rk AS (SELECT day, n_days, dev_e6,
       |         ROW_NUMBER() OVER (ORDER BY dev_e6 DESC, day) AS rk
       |       FROM r)
       |SELECT day, n_days, dev_e6 AS g_e6 FROM rk WHERE rk = 1
       |ORDER BY day""".stripMargin

  /** q355 oracle: identical value-histogram trim arithmetic — exact
    * cents histogram, rank-interval overlap kept counts, n div 5
    * trim, boundary-clamped variance. */
  private val q355Sql: String =
    s"""WITH d AS (SELECT l_returnflag = 'R' AS ret,
       |        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
       |      FROM lineitem),
       |h0 AS (SELECT ret, cents, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM d GROUP BY 1, 2),
       |r AS (SELECT ret, cents, c,
       |        CAST(SUM(c) OVER (PARTITION BY ret) AS BIGINT) AS n,
       |        CAST(SUM(c) OVER (PARTITION BY ret ORDER BY cents
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM h0),
       |r2 AS (SELECT *, n // 5 AS g, cum - c AS prev,
       |         GREATEST(0, LEAST(cum, n - n // 5) -
       |           GREATEST(cum - c, n // 5)) AS kept
       |       FROM r),
       |st0 AS (SELECT ret, MAX(n) AS n, MAX(g) AS g,
       |         MIN(CASE WHEN prev <= g AND cum >= g + 1
       |           THEN cents END) AS lo,
       |         MIN(CASE WHEN prev <= n - g - 1 AND cum >= n - g
       |           THEN cents END) AS hi,
       |         CAST(SUM(kept * cents) AS BIGINT) AS tsum,
       |         SUM(kept * (cents::DOUBLE / 100.0) *
       |           (cents::DOUBLE / 100.0)) AS ksq
       |       FROM r2 GROUP BY 1),
       |st AS (SELECT ret, n, g,
       |         tsum,
       |         CAST(tsum + g * lo + g * hi AS BIGINT) AS wsum,
       |         ksq + g::DOUBLE * (lo::DOUBLE / 100.0) *
       |             (lo::DOUBLE / 100.0)
       |           + g::DOUBLE * (hi::DOUBLE / 100.0) *
       |             (hi::DOUBLE / 100.0) AS wsq
       |       FROM st0),
       |y AS (SELECT ret, n, n - 2 * g AS h,
       |        tsum::DOUBLE / 100.0 / (n - 2 * g)::DOUBLE AS mt,
       |        ((wsq - (wsum::DOUBLE / 100.0) * (wsum::DOUBLE / 100.0)
       |            / n::DOUBLE) / (n::DOUBLE - 1.0)) AS sw2
       |      FROM st),
       |dj AS (SELECT ret, h, mt,
       |         (n::DOUBLE - 1.0) * sw2 /
       |           (h::DOUBLE * (h::DOUBLE - 1.0)) AS dj
       |       FROM y),
       |p AS (SELECT
       |        MAX(CASE WHEN ret THEN h END) AS h1,
       |        MAX(CASE WHEN NOT ret THEN h END) AS h2,
       |        MAX(CASE WHEN ret THEN mt END) AS m1,
       |        MAX(CASE WHEN NOT ret THEN mt END) AS m2,
       |        MAX(CASE WHEN ret THEN dj END) AS d1,
       |        MAX(CASE WHEN NOT ret THEN dj END) AS d2
       |      FROM dj)
       |SELECT CAST(h1 AS BIGINT) AS h1, CAST(h2 AS BIGINT) AS h2,
       |  ${sqlE6("m1")} AS m1_e6, ${sqlE6("m2")} AS m2_e6,
       |  ${sqlE6("(m1 - m2) / SQRT(d1 + d2)")} AS t_e6,
       |  ${sqlE6("(d1 + d2) * (d1 + d2) / (d1 * d1 / (h1::DOUBLE - 1.0) + d2 * d2 / (h2::DOUBLE - 1.0))")} AS df_e6
       |FROM p ORDER BY h1""".stripMargin

  /** q356 oracle: identical per-brand rates, MoM alpha/beta over the
    * bounded grid, posterior-mean shrinkage. */
  private val q356Sql: String =
    s"""WITH g AS (SELECT p_brand AS brand,
       |        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
       |          END) AS BIGINT) AS k,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM lineitem JOIN part ON l_partkey = p_partkey
       |      GROUP BY 1),
       |rr AS (SELECT brand, k, n, k::DOUBLE / n::DOUBLE AS r FROM g),
       |mm AS (SELECT COUNT(*)::DOUBLE AS nb, SUM(r) AS sr,
       |         SUM(r * r) AS sr2
       |       FROM rr),
       |ab AS (SELECT m, s2,
       |         CASE WHEN s2 > 0.0
       |           THEN m * (1.0 - m) / s2 - 1.0 ELSE 0.0 END AS c
       |       FROM (SELECT sr / nb AS m,
       |               sr2 / nb - (sr / nb) * (sr / nb) AS s2
       |             FROM mm)),
       |mom AS (SELECT m * c AS alpha, (1.0 - m) * c AS beta FROM ab)
       |SELECT brand, n, k, ${sqlE6("r")} AS raw_e6,
       |  ${sqlE6("(k::DOUBLE + alpha) / (n::DOUBLE + alpha + beta)")} AS shrunk_e6,
       |  ${sqlE6("alpha")} AS alpha_e6, ${sqlE6("beta")} AS beta_e6
       |FROM rr, mom ORDER BY brand""".stripMargin

  /** q357 oracle: q186's pair machinery with unigram counts plus
    * per-doc totals for the recall denominator. */
  private val q357Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 100),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(toks) >= 2
       |              THEN list_distinct(list_transform(range(1, len(toks)),
       |                     i -> array_to_string(toks[i:i+1], ' ')))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |pp AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM s),
       |fil AS (
       |  SELECT id1, id2 FROM pp
       |  JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1),
       |gm AS (SELECT doc_id, unnest(toks) AS g FROM d),
       |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gm GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot
       |        FROM gc GROUP BY 1),
       |j AS (
       |  SELECT fil.id1, fil.id2, g2.c AS c2, COALESCE(g1.c, 0) AS c1
       |  FROM fil JOIN gc g2 ON g2.doc_id = fil.id2
       |  LEFT JOIN gc g1 ON g1.doc_id = fil.id1 AND g1.g = g2.g),
       |agg AS (
       |  SELECT id1, id2,
       |         CAST(SUM(LEAST(c2, c1)) AS BIGINT) AS clipped
       |  FROM j GROUP BY 1, 2),
       |fin AS (
       |  SELECT agg.id1, agg.id2, x.tot AS total1, y.tot AS total2,
       |         clipped,
       |         clipped::DOUBLE / y.tot AS precision,
       |         clipped::DOUBLE / x.tot AS recall
       |  FROM agg JOIN tot x ON agg.id1 = x.doc_id
       |  JOIN tot y ON agg.id2 = y.doc_id)
       |SELECT id1, id2, total1, total2, clipped,
       |  ${sqlE6("precision")} AS prec_e6,
       |  ${sqlE6("recall")} AS rec_e6,
       |  ${sqlE6("CASE WHEN precision + recall > 0.0 THEN 2.0 * precision * recall / (precision + recall) ELSE 0.0 END")} AS f1_e6
       |FROM fin ORDER BY id1, id2""".stripMargin

  /** q358 oracle: the q189 plain exact-Jaccard derivation aggregated
    * by unordered source pair. */
  private val q358Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) >= 3
       |              THEN list_distinct(list_transform(range(1, len(tk) - 1),
       |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |              ELSE [] END AS sh
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
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.4),
       |m AS (
       |  SELECT LEAST(a.source, b.source) AS s_lo,
       |         GREATEST(a.source, b.source) AS s_hi, j
       |  FROM pr JOIN documents a ON id1 = a.doc_id
       |  JOIN documents b ON id2 = b.doc_id)
       |SELECT s_lo, s_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${sqlE6("SUM(j) / COUNT(*)::DOUBLE")} AS avg_jacc_e6
       |FROM m GROUP BY 1, 2 ORDER BY s_lo, s_hi""".stripMargin

  /** q359 oracle: identical SMA-7 / lag-7 frames over the day spine,
    * full-history rows only. */
  private val q359Sql: String =
    s"""WITH d0 AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT))
       |           AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |f AS (SELECT day, y,
       |        AVG(y) OVER (ORDER BY day
       |          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS yhat,
       |        LAG(y, 7) OVER (ORDER BY day) AS ynaive,
       |        ROW_NUMBER() OVER (ORDER BY day) AS rn
       |      FROM d0),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       |        SUM(ABS(y::DOUBLE - yhat)) / COUNT(*)::DOUBLE
       |          AS mae_model,
       |        SUM(ABS(y - ynaive)::DOUBLE) / COUNT(*)::DOUBLE
       |          AS mae_naive
       |      FROM f WHERE rn > 7)
       |SELECT n_eval, ${sqlE6("mae_model / 1000.0")} AS mae_model_k_e6,
       |  ${sqlE6("mae_naive / 1000.0")} AS mae_naive_k_e6,
       |  ${sqlE6("mae_model / mae_naive")} AS mase_e6
       |FROM a ORDER BY n_eval""".stripMargin

  /** q360 oracle: identical rank pairing (middle dropped when odd),
    * strict sign counts, normal z. */
  private val q360Sql: String =
    s"""WITH d0 AS (SELECT
       |         DATE_DIFF('day', TIMESTAMP '1970-01-01', o_orderdate)
       |           AS day,
       |         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT))
       |           AS BIGINT) AS y
       |       FROM orders GROUP BY 1),
       |r AS (SELECT y,
       |        CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
       |        CAST(COUNT(*) OVER () AS BIGINT) AS nn
       |      FROM d0),
       |r2 AS (SELECT *, nn // 2 AS m FROM r),
       |a AS (SELECT rn AS i, y AS y1 FROM r2 WHERE rn <= m),
       |b AS (SELECT rn - (nn - m) AS i, y AS y2 FROM r2
       |      WHERE rn > nn - m),
       |c AS (SELECT
       |        CAST(SUM(CASE WHEN y2 > y1 THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_plus,
       |        CAST(SUM(CASE WHEN y2 < y1 THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_minus
       |      FROM a JOIN b USING (i))
       |SELECT n_plus + n_minus AS n_pairs, n_plus, n_minus,
       |  ${sqlE6("(n_plus::DOUBLE - (n_plus + n_minus)::DOUBLE / 2.0) / SQRT((n_plus + n_minus)::DOUBLE / 4.0)")} AS z_e6
       |FROM c ORDER BY n_pairs""".stripMargin

  /** q361 oracle: identical shipdate midpoint halves, per-brand
    * rates, Murphy decomposition over the brand bins. */
  private val q361Sql: String =
    s"""WITH d AS (SELECT p_brand AS brand, l_returnflag = 'R' AS ret,
       |        DATE_DIFF('day', TIMESTAMP '1970-01-01', l_shipdate)
       |          AS sd
       |      FROM lineitem JOIN part ON l_partkey = p_partkey),
       |br AS (SELECT (MIN(sd) + MAX(sd)) // 2 AS mid FROM d),
       |g0 AS (SELECT brand,
       |        CAST(SUM(CASE WHEN sd <= mid AND ret THEN 1 ELSE 0
       |          END) AS BIGINT) AS k1,
       |        CAST(SUM(CASE WHEN sd <= mid THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n1,
       |        CAST(SUM(CASE WHEN sd > mid AND ret THEN 1 ELSE 0
       |          END) AS BIGINT) AS k2,
       |        CAST(SUM(CASE WHEN sd > mid THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n2
       |      FROM d, br GROUP BY 1),
       |g AS (SELECT brand, k1, n1, k2, n2,
       |        k1::DOUBLE / n1::DOUBLE AS p,
       |        k2::DOUBLE / n2::DOUBLE AS ob
       |      FROM g0 WHERE n1 > 0 AND n2 > 0),
       |tt AS (SELECT CAST(SUM(n2) AS BIGINT) AS nn,
       |         SUM(k2)::DOUBLE / SUM(n2)::DOUBLE AS obar
       |       FROM g),
       |x AS (SELECT MAX(nn) AS n_eval, MAX(obar) AS obar,
       |        SUM(n2::DOUBLE * (p - ob) * (p - ob)) /
       |          MAX(nn)::DOUBLE AS rel,
       |        SUM(n2::DOUBLE * (ob - obar) * (ob - obar)) /
       |          MAX(nn)::DOUBLE AS res
       |      FROM g, tt)
       |SELECT CAST(n_eval AS BIGINT) AS n_eval,
       |  ${sqlE6("obar")} AS obar_e6,
       |  ${sqlE6("rel")} AS reliability_e6,
       |  ${sqlE6("res")} AS resolution_e6,
       |  ${sqlE6("obar * (1.0 - obar)")} AS uncertainty_e6,
       |  ${sqlE6("rel - res + obar * (1.0 - obar)")} AS brier_e6
       |FROM x ORDER BY n_eval""".stripMargin

  /** q362 oracle: identical dose-grid integer sums and closed-form
    * T / Var(T). */
  private val q362Sql: String =
    s"""WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS x,
       |        CAST(COUNT(*) AS BIGINT) AS ni,
       |        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
       |          END) AS BIGINT) AS ki
       |      FROM lineitem GROUP BY 1),
       |a AS (SELECT CAST(SUM(ni) AS BIGINT) AS nn,
       |        CAST(SUM(ki) AS BIGINT) AS kk,
       |        CAST(SUM(x * ki) AS BIGINT) AS sxk,
       |        CAST(SUM(x * ni) AS BIGINT) AS sxn,
       |        CAST(SUM(x * x * ni) AS BIGINT) AS sxxn
       |      FROM g),
       |t AS (SELECT nn, kk,
       |        sxk::DOUBLE - (kk::DOUBLE / nn::DOUBLE) * sxn::DOUBLE
       |          AS tstat,
       |        (kk::DOUBLE / nn::DOUBLE) *
       |          (1.0 - kk::DOUBLE / nn::DOUBLE) *
       |          (sxxn::DOUBLE - sxn::DOUBLE * sxn::DOUBLE /
       |            nn::DOUBLE) AS vart
       |      FROM a)
       |SELECT nn AS n, kk AS k, ${sqlE6("tstat / 1000.0")} AS t_k_e6,
       |  ${sqlE6("tstat / SQRT(vart)")} AS z_e6
       |FROM t ORDER BY n""".stripMargin

  /** q363 oracle: identical centered spine, lag products, and
    * Durbin-Levinson pacf2. */
  private val q363Sql: String =
    s"""WITH daily AS (SELECT epoch_us(ts) * 1000 // $DayNs AS day,
       |        SUM(value) / COUNT(*)::DOUBLE AS m
       |      FROM events GROUP BY 1),
       |mm AS (SELECT COUNT(*)::DOUBLE AS n,
       |         SUM(m) / COUNT(*)::DOUBLE AS mu
       |       FROM daily),
       |c AS (SELECT day, m - mu AS d,
       |        LAG(m - mu, 1) OVER (ORDER BY day) AS d1,
       |        LAG(m - mu, 2) OVER (ORDER BY day) AS d2, n
       |      FROM daily, mm),
       |a AS (SELECT MAX(n) AS nd, SUM(d * d) AS c0,
       |        SUM(CASE WHEN d1 IS NOT NULL THEN d * d1 ELSE 0.0
       |          END) AS c1,
       |        SUM(CASE WHEN d2 IS NOT NULL THEN d * d2 ELSE 0.0
       |          END) AS c2
       |      FROM c),
       |r AS (SELECT nd, c1 / c0 AS r1, c2 / c0 AS r2 FROM a)
       |SELECT CAST(nd AS BIGINT) AS n_days, ${sqlE6("r1")} AS r1_e6,
       |  ${sqlE6("r2")} AS r2_e6,
       |  ${sqlE6("(r2 - r1 * r1) / (1.0 - r1 * r1)")} AS pacf2_e6
       |FROM r ORDER BY n_days""".stripMargin

  /** q364 oracle: identical 1-step grid and two backward-induction
    * steps with purchase absorbing. */
  private val q364Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |        epoch_us(ts) AS tus FROM events),
       |s AS (SELECT user_id, event_type,
       |        LAG(event_type, 1) OVER (PARTITION BY user_id
       |          ORDER BY tus, event_id) AS p1
       |      FROM e),
       |g1 AS (SELECT p1 AS a, event_type AS b,
       |         CAST(COUNT(*) AS BIGINT) AS n1
       |       FROM s WHERE p1 IS NOT NULL GROUP BY 1, 2),
       |p AS (SELECT a, b, n1::DOUBLE /
       |        (SUM(n1) OVER (PARTITION BY a))::DOUBLE AS p
       |      FROM g1),
       |st AS (SELECT DISTINCT a FROM p),
       |k1 AS (SELECT st.a,
       |         COALESCE(pp.p, 0.0) AS r
       |       FROM st LEFT JOIN
       |         (SELECT a, p FROM p WHERE b = 'purchase') pp
       |         ON st.a = pp.a),
       |k2 AS (SELECT st.a,
       |         COALESCE(pp.p, 0.0) + COALESCE(cc.s, 0.0) AS r
       |       FROM st
       |       LEFT JOIN (SELECT a, p FROM p WHERE b = 'purchase') pp
       |         ON st.a = pp.a
       |       LEFT JOIN (SELECT p.a, SUM(p.p * k1.r) AS s
       |                  FROM p JOIN k1 ON p.b = k1.a
       |                  WHERE p.b <> 'purchase' GROUP BY 1) cc
       |         ON st.a = cc.a),
       |k3 AS (SELECT st.a,
       |         COALESCE(pp.p, 0.0) + COALESCE(cc.s, 0.0) AS r
       |       FROM st
       |       LEFT JOIN (SELECT a, p FROM p WHERE b = 'purchase') pp
       |         ON st.a = pp.a
       |       LEFT JOIN (SELECT p.a, SUM(p.p * k2.r) AS s
       |                  FROM p JOIN k2 ON p.b = k2.a
       |                  WHERE p.b <> 'purchase' GROUP BY 1) cc
       |         ON st.a = cc.a)
       |SELECT k1.a, ${sqlE6("k1.r")} AS reach1_e6,
       |  ${sqlE6("k2.r")} AS reach2_e6, ${sqlE6("k3.r")} AS reach3_e6
       |FROM k1 JOIN k2 ON k1.a = k2.a JOIN k3 ON k1.a = k3.a
       |ORDER BY k1.a""".stripMargin

  /** q365 oracle: the q355 histogram discipline per trim level,
    * identical kept-interval arithmetic. */
  private val q365Sql: String =
    s"""WITH h0 AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
       |         AS cents, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM orders GROUP BY 1),
       |r AS (SELECT cents, c,
       |        CAST(SUM(c) OVER () AS BIGINT) AS n,
       |        CAST(SUM(c) OVER (ORDER BY cents
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM h0),
       |lv AS (SELECT r.*, cum - c AS prev, pct,
       |         (n * pct) // 100 AS g
       |       FROM r, (SELECT UNNEST([1, 5, 10]::BIGINT[]) AS pct)),
       |k AS (SELECT *, GREATEST(0, LEAST(cum, n - g) -
       |        GREATEST(prev, g)) AS kept
       |      FROM lv),
       |st AS (SELECT pct, MAX(n) AS n, MAX(g) AS g,
       |         MIN(CASE WHEN prev <= g AND cum >= g + 1
       |           THEN cents END) AS lo,
       |         MIN(CASE WHEN prev <= n - g - 1 AND cum >= n - g
       |           THEN cents END) AS hi,
       |         CAST(SUM(kept * cents) AS BIGINT) AS ksum,
       |         SUM(kept * (cents::DOUBLE / 100.0) *
       |           (cents::DOUBLE / 100.0)) AS ksq
       |       FROM k GROUP BY 1),
       |w AS (SELECT pct, n, g,
       |        CAST(ksum + g * lo + g * hi AS BIGINT) AS wsum,
       |        ksq + g::DOUBLE * (lo::DOUBLE / 100.0) *
       |            (lo::DOUBLE / 100.0)
       |          + g::DOUBLE * (hi::DOUBLE / 100.0) *
       |            (hi::DOUBLE / 100.0) AS wsq
       |      FROM st)
       |SELECT pct, n, g,
       |  ${sqlE6("wsum::DOUBLE / 100.0 / n::DOUBLE")} AS wmean_e6,
       |  ${sqlE6("SQRT((wsq - (wsum::DOUBLE / 100.0) * (wsum::DOUBLE / 100.0) / n::DOUBLE) / (n::DOUBLE - 1.0))")} AS wsd_e6
       |FROM w ORDER BY pct""".stripMargin

  /** Shared q189-style plain exact-trigram-Jaccard pair derivation
    * (CTE chain ending in `pr`: id1, id2, j >= the given floor). */
  private[queries] def exactTrigramPairCtes(thr: String): String =
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) >= 3
       |              THEN list_distinct(list_transform(range(1, len(tk) - 1),
       |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |              ELSE [] END AS sh
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
       |  WHERE shared * 1.0 / (x.n + y.n - shared) >= $thr)""".stripMargin

  /** q366 oracle: one exact pair derivation, threshold spine LEFT
    * JOIN so empty bands stay present. */
  private val q366Sql: String =
    s"""WITH ${exactTrigramPairCtes("0.3")},
       |th AS (SELECT UNNEST([30, 50, 70, 90]::BIGINT[]) AS pct),
       |a AS (SELECT pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |        CAST(COUNT(DISTINCT id2) AS BIGINT) AS n_removable
       |      FROM pr JOIN th ON j >= pct::DOUBLE / 100.0 GROUP BY 1)
       |SELECT th.pct, COALESCE(n_pairs, 0) AS n_pairs,
       |  COALESCE(n_removable, 0) AS n_removable
       |FROM th LEFT JOIN a USING (pct) ORDER BY pct""".stripMargin

  /** q367 oracle: identical token counts, windows exploded. */
  private val q367Sql: String =
    s"""WITH d AS (SELECT len(regexp_split_to_array(lower(trim(text)),
       |             '\\s+')) AS nt FROM documents),
       |w AS (SELECT nt, UNNEST([512, 2048, 8192]::BIGINT[]) AS win
       |      FROM d),
       |a AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(CASE WHEN nt <= win THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_fit,
       |        CAST(SUM(nt) AS BIGINT) AS tok_total,
       |        CAST(SUM(LEAST(nt, win)) AS BIGINT) AS tok_kept
       |      FROM w GROUP BY 1)
       |SELECT win, n_docs, n_fit, tok_total, tok_kept,
       |  ${sqlE6("1.0 - tok_kept::DOUBLE / tok_total::DOUBLE")} AS loss_e6
       |FROM a ORDER BY win""".stripMargin

  /** q368 oracle: exact t=0.4 pairs + recursive reachability closure
    * (the q54 pattern), cluster-size pair mass. */
  private val q368Sql: String =
    s"""WITH RECURSIVE ${exactTrigramPairCtes("0.4")},
       |edges AS (SELECT id1 AS s, id2 AS dd FROM pr
       |          UNION SELECT id2, id1 FROM pr),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id),
       |labs AS (SELECT id, MIN(lab) AS cluster_id FROM reach
       |         GROUP BY id),
       |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS m
       |          FROM labs GROUP BY 1),
       |cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |         CAST(SUM(m * (m - 1) // 2) AS BIGINT)
       |           AS n_closure_pairs
       |       FROM sizes),
       |dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_direct_pairs
       |       FROM pr)
       |SELECT n_direct_pairs, n_clusters, n_closure_pairs,
       |  ${sqlE6("1.0 - n_direct_pairs::DOUBLE / n_closure_pairs::DOUBLE")} AS gap_e6
       |FROM dp, cl ORDER BY n_direct_pairs""".stripMargin

  /** q369 oracle: identical md5 20% sample and distinct-text rates. */
  private val q369Sql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |        ${sqlHex32("md5('ds:' || doc_id::VARCHAR)")}
       |          < 858993459 AS inS
       |      FROM documents),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
       |        CAST(COUNT(DISTINCT text) AS BIGINT) AS u_full,
       |        CAST(SUM(CASE WHEN inS THEN 1 ELSE 0 END) AS BIGINT)
       |          AS n_samp,
       |        CAST(COUNT(DISTINCT CASE WHEN inS THEN text END)
       |          AS BIGINT) AS u_samp
       |      FROM d)
       |SELECT n_full, n_samp,
       |  ${sqlE6("1.0 - u_full::DOUBLE / n_full::DOUBLE")} AS rate_full_e6,
       |  ${sqlE6("CASE WHEN n_samp > 0 THEN 1.0 - u_samp::DOUBLE / n_samp::DOUBLE ELSE 0.0 END")} AS rate_samp_e6,
       |  ${sqlE6("CASE WHEN n_samp > 0 THEN ABS((1.0 - u_samp::DOUBLE / n_samp::DOUBLE) - (1.0 - u_full::DOUBLE / n_full::DOUBLE)) ELSE 0.0 END")} AS abs_err_e6
       |FROM a ORDER BY n_full""".stripMargin

  /** q370 oracle: q368's closure, per-cluster keep-first vs
    * struct-max keep-longest, byte budgets from the same lengths. */
  private val q370Sql: String =
    s"""WITH RECURSIVE ${exactTrigramPairCtes("0.4")},
       |edges AS (SELECT id1 AS s, id2 AS dd FROM pr
       |          UNION SELECT id2, id1 FROM pr),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id),
       |labs AS (SELECT id, MIN(lab) AS cluster_id FROM reach
       |         GROUP BY id),
       |dl AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len
       |       FROM documents),
       |mem AS (SELECT labs.id, labs.cluster_id, dl.len
       |        FROM labs JOIN dl ON labs.id = dl.doc_id),
       |ch AS (SELECT cluster_id, MIN(id) AS keep_first,
       |         -((MAX(struct_pack(len := len, nid := -id))).nid)
       |           AS keep_longest,
       |         CAST(COUNT(*) AS BIGINT) AS m
       |       FROM mem GROUP BY 1),
       |kf AS (SELECT CAST(SUM(dl.len) AS BIGINT) AS bytes_first
       |       FROM ch JOIN dl ON ch.keep_first = dl.doc_id),
       |kl AS (SELECT CAST(SUM(dl.len) AS BIGINT) AS bytes_longest
       |       FROM ch JOIN dl ON ch.keep_longest = dl.doc_id),
       |df AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |         CAST(SUM(CASE WHEN keep_first <> keep_longest THEN 1
       |           ELSE 0 END) AS BIGINT) AS n_diff
       |       FROM ch)
       |SELECT n_clusters, n_diff, bytes_first, bytes_longest
       |FROM df, kf, kl ORDER BY n_clusters""".stripMargin

  /** q371 oracle: the q47 md5-parity pairs + signature prefixes,
    * per-k agreement rates vs the exact Jaccard. */
  private val q371Sql: String =
    s"""WITH $minhashParityCtes,
       |jj AS (SELECT ver.id1, ver.id2, ver.jaccard,
       |         x.sig AS sa, y.sig AS sb
       |       FROM ver JOIN g x ON ver.id1 = x.doc_id
       |       JOIN g y ON ver.id2 = y.doc_id),
       |u AS (
       |  SELECT 2 AS k, jaccard,
       |    len(list_filter(range(1, 3), q -> sa[q] = sb[q]))::DOUBLE
       |      / 2.0 AS e
       |  FROM jj
       |  UNION ALL
       |  SELECT 4, jaccard,
       |    len(list_filter(range(1, 5), q -> sa[q] = sb[q]))::DOUBLE
       |      / 4.0
       |  FROM jj
       |  UNION ALL
       |  SELECT 8, jaccard,
       |    len(list_filter(range(1, 9), q -> sa[q] = sb[q]))::DOUBLE
       |      / 8.0
       |  FROM jj)
       |SELECT CAST(k AS BIGINT) AS k,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  ${sqlE6("SUM(ABS(e - jaccard)) / COUNT(*)::DOUBLE")} AS mae_e6
       |FROM u GROUP BY k ORDER BY k""".stripMargin

  /** q372 oracle: identical distinct-trigram df grid, df = 2 bridge
    * endpoints, unordered source pair counts. */
  private val q372Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS tk2
       |      FROM documents),
       |sgl AS (SELECT doc_id,
       |         CASE WHEN len(tk2) >= 3
       |              THEN list_distinct(list_transform(range(1, len(tk2) - 1),
       |                     i -> tk2[i] || ' ' || tk2[i+1] || ' ' || tk2[i+2]))
       |              ELSE [] END AS sh
       |       FROM d),
       |u AS (SELECT doc_id, unnest(sh) AS tk FROM sgl),
       |g AS (SELECT tk, COUNT(*) AS df, MIN(doc_id) AS d1,
       |        MAX(doc_id) AS d2
       |      FROM u GROUP BY 1),
       |f AS (SELECT * FROM g WHERE df = 2),
       |m AS (SELECT LEAST(a.source, b.source) AS s_lo,
       |        GREATEST(a.source, b.source) AS s_hi
       |      FROM f JOIN documents a ON f.d1 = a.doc_id
       |      JOIN documents b ON f.d2 = b.doc_id)
       |SELECT s_lo, s_hi, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |FROM m GROUP BY 1, 2 ORDER BY s_lo, s_hi""".stripMargin

  /** q373 oracle: identical distinct-trigram df grid and band pair
    * mass. */
  private val q373Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN len(tk) >= 3
       |              THEN list_distinct(list_transform(range(1, len(tk) - 1),
       |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
       |              ELSE [] END AS sh
       |  FROM d),
       |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
       |g AS (SELECT s1, CAST(COUNT(*) AS BIGINT) AS df
       |      FROM inv GROUP BY 1),
       |b AS (SELECT CASE WHEN df = 1 THEN 1 WHEN df = 2 THEN 2
       |        WHEN df <= 10 THEN 3 ELSE 4 END AS band, df
       |      FROM g)
       |SELECT CAST(band AS BIGINT) AS band,
       |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS pair_mass
       |FROM b GROUP BY 1 ORDER BY band""".stripMargin

  /** q374 oracle: identical distinct co-purchase pairs, symmetric
    * edges, strict two-hop anti-join, integer harmonic2x. */
  private val q374Sql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |            FROM lineitem JOIN part ON l_partkey = p_partkey),
       |pr AS (SELECT DISTINCT a.b AS x, c.b AS y
       |       FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b),
       |ed AS (SELECT x, y FROM pr UNION ALL SELECT y, x FROM pr),
       |deg AS (SELECT x AS brand, CAST(COUNT(*) AS BIGINT) AS degree
       |        FROM ed GROUP BY 1),
       |th AS (SELECT DISTINCT e1.x AS a, e2.y AS c
       |       FROM ed e1 JOIN ed e2 ON e1.y = e2.x AND e1.x <> e2.y),
       |two AS (SELECT a AS brand, CAST(COUNT(*) AS BIGINT) AS twohop
       |        FROM th WHERE NOT EXISTS (
       |          SELECT 1 FROM ed WHERE ed.x = th.a AND ed.y = th.c)
       |        GROUP BY 1)
       |SELECT deg.brand, degree,
       |  CAST(COALESCE(twohop, 0) AS BIGINT) AS twohop,
       |  CAST(degree * 2 + COALESCE(twohop, 0) AS BIGINT)
       |    AS harmonic2x
       |FROM deg LEFT JOIN two ON deg.brand = two.brand
       |ORDER BY deg.brand""".stripMargin

  /** q375 oracle: identical integer gate predicates, per-gate fail /
    * unique-binding counts. */
  private val q375Sql: String = {
    val perGate = Seq("g1", "g2", "g3", "g4").map { g =>
      s"""SELECT '$g' AS gate,
         |    CAST(SUM(CASE WHEN NOT $g THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fail,
         |    CAST(SUM(CASE WHEN NOT $g AND nfail = 1 THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_unique
         |  FROM gn""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH d AS (SELECT doc_id,
       |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |      FROM documents),
       |tf0 AS (SELECT doc_id, unnest(toks) AS tk2 FROM d),
       |tfc AS (SELECT doc_id, tk2, COUNT(*) AS c FROM tf0
       |        GROUP BY 1, 2),
       |tf AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt,
       |         CAST(MAX(c) AS BIGINT) AS topc,
       |         CAST(SUM(length(tk2) * c) AS BIGINT) AS lensum
       |       FROM tfc GROUP BY 1),
       |bgr AS (SELECT doc_id,
       |         unnest(CASE WHEN len(toks) >= 2
       |                THEN list_transform(range(1, len(toks)),
       |                       i -> array_to_string(toks[i:i+1], ' '))
       |                ELSE [] END) AS g2g
       |       FROM d),
       |bg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n2,
       |         CAST(COUNT(DISTINCT g2g) AS BIGINT) AS n2d
       |       FROM bgr GROUP BY 1),
       |gt AS (SELECT tf.doc_id,
       |         nt >= 20 AND nt <= 100000 AS g1,
       |         lensum >= nt * 3 AND lensum <= nt * 10 AS g2,
       |         topc * 10 <= nt AS g3,
       |         COALESCE(n2, 0) = 0 OR
       |           (COALESCE(n2, 0) - COALESCE(n2d, 0)) * 2
       |             <= COALESCE(n2, 0) AS g4
       |       FROM tf LEFT JOIN bg ON tf.doc_id = bg.doc_id),
       |gn AS (SELECT *,
       |         (CASE WHEN g1 THEN 0 ELSE 1 END +
       |          CASE WHEN g2 THEN 0 ELSE 1 END +
       |          CASE WHEN g3 THEN 0 ELSE 1 END +
       |          CASE WHEN g4 THEN 0 ELSE 1 END) AS nfail
       |       FROM gt),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(CASE WHEN nfail = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_pass
       |        FROM gn),
       |per AS (
       |  $perGate)
       |SELECT gate, n_fail, n_unique, n_docs, n_pass
       |FROM per, tot ORDER BY gate""".stripMargin
  }

  /** q376 oracle: identical exact-cents revenue / tax-inclusive /
    * pseudo-cost sums per segment. */
  private val q376Sql: String =
    s"""WITH li AS (SELECT l_orderkey,
       |         CAST(l_quantity AS BIGINT) AS qty,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
       |           AS BIGINT) AS rev_c,
       |         CAST(ROUND(l_extendedprice * (1 - l_discount) *
       |           (1 + l_tax) * 100) AS BIGINT) AS revtax_c,
       |         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS ret_c
       |       FROM lineitem JOIN part ON l_partkey = p_partkey),
       |oc AS (SELECT o_orderkey, c_mktsegment
       |       FROM orders JOIN customer ON o_custkey = c_custkey)
       |SELECT c_mktsegment AS segment,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(rev_c) AS BIGINT) AS rev_c,
       |  CAST(SUM(revtax_c) AS BIGINT) AS revtax_c,
       |  CAST(SUM(ret_c * qty) AS BIGINT) AS cost_c,
       |  ${sqlE6("1.0 - SUM(ret_c * qty)::DOUBLE / SUM(rev_c)::DOUBLE")} AS margin_e6
       |FROM li JOIN oc ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY segment""".stripMargin

  /** q377 oracle: identical per-(brand, supplier) counts and exact
    * HHI ratio. */
  private val q377Sql: String =
    s"""WITH g AS (SELECT p_brand AS brand, l_suppkey,
       |        CAST(COUNT(*) AS BIGINT) AS c
       |      FROM lineitem JOIN part ON l_partkey = p_partkey
       |      GROUP BY 1, 2),
       |a AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       |        CAST(SUM(c) AS BIGINT) AS n_lines,
       |        CAST(SUM(c * c) AS BIGINT) AS c2
       |      FROM g GROUP BY 1)
       |SELECT brand, n_suppliers, n_lines,
       |  ${sqlE6("c2::DOUBLE / (n_lines::DOUBLE * n_lines::DOUBLE)")} AS hhi_e6
       |FROM a ORDER BY brand""".stripMargin

  /** q378 oracle: identical status grid, within-order-status shares,
    * deterministic majority rank. */
  private val q378Sql: String =
    s"""WITH g AS (SELECT o_orderstatus AS os, l_linestatus AS ls,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |      GROUP BY 1, 2),
       |m AS (SELECT os, ls, n,
       |        CAST(SUM(n) OVER (PARTITION BY os) AS BIGINT) AS tot,
       |        ROW_NUMBER() OVER (PARTITION BY os
       |          ORDER BY n DESC, ls) AS rk
       |      FROM g)
       |SELECT os, ls, n,
       |  ${sqlE6("n::DOUBLE / tot::DOUBLE")} AS share_e6,
       |  rk = 1 AS is_majority
       |FROM m ORDER BY os, ls""".stripMargin

  /** q379 oracle: identical per-(label, dim) centroid averages,
    * norms, and pair dot products. */
  private val q379Sql: String =
    s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |u AS (SELECT label, unnest(v) AS val,
       |        generate_subscripts(v, 1) AS dim
       |      FROM e),
       |cent AS (SELECT label, dim, AVG(val) AS m FROM u
       |         GROUP BY 1, 2),
       |nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e
       |       GROUP BY 1),
       |nrm AS (SELECT label, SQRT(SUM(m * m)) AS nrm FROM cent
       |        GROUP BY 1),
       |dots AS (SELECT a.label AS l1, b.label AS l2,
       |           SUM(a.m * b.m) AS dot
       |         FROM cent a JOIN cent b
       |         ON a.dim = b.dim AND a.label < b.label
       |         GROUP BY 1, 2)
       |SELECT l1, l2, x.n AS n1, y.n AS n2,
       |  ${sqlE6("dot / (nx.nrm * ny.nrm)")} AS cos_e6
       |FROM dots JOIN nn x ON l1 = x.label JOIN nn y ON l2 = y.label
       |JOIN nrm nx ON l1 = nx.label JOIN nrm ny ON l2 = ny.label
       |ORDER BY l1, l2""".stripMargin

  // q380 oracle: the plain join (the bloom prune is exact-join-
  // preserving; the aggregate-path plan shape is spec-pinned).
  private val q380Sql: String =
    """SELECT l_returnflag,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(l_quantity) AS BIGINT) AS qty_sum,
      |       COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '2-HIGH' AND o.o_custkey % 7 = 0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q382 oracle: the q368 recursive closure at t=0.4, cluster sizes
    * folded into a per-size histogram. */
  private val q382Sql: String =
    s"""WITH RECURSIVE ${exactTrigramPairCtes("0.4")},
       |edges AS (SELECT id1 AS s, id2 AS dd FROM pr
       |          UNION SELECT id2, id1 FROM pr),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dd, r.lab FROM reach r JOIN edges e ON e.s = r.id),
       |labs AS (SELECT id, MIN(lab) AS cluster_id FROM reach
       |         GROUP BY id),
       |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS m
       |          FROM labs GROUP BY 1)
       |SELECT m, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(m * COUNT(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY m ORDER BY m""".stripMargin

  val queries: Seq[Query] = Seq(
    // store-backed audits: the oracle is the PLAIN full-corpus
    // derivation — a green row IS the store-vs-scan equality pin
    // (q383 additionally pins write+append == one-shot rebuild)
    Query("q383_store_append", q383, q368Sql),
    Query("q382_store_clusters", q382, q382Sql),
    Query("q381_store_sweep", q381, q366Sql),
    Query("q380_bloom_agg_join", q380, q380Sql),
    Query("q379_label_separation", q379, q379Sql),
    Query("q378_status_grid", q378, q378Sql),
    Query("q377_supplier_hhi", q377, q377Sql),
    Query("q376_segment_margin", q376, q376Sql),
    Query("q375_gate_attribution", q375, q375Sql),
    Query("q374_copurchase_centrality", q374, q374Sql),
    Query("q373_shingle_df_tail", q373, q373Sql),
    Query("q372_rare_shingle_leakage", q372, q372Sql),
    Query("q371_minhash_k_sensitivity", q371, q371Sql),
    Query("q370_keep_policy", q370, q370Sql),
    Query("q369_sampled_dup_rate", q369, q369Sql),
    Query("q368_transitivity_audit", q368, q368Sql),
    Query("q367_context_window_fit", q367, q367Sql),
    Query("q366_dedup_threshold_sweep", q366, q366Sql),
    Query("q365_winsor_sweep", q365, q365Sql),
    Query("q364_purchase_reach", q364, q364Sql),
    Query("q363_pacf_check", q363, q363Sql),
    Query("q362_cochran_armitage", q362, q362Sql),
    Query("q361_brier_decomp", q361, q361Sql),
    Query("q360_cox_stuart", q360, q360Sql),
    Query("q359_mase_eval", q359, q359Sql),
    Query("q358_source_dedup_matrix", q358, q358Sql),
    Query("q357_pair_rouge", q357, q357Sql),
    Query("q356_beta_binomial", q356, q356Sql),
    Query("q355_yuen_trimmed_t", q355, q355Sql),
    Query("q354_grubbs_test", q354, q354Sql),
    Query("q353_negbin_fit", q353, q353Sql),
    Query("q352_chow_test", q352, q352Sql),
    Query("q351_atkinson_index", q351, q351Sql),
    Query("q350_cronbach_alpha", q350, q350Sql),
    Query("q349_markov_homogeneity", q349, q349Sql),
    Query("q348_chapman_kolmogorov", q348, q348Sql),
    Query("q347_gap_episodes", q347, q347Sql),
    Query("q346_markov_loglik", q346, q346Sql),
    Query("q345_cramers_v", q345, q345Sql),
    Query("q344_dwell_time", q344, q344Sql),
    Query("q343_bh_fdr", q343, q343Sql),
    Query("q342_mcnemar", q342, q342Sql),
    Query("q341_page_hinkley", q341, q341Sql),
    Query("q340_episode_trigrams", q340, q340Sql),
    Query("q339_durbin_watson", q339, q339Sql),
    Query("q338_markov_chain", q338, q338Sql),
    Query("q337_shift_share", q337, q337Sql),
    Query("q336_het_test", q336, q336Sql),
    Query("q335_topsis_rank", q335, q335Sql),
    Query("q334_score_cindex", q334, q334Sql),
    Query("q333_jarque_bera", q333, q333Sql),
    Query("q332_runs_test", q332, q332Sql),
    Query("q331_mann_kendall", q331, q331Sql),
    Query("q330_price_index", q330, q330Sql),
    Query("q329_design_effect", q329, q329Sql),
    Query("q328_max_drawdown", q328, q328Sql),
    Query("q327_kendall_tau", q327, q327Sql),
    Query("q326_capture_recapture", q326, q326Sql),
    Query("q325_gumbel_maxima", q325, q325Sql),
    Query("q324_mutual_information", q324, q324Sql),
    Query("q323_effect_sizes", q323, q323Sql),
    Query("q322_newsvendor", q322, q322Sql),
    Query("q321_price_stickiness", q321, q321Sql),
    Query("q320_audience_overlap", q320, q320Sql),
    Query("q319_knee_detection", q319, q319Sql),
    Query("q318_abc_xyz", q318, q318Sql),
    Query("q317_theil_sen", q317, q317Sql),
    Query("q316_basket_diversity", q316, q316Sql),
    Query("q315_position_attribution", q315, q315Sql),
    Query("q314_churn_hazard", q314, q314Sql),
    Query("q313_lag_xcorr", q313, q313Sql),
    Query("q312_bowley_iqr", q312, q312Sql),
    Query("q311_pareto_frontier", q311, q311Sql),
    Query("q310_qq_normality", q310, q310Sql),
    Query("q309_adf_quickcheck", q309, q309Sql),
    Query("q308_peak_days", q308, q308Sql),
    Query("q307_em_step", q307, q307Sql),
    Query("q306_did_estimate", q306, q306Sql),
    Query("q305_sprt_monitor", q305, q305Sql),
    Query("q304_levene_test", q304, q304Sql),
    Query("q303_simpson_audit", q303, q303Sql),
    Query("q302_ece_calibration", q302, q302Sql),
    Query("q301_fleiss_kappa", q301, q301Sql),
    Query("q300_negative_sampling", q300, q300Sql),
    Query("q299_qte_deciles", q299, q299Sql),
    Query("q298_binseg_break", q298, q298Sql),
    Query("q297_hurst_exponent", q297, q297Sql),
    Query("q296_lorenz_gini", q296, q296Sql),
    Query("q295_brand_switching", q295, q295Sql),
    Query("q294_completeness_audit", q294, q294Sql),
    Query("q293_growth_accounting", q293, q293Sql),
    Query("q292_uncertainty_audit", q292, q292Sql),
    Query("q291_decay_popularity", q291, q291Sql),
    Query("q290_conformal_interval", q290, q290Sql),
    Query("q289_sma_crossover", q289, q289Sql),
    Query("q288_holt_winters", q288, q288Sql),
    Query("q287_aging_buckets", q287, q287Sql),
    Query("q286_kfold_assign", q286, q286Sql),
    Query("q285_readability", q285, q285Sql),
    Query("q284_streak_hist", q284, q284Sql),
    Query("q283_gains_table", q283, q283Sql),
    Query("q282_bimodality", q282, q282Sql),
    Query("q281_whale_share", q281, q281Sql),
    Query("q280_poisson_bootstrap", q280, q280Sql),
    Query("q279_gaussian_nb", q279, q279Sql),
    Query("q278_kde_profile", q278, q278Sql),
    Query("q277_dup_invoices", q277, q277Sql),
    Query("q276_adamic_adar", q276, q276Sql),
    Query("q275_backtest", q275, q275Sql),
    Query("q274_auc_rank", q274, q274Sql),
    Query("q273_price_heatmap", q273, q273Sql),
    Query("q272_order_size_dispersion", q272, q272Sql),
    Query("q271_entry_conversion", q271, q271Sql),
    Query("q270_two_way_anova", q270, q270Sql),
    Query("q269_weighted_median", q269, q269Sql),
    Query("q268_late_lines", q268, q268Sql),
    Query("q267_nb_confusion", q267, q267Sql),
    Query("q266_new_vs_repeat", q266, q266Sql),
    Query("q265_migration_matrix", q265, q265Sql),
    Query("q264_volatility", q264, q264Sql),
    Query("q263_pattern_sessions", q263, q263Sql),
    Query("q262_revenue_spine", q262, q262Sql),
    Query("q261_integrity_audit", q261, q261Sql),
    Query("q260_robust_means", q260, q260Sql),
    Query("q259_sigma_coverage", q259, q259Sql),
    Query("q258_heldout_xent", q258, q258Sql),
    Query("q257_spearman", q257, q257Sql),
    Query("q256_corr_matrix", q256, q256Sql),
    Query("q255_good_turing", q255, q255Sql),
    Query("q254_stump_split", q254, q254Sql),
    Query("q253_elasticity", q253, q253Sql),
    Query("q252_jsd_drift", q252, q252Sql),
    Query("q251_ab_sig", q251, q251Sql),
    Query("q250_transition_entropy", q250, q250Sql),
    Query("q249_scd2_intervals", q249, q249Sql),
    Query("q248_rev_bridge", q248, q248Sql),
    Query("q247_dow_decompose", q247, q247Sql),
    Query("q246_power_analysis", q246, q246Sql),
    Query("q245_trigram_coverage", q245, q245Sql),
    Query("q244_degree_hist", q244, q244Sql),
    Query("q243_churn_label", q243, q243Sql),
    Query("q242_theil_index", q242, q242Sql),
    Query("q241_hill_tail", q241, q241Sql),
    Query("q240_session_paths", q240, q240Sql),
    Query("q239_assortativity", q239, q239Sql),
    Query("q238_returns_by_brand", q238, q238Sql),
    Query("q237_bfs_dist", q237, q237Sql),
    Query("q236_dow_hour_heatmap", q236, q236Sql),
    Query("q235_hhi_concentration", q235, q235Sql),
    Query("q234_ltv_curve", q234, q234Sql),
    Query("q233_mor_snapshot", q233, q233Sql),
    Query("q232_order_gaps", q232, q232Sql),
    Query("q231_binary_eval", q231, q231Sql),
    Query("q230_ship_lag", q230, q230Sql),
    Query("q229_stickiness", q229, q229Sql),
    Query("q228_agg_merge", q228, q228Sql),
    Query("q227_rolling_dau", q227, q227Sql),
    Query("q226_pareto_abc", q226, q226Sql),
    Query("q225_rfm_segments", q225, q225Sql),
    Query("q224_card_est", q224, q224Sql),
    Query("q223_skew_advisor", q223, q223Sql),
    Query("q222_holt_forecast", q222, q222Sql),
    Query("q221_ipw_estimate", q221, q221Sql),
    Query("q220_dow_seasonality", q220, q220Sql),
    Query("q219_daily_acf", q219, q219Sql),
    Query("q218_compaction_plan", q218, q218Sql),
    Query("q217_kaplan_meier", q217, q217Sql),
    Query("q216_basket_lift", q216, q216Sql),
    Query("q215_mann_whitney", q215, q215Sql),
    Query("q214_ols_lines_price", q214, q214Sql),
    Query("q213_cramers_v", q213, q213Sql),
    Query("q212_snake_shards", q212, q212Sql),
    Query("q211_cuped", q211, q211Sql),
    Query("q210_exp_fit_ks", q210, q210Sql),
    Query("q209_benford", q209, q209Sql),
    Query("q208_cusum_shift", q208, q208Sql),
    Query("q207_weighted_jaccard", q207, q207Sql),
    Query("q206_retrieval_ndcg", q206, q206Sql),
    Query("q205_snapshot_diff", q205, q205Sql),
    Query("q204_revenue_share", q204, q204Sql),
    Query("q203_monthly_growth", q203, q203Sql),
    Query("q202_cube_pricing", q202, q202Sql),
    Query("q201_rollup_revenue", q201, q201Sql),
    Query("q200_multi_touch", q200, q200Sql),
    Query("q199_last_touch", q199, q199Sql),
    Query("q198_symspell_pairs", q198, q198Sql),
    Query("q197_jw_top_match", q197, q197Sql),
    Query("q196_minhash_calib", q196, q196Sql),
    Query("q195_two_hop_reach", q195, q195Sql),
    Query("q194_mad_outliers", q194, q194Sql),
    Query("q193_index_bm25", q193, q193Sql),
    Query("q192_window_pmi", q192, q192Sql),
    Query("q191_dedup_savings", q191, q191Sql),
    Query("q190_lsh_tuning", q190, q190Sql),
    Query("q189_ppjoin_pairs", q189, q189Sql),
    Query("q188_trunc_recall", q188, q188Sql),
    Query("q187_embed_health", q187, q187Sql),
    Query("q186_pair_bleu", q186, q186Sql),
    Query("q185_dp_counts", q185, q185Sql),
    Query("q184_epoch_plan", q184, q184Sql),
    Query("q183_psi_drift", q183, q183Sql),
    Query("q182_walk_pairs", q182, q182Sql),
    Query("q181_ann_recall", q181, q181Sql),
    Query("q180_walk_corpus", q180, q180Sql),
    Query("q179_split_leakage", q179, q179Sql),
    Query("q178_phrase_search", q178, q178Sql),
    Query("q177_tfidf_knn", q177, q177Sql),
    Query("q176_k_anonymity", q176, q176Sql),
    Query("q175_edit_pairs", q175, q175Sql),
    Query("q174_ppr_seed", q174, q174Sql),
    Query("q173_session_cooccur", q173, q173Sql),
    Query("q172_redact_fingerprint", q172, q172Sql),
    Query("q171_cluster_sizes", q171, q171Sql),
    Query("q170_cluster_purity", q170, q170Sql),
    Query("q169_length_gini", q169, q169Sql),
    Query("q168_event_rate_ma", q168, q168Sql),
    Query("q167_source_centroid_pairs", q167, q167Sql),
    Query("q166_dedup_sensitivity", q166, q166Sql),
    Query("q165_method_agreement", q165, q165Sql),
    Query("q164_event_transitions", q164, q164Sql),
    Query("q163_lexical_diversity", q163, q163Sql),
    Query("q162_dataset_card", q162, q162Sql),
    Query("q161_top_span", q161, q161Sql),
    Query("q160_gate_rates", q160, q160Sql),
    Query("q159_quant_error", q159, q159Sql),
    Query("q158_degree_stats", q158, q158Sql),
    Query("q157_max_token_run", q157, q157Sql),
    Query("q156_vocab_growth", q156, q156Sql),
    Query("q155_prefix_template", q155, q155Sql),
    Query("q154_source_chi2", q154, q154Sql),
    Query("q153_trigram_commonness", q153, q153Sql),
    Query("q152_quantile_norm", q152, q152Sql),
    Query("q151_user_burstiness", q151, q151Sql),
    Query("q150_kcore", q150, q150Sql),
    Query("q149_containment_pairs", q149, q149Sql),
    Query("q148_lang_centroid_skew", q148, q148Sql),
    Query("q147_zscore_rank", q147, q147Sql),
    Query("q146_dedup_impact", q146, q146Sql),
    Query("q145_centroid_skew", q145, q145Sql),
    Query("q144_token_fertility", q144, q144Sql),
    Query("q143_vocab_sketch", q143, q143Sql),
    Query("q142_vocab_jaccard", q142, q142Sql),
    Query("q141_mixture_reweight", q141, q141Sql),
    Query("q140_props_extract", q140, q140Sql),
    Query("q139_cluster_agreement", q139, q139Sql),
    Query("q138_weighted_pagerank", q138, q138Sql),
    Query("q137_rrf_fusion", q137, q137Sql),
    Query("q136_cluster_downsample", q136, q136Sql),
    Query("q135_label_noise", q135, q135Sql),
    Query("q134_modularity", q134, q134Sql),
    Query("q133_cluster_reps", q133, q133Sql),
    Query("q132_quality_budget", q132, q132Sql),
    Query("q131_calibration", q131, q131Sql),
    Query("q130_collocations", q130, q130Sql),
    Query("q129_ks_drift", q129, q129Sql),
    Query("q128_hll_overlap", q128, q128Sql),
    Query("q127_rank_blend", q127, q127Sql),
    Query("q126_hits", q126, q126Sql),
    Query("q125_prototypicality", q125, q125Sql),
    Query("q124_ngram_novelty", q124, q124Sql),
    Query("q123_boilerplate_grams", q123, q123Sql),
    Query("q122_vocab_coverage", q122, q122Sql),
    Query("q121_hll_distinct", q121, q121Sql),
    Query("q120_lsh_collision_stats", q120, q120Sql),
    Query("q119_knn_graph", q119, q119Sql),
    Query("q118_quality_score", q118, q118Sql),
    Query("q117_label_prop", q117, q117Sql),
    Query("q116_triangle_cc", q116, q116Sql),
    Query("q115_pagerank", q115, q115Sql),
    Query("q114_logreg_quality", q114, q114Sql),
    Query("q113_cohort_retention", q113, q113Sql),
    Query("q112_funnel", q112, q112Sql),
    Query("q111_embedding_contamination", q111, q111Sql),
    Query("q110_zorder_key", q110, q110Sql),
    Query("q109_cosine_near_dup", q109, q109Sql),
    Query("q108_priority_sample", q108, q108Sql),
    Query("q107_table_profile", q107, q107Sql),
    Query("q106_multiprobe_lsh", q106, q106Sql),
    Query("q105_ivfpq_topk", q105, q105Sql),
    Query("q104_grouped_topk", q104, q104Sql),
    Query("q103_sampled_quantiles", q103, q103Sql),
    Query("q102_ivf_index", q102, q102Sql),
    Query("q101_bloom_join", q101, q101Sql),
    Query("q100_pq_topk", q100, q100Sql),
    Query("q99_quality_mix", q99, q99Sql),
    Query("q98_token_budget_mix", q98, q98Sql),
    Query("q97_dedup_spans", q97, q97Sql),
    Query("q96_dsir_weights", q96, q96Sql),
    Query("q95_bm25", q95, q95Sql),
    Query("q92_c4_rules", q92, q92Sql),
    Query("q89_resize_sample", q89, q89Sql),
    Query("q88_event_anomaly", q88, q88Sql),
    Query("q87_source_kl", q87, q87Sql),
    Query("q86_cms_heavy_hitters", q86, q86Sql),
    Query("q85_char_entropy", q85, q85Sql),
    Query("q84_random_project", q84, q84Sql),
    Query("q83_winsorize", q83, q83Sql),
    Query("q82_pca_project", q82, q82Sql),
    Query("q81_nb_classify", q81, q81Sql),
    Query("q80_zipf_fit", q80, q80Sql),
    Query("q79_bpe_encode", q79, q79Sql),
    Query("q78_temperature_mix", q78, q78Sql),
    Query("q77_dup_ngram_spans", q77, q77Sql),
    Query("q76_bigram_lm", q76, q76Sql),
    Query("q75_token_drift", q75, q75Sql),
    Query("q74_bpe_train", q74, q74Sql),
    Query("q73_prep_pipeline", q73, q73Sql),
    Query("q72_group_cap", q72, q72Sql),
    Query("q71_resample", q71, q71Sql),
    Query("q70_delta_dedup", q70, q70Sql),
    Query("q69_unigram_rarity", q69, q69Sql),
    Query("q68_semantic_dedup", q68, q68Sql),
    Query("q67_kmeans_int8", q67, q67Sql),
    Query("q66_seq_pack", q66, q66Sql),
    Query("q65_int8_topk", q65, q65Sql),
    Query("q64_int8_quantize", q64, q64Sql),
    Query("q63_dedup_corpus", q63, q63Sql),
    Query("q61_ntile_quartiles", q61, q61Sql),
    Query("q62_pivot_counts", q62, q62Sql),
    Query("q59_label_centroids", q59, q59Sql),
    Query("q60_histogram", q60, q60Sql),
    Query("q57_gap_sessions", q57, q57Sql),
    Query("q58_contamination", q58, q58Sql),
    Query("q54_dedup_clusters", q54, q54Sql),
    Query("q55_repetition_stats", q55, q55Sql),
    Query("q56_top_ngrams", q56, q56Sql),
    Query("q49_kmv_distinct", q49, q49Sql),
    Query("q50_asof_forward", q50, q50Sql),
    Query("q51_doc_chunks", q51, q51Sql),
    Query("q52_split_assign", q52, q52Sql),
    Query("q53_redaction", q53, q53Sql),
    Query("q29_ann_lsh_topk", q29, q29Sql),
    Query("q30_multimodal_features", q30, q30Sql),
    Query("q31_embedding_neardup", q31, q31Sql),
    Query("q32_frame_sample", q32, q32Sql),
    Query("q40_ivf_topk", q40, q40Sql),
    Query("q41_rolling_fingerprint", q41, q41Sql),
    Query("q42_asof_join", q42, q42Sql),
    Query("q43_range_join", q43, q43Sql),
    Query("q44_group_quantiles", q44, q44Sql),
    Query("q45_stratified_sample", q45, q45Sql),
    Query("q46_tfidf", q46, q46Sql),
    Query("q47_minhash_lsh_parity", q47, q47Sql),
    Query("q48_simhash_parity", q48, q48Sql),
    Query("q26_minhash_lsh_dedup", q26, q26Sql),
    Query("q27_simhash_neardup", q27, q27Sql),
    Query("q35_corpus_curation", q35,
      """WITH d AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
        |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
        |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
        |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
        |  FROM d),
        |qd AS (
        |  SELECT doc_id, text, toks FROM m
        |  WHERE ROUND((LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
        |               (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0, 6) >= 0.87),
        |kept AS (
        |  SELECT MIN(doc_id) AS doc_id FROM qd GROUP BY md5(lower(trim(text)))),
        |sc AS (
        |  SELECT len(list_filter(q.toks, t -> list_contains(['scan','row','table','filter'], t))) AS s1,
        |         len(list_filter(q.toks, t -> list_contains(['join','merge','key','hash'], t))) AS s2,
        |         len(list_filter(q.toks, t -> list_contains(['stream','window','batch','order'], t))) AS s3
        |  FROM kept k JOIN qd q ON k.doc_id = q.doc_id),
        |p AS (
        |  SELECT CASE WHEN GREATEST(s1, s2, s3) <= 0 THEN 'und'
        |              WHEN s1 = GREATEST(s1, s2, s3) THEN 'scanic'
        |              WHEN s2 = GREATEST(s1, s2, s3) THEN 'joinic'
        |              ELSE 'streamic' END AS lang_pred
        |  FROM sc)
        |SELECT lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q33_welch_agg", q33,
      """WITH a AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*) n
        |           FROM events WHERE event_type = 'click'),
        |     b AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*) n
        |           FROM events WHERE event_type = 'view')
        |SELECT ROUND((a.m - b.m) / SQRT(a.v/a.n + b.v/b.n), 6) AS t,
        |       ROUND(POWER(a.v/a.n + b.v/b.n, 2) /
        |             (POWER(a.v/a.n, 2)/(a.n-1) + POWER(b.v/b.n, 2)/(b.n-1)), 6) AS df
        |FROM a, b""".stripMargin),
    Query("q34_welch_pvalue", q34, q34Sql),
    Query("q21_dedup_exact", q21,
      """SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
    Query("q22_text_quality", q22,
      """WITH d AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text,
        |         len(toks) AS n_tokens,
        |         len(list_filter(toks, t -> list_contains(['a','the','and','of','to','data'], t)))
        |           * 1.0 / GREATEST(len(toks), 1) AS stop_ratio,
        |         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        |           * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
        |         length(text) * 1.0 / GREATEST(len(toks), 1) AS mean_len
        |  FROM d)
        |SELECT doc_id, n_tokens,
        |       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> len(t) > 0)) AS n_subwords,
        |       CAST(ROUND(stop_ratio * 1e6, 0) AS BIGINT) AS stop_ratio_e6,
        |       CAST(ROUND(punct_ratio * 1e6, 0) AS BIGINT) AS punct_ratio_e6,
        |       CAST(ROUND((LEAST(mean_len / 8.0, 1.0) + (1.0 - stop_ratio) +
        |              (1.0 - LEAST(punct_ratio * 5.0, 1.0))) / 3.0 * 1e6, 0) AS BIGINT) AS quality_e6
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("q23_lang_id", q23,
      """WITH d AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT len(list_filter(toks, t -> list_contains(['scan','row','table','filter'], t))) AS s1,
        |         len(list_filter(toks, t -> list_contains(['join','merge','key','hash'], t))) AS s2,
        |         len(list_filter(toks, t -> list_contains(['stream','window','batch','order'], t))) AS s3
        |  FROM d),
        |p AS (
        |  SELECT CASE WHEN GREATEST(s1, s2, s3) <= 0 THEN 'und'
        |              WHEN s1 = GREATEST(s1, s2, s3) THEN 'scanic'
        |              WHEN s2 = GREATEST(s1, s2, s3) THEN 'joinic'
        |              ELSE 'streamic' END AS lang_pred
        |  FROM s)
        |SELECT lang_pred, COUNT(*) AS n FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q24_minhash_fingerprint", q24,
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |                     i -> array_to_string(toks[i:i+2], ' ')))
        |              ELSE [] END AS sh
        |  FROM d)
        |SELECT doc_id,
        |       list_min(list_transform(sh, x -> md5('0:' || x))) AS fp0,
        |       list_min(list_transform(sh, x -> md5('1:' || x))) AS fp1
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q25_ngram_jaccard", q25,
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id < 100),
        |s AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 2
        |              THEN list_distinct(list_transform(range(1, len(toks)),
        |                     i -> array_to_string(toks[i:i+1], ' ')))
        |              ELSE [] END AS sh
        |  FROM d),
        |inv AS (SELECT doc_id, unnest(sh) AS s1 FROM s),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
        |  FROM inv a JOIN inv b ON a.s1 = b.s1 AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM s)
        |SELECT id1, id2,
        |       CAST(ROUND(shared::DOUBLE / (x.n + y.n - shared) * 1e6, 0) AS BIGINT) AS jacc_e6
        |FROM p JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
        |WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.1
        |ORDER BY id1, id2""".stripMargin),
    Query("q28_cosine_topk", q28,
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosim
        |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, nid, cosim,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosim DESC, nid) AS rk
        |  FROM scored)
        |SELECT qid, nid, ROUND(cosim, 6) AS cos FROM ranked WHERE rk <= 5
        |ORDER BY qid, cosim DESC, nid""".stripMargin))
}
