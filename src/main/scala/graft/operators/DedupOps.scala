package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each shaped for
  * 100 TB: exact dedup is one hash-shuffle; near-dup methods generate
  * candidates by *bucket join* (LSH bands / shared shingles / SimHash
  * bands / hyperplane buckets) so no O(n^2) cross join ever appears —
  * the shuffle key is always a bucket id, and verification runs only on
  * candidate pairs.
  */
object DedupOps {

  /** The normalized content-identity key shared by the batch and
    * streaming exact-dedup paths — ONE definition so the two can
    * never silently diverge. */
  def contentHash(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup on a normalized key: one row per distinct key with the
    * smallest id as the survivor and the duplicate count. Single
    * hash-shuffle, partial+final agg. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))

  /** Tokenize -> shingle -> distinct, each stage its own projection so
    * nothing is re-evaluated inside downstream lambdas. */
  private[graft] def stagedShingles(df: DataFrame, idCol: String,
                                    textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        TextOps.shinglesFromTokens(col("toks"), n).as("sh0"))
      .select(col("doc_id"), array_distinct(col("sh0")).as("sh"))

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle (inverted-index join — the exact method; use
    * [[minhashLshCandidates]] when even the inverted index is too hot).
    * Returns (id1, id2, jaccard) for pairs with jaccard >= threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // tokenize+shingle feeds FOUR consumers (both inverted-index join
    // sides + both size joins) — materialize once; the checkpoint keeps
    // its origin's size estimate, so the planner still broadcasts the
    // size table when it is small
    val sh = stagedShingles(df, idCol, textCol, n).localCheckpoint(false)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val shared = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("nsh", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("nsh", "n2"), "id2")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** LSH band-configuration tuning sweep: [[lshCollisionStats]] for
    * EVERY (bands, rowsPerBand) split of one k-component signature,
    * from ONE signature aggregation — the "pick b and r before the
    * dedup run" planning query. More bands/fewer rows = more
    * candidates (higher recall, more verify cost); the sweep shows
    * the frontier on the actual corpus: per config, total buckets,
    * colliding buckets, the candidate-pair mass Σ m(m−1)/2 a dedup
    * run would verify, and the largest bucket. All integers —
    * engine-exact.
    *
    * Scale: the signature table is checkpointed once and each config
    * adds one banding aggregation over doc×k rows — no pairs are
    * ever materialized. */
  def lshBandTuningSweep(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, k: Int,
                         bandsList: Seq[Int]): DataFrame = {
    require(bandsList.nonEmpty && bandsList.forall(b => b >= 1 && k % b == 0),
      s"every bands value must divide k=$k, got $bandsList")
    val sh = stagedShingles(df, idCol, textCol, shingleN)
    val sig = md5MinhashSig(
      sh.select(col("doc_id"), explode(col("sh")).as("s")), k)
      .localCheckpoint(false)
    bandsList.map { b =>
      val exploded = sig.select(col("doc_id"), posexplode(col("sig")))
      val banded = bandBuckets(exploded, k / b, Seq("doc_id"))
      banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("m") >= 2, 1L).otherwise(0L)).as("n_buckets_ge2"),
          sum(when(col("m") >= 2, expr("m * (m - 1) DIV 2"))
            .otherwise(0L)).as("cand_pairs"),
          max(col("m")).as("max_bucket"))
        .select(lit(b).as("bands"), lit(k / b).as("rows_per_band"),
          col("n_buckets"), col("n_buckets_ge2"), col("cand_pairs"),
          col("max_bucket"))
    }.reduce(_ unionByName _)
  }

  /** MinHash estimator calibration: for the md5-parity LSH candidate
    * pairs, compare the SIGNATURE-estimated Jaccard (matching
    * components / k — the unbiased MinHash estimate) against the
    * exact set Jaccard, aggregated to MAE and signed bias — "is k
    * big enough, and is the banding feeding us honest candidates" as
    * one bounded query (pairs only; the corpus is never pairwise).
    * Same signature/banding/verify machinery as the q47 parity
    * operator, so any oracle can replay it term for term.
    * Output (single row): n_pairs, mae, bias (doubles — pin at the
    * call site). */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 2, k: Int = 8, bands: Int = 4,
                         maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sh = stagedShingles(df, idCol, textCol, shingleN)
      .localCheckpoint(false)
    val sig = md5MinhashSig(
        sh.select(col("doc_id"), explode(col("sh")).as("s")), k)
      .localCheckpoint(false)
    val shSz = sh.select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    val exact = verifyJaccard(
      bandPairs(sig, bands, k / bands, maxBucketSize,
        needBarrier = false),
      shSz, "sh", threshold = 0.0)
    exact
      .join(sig.select(col("doc_id").as("id1"), col("sig").as("g1")),
        "id1")
      .join(sig.select(col("doc_id").as("id2"), col("sig").as("g2")),
        "id2")
      .withColumn("est",
        size(filter(zip_with(col("g1"), col("g2"), (x, y) => x === y),
          b => b)).cast("double") / k)
      .agg(count(lit(1)).as("n_pairs"),
        avg(abs(col("est") - col("jaccard"))).as("mae"),
        avg(col("est") - col("jaccard")).as("bias"))
  }

  /** Exact-dedup storage-savings accounting per group (source /
    * shard / language): how many docs and bytes survive a global
    * keep-first-occurrence content dedup, attributed to the group of
    * each DROPPED copy — the capacity-planning report behind "dedup
    * saves us N% of the training corpus". One content-hash
    * aggregation + one hash-keyed join back + one group rollup.
    * Output: group, n_docs, n_kept, bytes, kept_bytes, savings
    * (= 1 - kept_bytes/bytes, double — pin at call site). */
  def dedupSavingsReport(df: DataFrame, idCol: String, groupCol: String,
                         textCol: String, bytesCol: Column): DataFrame = {
    val d = df.select(col(idCol).cast("long").as("__id"),
      col(groupCol).as("group"), bytesCol.cast("long").as("__b"),
      contentHash(col(textCol)).as("__h"))
    val keep = d.groupBy(col("__h")).agg(min(col("__id")).as("__keeper"))
    d.join(keep, "__h")
      .withColumn("__kept", col("__id") === col("__keeper"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__b")).as("bytes"),
        sum(when(col("__kept"), col("__b")).otherwise(0L))
          .as("kept_bytes"))
      .withColumn("savings",
        lit(1.0) - col("kept_bytes").cast("double") / col("bytes"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.
    * WWW'08) — the scale path for [[ngramJaccardPairs]], LOSSLESSLY:
    * two sets can reach Jaccard >= t only if they share a shingle
    * inside their (|S| - ceil(t|S|) + 1)-prefixes under one global
    * canonical order (rarest-first: df asc, shingle asc), so only
    * prefix shingles enter the inverted-index join. At t = 0.4 a
    * 500-shingle doc indexes 301 shingles instead of 500, and —
    * decisive at scale — the ubiquitous high-df shingles that
    * dominate the full index's df^2 join fan-out sort to the END of
    * the canonical order and mostly drop out of every prefix.
    * Verification is exact: candidates join back to the full shingle
    * ARRAYS (doc-length-bounded) and score size(array_intersect) —
    * no second corpus-wide term join. Same output contract and same
    * Jaccard op sequence as [[ngramJaccardPairs]]; results are
    * identical by the prefix-filter theorem (the equivalence is
    * spec-pinned, and the ORACLE is the plain exact derivation).
    *
    * VERBATIM-DUPLICATE COLLAPSE (the duplicate-group C(g,2) fix):
    * real crawl corpora are duplicate-heavy, and a group of g
    * byte-identical texts shares every shingle, so every one of its
    * C(g,2) pairs survives the prefix filter and pays a full
    * array_intersect verify at J=1 — a QUADRATIC verify cost per
    * duplicate group. Identical texts are interchangeable, so the
    * prefix join + verify here run over DISTINCT texts only
    * ([[collapseVerbatimTexts]]) and the per-doc pairs are expanded
    * afterwards from the membership table (within-group pairs at
    * J = 1, cross-group pairs inheriting the representative pair's
    * jaccard) — the expansion is a cheap hash join that is linear in
    * the OUTPUT size, which no pair-listing can avoid. Lossless:
    * J(a, b) depends only on the two texts, and a group emits
    * within-group pairs exactly when its shingle set is non-empty —
    * the same condition under which shingle-less docs never reach
    * the inverted index in the expanded derivation.
    * Returns (id1, id2, jaccard) with jaccard >= threshold. */
  def prefixFilteredJaccardPairs(df: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 threshold: Double): DataFrame = {
    val (reps, members) = collapseVerbatimTexts(df, idCol, textCol)
    val gp = prefixFilteredJaccardGroupPairsFromReps(reps, n, threshold)
    // expand group-level pairs to doc-level: a self row (rid,rid)
    // yields the group's a < b pairs; a cross row (rid1 < rid2) one
    // pair per member combination, normalized to id1 < id2
    val m1 = members.select(col("rep_id").as("rid1"), col("doc_id").as("a"))
    val m2 = members.select(col("rep_id").as("rid2"), col("doc_id").as("b"))
    gp.join(m1, "rid1").join(m2, "rid2")
      .filter(col("rid1") =!= col("rid2") || col("a") < col("b"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"), col("jaccard"))
  }

  /** Verbatim-duplicate collapse feeding the PPJoin family: one
    * content-hash aggregation keyed on the RAW text (only identical
    * raw texts collapse, so no tokenization choice can make a
    * downstream consumer lossy). Returns (reps, members):
    * reps = (doc_id [min-id representative], text, g [group size]),
    * one row per distinct text; members = (rep_id, doc_id), one row
    * per input doc. Both are LAZY localCheckpoints — a caller that
    * never touches `members` never pays for it, and multi-consumer
    * callers re-read rows instead of re-running the collapse. */
  def collapseVerbatimTexts(df: DataFrame, idCol: String,
                            textCol: String): (DataFrame, DataFrame) = {
    val withH = df.select(col(idCol).as("doc_id"),
      col(textCol).as("text"), md5(col(textCol)).as("h"))
    val groups = withH.groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("g"),
        first(col("text")).as("text"))
      .localCheckpoint(false)
    val reps = groups.select(col("rep_id").as("doc_id"), col("text"),
      col("g"))
    val members = withH.select(col("h"), col("doc_id"))
      .join(groups.select(col("h"), col("rep_id")), "h")
      .select(col("rep_id"), col("doc_id"))
      .localCheckpoint(false)
    (reps, members)
  }

  /** Group-level lossless near-dup pairs over the verbatim-collapsed
    * corpus: (rid1, rid2, jaccard, g1, g2). A rid1 < rid2 row is a
    * DISTINCT-text pair found by the prefix-filtered join (expanding
    * to g1 x g2 doc pairs, all at the same jaccard); a rid1 == rid2
    * row encodes one duplicate group's C(g, 2) verbatim pairs at
    * jaccard 1.0 (emitted only when g >= 2 and the group's shingle
    * set is non-empty). Audit/counting queries consume THIS shape and
    * expand counts combinatorially — the expanded pair table never
    * materializes, which is what keeps threshold sweeps and closure
    * audits linear on duplicate-heavy corpora. */
  def prefixFilteredJaccardGroupPairs(df: DataFrame, idCol: String,
                                      textCol: String, n: Int,
                                      threshold: Double): DataFrame = {
    val (reps, _) = collapseVerbatimTexts(df, idCol, textCol)
    prefixFilteredJaccardGroupPairsFromReps(reps, n, threshold)
  }

  /** [[prefixFilteredJaccardGroupPairs]] when the caller already holds
    * the collapsed reps table (doc_id, text, g) — the PPJoin core:
    * prefix-filtered candidate join + exact array_intersect verify
    * over distinct texts, plus the self rows for duplicate groups. */
  /** Hashed-set projection feeding the PPJoin kernel: each distinct
    * string shingle becomes its xxhash64, the same reduction the
    * minhash family's exact verify has always used (verifyJaccard's
    * `hs` arrays). Set sizes and intersections — hence every jaccard
    * — are unchanged unless two distinct shingles of one PAIR collide
    * in 64 bits (~1e-13 per pair; the string-derivation equality spec
    * and the 3-SF oracle parity would both fail loudly on a real
    * collision). What it buys (guide §2.3 "narrower types"): the
    * inverted-index explode, df groupBy, prefix window and candidate
    * self-join all key on 8-byte longs instead of ~25-byte strings,
    * and the verify array_intersect compares longs — measured ~35%
    * off the kernel at sf0.1. */
  private[graft] def hashedSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      array_distinct(transform(col("sh"), s => xxhash64(s))).as("sh"))

  def prefixFilteredJaccardGroupPairsFromReps(reps: DataFrame, n: Int,
                                              threshold: Double)
      : DataFrame = {
    // the shingle table feeds the index derivation AND both verify
    // sides — cut lineage once (the tfidfKnn checkpoint pattern);
    // hashed BEFORE the checkpoint so every kernel read sees longs
    val sh = hashedSets(stagedShingles(reps, "doc_id", "text", n))
      .localCheckpoint(false)
    val gsz = reps.select(col("doc_id"), col("g"))
    val cross = prefixFilteredJaccardCrossPairsFromSets(sh, threshold)
      .join(gsz.select(col("doc_id").as("id1"), col("g").as("g1")), "id1")
      .join(gsz.select(col("doc_id").as("id2"), col("g").as("g2")), "id2")
      .select(col("id1").as("rid1"), col("id2").as("rid2"),
        col("jaccard"), col("g1"), col("g2"))
    // duplicate-group self rows: J = 1 between identical texts, but
    // only when the group actually has shingles — a shingle-less doc
    // never enters the inverted index in the expanded derivation
    val self = reps.filter(col("g") >= 2L)
      .join(sh.filter(size(col("sh")) >= 1)
          .select(col("doc_id").as("__shd")),
        col("doc_id") === col("__shd"), "left_semi")
      .select(col("doc_id").as("rid1"), col("doc_id").as("rid2"),
        lit(1.0).as("jaccard"), col("g").as("g1"), col("g").as("g2"))
    cross.unionByName(self)
  }

  /** The PPJoin core over an ALREADY-SHINGLED set table — the
    * text-free kernel shared by [[prefixFilteredJaccardGroupPairsFromReps]]
    * and the incremental [[graft.sources.NearDupGraphStore]] (whose
    * `append` reads persisted shingle arrays and must never
    * re-tokenize old texts). Input `sets` is (doc_id, sh) with an
    * optional boolean `newFlag` column; with the flag set, candidate
    * pairs must touch at least one flagged row — the delta×all join
    * of an incremental ingest, skipping the already-stored old×old
    * pairs. Prefix positions come from a df-ordering computed over
    * THIS input; jaccard itself is ordering-independent, so delta
    * runs emit exactly the rows a full rebuild would (the prefix
    * theorem holds under any total order, and the lossless length
    * filter is order-free). Callers pass a checkpointed frame or a
    * file-backed scan — the kernel reads `sets` three times (index
    * derivation + both verify sides) and does not checkpoint.
    * Returns cross rows only: (id1 < id2, jaccard >= threshold). */
  def prefixFilteredJaccardCrossPairsFromSets(sets: DataFrame,
      threshold: Double, newFlag: Option[String] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val newCol = newFlag.map(f => col(f)).getOrElse(lit(true))
    // nsh/isnew ride the explode so the prefix derivation never joins
    // back to `sets` (one exchange fewer; guide-§2.4 shape)
    val inv = sets.select(col("doc_id"), size(col("sh")).as("nsh"),
      newCol.as("isnew"), explode(col("sh")).as("s"))
    val dfc = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pref = inv.join(dfc, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("s"))))
      .filter(col("rn") <=
        col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
      .select(col("doc_id"), col("s"), col("rn"), col("nsh"),
        col("isnew"))
      // materialized once: the self-join below reads BOTH sides from
      // this frame, and without the cut the planner broadcasts one
      // side, which recomputes the whole df-join + window pipeline a
      // second time (no exchange to reuse under a BroadcastExchange)
      .localCheckpoint(false)
    // length filter (also lossless): J(A,B) >= t forces
    // t·|A| <= |B| <= |A|/t — prunes cross-length candidates inside
    // shared-prefix buckets before the positional filter/verify
    val candRaw = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          (col("a.isnew") || col("b.isnew")) &&
          col("b.nsh") >= ceil(lit(threshold) * col("a.nsh")) &&
          col("a.nsh") >= ceil(lit(threshold) * col("b.nsh")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.rn").as("ra"), col("b.rn").as("rb"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
    // POSITIONAL overlap bound (PPJoin proper, Xiao et al. 2011) in
    // place of the bare DISTINCT: under the one global (df, s) token
    // order, every common token of A and B that sorts BEFORE the last
    // prefix-prefix match is itself a prefix-prefix match (its
    // positions are below the match's in both sets, hence inside both
    // prefixes), so with m = matched prefix tokens and (ra, rb) the
    // last match's positions, |A ∩ B| <= m + min(|A|-ra, |B|-rb).
    // J >= t needs |A ∩ B| >= t(|A|+|B|)/(1+t) (= alpha); pairs whose
    // bound cannot reach alpha never survive the exact verify, so
    // dropping them here is lossless (alpha is relaxed by 1e-6 before
    // ceil so a last-ulp double error can only under-prune, never
    // over-prune). Measured at sf0.1/t=0.4: 443,741 raw candidates ->
    // a few thousand verified, the verify join was 5.8 s of the 7.7 s
    // kernel.
    val cand = candRaw
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("m"), max(col("ra")).as("ra"),
        max(col("rb")).as("rb"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
      .filter(col("m") +
        least(col("na") - col("ra"), col("nb") - col("rb")) >=
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("na") + col("nb")).cast("double") - lit(1e-6)))
      .select(col("id1"), col("id2"))
    cand
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")),
        "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        "id2")
      .withColumn("shared", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Connected components of the verbatim-collapsed GROUP graph — the
    * closure counterpart of [[prefixFilteredJaccardGroupPairs]]: one
    * row (rep_id, cluster_id, g) per group that is a node of the
    * doc-level pair graph (incident to a cross-group edge, or a
    * duplicate group whose C(g,2) verbatim pairs make its docs
    * mutual neighbors). Doc-level and group-level components are in
    * exact bijection — every doc of a group shares its text, so a
    * group's docs always land in one doc-cluster, and a doc-cluster's
    * size is the sum of its groups' g. Closure audits (cluster
    * counts/sizes, keep-policy choices, implied-pair gaps) therefore
    * run on THIS output plus the membership table, never on the
    * expanded doc pair graph — the label-propagation input stays
    * distinct-text-sized on duplicate-heavy corpora instead of
    * inheriting the C(g,2) edge blowup the pair collapse just
    * removed. Reads `gp` three times (both node-union sides + the
    * edge list) — pass a checkpointed frame or a file-backed scan,
    * never a raw PPJoin pipeline. */
  def groupComponents(gp: DataFrame): DataFrame = {
    val nodes = gp.select(col("rid1").as("rep_id"), col("g1").as("g"))
      .unionByName(gp.select(col("rid2").as("rep_id"),
        col("g2").as("g")))
      .distinct()
    val cross = gp.filter(col("rid1") =!= col("rid2"))
      .select(col("rid1"), col("rid2"))
    val cc = connectedComponents(cross, "rid1", "rid2")
    nodes.join(cc, nodes("rep_id") === cc("id"), "left")
      .select(col("rep_id"),
        coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"),
        col("g"))
  }

  /** Per-document duplicated-n-gram span coverage — the exact-substring
    * duplication signal of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"), relationalized: a token
    * n-gram is DUPLICATED when it occurs in at least `minDocs` distinct
    * documents, and a document's score is the fraction of its token
    * positions covered by at least one duplicated n-gram window.
    * Unlike pairwise near-dup (minhash/simhash), this catches shared
    * boilerplate SPANS inside otherwise-distinct documents — headers,
    * license blocks, navigation chrome — the dominant duplication mode
    * in web corpora, and the per-doc fraction is the filter signal
    * ("drop docs that are >50% boilerplate").
    *
    * Plan shape at 100 TB: the positional n-gram table is one
    * explode (corpus-token-sized); duplicated grams are one gram-keyed
    * partial aggregation (vocab-sized output, checkpointed + broadcast
    * when small); coverage is a semi join back + an explode by the
    * constant n + one doc-keyed distinct-count — no self-join, nothing
    * quadratic, every shuffle key-partitioned. Returns (doc_id,
    * n_toks, n_cov, dup_frac) for EVERY document (zero coverage
    * included). */
  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
                       n: Int, minDocs: Int = 2): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // (doc_id, pos [1-based window start], g): shinglesFromTokens is
    // position-aligned — element i is the n-gram starting at token i.
    // Materialized once: the duplicate-set aggregate and the coverage
    // probe both consume it, and the rebuild costs more than
    // re-reading the rows (same reasoning as removeDupNgramSpans)
    val grams = toks.select(col("doc_id"),
        posexplode(TextOps.shinglesFromTokens(col("toks"), n)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col").as("g"))
      .localCheckpoint(false)
    val dup = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("g"))
      .localCheckpoint(false)
    val cov = grams.join(dup, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cp"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("cp")).as("n_cov"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(cov, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_cov"))
      .withColumn("dup_frac",
        col("n_cov").cast("double") / col("n_toks"))
  }

  /** Exact duplicated-span REMOVAL (the transform counterpart of
    * [[dupNgramCoverage]]'s diagnostic): drop every token position
    * covered by an n-gram that occurs in >= `minDocs` distinct
    * documents and reassemble the surviving tokens in order — the
    * ExactSubstr-style cleanup of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), expressed over
    * token n-grams. Returns (doc_id, n_toks, n_kept, cleaned) for
    * EVERY input document; a fully-duplicated document keeps an empty
    * string.
    *
    * Scale shape: same skeleton as the coverage diagnostic — one
    * positional explode, a gram-keyed partial agg for the duplicate
    * set (checkpointed, broadcast when small), a semi-join + constant-n
    * explode for covered positions, then an ANTI join of the
    * (doc, pos, token) table against them and a doc-keyed rebuild.
    * The collect_list buffer is bounded by a single document's length
    * (the chunker precedent), never by group count. */
  def removeDupNgramSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Int = 2): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // the gram table feeds BOTH the duplicate-set aggregate and the
    // covered-position probe; materialize it once — the rebuild
    // (tokenize + shingle + posexplode) costs more than re-reading
    // the rows, and executor-local storage holds one row per corpus
    // token, the same size class as the shuffle files the two
    // consumers write anyway
    val grams = toks.select(col("doc_id"),
        posexplode(TextOps.shinglesFromTokens(col("toks"), n)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col").as("g"))
      .localCheckpoint(false)
    val dup = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("g"))
      .localCheckpoint(false)
    // covered (doc_id, position) pairs; duplicates are harmless to the
    // anti join, so no distinct pass
    // distinct column names on the probe side: posTab and cov share
    // lineage through toks, so same-named join keys would trip the
    // ambiguous-self-join resolver
    val cov = grams.join(dup, Seq("g"), "left_semi")
      .select(col("doc_id").as("c_doc"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cp"))
    val posTab = toks.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("tk"))
    val kept = posTab.join(cov,
        col("doc_id") === col("c_doc") && col("p") === col("cp"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tk")))),
            x => x("tk")), " ").as("cleaned"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(kept, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
  }

  /** MinHash + LSH banding: k-element signature split into `bands`
    * bands; documents sharing any band hash are candidate near-dups.
    * Returns distinct candidate pairs (id1 < id2). One shuffle on the
    * band bucket.
    *
    * `maxBucketSize` drops non-discriminative megabuckets before the
    * self-join (the standard frequent-band skip): a bucket keyed by a
    * ubiquitous shingle minimum pairs half the corpus with itself and
    * carries almost no similarity signal, but dominates the join cost
    * quadratically. Capping bounds per-bucket work at
    * O(maxBucketSize^2) regardless of corpus size — the property that
    * keeps this runnable at 100 TB. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, k: Int, bands: Int,
                           maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val hashed = stagedShingles(df, idCol, textCol, shingleN)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h0"))
    bandPairs(affineMinhashSig(hashed, k), bands, k / bands, maxBucketSize,
      needBarrier = false)
  }

  /** Relational affine-minhash signature from exploded (doc_id, h0 =
    * xxhash64(shingle)) rows: k affine mins as grouped aggregates. The
    * Aggregate is a real optimizer barrier — its outputs are
    * attributes — so no stage of the tokenize/shingle/hash pipeline
    * can be inlined into the downstream banding generate
    * (select-boundary "staging" is NOT a barrier: CollapseProject
    * folds chained projections into a Generate child and lambda-body
    * references then re-evaluate per element — a measured 10x+
    * blowup). The shuffle is tiny: partial aggregation collapses each
    * partition's rows to one (doc, k mins) row before the exchange. */
  private def affineMinhashSig(hashed: DataFrame, k: Int): DataFrame = {
    val P = 2147483647L
    val base = hashed.select(col("doc_id"), pmod(col("h0"), lit(P)).as("h"))
    val minCols = (0 until k).map { i =>
      val a = 2 * i + 1
      val b = 1_000_003L * (i + 1)
      min(pmod(col("h") * a + b, lit(P))).as(s"m$i")
    }
    base.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** ONE definition of the band-bucket derivation, shared by every
    * LSH path (full, parity, delta) so their buckets can never drift
    * apart: per (keys, band), md5 of the band's signature rows in
    * position order. `exploded` must carry (pos, col) from
    * posexplode(sig). */
  private def bandBuckets(exploded: DataFrame, rowsPerBand: Int,
                          keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    if (rowsPerBand == 1)
      exploded.select(kc ++ Seq(col("pos").as("band"),
        md5(col("col").cast("string")).as("bucket")): _*)
    else
      exploded
        .groupBy(kc :+ (col("pos") - pmod(col("pos"), lit(rowsPerBand)))
          .divide(lit(rowsPerBand)).cast("int").as("band"): _*)
        .agg(md5(concat_ws("|",
          transform(
            sort_array(collect_list(struct(col("pos"), col("col")))),
            x => x.getField("col").cast("string")))).as("bucket"))
  }

  /** ONE definition of the Jaccard verify tail: join candidate pairs
    * to per-doc (distinct set, size) and keep pairs at/above the
    * threshold. |union| = n1 + n2 - |inter| (sets are distinct), so a
    * single set operation runs per pair. `sets` needs columns
    * (doc_id, `setCol`, n) and may carry a broadcast hint. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            setCol: String, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("id1"), col(setCol).as("sh1"),
        col("n").as("n1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col(setCol).as("sh2"),
        col("n").as("n2")), "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Shared LSH banding tail: split each row's `sig` array into
    * `bands` band hashes, aggregate doc ids per (band, bucket), and
    * emit pair combinations with an expression — the signature
    * pipeline runs ONCE and no self-join ever materializes; per-bucket
    * work is bounded by the megabucket cap. */
  private def bandPairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int,
                        needBarrier: Boolean = true): DataFrame = {
    // The signature must reach the banding generate as a materialized
    // ATTRIBUTE, not an expression: project collapse into Generate
    // ignores the reference-count guard and inlines the full minhash
    // pipeline per reference (k slice(sig,...) refs re-evaluated the
    // pipeline k times per row — measured ~25x slowdown on the banding
    // stage — and a single-ref posexplode then cascaded the inlining
    // into the nested lambda stages instead, ~15x worse again). The
    // repartition is a real physical barrier; it shuffles one row of
    // (id, k hashes) per doc — negligible next to the k-rows-per-doc
    // banded shuffle that follows. Callers whose signature already
    // ends in an Aggregate (its outputs ARE attributes) pass
    // needBarrier = false and skip that shuffle entirely.
    val barriered = if (needBarrier) sig.repartition(col("doc_id")) else sig
    val exploded = barriered
      .select(col("doc_id"), posexplode(col("sig")))
    val banded = bandBuckets(exploded, rowsPerBand, Seq("doc_id"))
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
  }

  /** Oracle-parity MinHash-LSH dedup: md5-based signatures
    * ([[TextOps.minhashSignature]]) and string-shingle Jaccard verify,
    * so every stage is reproducible in any engine with md5 — the
    * DuckDB-checkable twin of [[minhashLshDedup]] (which trades that
    * for one xxhash64 per shingle). Same banding, same megabucket cap,
    * same plan shape. */
  def minhashLshDedupParity(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, k: Int, bands: Int,
                            threshold: Double,
                            maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // Same staging discipline as the fast path: the shingle table is
    // checkpointed ONCE and feeds both the signature aggregation and
    // the verify join. Signatures are computed RELATIONALLY (explode +
    // k min aggregates) — the Aggregate is a real optimizer barrier,
    // where the previous array-expression form let CollapseProject
    // inline tokenize/shingle/distinct into each of the k md5
    // transforms (the measured 10x+ lambda re-evaluation footgun;
    // ~2x on this path at sf0.1). min() over md5 hex strings orders
    // identically to array_min / DuckDB list_min.
    val sh = stagedShingles(df, idCol, textCol, shingleN)
      .localCheckpoint(false)
    val sig = md5MinhashSig(
      sh.select(col("doc_id"), explode(col("sh")).as("s")), k)
    val shSz = sh.select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    verifyJaccard(bandPairs(sig, bands, k / bands, maxBucketSize,
      needBarrier = false), shSz, "sh", threshold)
  }

  /** Relational md5 minhash signature from exploded (doc_id, s)
    * shingle rows: k grouped min aggregates over md5("i:" + s) — the
    * oracle-parity twin of [[affineMinhashSig]], value-identical to
    * `TextOps.minhashSignature` (array_min over the same md5 family)
    * but with the Aggregate barrier that keeps the shingle pipeline
    * from being re-evaluated per seed. */
  private def md5MinhashSig(shingled: DataFrame, k: Int): DataFrame = {
    val minCols = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"m$i"))
    shingled.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH capacity diagnostic — per-band bucket-population statistics of
    * the md5-parity minhash banding, WITHOUT materializing a single
    * candidate pair: bucket count, colliding-bucket count, the total
    * candidate-pair mass Σ m·(m−1)/2 a full dedup run would have to
    * verify, and the largest bucket. This is how a 100 TB pipeline
    * sizes `maxBucketSize`, predicts verify-join cost, and detects
    * banding collapse (low-entropy corpora pushing everything into few
    * buckets) BEFORE paying for the pair expansion — the planning
    * query you run first, at one signature-aggregation + two bounded
    * shuffles total. All outputs are integers, so the result is
    * engine-exact. */
  def lshCollisionStats(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sh = stagedShingles(df, idCol, textCol, shingleN)
    val sig = md5MinhashSig(
      sh.select(col("doc_id"), explode(col("sh")).as("s")), k)
    // sig comes out of an Aggregate (outputs are attributes), so no
    // repartition barrier is needed before the banding explode
    val exploded = sig.select(col("doc_id"), posexplode(col("sig")))
    val banded = bandBuckets(exploded, k / bands, Seq("doc_id"))
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("band"))
      .agg(sum(col("m")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("m") >= 2, 1L).otherwise(0L)).as("n_buckets_ge2"),
        // m·(m−1) is even, so the integral halving is exact
        (sum(col("m") * (col("m") - lit(1L))) / lit(2)).cast("long")
          .as("cand_pairs"),
        max(col("m")).as("max_bucket"))
  }

  /** The persistable signature artifact for incremental dedup:
    * (doc_id, sh, sig) with md5-parity signatures. A production
    * pipeline writes this ONCE per corpus (any columnar format) and
    * reads it back for every delta batch — old documents are never
    * re-tokenized. Pair with [[minhashLshDeltaDedup]]. */
  def minhashSignatureTable(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, k: Int): DataFrame = {
    val sh = stagedShingles(df, idCol, textCol, shingleN)
    sh.select(col("doc_id"), col("sh"),
      TextOps.minhashSignature(col("sh"), k).as("sig"))
  }

  /** Incremental (delta) near-dup detection: verified pairs touching at
    * least one NEW document — new-vs-old and new-vs-new, never
    * old-vs-old (the quadratically dominant part a daily ingest must
    * not re-pay). Produces EXACTLY the full-corpus
    * [[minhashLshDedupParity]] pair set restricted to pairs with a new
    * member: banding a subset yields the same per-document buckets, and
    * the megabucket cap counts old+new members together, so the
    * candidate condition is unchanged. Old signatures come from a
    * persisted [[minhashSignatureTable]]; only the delta is tokenized.
    * Old-old pairs are excluded inside the per-bucket combination
    * expression — they are never materialized. */
  def minhashLshDeltaDedup(newDocs: DataFrame, oldSigs: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int, k: Int, bands: Int,
                           threshold: Double,
                           maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rowsPerBand = k / bands
    val newSigs = minhashSignatureTable(newDocs, idCol, textCol, shingleN, k)
    // update semantics: a doc re-ingested in the delta SUPERSEDES its
    // stored signature — without this, the stale row pairs with its
    // own replacement (self-pairs at jaccard 1.0) and inflates bucket
    // populations toward the megabucket cap
    val tagged = oldSigs
      .join(newSigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("sh"), col("sig"), lit(false).as("is_new"))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
    // same barrier rationale as bandPairs: the new side's sig is a
    // projection and must reach the banding generate as an attribute
    val exploded = tagged.repartition(col("doc_id"))
      .select(col("doc_id"), col("is_new"), posexplode(col("sig")))
    val banded = bandBuckets(exploded, rowsPerBand,
      Seq("doc_id", "is_new"))
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("is_new"))))
        .as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxBucketSize)
      .filter(exists(col("ms"), m => m.getField("is_new")))
    val cand = buckets
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        filter(
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            y => struct(x.getField("doc_id").as("id1"),
              y.getField("doc_id").as("id2"),
              (x.getField("is_new") || y.getField("is_new")).as("tn"))),
          p => p.getField("tn"))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
    val shSz = tagged.select(col("doc_id"), col("sh"),
      size(col("sh")).as("n"))
    verifyJaccard(cand, shSz, "sh", threshold)
  }

  /** MinHash-LSH dedup end to end: candidates -> exact Jaccard verify
    * -> pairs at/above threshold. */
  def minhashLshDedup(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = 100): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // ONE hashed-shingle table feeds everything: the LSH signatures
    // derive from it (affine permutations of the same xxhash64 values)
    // and the verify stage set-intersects it — so the tokenize/
    // shingle/hash pipeline runs exactly once. Lazy localCheckpoint,
    // not persist: persist pins an entry in CacheManager until an
    // explicit unpersist that a lazily-evaluated return value gives no
    // safe place to call (unpersist-before-action would recompute;
    // never-unpersist leaks the cache for the session lifetime, one
    // corpus per call). A local checkpoint materializes once on first
    // use, is shared by all three readers, and its blocks are
    // reference-counted away by the ContextCleaner when the plan is
    // GC'd. Verify works on HASHED shingle sets (one long per
    // shingle): cheaper to ship and compare than strings, and xxhash64
    // collisions at 2^64 are negligible for the Jaccard value. Two
    // joins against the checkpointed table (one per pair side): a
    // melt-into-roles + single join + re-group variant was measured
    // ~2x SLOWER — the extra shuffle of hash arrays costs more than
    // the second cached read.
    val sh = stagedShingles(df, idCol, textCol, shingleN)
      .select(col("doc_id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("hs"))
      .localCheckpoint(false)
    val hashed = sh.select(col("doc_id"), explode(col("hs")).as("h0"))
    val cand = bandPairs(affineMinhashSig(hashed, k), bands, k / bands,
      maxBucketSize, needBarrier = false)
    // Verify tail: the checkpoint keeps its origin's size estimate, so
    // the planner broadcasts the shingle table when it is small and a
    // corpus-sized one keeps the shuffle join.
    val shSz = sh.select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
    verifyJaccard(cand, shSz, "hs", threshold)
  }

  /** 32-bit SimHash signatures computed relationally: explode tokens,
    * hash each once with md5 (first 8 hex digits as an integer, so any
    * engine with md5 reproduces the exact signature), then 32
    * conditional-sum aggregate columns (whole-stage-codegen'd) — an
    * order of magnitude faster than the equivalent nested-lambda array
    * expression, which Spark interprets per element. Each token votes
    * +1/-1 per bit of its hash; bit b of `sim` is set iff its vote sum
    * is positive. All arithmetic is integral, so DuckDB parity is
    * exact, not fp-lucky. A null text produces no row. */
  def simhashParitySignatures(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("doc_id"), CurationOps.md5Hash32(col("t")).as("h"))
    val voteCols = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b"))
    tok.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("sim"))
  }

  /** Oracle-parity SimHash near-dup candidates over
    * [[simhashParitySignatures]]: the 32-bit fingerprints band-matched
    * in 2 16-bit bands (any shared band => candidate), then verified by
    * exact Hamming distance <= maxHamming. */
  def simhashNearDupParity(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int): DataFrame = {
    val banded = simhashParitySignatures(df, idCol, textCol)
      .select(col("doc_id"), col("sim"),
        posexplode(array((0 until 2).map(b =>
          shiftright(col("sim"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    // Pair expansion as an equi-join on (band, bucket) rather than the
    // earlier collect_list + in-expression combination expansion: the
    // expression form materialized ALL C(m, 2) pair structs of a bucket
    // as ONE flattened array value before exploding — an uncapped
    // single-row memory cliff on hot buckets, pinned to one task and
    // invisible to AQE. Correlated signatures make hot buckets the
    // NORM on a duplicate-heavy corpus (the 10x ScaleStress run
    // measured 35 s in the expansion vs ~23 s for the join form).
    // The join streams each pair and produces the identical pair set
    // (id1 < id2). While the banded relation fits the broadcast
    // threshold the join plans as BHJ — the best possible shape: every
    // probe-side partition expands its own rows against the hash
    // relation, so hot buckets parallelize by INPUT rows, immune to
    // key skew. Past the threshold it becomes an SMJ whose two
    // identical (band, bucket) exchanges stage-reuse under AQE, and
    // whose skewed buckets AQE can split. Either way the signature
    // vote-agg's expensive map side (token explode + hash + partial
    // sums) is one reusable shuffle stage.
    val l = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id1"), col("sim").as("sim1"))
    val r = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id2"), col("sim").as("sim2"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      // Hamming filter BEFORE the distinct: the xor+popcount is a cheap
      // per-row expression, and dropping far pairs early shrinks the
      // dedup shuffle to just the qualifying candidates.
      .select(col("id1"), col("id2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-corpus contamination detection (benchmark decontamination):
    * flag corpus documents whose shingle CONTAINMENT of any probe
    * document — |corpus ∩ probe| / |probe| — meets `threshold`.
    * Containment (not Jaccard) is the standard decontamination metric:
    * a benchmark item quoted inside a much longer document still scores
    * 1.0. Inverted-index join keyed by shingle, so cost is driven by
    * the probe set (small: benchmarks), never corpus x corpus; counts
    * partial-aggregate map-side, and the probe-size join broadcasts.
    * Returns (doc_id, probe_id, containment) pairs at/above threshold.
    */
  def crossCorpusContamination(corpus: DataFrame, probes: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int, threshold: Double)
      : DataFrame = {
    val cs = stagedShingles(corpus, idCol, textCol, shingleN)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val ps = stagedShingles(probes, idCol, textCol, shingleN)
    val pSizes = ps.select(col("doc_id").as("probe_id"),
      size(col("sh")).as("n_probe"))
    val pInv = ps.select(col("doc_id").as("probe_id"),
      explode(col("sh")).as("s"))
    cs.join(pInv, "s")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(pSizes), "probe_id")
      .withColumn("containment",
        col("shared").cast("double") / col("n_probe"))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("probe_id"), col("containment"))
  }

  /** Connected components over candidate-pair edges — the cluster
    * resolution step that turns near-dup PAIRS into dedup groups
    * (survivor = the minimum id of each component, so the output is
    * directly the "which doc do I keep" mapping).
    *
    * Iterative min-label propagation: each round joins the (symmetric)
    * edge list with the current labels and keeps each node's minimum
    * incoming label — two shuffles per round, both with map-side
    * partial aggregation. Labels only ever decrease, so the label sum
    * is a strictly decreasing convergence witness: one cheap aggregate
    * per round replaces a change-count self-join. Every round's result
    * is eagerly persisted (MEMORY_AND_DISK, lineage RETAINED) and round n-1
    * explicitly unpersisted — bounded storage, and an executor loss
    * recomputes lost blocks from lineage instead of killing the run
    * (the r4 localCheckpoint formulation discarded lineage, which a
    * cluster cannot survive). Lineage depth grows one shuffle per
    * round, bounded by maxIter — well under any stack/DAG limit.
    * Rounds needed = component diameter; near-dup clusters are
    * shallow star-ish subgraphs (pairs come from shared LSH buckets),
    * so a handful of rounds converges. For adversarial long-chain
    * graphs use the large-star/small-star formulation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"), which contracts
    * reach quadratically per round — not needed for dedup-shaped
    * graphs, and the fixpoint test makes the extra rounds cheap noise.
    *
    * Returns (id, cluster_id) for every node appearing in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // RDD core, not DataFrame: iterative label propagation is the one
    // workload where the declarative layer fights us — every round
    // would re-analyze a doubled logical plan (hence per-round eager
    // checkpoints), each join/groupBy pair costs three exchanges, and
    // convergence needs its own action. With both sides hash-partitioned
    // once up front, the RDD loop does ONE shuffle (the min-label
    // reduceByKey) and ONE job per round: the propagation join and the
    // label update are narrow, the changed-label count rides a
    // fold-to-zero accumulator inside the same job (retry-safe: a
    // re-run task can only inflate a nonzero count — it adds 0 when
    // nothing changed — costing at worst one extra round, never a
    // premature exit), and MEMORY_AND_DISK persists keep each round's blocks
    // durable-with-lineage. This is the same reason GraphX sits on
    // RDDs. (For multi-hour runs a reliable checkpoint() every ~10
    // rounds additionally caps recompute depth after repeated losses.)
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    import spark.implicits._
    // Partition count derived from the INPUT size, not the session
    // constant (guide §2: scale-adaptive partitioning): every round
    // of the loop below schedules nPart tasks, so a small graph on a
    // 32-core session paid 32 tasks × rounds of pure scheduling for
    // kilobytes of labels. ~500k directed edges per partition keeps
    // task state small at scale; the session conf stays the upper
    // bound, so production-sized graphs behave exactly as before.
    // The count also replaces the old labels.isEmpty() action as the
    // empty-input fast path (same job budget: one action either way).
    val nPairs = pairs.select(col(aCol), col(bCol)).count()
    if (nPairs == 0L)
      return spark.emptyDataset[(Long, Long)].toDF("id", "cluster_id")
    val confPart = spark.sessionState.conf.numShufflePartitions
    val nPart = math.max(1, math.min(confPart,
      math.ceil(nPairs * 2.0 / 500000.0).toInt))
    val part = new HashPartitioner(nPart)
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .as[(Long, Long)].rdd
    val edges = e0.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      .distinct(nPart)
      .partitionBy(part)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges
      .mapPartitions(_.map { case (k, _) => (k, k) }.distinct,
        preservesPartitioning = true)
    labels.persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val changed = spark.sparkContext.longAccumulator
      val next = edges.join(labels) // narrow: co-partitioned by `part`
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, math.min(_: Long, _: Long)) // the round's one shuffle
        .rightOuterJoin(labels) // narrow again
        .mapValues { case (prop, lab) => // prop: Option (left side of the ROJ)
          val nl = math.min(lab, prop.getOrElse(lab))
          if (nl < lab) changed.add(1L)
          nl
        }
      next.persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // the round's one job; populates `changed`
      labels.unpersist(false)
      labels = next
      converged = changed.value == 0L
      iter += 1
      if (sys.env.contains("GRAFT_CC_VERBOSE"))
        println(s"[cc] round $iter changed=${changed.value}")
    }
    edges.unpersist(false)
    // A silent exit at maxIter would return under-merged clusters that
    // are indistinguishable from a converged result — fail loudly; the
    // caller can raise maxIter for pathologically deep graphs.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        "the pair graph has a component deeper than maxIter — raise it")
    labels.toDF("id", "cluster_id")
  }

  /** Embedding-cosine near-dup via hyperplane LSH (see
    * [[SimilarityOps.hyperplaneBucket]]): a single-band facade over
    * [[SimilarityOps.cosineNearDupPairs]] — one `planes`-bit signature
    * per vector (= one band of `planes` planes, so the candidate set is
    * pairwise-identical to the historical single-bucket formulation an
    * oracle replays), then ID-only bucket collection, combination
    * expansion, cross-candidate dedup, and an exact-cosine verify join.
    *
    * Unified onto the banded machinery (r5) because the old body
    * collected FULL 64-dim vectors per bucket into one row before pair
    * expansion — an O(cap * dims) row that became executor-memory
    * pressure exactly on the hub buckets that matter at 100 TB. The
    * shared path collects only ids (the verify join re-reads vectors
    * for surviving candidates), so a capped bucket costs O(cap) small
    * longs per row and the quadratic work is bounded pair structs.
    *
    * `maxBucketSize` still skips degenerate megabuckets — that is a
    * RECALL decision: every pair of a bucket above the cap is dropped,
    * so a corpus with such buckets needs more `planes`. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 16, threshold: Double = 0.95,
                       dims: Int = 64, maxBucketSize: Int = 1000)
      : DataFrame =
    SimilarityOps.cosineNearDupPairs(df, idCol, vecCol, threshold,
        bands = 1, planesPerBand = planes, dims = dims,
        maxBucketSize = maxBucketSize)
      .select(col("id1"), col("id2"), col("cos").as("cosine"))

  /** Soft dedup by inverse cluster size: every member of a near-dup
    * cluster keeps with probability 1/size (deterministically —
    * md5(salt:id) * size < 2^32, an exact integer compare), so each
    * cluster contributes ~1 surviving doc in expectation while
    * preserving WITHIN-cluster diversity that hard canonical-pick
    * dedup discards. The count-flattening recipe for duplicate-heavy
    * corpora; reruns and corpus unions keep identical decisions
    * (hash-determined, not RNG).
    *
    * Scale shape: one cluster-keyed count + one join back — the
    * exactDedup discipline. Input is a (id, cluster) table (e.g.
    * [[connectedComponents]] output). Appends size, kept. */
  def clusterDownsample(components: DataFrame, idCol: String,
                        clusterCol: String, salt: String = "cds")
      : DataFrame = {
    val sizes = components.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("size"))
    components.join(sizes, clusterCol)
      .withColumn("kept",
        CurationOps.md5Hash32(
          concat(lit(s"$salt:"), col(idCol).cast("string"))) *
          col("size") < lit(4294967296L))
  }

  /** Per-document n-gram novelty: how much of a doc's distinct n-gram
    * set FIRST appears in that document, under the corpus's id order
    * (ids are ingestion order in an append-only corpus, so this is
    * "new content contributed at ingestion time" — the complement of
    * the duplicated-content coverage in [[dupNgramCoverage]], which
    * asks how much of a doc appears anywhere else regardless of
    * direction). Novelty ~1 = fresh material; ~0 = everything was
    * already in earlier documents. Used for ordering-aware curation
    * (dedup curricula, incremental crawl triage).
    *
    * Scale shape: distinct (gram, doc) pairs, one gram-keyed
    * min-aggregation (partial agg; the gram table is never held
    * per-doc), one gram-keyed count-back join, one doc-keyed count —
    * the [[ngramJaccardPairs]] inverted-index discipline, with
    * nothing quadratic. Docs with fewer than n tokens emit no row
    * (no grams — same as the oracle). Integer outputs. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = TextOps.tokens(col(textCol))
    val g = df.select(col(idCol).cast("long").as("__id"),
      explode(array_distinct(
        TextOps.shinglesFromTokens(toks, n))).as("__gram"))
    val first = g.groupBy(col("__gram"))
      .agg(min(col("__id")).as("__first"))
    g.join(first, "__gram")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("__id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_novel"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: |A ∩ B| / |A| and / |B| for
    * doc pairs sharing at least one n-gram, kept when either direction
    * clears `threshold`. Containment catches the duplication mode
    * Jaccard structurally misses — a short doc quoted inside a long
    * one scores near 1.0 containment but near 0 Jaccard (the long
    * doc's extra grams swamp the union). Web-scale curation runs both
    * (RefinedWeb-style) because each filters what the other passes.
    *
    * Same inverted-index discipline as [[ngramJaccardPairs]]: the
    * self-join is gram-keyed, shared counts partial-aggregate, and
    * only co-occurring pairs materialize — nothing quadratic in docs.
    * Output: id1 < id2, n1, n2 (distinct gram counts), shared, cont1
    * (= shared/n1), cont2 (= shared/n2) — counts exact, each
    * containment one IEEE division. */
  def ngramContainmentPairs(df: DataFrame, idCol: String,
                            textCol: String, n: Int,
                            threshold: Double): DataFrame = {
    val sh = stagedShingles(df, idCol, textCol, n)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("nsh"))
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("nsh", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("nsh", "n2"), "id2")
      .withColumn("cont1", col("shared").cast("double") / col("n1"))
      .withColumn("cont2", col("shared").cast("double") / col("n2"))
      .filter(greatest(col("cont1"), col("cont2")) >= threshold)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        col("shared"), col("cont1"), col("cont2"))
  }

  /** Duplicate document-PREFIX groups: documents sharing their first
    * `k` tokens verbatim — the "same template opening" signal
    * (scraped mirrors, generated boilerplate, OCR headers) that's
    * cheaper than any pairwise method: one projection + one
    * prefix-keyed aggregation, no joins at all. Emits only groups of
    * >= 2 docs: (prefix, n_docs, first_doc). */
  def prefixTemplateGroups(df: DataFrame, idCol: String,
                           textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(idCol).cast("long").as("__id"),
        array_join(slice(TextOps.tokens(col(textCol)), 1, k), " ")
          .as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Pair-greedy duplicate resolution: given candidate pairs with
    * id1 < id2 (any near-dup family's output), drop every doc that
    * appears as the LARGER side of at least one pair — the standard
    * "keep the first occurrence" rule applied edge-wise. Unlike
    * [[connectedComponents]] resolution this is non-transitive (a
    * kept doc may still near-duplicate a dropped doc through a
    * chain), but it is one anti-join — no iteration — which is why
    * production dedup passes use it when cluster-exactness isn't
    * required.
    *
    * Scale shape: distinct id2 set (already pair-sized, far smaller
    * than the corpus) left-anti-joined against the docs — one
    * shuffle, AQE broadcasts the drop set when it is small. Returns
    * the doc rows plus a `keep` flag (true = survives). */
  def greedyPairDrop(docs: DataFrame, idCol: String,
                     pairs: DataFrame): DataFrame = {
    val dropIds = pairs.select(col("id2").as("__drop")).distinct()
    docs.join(dropIds, docs(idCol) === col("__drop"), "left")
      .withColumn("keep", col("__drop").isNull)
      .drop("__drop")
  }

  /** Edit-distance-verified near-dup pairs: candidates are documents
    * sharing their first `prefixLen` tokens verbatim (the
    * [[prefixTemplateGroups]] blocking key — the classic "sorted
    * neighborhood" blocking step, one aggregation, no all-pairs), and
    * a candidate pair is confirmed when the full-text Levenshtein
    * distance is at most `maxDistRatio` of the longer text. Catches
    * the template-with-small-edits duplicates that token-set methods
    * (MinHash/SimHash) over-merge on and exact hashing misses.
    *
    * Scale shape: docs shuffle once on the prefix key; each group
    * expands to in-group pairs (id1 < id2) — groups are capped at
    * `maxGroup` members (oversized template groups are boilerplate
    * families, already surfaced by [[prefixTemplateGroups]]; emitting
    * their O(m^2) pairs would dominate the job — same hub-cap
    * discipline as the LSH banding, and the cap is VISIBLE: capped
    * groups emit no pairs but are countable via
    * [[prefixTemplateGroups]]). The O(len^2) Levenshtein runs only on
    * surviving candidates, never corpus-wide. Levenshtein (unit
    * costs) is engine-portable — DuckDB's levenshtein() matches
    * Spark's exactly.
    *
    * Output: (id1, id2, dist, max_len, keep) with keep = dist <=
    * floor(maxDistRatio * max_len). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int, maxDistRatio: Double,
                        maxGroup: Int = 64): DataFrame = {
    require(prefixLen >= 1 && maxDistRatio > 0 && maxGroup >= 2,
      s"bad prefixLen=$prefixLen maxDistRatio=$maxDistRatio " +
        s"maxGroup=$maxGroup")
    val base = df.select(col(idCol).cast("long").as("__id"),
      lower(trim(col(textCol))).as("__t"),
      array_join(slice(TextOps.tokens(col(textCol)), 1, prefixLen), " ")
        .as("__pfx"))
    val sized = base.withColumn("__gsz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pfx"))))
      .filter(col("__gsz").between(2, maxGroup))
    val pairs = sized.as("a").join(sized.as("b"),
        col("a.__pfx") === col("b.__pfx") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"),
        levenshtein(col("a.__t"), col("b.__t")).as("dist"),
        greatest(length(col("a.__t")), length(col("b.__t")))
          .as("max_len"))
    pairs.withColumn("keep",
      col("dist") <= floor(lit(maxDistRatio) * col("max_len")))
  }

  /** Train/val/test leakage audit: near-dup pairs (any pair family's
    * (id1, id2) output) whose two sides landed in DIFFERENT splits —
    * the "test set contaminated by training near-dups" check every
    * model-data pipeline needs before training. `splits` maps id ->
    * split (e.g. [[CurationOps.assignSplit]] output). Pure
    * composition: two id-keyed joins of the (small) pair table
    * against the split assignment, one aggregation — the corpus is
    * never re-scanned. Output per unordered split pair (split_a <
    * split_b lexically): n_pairs, first example (min (id1, id2)). */
  def splitLeakageAudit(pairs: DataFrame, splits: DataFrame,
                        idCol: String, splitCol: String): DataFrame = {
    val s1 = splits.select(col(idCol).cast("long").as("__i1"),
      col(splitCol).as("__s1"))
    val s2 = splits.select(col(idCol).cast("long").as("__i2"),
      col(splitCol).as("__s2"))
    pairs.join(s1, col("id1") === col("__i1"))
      .join(s2, col("id2") === col("__i2"))
      .filter(col("__s1") =!= col("__s2"))
      .select(least(col("__s1"), col("__s2")).as("split_a"),
        greatest(col("__s1"), col("__s2")).as("split_b"),
        col("id1"), col("id2"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("id1"), col("id2"))).as("__ex"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("__ex.id1").as("ex_id1"), col("__ex.id2").as("ex_id2"))
  }

  /** SymSpell-style LOSSLESS edit-distance-1 pair join: every row
    * pair whose strings are within Levenshtein distance 1 (including
    * 0 — distinct ids with identical strings). Blocking is the
    * depth-1 DELETION NEIGHBORHOOD — each string keys into itself
    * plus every one-character deletion, and any two strings at
    * distance <= 1 provably share a variant (substitution: both drop
    * the differing position; insertion: the longer side drops the
    * inserted character and meets the shorter side's identity
    * variant) — so unlike the prefix blocking of
    * [[editDistancePairs]] this candidate set misses NOTHING at
    * d = 1; the exact `levenshtein` verify only removes false
    * candidates (e.g. transposed neighbors at distance 2). The
    * oracle for q198 is therefore the PLAIN all-pairs derivation.
    *
    * Scale shape: |variants| = len+1 rows per string, candidates
    * co-locate on the variant-keyed shuffle, and a variant bucket
    * only grows with strings one edit apart at the SAME position —
    * data-bounded fan-in (a dictionary has no megabucket the way LSH
    * bands do). Distances are over CHARACTERS (Spark and DuckDB
    * levenshtein agree; byte == char on the ASCII fixtures).
    *
    * Output: (id1, id2, dist) with id1 < id2. */
  def symspellPairs(df: DataFrame, idCol: String, strCol: String)
      : DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      col(strCol).as("s"))
    val ex = base.select(col("id"), col("s"),
      explode(array_distinct(array_union(array(col("s")),
        transform(sequence(lit(1), length(col("s"))),
          i => concat(col("s").substr(lit(1), i - 1),
            col("s").substr(i + 1, length(col("s")) - i)))))).as("v"))
    ex.as("a")
      .join(ex.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
      .distinct()
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id1"), col("id2"), col("dist"))
  }
}
