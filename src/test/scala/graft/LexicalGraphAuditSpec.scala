package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, DedupOps, GraphOps, SimilarityOps,
  TextOps}

/** Hand-traced specs for the round-6 operator additions: personalized
  * PageRank, deterministic walks, edit-distance-verified pairs,
  * k-anonymity audit, phrase stats, lexical TF-IDF kNN, split-leakage
  * audit, and ANN recall evaluation. */
class LexicalGraphAuditSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("personalizedPageRank: mass concentrates at the seed; " +
      "non-seed teleport is zero") {
    // chain 1 -> 2 -> 3 (directed), seed {1}, 1 iteration, d=0.85:
    // tele = (1, 0, 0); p0 = tele
    // p1(1) = 0.15*1 + 0.85*0        = 0.15
    // p1(2) = 0.15*0 + 0.85*(1/1)    = 0.85
    // p1(3) = 0.15*0 + 0.85*(0/1)    = 0.0
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = GraphOps.personalizedPageRank(e, "s", "d", Seq(1L), 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.15) < 1e-12)
    assert(math.abs(got(2L) - 0.85) < 1e-12)
    assert(got(3L) == 0.0)
    // absent seed ids are ignored; all-absent seeds must throw
    val withGhost = GraphOps.personalizedPageRank(e, "s", "d",
      Seq(1L, 99L), 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(withGhost(1L) - 0.15) < 1e-12)
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(e, "s", "d", Seq(99L), 1)
    }
  }

  test("deterministicWalks: step 0 is the start, hops follow edges, " +
      "forced hops are taken, reruns are identical") {
    // 1 -> 2 -> 3, 3 has no out-edge: every walk from 1 must be
    // 1, 2, 3 then stop (truncation at step 2)
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val w = GraphOps.deterministicWalks(e, "s", "d", walksPerNode = 2,
      steps = 3)
    val rows = w.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), r.getLong(3))).toSet
    // start 1, both walks: deterministic forced path
    for (wk <- 0L to 1L) {
      assert(rows.contains((1L, wk, 0, 1L)))
      assert(rows.contains((1L, wk, 1, 2L)))
      assert(rows.contains((1L, wk, 2, 3L)))
      assert(!rows.exists(t => t._1 == 1L && t._2 == wk && t._3 == 3),
        "walk past a sink node must truncate")
    }
    // node 3 never hops
    assert(rows.filter(_._1 == 3L).forall(_._3 == 0))
    val again = GraphOps.deterministicWalks(e, "s", "d", 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(again == rows)
  }

  test("deterministicWalks: branching choice is a hash argmin " +
      "(valid neighbor, stable across partitionings)") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    def run(parts: Int) =
      GraphOps.deterministicWalks(e.repartition(parts), "s", "d", 4, 1)
        .filter(col("step") === 1 && col("start") === 1)
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val one = run(1)
    assert(one.values.forall(Set(2L, 3L, 4L)))
    assert(run(5) == one, "choice must not depend on partitioning")
    // 4 walks over 3 neighbors: hash argmin should not be constant
    // (if it were, the walk id would not be in the hash — pinned on
    // the deterministic fixture)
    assert(one.values.toSet.size > 1)
  }

  test("editDistancePairs: prefix blocking + levenshtein keep flag") {
    val docs = Seq(
      (1L, "a b c d e f g h"),    // group "a b c"
      (2L, "a b c d e f g x"),    // dist 1 to doc 1
      (3L, "a b c z z z z z z z z z z z z z"), // same prefix, far
      (4L, "q r s t u v")         // singleton group -> no pairs
    ).toDF("doc_id", "text")
    val got = DedupOps.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 3, maxDistRatio = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getBoolean(4))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) == ((1, true))) // one substitution, 15 chars
    assert(!got((1L, 3L))._2 && !got((2L, 3L))._2)
  }

  test("editDistancePairs: oversized prefix groups are capped out") {
    val docs = (1L to 5L).map(i => (i, s"same prefix here doc$i"))
      .toDF("doc_id", "text")
    val capped = DedupOps.editDistancePairs(docs, "doc_id", "text",
      prefixLen = 3, maxDistRatio = 0.5, maxGroup = 4)
    assert(capped.count() == 0, "group of 5 > maxGroup=4 emits nothing")
    val uncapped = DedupOps.editDistancePairs(docs, "doc_id", "text",
      prefixLen = 3, maxDistRatio = 0.5, maxGroup = 5)
    assert(uncapped.count() == 10) // C(5,2)
  }

  test("kAnonymityAudit: hand-traced risk report") {
    // lang en: classes {A:3, B:1} -> n_small=1, rows_at_risk=1
    // lang de: classes {C:2}      -> all safe at k=2... use k=3
    val df = Seq(
      ("en", "A"), ("en", "A"), ("en", "A"), ("en", "B"),
      ("de", "C"), ("de", "C")
    ).toDF("lang", "src")
    val got = CurationOps.kAnonymityAudit(df,
        quasi = Seq("src" -> col("src")),
        report = ("lang", col("lang")), k = 3)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_classes"),
          r.getAs[Long]("min_class"), r.getAs[Long]("n_small"),
          r.getAs[Long]("rows_at_risk"))).toMap
    assert(got("en") == ((4L, 2L, 1L, 1L, 1L)))
    assert(got("de") == ((2L, 1L, 2L, 1L, 2L))) // class of 2 < k=3
  }

  test("phraseStats: counts, positions, and the non-overlap contract") {
    val df = Seq(
      (1L, "x batch stream y batch stream"), // 2 hits, first at 2
      (2L, "batch  stream"),                 // whitespace-normalized
      (3L, "stream batch"),                  // wrong order: 0
      (4L, "a b a b a")                      // self-overlap: 1, not 2
    ).toDF("id", "text")
    def stats(phrase: Seq[String]) = df
      .select(col("id"), TextOps.phraseStats(col("text"), phrase).as("s"))
      .select(col("id"), col("s.n_hits"), col("s.first_pos"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val bs = stats(Seq("batch", "stream"))
    assert(bs(1L) == ((2L, Some(2L))))
    assert(bs(2L) == ((1L, Some(1L))))
    assert(bs(3L) == ((0L, None)))
    val ab = stats(Seq("a", "b"))
    // " a b a b a ": left-to-right non-overlapping replace counts 1
    // (the second start shares the boundary space consumed by the
    // first match) — the documented contract, same in DuckDB
    assert(ab(4L) == ((1L, Some(1L))))
  }

  test("tfidfKnn: identical docs rank each other first at cos 1") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4 w1 w2 w3 w4"), // identical to 1
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"), // shares a prefix
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8")  // disjoint -> absent
    ).toDF("doc_id", "text")
    val got = TextOps.tfidfKnn(docs, "doc_id", "text", shingleN = 2,
        k = 2, minDf = 2, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getLong(1), r.getDouble(3))).toMap
    assert(got((1L, 1))._1 == 2L && math.abs(got((1L, 1))._2 - 1.0) < 1e-12)
    assert(got((2L, 1))._1 == 1L)
    // 3 shares terms with 1 and 2 but at lower cosine
    assert(got((3L, 1))._2 < 1.0 && got((3L, 1))._2 > 0.0)
    // 4 has no shared df>=2 term: absent from output
    assert(!got.keys.exists(_._1 == 4L))
  }

  test("splitLeakageAudit: cross-split pairs only, min example") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (5L, 6L))
      .toDF("id1", "id2")
    val splits = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train"), (5L, "val"), (6L, "test"))
      .toDF("doc_id", "split")
    val got = DedupOps.splitLeakageAudit(pairs, splits, "doc_id",
        "split")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (1,2) train/test, (2,4) test/train; (1,3) same split dropped
    assert(got(("test", "train")) == ((2L, 1L, 2L)))
    assert(got(("test", "val")) == ((1L, 5L, 6L)))
    assert(got.size == 2)
  }

  test("walkSkipGramPairs: window-bounded pairs, both directions, " +
      "counts aggregated") {
    // one walk 1 -> 2 -> 3 -> 4 (steps 0..3), window 2
    val walks = Seq((1L, 0L, 0, 1L), (1L, 0L, 1, 2L), (1L, 0L, 2, 3L),
      (1L, 0L, 3, 4L)).toDF("start", "walk", "step", "node")
    val got = GraphOps.walkSkipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // offsets ±1 and ±2 only: (1,4) is 3 apart -> absent
    assert(got((1L, 2L)) == 1L && got((2L, 1L)) == 1L)
    assert(got((1L, 3L)) == 1L && got((2L, 4L)) == 1L)
    assert(!got.contains((1L, 4L)) && !got.contains((4L, 1L)))
    // symmetric totals: every pair appears in both directions
    assert(got.forall { case ((a, b), n) => got((b, a)) == n })
  }

  test("psiDrift: identical groups ~0, skewed groups larger, " +
      "negatives clamp to bin 0") {
    val same = Seq(("a", 10L), ("a", 100L), ("b", 10L), ("b", 100L))
      .toDF("g", "v")
    val z = graft.operators.StatsOps
      .psiDrift(same, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect().map(r => r.getAs[String]("group") ->
        r.getAs[Double]("psi")).toMap
    // smoothing keeps identical-shape groups near (not exactly) 0
    assert(z.values.forall(p => math.abs(p) < 0.01), s"psi $z")
    val skew = Seq(("a", 10L), ("a", 12L), ("a", 14L), ("b", 100L),
      ("b", 110L), ("b", 120L)).toDF("g", "v")
    val s = graft.operators.StatsOps
      .psiDrift(skew, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect().map(r => r.getAs[Double]("psi"))
    assert(s.forall(_ > 0.25), s"fully-separated groups, got ${s.toSeq}")
    val neg = Seq(("a", -5L), ("b", 3L)).toDF("g", "v")
    val nb = graft.operators.StatsOps
      .psiDrift(neg, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect()
    assert(nb.forall(_.getAs[Long]("n_bins") == 1L))
  }

  test("materializeMixture: full copies exact, fractional copies " +
      "Bernoulli-deterministic, zero-rate groups absent") {
    // weights a=600, b=300, c=100, targets a->0.2 b->0.8, cap 2.0
    // (the mixtureReweight hand trace): rates a=1/3, b=2.0, c=0
    val docs = (1L to 6L).map(i => (i, "a", 100L)) ++
      Seq((7L, "b", 150L), (8L, "b", 150L)) :+ ((9L, "c", 100L))
    val df = docs.toDF("id", "g", "w")
    val got = CurationOps.materializeMixture(df, "g", "id", col("w"),
        Seq("a" -> 0.2, "b" -> 0.8), maxRate = 2.0, salt = "epoch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // b at rate exactly 2.0: copies 0 and 1 for every doc, no extra
    val bRows = got.filter(_._1 == "b")
    assert(bRows.toSet == Set(("b", 7L, 0L), ("b", 7L, 1L),
      ("b", 8L, 0L), ("b", 8L, 1L)))
    // c has no target: nothing emitted
    assert(!got.exists(_._1 == "c"))
    // a at rate 1/3: each doc emits 0 or 1 copy (copy id 0)
    val aRows = got.filter(_._1 == "a")
    assert(aRows.forall(_._3 == 0L))
    assert(aRows.map(_._2).distinct.length == aRows.length)
    // deterministic re-run
    val again = CurationOps.materializeMixture(df, "g", "id", col("w"),
        Seq("a" -> 0.2, "b" -> 0.8), maxRate = 2.0, salt = "epoch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("dpNoisyCounts: true counts intact, noise bounded and seeded") {
    val df = Seq(("en", "s1"), ("en", "s1"), ("en", "s2"), ("de", "s1"))
      .toDF("lang", "source")
    def run() = CurationOps.dpNoisyCounts(df, Seq("lang", "source"),
        epsilon = 1.0, salt = "dp")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val got = run()
    assert(got(("en", "s1"))._1 == 2L && got(("de", "s1"))._1 == 1L)
    // |Laplace(1)| from a 32-bit uniform is < ln(2^32) ~ 22.2
    assert(got.values.forall { case (n, z) => math.abs(z - n) < 23.0 })
    // seeded: bit-identical on re-run; keyed: different groups get
    // different draws
    assert(run() == got)
    val noises = got.map { case ((_, _), (n, z)) => z - n }.toSeq
    assert(noises.distinct.size == noises.size)
  }

  test("prefixFilteredJaccardPairs == ngramJaccardPairs (lossless " +
      "prefix filter) on real docs at two thresholds") {
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    for (t <- Seq(0.4, 0.2)) {
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          math.round(r.getDouble(2) * 1e6)).toMap
      val exact = norm(DedupOps.ngramJaccardPairs(docs, "doc_id",
        "text", n = 3, threshold = t))
      val pp = norm(DedupOps.prefixFilteredJaccardPairs(docs, "doc_id",
        "text", n = 3, threshold = t))
      assert(pp == exact, s"t=$t: prefix filtering must be lossless")
      assert(exact.nonEmpty, s"t=$t: fixture should produce pairs")
    }
  }

  test("prefixFilteredJaccardPairs: verbatim-duplicate groups collapse " +
      "losslessly — within-group J=1, cross-group inheritance, " +
      "shingle-less groups silent") {
    // A x3 (ids 1,5,9) and B x2 (ids 2,4) share 6 of 10 trigrams
    // (J = 0.6); C (id 7) shares none; D x2 (ids 3,6) has < 3 tokens,
    // so its shingle set is EMPTY and it must produce no pairs even
    // though the texts are verbatim identical
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val c = "completely different words appear in this document here now"
    val d = "too short"
    val docs = Seq((1L, a), (5L, a), (9L, a), (2L, b), (4L, b),
      (7L, c), (3L, d), (6L, d)).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        math.round(r.getDouble(2) * 1e6)).toMap
    val exact = norm(DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.3))
    val pp = norm(DedupOps.prefixFilteredJaccardPairs(docs, "doc_id",
      "text", n = 3, threshold = 0.3))
    assert(pp == exact, "collapse+expand must equal the plain derivation")
    assert(pp.size == 10, s"3 within-A + 1 within-B + 6 cross, got $pp")
    assert(pp((1L, 5L)) == 1000000L && pp((5L, 9L)) == 1000000L &&
      pp((2L, 4L)) == 1000000L)
    assert(pp((1L, 2L)) == 600000L && pp((4L, 9L)) == 600000L)
    assert(!pp.keySet.exists { case (x, y) =>
      Set(x, y).exists(Set(3L, 6L, 7L))
    }, "shingle-less dups and the unique doc must stay silent")
    // group-level shape: one self row per shingled dup group, one
    // cross row per distinct-text pair, sizes attached
    val gp = DedupOps.prefixFilteredJaccardGroupPairs(docs, "doc_id",
        "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getLong(3), r.getLong(4)))
      .toSet
    assert(gp == Set((1L, 1L, 1000000L, 3L, 3L),
      (2L, 2L, 1000000L, 2L, 2L), (1L, 2L, 600000L, 3L, 2L)))
  }

  test("groupComponents: group-level closure is in exact bijection " +
      "with doc-level connected components") {
    // A x3 and B x2 similar (one cross edge -> one merged cluster);
    // E x2 verbatim-identical but dissimilar to everything (a self
    // row only -> its own cluster); C unique and D shingle-less
    // (no pairs -> no nodes)
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val c = "completely different words appear in this document here now"
    val d = "too short"
    val e = "isolated twin sentences live in their own tiny island colony"
    val docs = Seq((1L, a), (5L, a), (9L, a), (2L, b), (4L, b),
      (7L, c), (3L, d), (6L, d), (8L, e), (10L, e))
      .toDF("doc_id", "text")
    val (reps, members) = DedupOps.collapseVerbatimTexts(
      docs, "doc_id", "text")
    val gp = DedupOps.prefixFilteredJaccardGroupPairsFromReps(
      reps, n = 3, threshold = 0.3)
    val gc = DedupOps.groupComponents(gp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(gc == Set((1L, 1L, 3L), (2L, 1L, 2L), (8L, 8L, 2L)),
      s"got $gc")
    // doc-level cross-check: expanding groups reproduces exactly the
    // connectedComponents labels over the expanded pair table
    val docLevel = DedupOps.connectedComponents(
        DedupOps.prefixFilteredJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.3).select(col("id1"), col("id2")),
        "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expanded = DedupOps.groupComponents(gp)
      .join(members, "rep_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cluster_id")).toMap
    assert(expanded == docLevel, s"$expanded vs $docLevel")
  }

  test("NearDupGraphStore: write+append == one-shot scan graph; " +
      "pair scan partition-pruned on jband; components pruned on t") {
    import graft.sources.NearDupGraphStore
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val c = "completely different words appear in this document here now"
    val e = "isolated twin sentences live in their own tiny island colony"
    val docs = Seq((1L, a), (5L, a), (9L, a), (2L, b), (4L, b),
      (7L, c), (8L, e), (10L, e)).toDF("doc_id", "text")
    def gpSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getLong(3), r.getLong(4)))
      .toSet
    val scan = gpSet(DedupOps.prefixFilteredJaccardGroupPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.3))
    // full build
    val full = tempDir("ndg-full").toString
    NearDupGraphStore.write(spark, docs, "doc_id", "text", n = 3,
      baseT = 0.3, componentThresholds = Seq(0.3, 0.9), full)
    assert(gpSet(NearDupGraphStore.groupPairs(spark, full, 0.3)) == scan,
      "store groupPairs must equal the scan derivation")
    // incremental: doc 1 (a twin of an already-stored text) arrives
    // late and must ride the old rep; doc 10's twin likewise; B's
    // second copy and the unique C arrive late too
    val inc = tempDir("ndg-inc").toString
    NearDupGraphStore.write(spark,
      docs.filter(col("doc_id").isin(5L, 9L, 2L, 8L)),
      "doc_id", "text", n = 3, baseT = 0.3,
      componentThresholds = Seq(0.3, 0.9), inc)
    NearDupGraphStore.append(spark,
      docs.filter(col("doc_id").isin(1L, 4L, 7L, 10L)),
      "doc_id", "text", componentThresholds = Seq(0.3, 0.9), inc)
    // pair SETS match up to rep naming: compare (jaccard, g1, g2)
    // multisets and the derived group sizes
    def sizes(path: String) = NearDupGraphStore
      .groupSizes(spark, path).collect()
      .map(r => r.getLong(1)).sorted.toSeq
    assert(sizes(inc) == sizes(full))
    // rep ids are naming, not structure (the inc store keeps the
    // first-ingested doc as rep) — compare (self?, jaccard,
    // unordered size pair) multisets
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0) == r.getLong(1),
        math.round(r.getDouble(2) * 1e6),
        math.min(r.getLong(3), r.getLong(4)),
        math.max(r.getLong(3), r.getLong(4))))
      .sorted.toSeq
    assert(shape(NearDupGraphStore.groupPairs(spark, inc, 0.3)) ==
      shape(NearDupGraphStore.groupPairs(spark, full, 0.3)),
      "append path must converge to the rebuild graph")
    // components at both thresholds: same cluster-size multisets
    def comp(path: String, t: Double) = NearDupGraphStore
      .components(spark, path, t)
      .groupBy(col("cluster_id")).agg(sum(col("g")).as("m"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(comp(inc, 0.3) == comp(full, 0.3))
    assert(comp(inc, 0.9) == comp(full, 0.9))
    // at t=0.3 A+B merge (5 docs) and E self-clusters (2); at t=0.9
    // only the verbatim groups remain
    assert(comp(full, 0.3) == Seq(2L, 5L))
    assert(comp(full, 0.9) == Seq(2L, 2L, 3L))
    // physical shape: the pairs read is partition-pruned on jband,
    // the components read on t_e2
    val pairPlan = NearDupGraphStore.groupPairs(spark, full, 0.9)
      .queryExecution.executedPlan.toString
    assert(pairPlan.contains("PartitionFilters") &&
      pairPlan.contains("jband"),
      s"expected jband partition filter on the pairs scan:\n$pairPlan")
    val compPlan = NearDupGraphStore.components(spark, full, 0.9)
      .queryExecution.executedPlan.toString
    assert(compPlan.contains("PartitionFilters") &&
      compPlan.contains("t_e2"),
      s"expected t_e2 partition filter on the components scan:\n$compPlan")
  }

  test("pairNgramPrecision: hand-traced clipped counts") {
    // ref 1: "a b a b c" bigrams: ab, ba, ab, bc -> {ab:2, ba:1, bc:1}
    // cand 2: "a b a b a b"      -> {ab:3, ba:2}, total2 = 5
    // clipped: min(3,2) + min(2,1) = 3 -> precision 3/5
    // cand 3: "x y z" -> {xy:1, yz:1}, clipped 0
    val docs = Seq((1L, "a b a b c"), (2L, "a b a b a b"),
      (3L, "x y z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val got = TextOps.pairNgramPrecision(docs, "doc_id", "text",
        pairs, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got((1L, 2L)) == ((5L, 3L, 0.6)))
    assert(got((1L, 3L)) == ((2L, 0L, 0.0)))
  }

  test("embeddingHealth: hand-traced per-dim stats") {
    val df = Seq(
      Tuple1(Seq(1.0f, 0.0f)), Tuple1(Seq(3.0f, 0.0f)))
      .toDF("embedding")
    val got = SimilarityOps.embeddingHealth(df, "embedding")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // dim 0: values 1, 3 -> mean 2, var (1+9)/2 - 4 = 1, min 1 max 3
    assert(got(0) == ((2L, 2.0, 1.0, 1.0, 3.0, 0.0)))
    // dim 1: all zero -> dead dim, zero_frac 1
    assert(got(1) == ((2L, 0.0, 0.0, 0.0, 0.0, 1.0)))
  }

  test("lshBandTuningSweep: config monotonicity and exact counts on " +
      "a duplicate-pair fixture") {
    // docs 1,2 identical (all 8 sig components equal -> collide in
    // every config); doc 3 disjoint vocabulary
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "v w x y z")).toDF("doc_id", "text")
    val got = DedupOps.lshBandTuningSweep(docs, "doc_id", "text",
        shingleN = 2, k = 8, bandsList = Seq(8, 4, 2, 1))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for ((b, (nb, ge2, cand, mx)) <- got) {
      // per config: docs 1+2 share every band bucket, doc 3 none
      assert(ge2 == b.toLong, s"bands=$b colliding buckets")
      assert(cand == b.toLong, s"bands=$b pair mass")
      assert(mx == 2L && nb == 2L * b, s"bands=$b buckets")
    }
    assert(got.keySet == Set(8, 4, 2, 1))
  }

  test("dedupSavingsReport: cross-source drop attribution") {
    // doc 1 (s1) is the keeper; doc 2 (s2) duplicates it -> s2 holds
    // the savings; doc 3 unique
    val docs = Seq((1L, "s1", "same text", 100L),
      (2L, "s2", "same text", 100L), (3L, "s2", "other", 50L))
      .toDF("doc_id", "source", "text", "n_chars")
    val got = DedupOps.dedupSavingsReport(docs, "doc_id", "source",
        "text", col("n_chars"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got("s1") == ((1L, 1L, 100L, 100L, 0.0)))
    assert(got("s2") == ((2L, 1L, 150L, 50L, 1.0 - 50.0 / 150.0)))
  }

  test("windowPmi: window bound, associated pair outranks chance") {
    // "x y" always adjacent (5 docs); fillers vary; "x z" never
    // within the window
    val docs = (1L to 5L)
      .map(i => (i, s"x y f$i g$i h$i j$i z"))
      .toDF("doc_id", "text")
    val got = CurationOps.windowPmi(docs, "doc_id", "text",
        window = 2, minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(got.contains(("x", "y")) && got(("x", "y"))._1 == 5L)
    assert(got(("x", "y"))._2 > 0.0, "always-together pair has PMI > 0")
    assert(!got.contains(("x", "z")), "beyond-window pair absent")
  }

  test("InvertedIndexStore: build+append == one-shot scan BM25; " +
      "postings scan is shard-pruned; stats fold exactly") {
    import graft.sources.InvertedIndexStore
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"))
    val path = tempDir("inv-spec").toString
    val terms = Seq("data", "query", "window")
    InvertedIndexStore.write(spark, docs.filter(col("doc_id") < 300),
      "doc_id", "text", nShards = 16, path)
    InvertedIndexStore.append(spark, docs.filter(col("doc_id") >= 300),
      "doc_id", "text", path)
    // store-backed scores == the one-shot scan computation, exactly
    val store = InvertedIndexStore.searchBm25(spark, path, terms,
        k = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scan = graft.operators.CurationOps.bm25Scores(docs, "doc_id",
        "text", terms)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("bm25")).toMap
    // identical doc set; scores agree to summation-order noise (the
    // per-doc contrib SUM folds in a different partial-agg order) —
    // far inside the e6 pin the q193 oracle hashes on
    assert(store.keySet == scan.keySet)
    assert(store.forall { case (id, v) =>
      math.abs(v - scan(id)) < 1e-12 },
      "store scores must match the scan to float-summation noise")
    // folded stats equal the corpus truth
    val st = spark.read.parquet(s"$path/stats")
      .agg(sum("n_docs"), sum("total_tokens")).head()
    assert(st.getLong(0) == docs.count())
    // the postings scan is partition-pruned on the term shards
    val plan = InvertedIndexStore.searchBm25(spark, path, terms, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"expected shard partition filter on the postings scan:\n$plan")
    // and the shard set is a strict subset: <= |terms| of 16 dirs
    val shardDirs = new java.io.File(s"$path/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs > terms.size,
      "fixture must have more live shards than query terms " +
        "(otherwise pruning proves nothing)")
  }

  test("store compaction: reads identical before/after, data file " +
      "count drops, and appends after compaction still work") {
    import graft.sources.{InvertedIndexStore, NearDupGraphStore,
      StoreCompaction}
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val c = "completely different words appear in this document here now"
    val docs = Seq((1L, a), (5L, a), (2L, b), (7L, c))
      .toDF("doc_id", "text")
    // --- NearDupGraphStore: write + append accumulate delta files
    val ndg = tempDir("ndg-compact").toString
    NearDupGraphStore.write(spark,
      docs.filter(col("doc_id").isin(1L, 2L)), "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq(0.4), ndg)
    NearDupGraphStore.append(spark,
      docs.filter(col("doc_id").isin(5L, 7L)), "doc_id", "text",
      componentThresholds = Seq(0.4), ndg)
    def ndgView = (
      NearDupGraphStore.groupPairs(spark, ndg, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6), r.getLong(3),
          r.getLong(4))).toSet,
      NearDupGraphStore.membersTable(spark, ndg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      NearDupGraphStore.components(spark, ndg, 0.4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    val beforeView = ndgView
    val beforeFiles = StoreCompaction.dataFileCount(spark, ndg)
    NearDupGraphStore.compact(spark, ndg)
    assert(ndgView == beforeView,
      "compaction must not change what the store reads back")
    val afterFiles = StoreCompaction.dataFileCount(spark, ndg)
    assert(afterFiles < beforeFiles,
      s"expected fewer data files after compaction " +
        s"($beforeFiles -> $afterFiles)")
    // a post-compaction delta ingest still applies cleanly
    NearDupGraphStore.append(spark,
      Seq((9L, a)).toDF("doc_id", "text"), "doc_id", "text",
      componentThresholds = Seq(0.4), ndg)
    val sizesAfter = NearDupGraphStore.groupSizes(spark, ndg)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizesAfter == Seq(1L, 1L, 3L),
      s"post-compaction append must land: $sizesAfter")
    // --- InvertedIndexStore: same contract
    val inv = tempDir("inv-compact").toString
    InvertedIndexStore.write(spark,
      docs.filter(col("doc_id") <= 2L), "doc_id", "text",
      nShards = 8, inv)
    InvertedIndexStore.append(spark,
      docs.filter(col("doc_id") > 2L), "doc_id", "text", inv)
    val terms = Seq("quick", "document")
    def bm25View = InvertedIndexStore
      .searchBm25(spark, inv, terms, k = 100).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
      .toSet
    val beforeBm25 = bm25View
    val beforeInvFiles = StoreCompaction.dataFileCount(spark, inv)
    InvertedIndexStore.compact(spark, inv)
    assert(bm25View == beforeBm25,
      "compaction must not change BM25 results")
    assert(StoreCompaction.dataFileCount(spark, inv) < beforeInvFiles)
    // stats collapsed to ONE pre-folded row, same fold result
    val st = spark.read.parquet(s"$inv/stats")
    assert(st.count() == 1L)
    assert(st.head().getLong(0) == 4L)
    // post-compaction append still folds
    InvertedIndexStore.append(spark,
      Seq((20L, "quick extra doc")).toDF("doc_id", "text"),
      "doc_id", "text", inv)
    val st2 = spark.read.parquet(s"$inv/stats")
      .agg(sum("n_docs")).head()
    assert(st2.getLong(0) == 5L)
  }

  test("store compaction swap: a crash at either rename window never " +
      "loses the store, and recovery adopts the completed copy") {
    import graft.sources.StoreCompaction
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def freshStore(): String = {
      val d = tempDir("swap-crash").toString + "/sub"
      // 4 one-row files: a store subdir with compactable small files
      spark.range(4).selectExpr("id", "id * 10 AS v")
        .repartition(4).write.parquet(d)
      d
    }
    def rows(d: String): Set[(Long, Long)] =
      spark.read.parquet(d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (0L until 4L).map(i => (i, i * 10)).toSet
    def compactTo1(d: String, onStep: Int => Unit): Unit =
      StoreCompaction.rewrite(spark, d, onStep) { tmp =>
        spark.read.parquet(d).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
      }
    // crash BETWEEN the two renames: dest briefly absent, but the
    // COMPLETE compacted copy survives in __compacting; recover()
    // adopts it and the data reads back identical
    val d1 = freshStore()
    val boom = intercept[RuntimeException] {
      compactTo1(d1, step => if (step == 1) sys.error("crash@1"))
    }
    assert(boom.getMessage == "crash@1")
    assert(!fs.exists(new Path(d1)) &&
      fs.exists(new Path(d1 + "__compacting")),
      "crash@1 state: dest renamed away, tmp complete")
    StoreCompaction.recover(spark, d1)
    assert(rows(d1) == expect, "recovery must adopt the compacted copy")
    assert(StoreCompaction.dataFileCount(spark, d1) == 1L)
    assert(!fs.exists(new Path(d1 + "__compacting")) &&
      !fs.exists(new Path(d1 + "__old")), "no leftovers after recovery")
    // crash AFTER the swap (before __old cleanup): dest already holds
    // the new copy; the next rewrite clears the stale __old
    val d2 = freshStore()
    intercept[RuntimeException] {
      compactTo1(d2, step => if (step == 2) sys.error("crash@2"))
    }
    assert(rows(d2) == expect, "dest holds the new copy after crash@2")
    assert(fs.exists(new Path(d2 + "__old")), "stale __old left behind")
    compactTo1(d2, _ => ())
    assert(rows(d2) == expect)
    assert(!fs.exists(new Path(d2 + "__old")) &&
      !fs.exists(new Path(d2 + "__compacting")),
      "second rewrite clears the stale __old")
    // recover() on a healthy store is a no-op
    StoreCompaction.recover(spark, d2)
    assert(rows(d2) == expect)
  }

  test("recallEval: hand-traced recall@k and MRR") {
    // truth q1: n1 (rank1), n2, n3; approx q1: n2, n9, n1
    // hits = 2 of 3; true top-1 (n1) sits at approx rank 3 -> rr 1/3
    val truth = Seq((1L, 10L, 0.9), (1L, 20L, 0.8), (1L, 30L, 0.7),
      (2L, 10L, 0.9)).toDF("qid", "nid", "cos")
    val approx = Seq((1L, 20L, 0.8), (1L, 90L, 0.75), (1L, 10L, 0.7))
      .toDF("qid", "nid", "cos")
    val got = SimilarityOps.recallEval(truth, approx)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got(1L)._1 == 3L && got(1L)._2 == 2L)
    assert(math.abs(got(1L)._3 - 2.0 / 3.0) < 1e-12)
    assert(math.abs(got(1L)._4 - 1.0 / 3.0) < 1e-12)
    // q2: approx returned nothing -> hits 0, rr 0 (no silent drop)
    assert(got(2L) == ((1L, 0L, 0.0, 0.0)))
  }
}
