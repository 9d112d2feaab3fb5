package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, MultimodalOps, SimilarityOps, TextOps}

/** Behavioral checks for the training-data-pipeline operators whose
  * oracle is not SQL-expressible: LSH candidate recall against exact
  * methods, SimHash locality, multimodal plumbing invariants. Runs at
  * sf0.001/sf0.01. */
class NorthStarSpec extends AnyFunSuite with SparkTestBase {
  private val dir = sf("sf0.01")
  import graft.core.Tables

  private lazy val docs = Tables.load(spark, dir, "documents").cache()
  private lazy val emb = Tables.load(spark, dir, "embeddings").cache()

  test("minhash-LSH candidates contain every high-jaccard pair") {
    // ground truth: exact inverted-index jaccard at 0.1
    val exact = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain some near-dup pairs")
    val cand = DedupOps.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 2, k = 16, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 one-row bands: P(miss | j=0.1) = 0.9^16 = 0.18; at j>=0.1 and
    // only a handful of pairs, expect most found; require >= half.
    val found = exact.count(cand.contains)
    assert(found * 2 >= exact.size,
      s"LSH found $found of ${exact.size} true pairs")
  }

  test("simhash is local: near-identical docs collide, disjoint ones don't") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " tail" // one extra token
    val c = "entirely different vocabulary with zero overlap whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val sims = DedupOps.simhashParitySignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sims(1L), sims(2L)) < hamming(sims(1L), sims(3L)),
      "near-dup should be closer than unrelated doc")
    // One appended token moves each bit's vote by one, so only the bits
    // whose 12-token vote was tied can flip (3 of 32 here). 8 is the
    // maxHamming that q27/q48 verify these 32-bit signatures with.
    assert(hamming(sims(1L), sims(2L)) <= 8)
  }

  test("LSH ANN recall against brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilarityOps.lshTopK(emb, queries, "vec_id", "embedding", 5,
        planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // 2 planes = 4 buckets; a 0.4-cosine neighbor shares a bucket with
    // p ~ (1 - theta/pi)^2 ~ 0.45; top-5 neighbors are the most-aligned
    // so observed recall should be comfortably above chance (0.25).
    assert(recall > 0.3, s"ANN recall $recall")
    // every approx result must be a real corpus vector with sane cosine
    assert(approx.forall { case (q, n) => q != n })
  }

  test("IVF ANN recall against brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nCentroids = 16, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // 4 of 16 cells probed; aligned neighbors concentrate in nearby
    // cells so recall should beat the 25% cell-coverage baseline
    assert(recall > 0.35, s"IVF recall $recall")
    assert(ivf.forall { case (q, n) => q != n })
  }

  test("logisticTrainScore separates: positives score high, negatives low") {
    import org.apache.spark.sql.functions.{col => c}
    val spark2 = spark
    import spark2.implicits._
    // y = 1 iff x0 > 0.5 — fully separable; after training, scores
    // must order the classes correctly
    val df = (0 until 400)
      .map(i => (i.toLong, i / 400.0, if (i / 400.0 > 0.5) 1 else 0))
      .toDF("id", "x0", "y")
    val scored = graft.operators.CurationOps.logisticTrainScore(df, "id",
        features = Seq(c("x0") - 0.5), label = c("y") === 1,
        iters = 200, lr = 5.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.size == 400)
    val pos = (201 until 400).map(i => scored(i.toLong))
    val neg = (0 until 200).map(i => scored(i.toLong))
    assert(pos.min > 0.5, s"worst positive ${pos.min}")
    assert(neg.max < 0.5, s"worst negative ${neg.max}")
    // scoring must agree with the training entry point's weights: the
    // decision boundary (score >= 0.5 <=> z >= 0) reproduces acc
    val acc = graft.operators.CurationOps.logisticRegressionGd(df,
      Seq(c("x0") - 0.5), c("y") === 1, 200, 5.0).head()
    assert(acc.getDouble(acc.fieldIndex("acc")) >= 0.99)
  }

  test("knnGraph: every node gets <= k neighbors; recall vs brute force") {
    val k = 3
    val got = SimilarityOps.knnGraph(emb, "vec_id", "embedding", k,
        bands = 8, planesPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val perNode = got.groupBy(_._1).map(_._2.size)
    assert(perNode.max <= k)
    assert(got.forall { case (a, b) => a != b })
    // ground truth: brute-force top-k with the corpus as its own query
    // set; banded LSH (8 bands x 4 planes — q109's config) should
    // recover well over half of the true neighbor edges
    val exact = SimilarityOps.bruteForceTopK(emb, emb, "vec_id",
        "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall > 0.5, s"kNN-graph recall $recall")
  }

  test("lshCollisionStats: pair mass bounds the realized candidate set") {
    val stats = graft.operators.DedupOps.lshCollisionStats(docs,
        "doc_id", "text", shingleN = 2, k = 8, bands = 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(stats.size == 4)
    val nDocs = docs.count()
    for ((band, (nd, nb, nb2, pairs, maxB)) <- stats) {
      assert(nd == nDocs, s"band $band counted $nd of $nDocs docs")
      assert(nb2 <= nb && maxB >= 1 && pairs >= nb2,
        s"band $band inconsistent: $nb2/$nb/$pairs/$maxB")
    }
    // the predicted pair mass must upper-bound the distinct candidate
    // pairs an uncapped parity dedup run actually materializes
    val cand = graft.operators.DedupOps.minhashLshDedupParity(docs,
        "doc_id", "text", shingleN = 2, k = 8, bands = 4,
        threshold = 0.0, maxBucketSize = Int.MaxValue)
      .select("id1", "id2").distinct().count()
    val mass = stats.values.map(_._4).sum
    assert(cand <= mass,
      s"realized candidates $cand exceed predicted mass $mass")
    assert(mass > 0)
  }

  test("pageRank hand trace: directed leak and symmetric fixpoint") {
    import org.apache.spark.sql.functions.{col => c}
    val spark2 = spark
    import spark2.implicits._
    // single directed edge 1 -> 2, N = 2, d = 0.85:
    // iter1: p(1) = 0.15/2 = 0.075, p(2) = 0.075 + 0.85 * 0.5 = 0.5
    // iter2: p(2) = 0.075 + 0.85 * 0.075 = 0.13875
    val e = Seq((1L, 2L)).toDF("s", "d")
    val got1 = graft.operators.GraphOps.pageRank(e, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got1(1L) - 0.075) < 1e-12)
    assert(math.abs(got1(2L) - 0.5) < 1e-12)
    val got2 = graft.operators.GraphOps.pageRank(e, "s", "d", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got2(2L) - 0.13875) < 1e-12)
    // symmetric pair: uniform 1/N is the fixpoint at any iteration
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val gotS = graft.operators.GraphOps.pageRank(sym, "s", "d", iters = 3)
      .collect().map(r => r.getDouble(1))
    assert(gotS.forall(p => math.abs(p - 0.5) < 1e-12))
  }

  test("triangleStats hand trace: one triangle plus a pendant node") {
    val spark2 = spark
    import spark2.implicits._
    // triangle {1,2,3} + pendant edge 3-4
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = graft.operators.GraphOps
      .triangleStatsBucketed(spark, pairs, "a", "b", table = "graft_tri_spec")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    spark.sql("DROP TABLE IF EXISTS graft_tri_spec")
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L &&
      math.abs(got(3L)._3 - 1.0 / 3.0) < 1e-15)
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("labelPropagation hand trace: triangle converges to min label") {
    val spark2 = spark
    import spark2.implicits._
    // complete triangle, symmetrized. Round 1: (2,1,1) (ties -> min);
    // round 2: everyone sees a majority of label 1 -> (1,1,1).
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("a", "b")
    val got = graft.operators.GraphOps.labelPropagation(edges, "a", "b", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val r1 = graft.operators.GraphOps.labelPropagation(edges, "a", "b", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("logistic-regression GD separates linearly separable labels") {
    import org.apache.spark.sql.functions.{col => c}
    val spark2 = spark
    import spark2.implicits._
    // y = 1 iff x0 > 0.5: fully separable on one feature
    val df = (0 until 400)
      .map(i => (i, i / 400.0, if (i / 400.0 > 0.5) 1 else 0))
      .toDF("id", "x0", "y")
    val out = graft.operators.CurationOps.logisticRegressionGd(df,
      features = Seq(c("x0") - 0.5), label = c("y") === 1,
      iters = 200, lr = 5.0).head()
    val acc = out.getDouble(out.fieldIndex("acc"))
    assert(acc >= 0.99, s"train accuracy $acc")
    assert(out.getLong(out.fieldIndex("n")) == 400)
    // weight on the informative (centered) feature must be positive
    assert(out.getDouble(out.fieldIndex("w1")) > 0.0)
  }

  test("broadcast-relation centroids match literal-inline bit-for-bit") {
    val queries = emb.filter(col("vec_id") < 20)
    def run(budget: Int) = SimilarityOps.ivfTopK(emb, queries,
        "vec_id", "embedding", 5, nCentroids = 16, nProbes = 4,
        maxLiteralScalars = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // budget 0 forces the broadcast-relation form; the default keeps
    // 16x64 = 1k scalars literal. Same cells, same probes, same cosines
    // (identical IEEE doubles — same fold order through VectorDot).
    assert(run(0) == run(SimilarityOps.MaxLiteralCentroidScalars))
    def cluster(budget: Int) = SimilarityOps.kmeansInt8(emb,
        "vec_id", "embedding", k = 8, iters = 2,
        maxLiteralScalars = budget)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cluster(0) == cluster(SimilarityOps.MaxLiteralCentroidScalars))
  }

  test("production-k quantizer (k*dims >= 64k) plans and runs bounded") {
    // 1024 centroids x 64 dims = 65536 scalars — far over the literal
    // budget, so the assignment must ride the broadcast relation: plan
    // size stays O(1) in k instead of carrying 65k Literal nodes.
    val small = emb.filter(col("vec_id") < 200)
    val asg = SimilarityOps.kmeansInt8(small, "vec_id", "embedding",
      k = 1024, iters = 1)
    val rows = asg.collect()
    assert(rows.length == small.count())
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 1024))
  }

  test("int8 ANN top-5 nearly matches brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.int8TopK(emb, queries, "vec_id", "embedding", 5,
        oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 scoring distorts cosines by < 1%; with 4x oversampling the
    // exact rerank should recover nearly every true neighbor
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall > 0.95, s"int8 ANN recall $recall")
    assert(quant.forall { case (q, n) => q != n })
  }

  test("PQ ANN recall against brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", 5,
        m = 8, ksub = 32, oversample = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 codes replace 64 floats — a lossy 64x compression, so expect
    // real recall loss vs int8 (which keeps all 64 dims). Measured on
    // this corpus: 0.42 @ ksub=16/os=4 rising to 0.82 @ ksub=32/os=16;
    // the library default (ksub=32, os=8) sits at ~0.62.
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall > 0.5, s"PQ ANN recall $recall")
    assert(pq.forall { case (q, n) => q != n })
  }

  test("multi-probe LSH dominates single-probe LSH at equal planes") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val single = recall(SimilarityOps.multiProbeLshTopK(emb, queries,
      "vec_id", "embedding", 5, planes = 4, nFlips = 0))
    val multi = recall(SimilarityOps.multiProbeLshTopK(emb, queries,
      "vec_id", "embedding", 5, planes = 4, nFlips = 3))
    // nFlips=0 probes exactly the own bucket (plain LSH); extra probes
    // can only add candidates, so recall must not drop — and measured
    // here each flip roughly doubles it (0.12 -> 0.24 -> 0.34 -> 0.41
    // for flips 0..3 at 4 planes)
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi > single + 0.15,
      s"multi-probe gained too little: $single -> $multi")
    assert(multi > 0.35, s"multi-probe recall $multi")
  }

  test("IVF-PQ ANN recall against brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 50)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding", 5,
        nCentroids = 16, nProbes = 4, m = 8, ksub = 32, oversample = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both losses multiply: ~4/16 cell coverage (IVF recall ~0.45
    // here) x PQ code distortion — still must clearly beat the 25%
    // cell-coverage chance floor
    val recall = exact.count(ivfpq.contains).toDouble / exact.size
    assert(recall > 0.3, s"IVF-PQ recall $recall")
    assert(ivfpq.forall { case (q, n) => q != n })
    // and it returns at most k per query
    val perQ = SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding", 5)
      .groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQ.forall(_ <= 5))
  }

  test("PQ codebooks are deterministic and codes bound by ksub") {
    val cb1 = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
    val cb2 = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
    assert(cb1.words.flatten.flatten.toSeq == cb2.words.flatten.flatten.toSeq)
    assert(cb1.norms2.flatten.toSeq == cb2.norms2.flatten.toSeq)
    assert(cb1.words.length == 8 && cb1.words.forall(_.length == 16) &&
      cb1.words.forall(_.forall(_.length == 8)))
    assert(cb1.subDim == 8)
    // norms2 consistent with words
    assert(cb1.norms2(3)(7) ==
      cb1.words(3)(7).foldLeft(0L)((a, x) => a + x * x))
  }

  test("IVF index store: frozen quantizer, findable delta, " +
      "partition-pruned search") {
    import graft.sources.IvfVectorStore
    val path = tempDir("ivf-spec").toString
    val old = emb.filter(col("vec_id") < 400)
    IvfVectorStore.write(spark, old, "vec_id", "embedding", 16, path)
    val centsBefore = spark.read.parquet(s"$path/centroids")
      .orderBy("cent_id").collect().map(_.getLong(0)).toSeq
    IvfVectorStore.append(spark, emb.filter(col("vec_id") >= 400),
      "vec_id", "embedding", path)
    // append must not touch the quantizer
    val centsAfter = spark.read.parquet(s"$path/centroids")
      .orderBy("cent_id").collect().map(_.getLong(0)).toSeq
    assert(centsBefore == centsAfter)
    // every vector (old + delta) is in the store exactly once
    val stored = spark.read.parquet(s"$path/vectors")
    assert(stored.count() == 500 &&
      stored.select("id").distinct().count() == 500)
    // delta vectors are findable: query BY a delta vector — its top-1
    // is its identical twin only if one exists, but it must at least
    // appear as a neighbor of something when probed directly
    val res = IvfVectorStore.searchTopK(spark, path,
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 410),
      "vec_id", "embedding", k = 5, nProbes = 4)
    assert(res.groupBy("qid").count().count() == 10,
      "every delta query must return neighbors")
    // the scan is partition-pruned to the probed cells
    val probed = IvfVectorStore.searchTopK(spark, path,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5, 2)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected cell partition filter on the vectors scan:\n$scan")
    // the quantizer really spread the corpus (pruning has something
    // to prune): all 16 cells are live
    assert(stored.select("cell").distinct().count() == 16)
  }

  test("IVF exact search: searchTopKExact == brute force at a " +
      "deliberately low nProbes; scans stay partition-pruned") {
    import graft.sources.IvfVectorStore
    val path = tempDir("ivf-exact-spec").toString
    IvfVectorStore.write(spark, emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", 16, path)
    IvfVectorStore.append(spark, emb.filter(col("vec_id") >= 400),
      "vec_id", "embedding", path)
    val queries = emb.filter(col("vec_id") < 20)
    // nProbes = 2 of 16: the heuristic pass alone WOULD miss true
    // neighbors (that's the point — the ring bound must recover them)
    val got = IvfVectorStore.searchTopKExact(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    // brute-force exact ground truth, same scoring expression
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val c = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("cv"))
    val bf = q.join(c, col("qid") =!= col("nid"))
      .withColumn("cos", SimilarityOps.dot(col("qv"), col("cv")) /
        (sqrt(SimilarityOps.dot(col("qv"), col("qv"))) *
          sqrt(SimilarityOps.dot(col("cv"), col("cv")))))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    assert(got == bf,
      s"exact search must equal brute force; diff = ${got diff bf} " +
        s"/ ${bf diff got}")
    // the heuristic pass at nProbes=2 really was insufficient
    // (otherwise this test proves nothing about the ring bound)
    val heur = IvfVectorStore.searchTopK(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    assert(heur != bf,
      "fixture degenerate: 2-probe heuristic already exact")
    // the exact path's scans stay partition-pruned on cell
    val plan = IvfVectorStore.searchTopKExact(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbes = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition filters on the exact-search scans:\n$plan")
  }

  test("int8 k-means: deterministic, all clusters live, coherent") {
    val a1 = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2, "k-means must be exactly reproducible")
    assert(a1.values.toSet.size == 8, s"dead clusters: ${a1.values.toSet}")
    // cohesion: a vector is closer (cosine) to its own cluster's float
    // centroid than to the global centroid, on average
    val asg = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 3)
    val joined = emb.join(asg, emb("vec_id") === asg("id"))
      .select(col("cid"), col("embedding"))
    val own = SimilarityOps.labelCentroids(joined, "cid", "embedding")
      .select(col("label").as("cid"), col("centroid"))
    val globalC = SimilarityOps.labelCentroids(
        joined.withColumn("g", lit(0)), "g", "embedding")
      .select(col("centroid").as("gcent"))
    val scored = joined.join(own, "cid").crossJoin(globalC)
      .select(
        SimilarityOps.cosine(col("embedding"), col("centroid")).as("co"),
        SimilarityOps.cosine(col("embedding"), col("gcent")).as("cg"))
      .agg(avg(col("co")), avg(col("cg"))).head()
    assert(scored.getDouble(0) > scored.getDouble(1) + 0.01,
      s"clusters not cohesive: own=${scored.getDouble(0)} global=${scored.getDouble(1)}")
  }

  test("semantic dedup caps oversized clusters: pair work is bounded " +
      "by maxClusterSize sub-shards on a fully-skewed fixture") {
    import spark.implicits._
    // worst case: every vector identical -> one cluster holds ALL rows
    val n = 100
    val one = Array.fill(64)(1.0f)
    val skewed = (0L until n.toLong).map(i => (i, one)).toDF("vec_id", "embedding")
    // uncapped semantics (cap far above the cluster): one survivor
    val uncapped = SimilarityOps.semanticDedup(skewed, "vec_id",
      "embedding", k = 1, iters = 1, threshold = 0.9,
      maxClusterSize = 2000).collect()
    assert(uncapped.length == 1 && uncapped.head.getLong(0) == 0L)
    // capped: the 100-row cluster shards into ceil(100/10)=10 cells;
    // each cell keeps exactly its minimum id -> survivors == occupied
    // cells (bounded), and the pairwise join never saw the full 100^2
    val capped = SimilarityOps.semanticDedup(skewed, "vec_id",
      "embedding", k = 1, iters = 1, threshold = 0.9,
      maxClusterSize = 10).collect().map(_.getLong(0)).sorted
    assert(capped.length > 1 && capped.length <= 10,
      s"expected 2..10 sub-cell survivors, got ${capped.length}")
    assert(capped.contains(0L))
  }

  test("semantic dedup: survivors are pairwise-dissimilar within cluster; " +
      "every dropped id has a smaller near neighbor") {
    val thr = 0.4
    val asg = SimilarityOps.kmeansInt8(emb, "vec_id", "embedding", 8, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kept = SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
        k = 8, iters = 3, threshold = thr)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < asg.size,
      s"expected some drops: kept ${kept.size} of ${asg.size}")
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = asg.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j && asg(i) == asg(j)) {
      val c = cos(vecs(i), vecs(j))
      if (kept(i) && kept(j))
        assert(c < thr, s"surviving near-dup pair ($i,$j) cos=$c")
    }
    for (d <- ids if !kept(d)) {
      val hasSmaller = ids.exists(i =>
        i < d && asg(i) == asg(d) && cos(vecs(i), vecs(d)) >= thr)
      assert(hasSmaller, s"dropped $d has no smaller near neighbor")
    }
  }

  test("int8 quantization: range, reconstruction bound, cosine fidelity") {
    val q = SimilarityOps.int8Quantize(emb, "vec_id", "embedding")
    val rows = q.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val qvec = r.getSeq[Int](r.fieldIndex("qvec"))
      val scale = r.getDouble(r.fieldIndex("scale"))
      val mae = r.getDouble(r.fieldIndex("mae"))
      assert(qvec.length == 64)
      assert(qvec.forall(v => v >= -127 && v <= 127))
      // round-to-nearest: per-element error <= scale/2, so mae too
      assert(mae <= scale / 2 + 1e-12, s"mae $mae vs scale $scale")
      // at least one component saturates (that's what amax/127 means)
      assert(qvec.exists(v => math.abs(v) == 127))
    }
    // dequantized cosine stays close to the float cosine
    val orig = emb.select(col("vec_id"), col("embedding"))
    val deq = q.select(col("id").as("vec_id"),
      zip_with(col("qvec"), array_repeat(col("scale"), lit(64)),
        (x, s) => x * s).as("dq"))
    val pair = orig.join(deq, "vec_id")
      .select(SimilarityOps.cosine(col("embedding"), col("dq")).as("c"))
      .agg(min(col("c"))).head.getDouble(0)
    assert(pair > 0.999, s"dequantized self-cosine $pair")
  }

  test("multimodal feature extraction preserves ids and byte stats") {
    import spark.implicits._
    val media = MultimodalOps.syntheticMedia(docs, "doc_id", "text")
      .as[graft.operators.MediaPayload]
    val feats = MultimodalOps.extractFeatures(media).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.mean_byte > 32 && f.mean_byte < 127) // ASCII text bytes
      assert(f.entropy_proxy > 0 && f.entropy_proxy < 1)
      assert(f.thumbnail.length <= 8)
    }
  }

  test("frame sampling covers the payload with the right stride") {
    import spark.implicits._
    val df = Seq((1L, "x" * 100)).toDF("media_id", "text")
      .withColumn("data", encode(col("text"), "UTF-8"))
    val frames = MultimodalOps.frameSample(df, "data", frameBytes = 32, stride = 16)
      .select("frame_idx", "frame_bytes").collect()
    // (100 - 32) / 16 + 1 = 5 frames
    assert(frames.length == 5)
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length == 32))
  }

  test("rolling hash is content-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq(("abc"), ("abd"), ("abc")).toDF("t")
    val hs = df.select(TextOps.rollingHash(col("t"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(2) && hs(0) != hs(1))
  }

  test("connected components resolve chains, triangles, and singletons") {
    import spark.implicits._
    // component {1..4} is a chain (diameter 3 — forces >1 round),
    // {10,11,12} a triangle, {20,21} an isolated edge
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("id1", "id2")
    val got = DedupOps.connectedComponents(pairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components of an empty pair set is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(DedupOps.connectedComponents(empty, "id1", "id2").count() == 0)
  }

  test("connected components agree with a driver-side union-find on real pairs") {
    val pairs = DedupOps.simhashNearDupParity(
      docs.filter(col("doc_id") < 250), "doc_id", "text", maxHamming = 8)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: tiny union-find over the collected pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap
    val got = DedupOps.connectedComponents(
        docs.sparkSession.createDataFrame(pairs.toSeq).toDF("id1", "id2"),
        "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("repetition stats match hand-computed values") {
    import spark.implicits._
    // 5 tokens: "a a b b b" -> n=5, distinct=2, top=3 ("b"),
    // 2-grams: [a a, a b, b b, b b] -> 4 total, 3 distinct
    val df = Seq((1L, "a a b b b")).toDF("doc_id", "text")
    val r = graft.operators.CurationOps
      .repetitionStats(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(math.abs(r.getAs[Double]("mean_token_len") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("dup_token_frac") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("top_token_frac") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("dup_2gram_frac") - 0.25) < 1e-12)
  }

  test("repetition stats: single-token doc has zero 2-gram repetition") {
    import spark.implicits._
    val df = Seq((1L, "solo")).toDF("doc_id", "text")
    val r = graft.operators.CurationOps
      .repetitionStats(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 1)
    assert(r.getAs[Double]("dup_2gram_frac") == 0.0)
  }

  test("gap sessionization splits on gap and restarts per key") {
    import spark.implicits._
    val df = Seq((1L, 1L, 0L), (1L, 2L, 10L), (1L, 3L, 2000L),
      (1L, 4L, 2005L), (2L, 5L, 0L)).toDF("user_id", "event_id", "ts")
    val got = graft.operators.WindowOps
      .gapSessionize(df, Seq("user_id"), Seq("ts", "event_id"), "ts", 100L)
      .select("event_id", "session_seq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("contamination containment: full quote scores 1.0, disjoint drops") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // quotes probe 10 fully
      (2L, "totally unrelated words here")).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "beta gamma delta"),  // 2 shingles, both inside doc 1
      (11L, "nothing shared at all")).toDF("doc_id", "text")
    val got = DedupOps.crossCorpusContamination(corpus, probes,
        "doc_id", "text", shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 10L, 1.0)))
  }

  test("label centroids equal exact per-dimension means") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)),
      (1, Seq(10.0f, 20.0f))).toDF("label", "embedding")
    val got = SimilarityOps.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2)))
      .sortBy(_._1)
    assert(got(0) == ((0, Seq(2.0, 4.0), 2L)))
    assert(got(1) == ((1, Seq(10.0, 20.0), 1L)))
  }

  test("histogram bins cover all rows; max folds into last bin") {
    import spark.implicits._
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val got = graft.operators.StatsOps.histogram(df, "v", 10)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.values.sum == 101)
    assert(got.keySet == (0 to 9).toSet)
    // [0,10) ... [90,100) with 100 folded into bin 9
    assert(got(0) == 10 && got(9) == 11)
  }

  test("histogram degenerate range lands everything in bin 0") {
    import spark.implicits._
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val got = graft.operators.StatsOps.histogram(df, "v", 10).collect()
    assert(got.length == 1 && got.head.getInt(0) == 0 &&
      got.head.getLong(1) == 3)
  }

  test("top n-grams count occurrences (not per-doc distinct) in order") {
    import spark.implicits._
    val df = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    val got = graft.operators.CurationOps.topNgrams(df, "text", 2, 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // doc1: [x y, y x, x y], doc2: [x y, y z]
    assert(got.head == ("x y", 3L))
    assert(got.toSet == Set(("x y", 3L), ("y x", 1L), ("y z", 1L)))
  }

  test("winsorize clips to hand-computed type-7 quantiles per key") {
    import spark.implicits._
    val df = ((1 to 10).map(i => ("a", i.toLong, i.toDouble)) :+
      ("b", 99L, 42.0)).toDF("k", "id", "value")
    val got = graft.operators.StatsOps
      .winsorize(df, Seq("k"), "value", 0.05, 0.95)
      .select(col("id"), col("value_wins"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // k=a, n=10: lo = 1 + 0.45*(2-1) = 1.45; hi = 9 + 0.55*(10-9) = 9.55
    assert(math.abs(got(1L) - 1.45) < 1e-12)
    assert(math.abs(got(10L) - 9.55) < 1e-12)
    (2 to 9).foreach(i => assert(got(i.toLong) == i.toDouble))
    // single-value group: lo = hi = the value
    assert(got(99L) == 42.0)
  }

  test("winsorize NULL contract: null values pass through null, " +
      "all-null keys keep their rows") {
    import spark.implicits._
    val df = Seq(("a", 1L, Some(1.0)), ("a", 2L, Some(2.0)),
      ("a", 3L, Option.empty[Double]),
      ("b", 4L, Option.empty[Double]), ("b", 5L, Option.empty[Double]))
      .toDF("k", "id", "value")
    val got = graft.operators.StatsOps
      .winsorize(df, Seq("k"), "value", 0.1, 0.9)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("value_wins"))).toMap
    assert(got.size == 5, "all-null key rows must survive the join")
    assert(got(3L).isEmpty && got(4L).isEmpty && got(5L).isEmpty)
    assert(got(1L).nonEmpty && got(2L).nonEmpty)
  }

  test("winsorize rejects inputs whose columns collide with its " +
      "internal names") {
    import spark.implicits._
    val bad = Seq(("a", 1.0, 0.0)).toDF("k", "value", "w_lo")
    val e = intercept[IllegalArgumentException] {
      graft.operators.StatsOps.winsorize(bad, Seq("k"), "value", 0.1, 0.9)
    }
    assert(e.getMessage.contains("w_lo"))
    val badKey = Seq((1L, 2.0)).toDF("rk", "value")
    intercept[IllegalArgumentException] {
      graft.operators.StatsOps.winsorize(badKey, Seq("rk"), "value", 0.1, 0.9)
    }
    // a bystander column named v is harmless (never projected)
    val ok = Seq(("a", 1.0, 9.9)).toDF("k", "value", "v")
    assert(graft.operators.StatsOps
      .winsorize(ok, Seq("k"), "value", 0.1, 0.9).count() == 1)
  }

  test("random projection equals the driver-side literal plane dot") {
    val rows = emb.limit(5).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    val m = SimilarityOps.planeMatrix(8, 64)
    val got = SimilarityOps.randomProject(emb.limit(5), "vec_id",
        "embedding", outDims = 8)
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getDouble(i)).toArray).toMap
    got.foreach { case (id, rs) =>
      val v = rows(id)
      (0 until 8).foreach { p =>
        val want = (0 until 64).foldLeft(0.0)((a, i) =>
          a + v(i) * m(p)(i)) / math.sqrt(8.0)
        assert(math.abs(rs(p) - want) < 1e-12, s"id $id dim $p")
      }
    }
  }

  test("char entropy CODEGEN path (non-local plan) equals interpreted " +
      "eval and the fold") {
    // Seq.toDF plans are folded by ConvertToLocalRelation and evaluate
    // custom expressions via interpreted nullSafeEval only — they never
    // exercise doGenCode. A range-based plan runs whole-stage codegen.
    val df = spark.range(0, 64)
      .select(col("id"), md5(col("id").cast("string")).as("text"))
    val got = df.select(col("id"),
        TextOps.charEntropy(col("text")).as("native"),
        TextOps.charEntropyFold(col("text")).as("fold"))
      .collect()
    assert(got.length == 64)
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12,
        s"id ${r.getLong(0)}: codegen ${r.getDouble(1)} " +
          s"fold ${r.getDouble(2)}")
      assert(r.getDouble(1) > 2.0 && r.getDouble(1) <= math.log(16.0),
        "32 hex chars should land between ln(8)ish and ln(16)")
    }
  }

  test("native char entropy equals the HOF-fold reference on random " +
      "and edge-case strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cases = Seq("", "a", "ab c d", "aAbB  !!", "zzzzzzz") ++
      (0 until 50).map(_ => (0 until rnd.nextInt(80))
        .map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        TextOps.charEntropy(col("text")).as("native"),
        TextOps.charEntropyFold(col("text")).as("fold"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12,
        s"case ${r.getLong(0)}: native ${r.getDouble(1)} " +
          s"fold ${r.getDouble(2)}")
    }
  }

  test("char entropy: hand-computed distributions, zero for constant") {
    import spark.implicits._
    val df = Seq((1L, "aaaa"), (2L, "ab"), (3L, "aabb"), (4L, "abcd"),
      (5L, "aab")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextOps.charDistinct(col("text")).as("u"),
        TextOps.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    assert(got(1L)._1 == 1 && math.abs(got(1L)._2) < 1e-12)
    assert(got(2L)._1 == 2 && math.abs(got(2L)._2 - math.log(2)) < 1e-12)
    assert(got(3L)._1 == 2 && math.abs(got(3L)._2 - math.log(2)) < 1e-12)
    assert(got(4L)._1 == 4 && math.abs(got(4L)._2 - math.log(4)) < 1e-12)
    val h5 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(got(5L)._1 == 2 && math.abs(got(5L)._2 - h5) < 1e-12)
  }

  test("resize stub: nearest-neighbor byte sampling, up- and down-scale") {
    import spark.implicits._
    val df = Seq(("abcdefgh"), ("ab")).toDF("s")
    val got = df.select(col("s"),
        decode(MultimodalOps.resizeStub(encode(col("s"), "UTF-8"), 4), "UTF-8")
          .as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("abcdefgh") == "aceg")
    assert(got("ab") == "aabb")
  }

  test("randomized properties: entropy bounds, CMS domination, " +
      "zipf slope sign") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "gamma", "delta", "x", "yy", "zzz")
    val texts = (0 until 40).map { i =>
      (i.toLong, (0 until 1 + rnd.nextInt(30))
        .map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    // entropy bounded by ln(support size)
    val ent = df.select(TextOps.charDistinct(col("text")).as("u"),
        TextOps.charEntropy(col("text")).as("e")).collect()
    ent.foreach { r =>
      val (u, e) = (r.getInt(0), r.getDouble(1))
      assert(e >= -1e-12 && e <= math.log(u.toDouble) + 1e-12,
        s"entropy $e outside [0, ln($u)]")
    }
    // CMS estimates dominate exact counts on arbitrary corpora
    val cms = graft.operators.CurationOps
      .cmsHeavyHitters(df, "text", depth = 2, width = 8, topK = 50)
      .collect()
    assert(cms.nonEmpty)
    cms.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CMS underestimated ${r.getString(0)}"))
    // rank-frequency slope can never be positive (freq non-increasing
    // in rank by construction)
    val slope = graft.operators.CurationOps.zipfFit(df, "text", 100)
      .collect().head.getDouble(1)
    assert(slope <= 1e-12, s"positive zipf slope $slope")
  }

  test("winsorize randomized: clipped values stay in-range and " +
      "order is preserved") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map(i =>
      (s"g${i % 3}", i.toLong, rnd.nextGaussian() * (1 + i % 3)))
    val df = rows.toDF("k", "id", "value")
    val got = graft.operators.StatsOps
      .winsorize(df, Seq("k"), "value", 0.1, 0.9)
      .select(col("k"), col("id"), col("value"), col("value_wins"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val byKey = got.groupBy(_._1)
    byKey.foreach { case (_, g) =>
      val lo = g.map(_._3).min; val hi = g.map(_._3).max
      g.foreach { case (_, _, _, w) =>
        assert(w >= lo - 1e-12 && w <= hi + 1e-12)
      }
      // clipping is monotone: v1 <= v2 implies w1 <= w2
      val sorted = g.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4 + 1e-12)
        case _ =>
      }
      // interior values (strictly between bounds) are untouched
      val ws = g.map(_._4)
      val (wlo, whi) = (ws.min, ws.max)
      g.foreach { case (_, _, v, w) =>
        if (v > wlo && v < whi) assert(w == v)
      }
    }
  }

  test("PCA first component recovers a planted dominant direction") {
    import spark.implicits._
    // vectors = a_k * u + tiny fixed noise; u = (0.6, 0.8, 0, 0)
    val u = Array(0.6, 0.8, 0.0, 0.0)
    val as = (0 until 40).map(k => (k % 7) - 3.0) // mean ~0, spread 6
    val rows = as.zipWithIndex.map { case (a, k) =>
      val noise = Array(0.0, 0.0, 0.001 * ((k % 5) - 2), 0.002 * (k % 3 - 1))
      (k.toLong, Array.tabulate(4)(i => (a * u(i) + noise(i)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = SimilarityOps.pcaProject(df, "vec_id", "embedding",
        dims = 4, iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mean = as.sum / as.length
    // pc1 should equal the centered coefficient up to a global sign
    val sign = math.signum(got(0L) / (as(0) - mean))
    as.zipWithIndex.foreach { case (a, k) =>
      assert(math.abs(got(k.toLong) - sign * (a - mean)) < 0.01,
        s"vec $k: got ${got(k.toLong)} want ${sign * (a - mean)}")
    }
  }

  test("single-pass moment/gram aggregate matches the hand computation " +
      "and survives partial-buffer merges") {
    import spark.implicits._
    val vecs = Seq(
      Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0),
      Array(-1.0, 0.5, 2.0), Array(0.0, 0.0, 1.0),
      Array(2.5, -3.0, 0.25))
    // repartition(3) forces multiple partial buffers through merge()
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").repartition(3)
    val flat = df
      .select(graft.functions.VectorMomentGram.momentGram(col("v"), 3))
      .head.getSeq[Double](0)
    assert(flat(0) == vecs.length.toDouble)
    for (i <- 0 until 3) {
      assert(flat(1 + i) == vecs.length.toDouble, s"cnt $i")
      assert(math.abs(flat(4 + i) - vecs.map(_(i)).sum) < 1e-12, s"sum $i")
    }
    for (i <- 0 until 3; j <- 0 until 3) {
      val want = vecs.map(v => v(i) * v(j)).sum
      assert(math.abs(flat(7 + i * 3 + j) - want) < 1e-12, s"gram($i,$j)")
    }
  }

  test("moment/gram aggregate: null rows count toward n only; ragged " +
      "rows contribute the entries they have (relational contract)") {
    import spark.implicits._
    val rows: Seq[(Long, Option[Array[Double]])] = Seq(
      1L -> Some(Array(1.0, 2.0, 3.0)),
      2L -> None,                       // null row: n only
      3L -> Some(Array(5.0)),           // ragged short: dim 0 only
      4L -> Some(Array(1.0, 1.0, 1.0, 9.0))) // ragged long: capped at 3
    val df = rows.toDF("id", "v")
    val flat = df
      .select(graft.functions.VectorMomentGram.momentGram(col("v"), 3))
      .head.getSeq[Double](0)
    assert(flat(0) == 4.0, "n counts every input row")
    assert(flat(1) == 3.0 && flat(2) == 2.0 && flat(3) == 2.0, "per-dim cnt")
    assert(flat(4) == 1.0 + 5.0 + 1.0) // dim-0 sums
    assert(flat(5) == 2.0 + 1.0)
    assert(flat(6) == 3.0 + 1.0)
    // gram(0,0): 1 + 25 + 1; gram(0,2): 1*3 + 1*1 (row 3 lacks dim 2)
    assert(flat(7) == 27.0)
    assert(flat(7 + 2) == 4.0)
    // NULL elements are skipped like SQL AVG/SUM, not read as 0.0
    val withNullElem: Seq[(Long, Array[java.lang.Double])] = Seq(
      1L -> Array[java.lang.Double](2.0, null, 4.0),
      2L -> Array[java.lang.Double](6.0, 8.0, null))
    val f2 = withNullElem.toDF("id", "v")
      .select(graft.functions.VectorMomentGram.momentGram(col("v"), 3))
      .head.getSeq[Double](0)
    assert(f2(0) == 2.0)
    assert(f2(1) == 2.0 && f2(2) == 1.0 && f2(3) == 1.0, "null slots skip")
    assert(f2(4) == 8.0 && f2(5) == 8.0 && f2(6) == 4.0)
    // gram(0,1): only row 2 has both dims 0 and 1 -> 6*8
    assert(f2(7 + 1) == 48.0)
    // gram(0,2): only row 1 has both dims 0 and 2 -> 2*4
    assert(f2(7 + 2) == 8.0)
  }

  test("cosine near-dup pairs: output is a verified subset of the exact " +
      "pair set with usable recall") {
    import graft.operators.SimilarityOps
    // exact ground truth, driver-side over the 500 sf0.01 vectors
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val ids = vecs.keys.toArray.sorted
    val exact = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.35
    } yield (ids(i), ids(j))).toSet
    assert(exact.nonEmpty, "fixture should contain pairs above 0.35")
    val got = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.35, bands = 8, planesPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (LSH candidates are verified
    // with the true cosine): every emitted pair must be a true pair
    assert(got.subsetOf(exact),
      s"emitted non-pairs: ${got.diff(exact).take(5)}")
    // 8 bands x 4 planes at theta(0.35) ~ 69.5 deg: per-band collision
    // (1 - theta/pi)^4 ~ 0.14, any-band ~ 0.70 -> require >= half
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall over ${exact.size} true pairs")
  }

  test("detectLanguage: NB default path beats the keyword vote on the " +
      "labeled fixture, and keyword mode matches TextOps.langId") {
    import graft.operators.CurationOps
    import graft.queries.NorthStar
    val labels = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def accuracy(preds: Map[Long, String]): Double =
      labels.count { case (id, l) => preds.get(id).contains(l) }.toDouble /
        labels.size
    val nb = CurationOps.detectLanguage(docs, "doc_id", "text",
        Some("lang"), NorthStar.LangMarkers).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    val kw = CurationOps.detectLanguage(docs, "doc_id", "text",
        None, NorthStar.LangMarkers).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val nbAcc = accuracy(nb.map { case (id, (p, _)) => id -> p }.toMap)
    val kwAcc = accuracy(kw.map { case (id, (p, _)) => id -> p })
    info(f"NB accuracy $nbAcc%.3f vs keyword $kwAcc%.3f " +
      s"over ${labels.size} labeled docs")
    // the promotion criterion: the trained path must not lose to the
    // zero-training fallback on labeled data
    assert(nbAcc >= kwAcc, s"NB $nbAcc < keyword $kwAcc")
    // every fixture doc has tokens, so the NB mode should score all of
    // them from the model, not the fallback
    assert(nb.forall(_._2._2 == "nb"), "expected all-NB provenance")
    // keyword mode is the exact langId contract (q23's oracle relies
    // on this equivalence)
    val direct = docs.select(col("doc_id"),
        graft.operators.TextOps.langId(col("text"),
          NorthStar.LangMarkers).as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kw.map { case (id, (p, _)) => id -> p } == direct)
    assert(kw.values.forall(_._2 == "keyword"))
  }

  test("embeddingNearDup (banded facade): pairwise-identical to the " +
      "single-bucket formulation it replaced, on the real fixture") {
    import graft.operators.SimilarityOps
    // Ground truth for the OLD operator's semantics: pairs that share
    // the single 4-plane bucket AND verify at cosine >= 0.35 — computed
    // driver-side from the fixture, independent of the new code path.
    val planes = 4
    val withB = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        SimilarityOps.hyperplaneBucket(col("embedding"), planes, 64)
          .as("bucket"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byId = withB.sortBy(_._1)
    val old = (for {
      i <- byId.indices.iterator; j <- (i + 1) until byId.length
      if byId(i)._3 == byId(j)._3 &&
        cos(byId(i)._2, byId(j)._2) >= 0.35
    } yield (byId(i)._1, byId(j)._1)).toSet
    assert(old.nonEmpty, "fixture should have same-bucket pairs at 0.35")
    val got = DedupOps.embeddingNearDup(emb, "vec_id", "embedding",
        planes = planes, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall >= the replaced operator's comes for free from equality
    assert(got == old,
      s"missing ${old.diff(got).take(5)}, extra ${got.diff(old).take(5)}")
  }

  test("cosine near-dup pairs: hub buckets are capped, so pair work " +
      "is bounded") {
    import graft.operators.SimilarityOps
    import spark.implicits._
    // 60 identical vectors: one giant bucket in every band. With
    // maxBucketSize = 20 the bucket is dropped entirely -> no pairs;
    // with the default cap the 1,770 pairs all verify at cos = 1.
    val dup = (0L until 60L).map(i => (i, Array.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val capped = SimilarityOps.cosineNearDupPairs(dup, "vec_id",
      "embedding", threshold = 0.9, maxBucketSize = 20).count()
    assert(capped == 0, s"capped run emitted $capped pairs")
    val full = SimilarityOps.cosineNearDupPairs(dup, "vec_id",
      "embedding", threshold = 0.9).count()
    assert(full == 60L * 59 / 2, s"uncapped run emitted $full pairs")
    // the single-band embedding dedup drops a capped megabucket too
    val pairs = DedupOps.embeddingNearDup(dup, "vec_id", "embedding",
      planes = 16, threshold = 0.9, maxBucketSize = 20).count()
    assert(pairs == 0, "capped megabucket must emit no pairs")
  }

  test("embedding contamination: verified subset of exact cross-split " +
      "pairs, usable recall, and a corpus-broadcast-free plan") {
    import graft.operators.SimilarityOps
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = (for {
      p <- vecs.keys if p < 20; t <- vecs.keys if t >= 20
      if cos(vecs(p), vecs(t)) >= 0.3
    } yield (p, t)).toSet
    assert(exact.nonEmpty, "fixture should contain cross-split pairs")
    val result = SimilarityOps.embeddingContamination(
      emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", threshold = 0.3)
    val got = result.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"non-pairs: ${got.diff(exact).take(5)}")
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall over ${exact.size} true pairs")
    // the 100 TB contract: the corpus side is never sort-merge-joined
    // or shuffled into a join — probe signatures and candidates
    // broadcast instead
    val plan = result.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"corpus SMJ:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast candidate+verify joins:\n$plan")
  }

  test("priority sample: deterministic, bounded per group, and " +
      "weight-biased") {
    import graft.operators.CurationOps
    import spark.implicits._
    // 1,000 rows in one group: ids < 500 weight 1, ids >= 500 weight
    // 100. A 100x weight wins the priority contest unless its uniform
    // draw is ~100x unluckier, so the 50-row sample should be nearly
    // all heavy rows.
    val df = (0L until 1000L)
      .map(i => (i, "g", if (i < 500) 1.0 else 100.0))
      .toDF("id", "grp", "w")
    val s1 = CurationOps.prioritySample(df, "grp", "id", "w", 50, "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s1.size == 50)
    val heavy = s1.count(_._2 >= 500)
    assert(heavy >= 45, s"only $heavy of 50 sampled rows are heavy")
    // determinism: same salt -> same set; and a group smaller than n
    // returns all its (positive-weight) rows
    val s2 = CurationOps.prioritySample(df, "grp", "id", "w", 50, "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(s1 == s2)
    val tiny = df.filter(col("id") < 10)
      .withColumn("w", when(col("id") === 0, lit(null)).otherwise(col("w")))
    val all = CurationOps.prioritySample(tiny, "grp", "id", "w", 50, "t")
    assert(all.count() == 9, "null-weight row must be excluded")
  }

  test("PCA projection variance dominates any coordinate direction") {
    val got = SimilarityOps.pcaProject(emb, "vec_id", "embedding")
      .collect().map(_.getDouble(1))
    val pcVar = got.map(x => x * x).sum / got.length -
      math.pow(got.sum / got.length, 2)
    // variance along each raw coordinate axis
    (1 to 64).foreach { i =>
      val xs = emb.select(element_at(col("embedding"), i).cast("double"))
        .collect().map(_.getDouble(0))
      val v = xs.map(x => x * x).sum / xs.length -
        math.pow(xs.sum / xs.length, 2)
      assert(pcVar >= v - 1e-9, s"axis $i variance $v exceeds pc1 $pcVar")
    }
  }

  test("hll distinct: accurate at 10k, duplicate-insensitive, " +
      "linear counting near-exact at small cardinality") {
    import graft.operators.StatsOps
    val df = spark.range(10000).select(lit("k").as("k"), col("id"))
    val r = StatsOps.hllDistinct(df, "k", "id", p = 8).collect().head
    val est = r.getAs[Double]("est")
    // sigma = 1.04/sqrt(256) = 6.5%; 10k is far above the 2.5m
    // correction boundary, so est = est_raw here
    assert(math.abs(est - 10000) < 2000, s"est $est too far from 10000")
    // registers are a max-sketch: triplicating every value changes
    // nothing (this is what makes it mergeable across corpora)
    val r3 = StatsOps.hllDistinct(df.union(df).union(df), "k", "id",
      p = 8).collect().head
    assert(r3.getAs[Long]("reg_sum_p") == r.getAs[Long]("reg_sum_p"))
    assert(r3.getAs[Long]("n_regs") == r.getAs[Long]("n_regs"))
    // small cardinality: the linear-counting branch is near-exact
    val sm = spark.range(50).select(lit("k").as("k"), col("id"))
    val rs = StatsOps.hllDistinct(sm, "k", "id", p = 8).collect().head
    assert(math.abs(rs.getAs[Double]("est") - 50) <= 5,
      s"linear counting gave ${rs.getAs[Double]("est")} for 50")
  }

  test("vocab coverage: hand-traced thresholds including a frequency " +
      "tie crossing") {
    import spark.implicits._
    // term freqs: a:4, b:4, c:2 -> total 10; the 50% and 80% targets
    // both land inside the tied freq-4 group
    val df = Seq((1L, "a a a a b b"), (2L, "b b c c"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabCoverage(df, "text", Seq(50, 80, 100))
      .collect()
      .map(r => r.getAs[Int]("pct") ->
        ((r.getAs[Long]("vocab_size"), r.getAs[Long]("cum_tokens"),
          r.getAs[Long]("total_tokens"))))
      .toMap
    assert(got(50) == ((2L, 8L, 10L)))  // target 5: one freq-4 term
                                        // is not enough, two cover 8
    assert(got(80) == ((2L, 8L, 10L)))  // target 8: exactly two terms
    assert(got(100) == ((3L, 10L, 10L)))
  }

  test("boilerplate grams: within-source DF threshold flags template " +
      "material only") {
    import spark.implicits._
    val df = Seq(
      (1L, "buy now alpha beta", "s1"),
      (2L, "buy now gamma delta", "s1"),
      (3L, "buy now epsilon zeta", "s1"),
      (4L, "unique words only here", "s1"),
      (5L, "buy now", "s2")).toDF("doc_id", "text", "source")
    val got = graft.operators.CurationOps
      .boilerplateGrams(df, "doc_id", "text", "source",
        n = 2, pctThreshold = 60)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"),
          r.getAs[Boolean]("is_template"))))
      .toMap
    // "buy now" hits 3/4 = 75% of s1 and 1/1 of s2; no other gram
    // recurs across docs
    assert(got(1L) == ((3L, 1L, false)))
    assert(got(4L) == ((3L, 0L, false)))
    assert(got(5L) == ((1L, 1L, true)))
  }

  test("ngram novelty: first occurrence wins by id order") {
    import spark.implicits._
    // doc 1 "a b c": both grams first here; doc 2 "a b d": "a b"
    // already seen, "b d" novel — input order deliberately reversed
    val df = Seq((2L, "a b d"), (1L, "a b c")).toDF("doc_id", "text")
    val got = DedupOps.ngramNovelty(df, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))))
      .toMap
    assert(got(1L) == ((2L, 2L)))
    assert(got(2L) == ((2L, 1L)))
  }

  test("rand index: identical clusterings score 1, a half-crossed " +
      "partition scores 1/3") {
    import spark.implicits._
    import graft.operators.StatsOps
    val a = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("id", "lab")
    val same = StatsOps.randIndex(a, "id", "lab", a, "id", "lab")
      .collect().head
    assert(same.getAs[Long]("n_items") == 4L)
    assert(same.getAs[Double]("rand") == 1.0)
    // B = {1,3}, {2,4}: every cell is 1 -> a=0, r=c=2, T=6 ->
    // (6 + 0 - 2 - 2)/6 = 1/3
    val b = Seq((1L, 7L), (3L, 7L), (2L, 8L), (4L, 8L))
      .toDF("id", "lab")
    val crossed = StatsOps.randIndex(a, "id", "lab", b, "id", "lab")
      .collect().head
    assert(crossed.getAs[Long]("a_pairs") == 0L)
    assert(crossed.getAs[Long]("total_pairs") == 6L)
    assert(math.abs(crossed.getAs[Double]("rand") - 1.0 / 3.0) < 1e-15)
  }

  test("weighted pagerank hand trace: mass follows edge weight") {
    import spark.implicits._
    // 1 -> 2 (w=1000), 1 -> 3 (w=3000); one round, d=0.85, n=3:
    // node1 gets (1-d)/3 = 0.05; node2 = 0.05 + 0.85*(1/3)*(1/4);
    // node3 = 0.05 + 0.85*(1/3)*(3/4)
    val e = Seq((1L, 2L, 1000L), (1L, 3L, 3000L)).toDF("s", "d", "w")
    val got = graft.operators.GraphOps
      .pageRankWeighted(e, "s", "d", "w", iters = 1)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("pr")).toMap
    assert(math.abs(got(1L) - 0.05) < 1e-12)
    assert(math.abs(got(2L) - (0.05 + 0.85 / 3.0 * 0.25)) < 1e-12)
    assert(math.abs(got(3L) - (0.05 + 0.85 / 3.0 * 0.75)) < 1e-12)
  }

  test("rrf fusion hand trace: shared candidate wins, absent lists " +
      "contribute zero") {
    import spark.implicits._
    val a = Seq((1L, 10L, 0.9), (1L, 11L, 0.8)).toDF("q", "d", "s")
    val b = Seq((1L, 11L, 0.7), (1L, 12L, 0.6)).toDF("q", "d", "s")
    val got = SimilarityOps.rrfFuse(a, b, "q", "d", "s", k = 5)
      .collect()
      .map(r => r.getAs[Long]("d") ->
        ((r.getAs[Int]("rank_a"), r.getAs[Int]("rank_b"),
          r.getAs[Double]("rrf"))))
      .toMap
    assert(got(11L) == ((2, 1, 1.0 / 62.0 + 1.0 / 61.0)))
    assert(got(10L) == ((1, 0, 1.0 / 61.0)))
    assert(got(12L) == ((0, 2, 1.0 / 62.0)))
    // fused order: 11 (in both lists) > 10 (rank-1 single) > 12
    val order = SimilarityOps.rrfFuse(a, b, "q", "d", "s", k = 5)
      .orderBy(col("rrf").desc, col("d")).collect().map(_.getAs[Long]("d"))
    assert(order.toSeq == Seq(11L, 10L, 12L))
  }

  test("cluster downsample: singletons always survive, big clusters " +
      "thin to ~1, decisions deterministic") {
    import spark.implicits._
    val comp = ((0L until 100L).map(i => (i, 500L)) :+ ((200L, 201L)))
      .toDF("id", "cluster_id")
    val run1 = graft.operators.DedupOps
      .clusterDownsample(comp, "id", "cluster_id")
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("size"), r.getAs[Boolean]("kept"))))
      .toMap
    assert(run1(200L) == ((1L, true)), "singleton must always be kept")
    val keptBig = run1.filter(_._2._1 == 100L).count(_._2._2)
    assert(keptBig <= 8, s"1/100 thinning kept $keptBig of 100")
    val run2 = graft.operators.DedupOps
      .clusterDownsample(comp, "id", "cluster_id")
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(run1.view.mapValues(_._2).toMap == run2,
      "hash decisions must be identical across runs")
  }

  test("modularity hand trace: two triangles with a bridge score " +
      "Q = 5/14 total") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "c")
    val got = graft.operators.GraphOps
      .modularity(e, "a", "b", labels, "node", "c")
      .collect()
      .map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("e_in2"),
          r.getAs[Long]("d_c"), r.getAs[Double]("modularity"))))
      .toMap
    // per community: e_in2 = 6 (3 undirected internal edges doubled),
    // d_c = 7 (2+2+3), m2 = 14 -> 6/14 - (7/14)^2 = 3/7 - 1/4 = 5/28
    assert(got.keySet == Set(1L, 4L))
    got.values.foreach { case (n, ein, dcv, q) =>
      assert(n == 3L && ein == 6L && dcv == 7L)
      assert(math.abs(q - (3.0 / 7.0 - 0.25)) < 1e-12)
    }
  }

  test("label-noise screen: a planted minority label among identical " +
      "vectors is the only suspect") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => 1.0f / (i + 1))
    def jig(k: Int) = base.updated(0, base(0) + k * 1e-6f).toSeq
    val emb = Seq(
      (1L, jig(1), 0), (2L, jig(2), 0), (3L, jig(3), 0), (4L, jig(4), 1))
      .toDF("vec_id", "embedding", "label")
    val knn = SimilarityOps.knnGraph(emb, "vec_id", "embedding", k = 3,
      bands = 8, planesPerBand = 4)
    val lab = emb.select(col("vec_id"), col("label"))
    val got = knn.select(col("id"), col("nid"))
      .join(lab.select(col("vec_id").as("id"), col("label").as("own")),
        "id")
      .join(lab.select(col("vec_id").as("nid"), col("label").as("nl")),
        "nid")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("nl") === col("own"), 1L).otherwise(0L)).as("ag"))
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("ag") * 2 < r.getAs[Long]("n")))
      .toMap
    assert(got(4L), "planted minority label must be flagged")
    assert(Seq(1L, 2L, 3L).forall(id => !got(id)),
      s"majority labels must not be flagged: $got")
  }

  test("quality budget fill: greedy keep order, boundary straddle, " +
      "per-group independence") {
    import spark.implicits._
    val df = Seq(
      (1L, "g", 1000L, 0.9), (2L, "g", 900L, 0.8),
      (3L, "g", 500L, 0.7), (4L, "g", 100L, 0.6),
      (5L, "h", 5000L, 0.1)).toDF("id", "grp", "tok", "q")
    val got = graft.operators.CurationOps
      .qualityBudgetFill(df, "grp", "id", "tok", "q", 2000L)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("q_rank"), r.getAs[Long]("cum_before"),
          r.getAs[Boolean]("kept"))))
      .toMap
    assert(got(1L) == ((1, 0L, true)))
    assert(got(2L) == ((2, 1000L, true)))
    // doc 3 starts at 1900 < 2000: kept, straddling the quota
    assert(got(3L) == ((3, 1900L, true)))
    assert(got(4L) == ((4, 2400L, false)))
    // other group: its first doc is always kept, however large
    assert(got(5L) == ((1, 0L, true)))
  }

  test("collocations: hand-traced lift values, rank, and tie break") {
    import spark.implicits._
    // tokens: doc1 = x y x y, doc2 = x y z.
    // c(x y)=3, c(y x)=1, c(y z)=1; c_x=3, c_y=3, c_z=1;
    // N_uni=7, N_big=5. lift(x y) = 3*49/(3*3*5) = 49/15;
    // lift(y z) = 1*49/(3*1*5) = 49/15 (exact tie -> gram order);
    // lift(y x) = 49/45.
    val df = Seq("x y x y", "x y z").toDF("text")
    val got = graft.operators.CurationOps
      .collocations(df, "text", minCount = 1, topK = 10)
      .collect()
      .map(r => (r.getAs[String]("gram"), r.getAs[Long]("c_ab"),
        r.getAs[Double]("lift")))
    assert(got.map(_._1).toSeq == Seq("x y", "y z", "y x"))
    assert(got(0)._2 == 3L)
    assert(math.abs(got(0)._3 - 49.0 / 15.0) < 1e-12)
    assert(math.abs(got(2)._3 - 49.0 / 45.0) < 1e-12)
  }

  test("calibration bins: equal-mass deciles, conserved counts, " +
      "monotone mean score") {
    val scored = graft.operators.CurationOps.logisticTrainScore(docs,
        "doc_id",
        features = Seq(
          TextOps.tokenCount(col("text")) / lit(100.0d),
          TextOps.stopwordRatio(col("text"),
            graft.queries.NorthStar.Stopwords)),
        label = coalesce(col("lang") === "en", lit(false)),
        iters = 5, lr = 1.0)
    val ranked = graft.operators.CurationOps.globalRank(
      scored.withColumn("se6",
        round(col("score") * lit(1e6), 0).cast("long")),
      "se6", "id", "rk")
    val total = docs.count()
    val rows = ranked
      .withColumn("bin", expr(s"(rk - 1) * 10 DIV ${total}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("se6")).as("mass"))
      .collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("pos"),
          r.getAs[Long]("mass"))))
      .toMap
    assert(rows.values.map(_._1).sum == total)
    assert(rows.keySet == (0L to 9L).toSet,
      s"equal-mass deciles must all be populated: $rows")
    // equal mass: every bin within 1 of total/10
    assert(rows.values.forall(v => math.abs(v._1 - total / 10) <= 1))
    // rank binning guarantees per-bin MEAN score is non-decreasing
    val means = (0L to 9L).map(b =>
      rows(b)._3.toDouble / rows(b)._1)
    assert(means.zip(means.tail).forall { case (a, b) => a <= b },
      s"mean score must not decrease across rank deciles: $means")
    // positives must be spread, not all in one bin (sanity of y join)
    assert(rows.values.map(_._2).sum == docs
      .filter(col("lang") === "en").count().toDouble)
  }

  test("hll intersect: inclusion-exclusion recovers a planted overlap " +
      "within sketch error") {
    import spark.implicits._
    import graft.operators.StatsOps
    // |A| = 8000, |B| = 8000, |A ∩ B| = 4000
    val a = (0L until 8000L).map(("A", _))
    val b = (4000L until 12000L).map(("B", _))
    val regs = StatsOps.hllRegisters((a ++ b).toDF("k", "id"), "k", "id")
    val r = StatsOps.hllIntersect(regs, "k").collect()
    assert(r.length == 1)
    val est = r.head.getAs[Double]("inter_raw")
    // each raw term carries ~6.5% sigma; the difference of three
    // correlated terms is loose — allow a wide (but useful) band
    assert(math.abs(est - 4000.0) < 2500.0,
      s"overlap estimate $est too far from 4000")
    // union decomposition must be consistent: reg_sum_ab equals the
    // directly-computed union sketch sum
    val union = StatsOps
      .hllDistinct((a ++ b).map(x => ("U", x._2)).toDF("k", "id"),
        "k", "id")
      .collect().head.getAs[Long]("reg_sum_p")
    assert(r.head.getAs[Long]("reg_sum_ab") == union,
      "pairwise union sum must equal the one-shot union sketch")
  }

  test("ks drift: separated distributions hit D = 1, identical ones " +
      "hit 0") {
    import spark.implicits._
    import graft.operators.StatsOps
    val sep = Seq.fill(2)(Seq(0L, 0L, 1L, 1L)).flatten.map(("A", _)) ++
      Seq(10L, 10L, 11L, 11L).map(("B", _))
    val r = StatsOps.ksDrift(sep.toDF("k", "v"), "k", "v", bins = 32)
      .collect().map(x => x.getAs[String]("k") -> x.getAs[Double]("ks"))
      .toMap
    assert(r("B") == 1.0, s"fully separated B should give D=1: $r")
    val same = (1L to 100L).flatMap(v => Seq(("A", v), ("B", v)))
    val r2 = StatsOps.ksDrift(same.toDF("k", "v"), "k", "v", bins = 16)
      .collect().map(x => x.getAs[String]("k") -> x.getAs[Long]("ks_num"))
      .toMap
    assert(r2.values.forall(_ == 0L),
      s"identical distributions must give ks_num 0: $r2")
  }

  test("hits hand trace: integer hub/authority scores on a 4-node dag") {
    import spark.implicits._
    // 1 -> 3, 2 -> 3, 3 -> 4; two rounds of a = A^T h, h = A a:
    // a1 = indeg (3:2, 4:1); h1 = (1:2, 2:2, 3:1);
    // a2 = (3: h1(1)+h1(2) = 4, 4: h1(3) = 1); h2 = (1:4, 2:4, 3:1)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.operators.GraphOps.hits(e, "src", "dst", iters = 2)
      .collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("hub"), r.getAs[Long]("auth"))))
      .toMap
    assert(got == Map(1L -> ((4L, 0L)), 2L -> ((4L, 0L)),
      3L -> ((1L, 4L)), 4L -> ((0L, 1L))))
  }

  test("global rank equals the single-sort row_number, ties broken " +
      "by id") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate-heavy values so bucket-boundary ties are exercised
    val rows = (1L to 2000L).map(id => (id, rnd.nextInt(50).toDouble))
    val df = rows.toDF("id", "v")
    val got = graft.operators.CurationOps
      .globalRank(df, "v", "id", "rank")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank"))
      .toMap
    val want = rows.sortBy { case (id, v) => (v, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    assert(got == want)
  }

  test("cluster prototypicality: per-cluster ranks are a permutation, " +
      "distances sort, and the outlier budget is exact") {
    val rows = SimilarityOps.clusterPrototypicality(emb, "vec_id",
      "embedding", k = 8, iters = 3, outlierPct = 10).collect()
    assert(rows.length == emb.count())
    rows.groupBy(_.getAs[Int]("cid")).foreach { case (cid, rs) =>
      val n = rs.head.getAs[Long]("n")
      assert(rs.length.toLong == n, s"cluster $cid count mismatch")
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rs.length),
        s"cluster $cid ranks are not a permutation")
      val byRank = rs.sortBy(_.getAs[Int]("rk"))
      val dists = byRank.map(_.getAs[Long]("dist"))
      assert(dists.forall(_ >= 0L))
      assert(dists.zip(dists.tail).forall { case (a, b) => a >= b },
        s"cluster $cid rank order disagrees with distance order")
      // rk*100 <= n*10  <=>  rk <= floor(n/10): exactly n/10 outliers
      assert(rs.count(_.getAs[Boolean]("is_outlier")).toLong == n / 10,
        s"cluster $cid outlier budget wrong")
    }
  }

  test("vocab Jaccard pairs: hand-traced overlap, and the sketch " +
      "estimate agrees with the exact value on identical/disjoint sets") {
    import spark.implicits._
    val df = Seq(
      (1L, "ga", "a b c d"), (2L, "ga", "c d e"), // vocab ga = {a..e}
      (3L, "gb", "a b c d e"),                    // vocab gb = {a..e}
      (4L, "gc", "x y z")                         // vocab gc disjoint
    ).toDF("id", "g", "text")
    val exact = TextOps.vocabJaccardPairs(df, "g", "text")
      .collect().map(r => (r.getAs[String]("g1"), r.getAs[String]("g2"))
        -> (r.getAs[Long]("shared"), r.getAs[Double]("jaccard"))).toMap
    assert(exact(("ga", "gb")) == ((5L, 1.0))) // identical vocabularies
    assert(!exact.contains(("ga", "gc"))) // no shared term -> no row
    assert(!exact.contains(("gb", "gc")))
    val sk = TextOps.vocabMinhashSim(df, "g", "text", k = 16)
      .collect().map(r => (r.getAs[String]("g1"), r.getAs[String]("g2"))
        -> r.getAs[Double]("est_jaccard")).toMap
    // identical vocabularies agree on every signature component
    assert(sk(("ga", "gb")) == 1.0)
    // disjoint vocabularies share a component only on a 2^-32 hash
    // collision — deterministic fixture, so pin the observed zero
    assert(math.abs(sk.getOrElse(("ga", "gc"), 0.0)) < 1e-9)
  }

  test("mixtureReweight: hand-traced rates, caps, and zero-target groups") {
    import spark.implicits._
    // weights: a=600, b=300, c=100 (total 1000)
    val df = Seq(("a", 600L), ("b", 300L), ("c", 100L))
      .toDF("g", "w")
    val got = graft.operators.CurationOps.mixtureReweight(df, "g",
        col("w"), Seq("a" -> 0.2, "b" -> 0.8), maxRate = 2.0)
      .collect().map(r => r.getAs[String]("group") ->
        (r.getAs[Double]("nat_share"), r.getAs[Double]("tgt_share"),
          r.getAs[Double]("rate"), r.getAs[Long]("exp_weight"))).toMap
    // uncapped, rate*weight collapses to the target draw: 0.2*1000
    assert(got("a") == ((0.6, 0.2, 0.2 * 1000 / 600, 200L)))
    // b wants 0.8*1000/300 = 2.67 epochs -> capped at 2.0
    assert(got("b") == ((0.3, 0.8, 2.0, 600L)))
    // c has no target -> share 0, rate 0, nothing drawn
    assert(got("c") == ((0.1, 0.0, 0.0, 0L)))
  }

  test("mixtureReweight: absent target groups surface; zero weight " +
      "means rate 0, not maxRate") {
    import spark.implicits._
    val df = Seq(("a", 600L), ("b", 0L)).toDF("g", "w")
    val got = graft.operators.CurationOps.mixtureReweight(df, "g",
        col("w"), Seq("a" -> 0.5, "ghost" -> 0.5), maxRate = 2.0)
      .collect().map(r => r.getAs[String]("group") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("weight"),
          r.getAs[Double]("rate"), r.getAs[Long]("exp_weight"))).toMap
    // a target naming a group absent from the corpus must not vanish
    assert(got("ghost") == ((0L, 0L, 0.0, 0L)))
    // a present group whose weights sum to 0: guarded division,
    // rate 0 rather than least(maxRate, Inf) = maxRate
    assert(got("b") == ((1L, 0L, 0.0, 0L)))
    assert(got("a")._3 == 0.5 * 600 / 600)
  }

  test("zScoreRank: hand-traced z-scores, ranking, and top-K cut") {
    import spark.implicits._
    // group g: x = 1, 2, 3 -> mean 2, sd 1, z = -1, 0, 1
    val df = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L),
      ("h", 7L, 5L), ("h", 8L, 5L)).toDF("grp", "id", "x")
    val got = graft.operators.CurationOps.zScoreRank(df, "grp", "id",
        Seq(("x", col("x"), 2.0)), topK = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("composite"), r.getAs[Int]("rank"))).toMap
    assert(got(3L) == ((2.0, 1))) // z=1, weight 2
    assert(got(2L) == ((0.0, 2)))
    assert(!got.contains(1L)) // rank 3 cut by topK=2
    // zero-variance group h: z = 0 for both, id tiebreak
    assert(got(7L) == ((0.0, 1)) && got(8L) == ((0.0, 2)))
  }

  test("labelCentroidSkew: symmetric two-label fixture lands at cos 45deg") {
    import spark.implicits._
    // label 0 along +x, label 1 along +y; global centroid = (.5, .5)
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val rows = SimilarityOps.labelCentroidSkew(df, "embedding", "label")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("cosg"))).toMap
    assert(rows(0)._1 == 2L && rows(1)._1 == 2L)
    assert(math.abs(rows(0)._2 - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(rows(1)._2 - math.sqrt(0.5)) < 1e-9)
  }

  test("containment pairs: a quoted short doc scores 1.0 containment " +
      "where Jaccard stays low") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val short = "gamma delta epsilon zeta" // verbatim span of `long`
    val other = "one two three four five six seven"
    val df = Seq((1L, long), (2L, short), (3L, other))
      .toDF("doc_id", "text")
    val got = DedupOps.ngramContainmentPairs(df, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
        (r.getAs[Double]("cont1"), r.getAs[Double]("cont2"))).toMap
    // short doc: 2 distinct 3-grams, both inside long's 8 -> cont2 = 1
    assert(got((1L, 2L))._2 == 1.0)
    assert(got((1L, 2L))._1 == 0.25) // 2 shared of long's 8
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
    // the same pair fails a 0.5 JACCARD gate: 2 / (8 + 2 - 2) = 0.25
    val jac = DedupOps.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
    assert(jac.count() == 0)
  }

  test("kCorePeel: pendant nodes peel, the triangle core survives") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 hanging off 1
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = graft.operators.GraphOps
      .kCorePeel(edges, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg"))
      .toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L)) // 4 peeled
  }

  test("quantileNormalize: hand-traced rank mapping onto the global " +
      "distribution") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L),
      ("b", 3L, 1L), ("b", 4L, 2L), ("b", 5L, 3L), ("b", 6L, 100L))
      .toDF("g", "id", "v")
    val got = graft.operators.CurationOps
      .quantileNormalize(df, "g", "id", "v")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("norm"))
      .toMap
    // global sorted: 1,2,3,10,20,100 (ranks 1..6); N=6
    // a (n=2): r=1 -> ceil(6/2)=3 -> 3; r=2 -> 6 -> 100
    // b (n=4): r=1 -> 2 -> 2; r=2 -> 3 -> 3; r=3 -> 5 -> 20; r=4 -> 100
    assert(got == Map(1L -> 3L, 2L -> 100L, 3L -> 2L, 4L -> 3L,
      5L -> 20L, 6L -> 100L))
  }

  test("maxTokenRun CODEGEN path (non-local plan) equals the HOF fold " +
      "on fixture text and crafted edges") {
    // range-based plan -> whole-stage codegen exercises doGenCode
    // (Seq.toDF would constant-fold through interpreted eval only)
    val edges = Seq("", " ", "  ", "\t", "a", "a ", " a", "a\tb",
      "a\t\ta", "x X", "a a  a\ta", "tail tail", "ab a b ab",
      "é é é", "a  ", "\t\t")
    val fixture = graft.core.Tables.load(spark, dir, "documents")
      .limit(64).collect().map(_.getAs[String]("text"))
    val all = (edges ++ fixture).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toMap
    val lookup = udf((id: Long) => all(id))
    val got = spark.range(0, all.size)
      .select(col("id"), lookup(col("id")).as("text"))
      .select(col("id"),
        TextOps.maxTokenRun(col("text")).as("native"),
        TextOps.maxTokenRunFold(col("text")).as("fold"))
      .collect()
    assert(got.length == all.size)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"id ${r.getLong(0)} text '${all(r.getLong(0))}': " +
          s"native ${r.getLong(1)} fold ${r.getLong(2)}")
    }
    // spot-pin the crafted semantics
    val byText = got.map(r => all(r.getLong(0)) -> r.getLong(1)).toMap
    assert(byText("x X") == 2L) // lowercase before compare
    assert(byText("a a  a\ta") == 4L)
    assert(byText("") == 1L && byText("a") == 1L)
    assert(byText("\t\t") == 2L) // two empty tokens after space-trim
  }

  test("charNgrams CODEGEN path (non-local plan) equals the zip_with " +
      "chain on fixture text and crafted edges") {
    val edges = Seq("", "a", "ab", "abc", "abcd", "a b", "a  b",
      "ééé", "aé b", "\ta\tb")
    val fixture = graft.core.Tables.load(spark, dir, "documents")
      .limit(32).collect().map(_.getAs[String]("text"))
    val all = (edges ++ fixture).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toMap
    val lookup = udf((id: Long) => all(id))
    val got = spark.range(0, all.size)
      .select(col("id"), lookup(col("id")).as("text"))
      .select(col("id"),
        TextOps.charNgrams(lower(col("text")), 3).as("native"),
        TextOps.charNgramsFold(lower(col("text")), 3).as("fold"))
      .collect()
    assert(got.length == all.size)
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id ${r.getLong(0)} text '${all(r.getLong(0))}'")
    }
    val byText = got.map(r => all(r.getLong(0)) -> r.getSeq[String](1))
      .toMap
    assert(byText("") == Seq() && byText("ab") == Seq())
    assert(byText("abc") == Seq("a b c"))
    assert(byText("abcd") == Seq("a b c", "b c d"))
    assert(byText("a b") == Seq("a   b")) // the space IS a code point
  }

  test("shinglesFromTokens CODEGEN path equals the zip_with chain for " +
      "n in 1..4 on fixture text and edges") {
    val edges = Seq("", "a", "a b", "a b c", "a b c d e",
      "x x x", "é ü ß", "one")
    val fixture = graft.core.Tables.load(spark, dir, "documents")
      .limit(32).collect().map(_.getAs[String]("text"))
    val all = (edges ++ fixture).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toMap
    val lookup = udf((id: Long) => all(id))
    val base = spark.range(0, all.size)
      .select(col("id"), TextOps.tokens(lookup(col("id"))).as("toks"))
    (1 to 4).foreach { n =>
      val got = base.select(col("id"),
          TextOps.shinglesFromTokens(col("toks"), n).as("native"),
          TextOps.shinglesFromTokensFold(col("toks"), n).as("fold"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id ${r.getLong(0)} text '${all(r.getLong(0))}'")
      }
    }
  }

  test("maxTokenRun: runs count, singletons and no-repeat docs score 1") {
    import spark.implicits._
    val df = Seq((1L, "a a a b b a"), (2L, "solo"),
      (3L, "x y z w")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextOps.maxTokenRun(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("trigramCommonness: duplicated docs double their trigram counts") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "abcd"), (3L, "wxyz"))
      .toDF("doc_id", "text")
    val got = TextOps.trigramCommonness(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tris"), r.getAs[Double]("commonness"))).toMap
    // "abcd" -> trigrams {abc, bcd} x 2 docs -> each count 2
    assert(got(1L) == ((2L, 2.0)) && got(2L) == ((2L, 2.0)))
    assert(got(3L) == ((2L, 1.0)))
  }

  test("chi2GoodnessOfFit: identical group distributions score 0, " +
      "skewed groups score > 0") {
    import spark.implicits._
    val same = Seq(("a", 10L), ("a", 100L), ("b", 10L), ("b", 100L))
      .toDF("g", "v")
    val z = graft.operators.StatsOps
      .chi2GoodnessOfFit(same, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect().map(r => r.getAs[String]("group") ->
        r.getAs[Double]("chi2")).toMap
    assert(z("a") == 0.0 && z("b") == 0.0)
    val skew = Seq(("a", 10L), ("a", 12L), ("a", 14L), ("b", 100L),
      ("b", 110L), ("b", 120L)).toDF("g", "v")
    val s = graft.operators.StatsOps
      .chi2GoodnessOfFit(skew, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect().map(r => r.getAs[Double]("chi2"))
    assert(s.forall(_ > 0.0)) // each group concentrated in its own bin
    // negative values clamp into bin 0 (not negative bin ids outside
    // the nBins grid): -5 and 3 both land in bin 0, so a group of
    // negatives is indistinguishable from a group of small positives
    val neg = Seq(("a", -5L), ("a", 3L), ("b", -5L), ("b", 3L))
      .toDF("g", "v")
    val nz = graft.operators.StatsOps
      .chi2GoodnessOfFit(neg, "g", col("v"), nBins = 4, binWidth = 32L)
      .collect()
    assert(nz.forall(_.getAs[Long]("n_bins") == 1L),
      "negative values must clamp to bin 0, not mint extra bins")
    assert(nz.forall(_.getAs[Double]("chi2") == 0.0))
  }

  test("vocabGrowth: hand-traced checkpoints incl. past-corpus tail") {
    import spark.implicits._
    val df = Seq((0L, "a b"), (1L, "b c"), (2L, "d"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(df, "doc_id", "text",
        Seq(1L, 2L, 3L, 10L))
      .collect().map(r => r.getAs[Long]("cp") ->
        (r.getAs[Long]("vocab_size"), r.getAs[Long]("tokens_seen")))
      .toMap
    assert(got == Map(1L -> ((2L, 2L)), 2L -> ((3L, 4L)),
      3L -> ((4L, 5L)), 10L -> ((4L, 5L))))
  }

  test("prefixTemplateGroups: shared k-token openings group, " +
      "unique ones drop") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick red dog"),
      (3L, "entirely different text")).toDF("doc_id", "text")
    val got = DedupOps.prefixTemplateGroups(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getAs[String]("prefix") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc")))
    assert(got.toSeq == Seq("the quick" -> ((2L, 1L))))
  }

  test("centroidPairSimilarity: orthogonal label centroids score 0, " +
      "aligned ones 1") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "x"), (2L, Seq(1.0f, 0.0f), "x2"),
      (3L, Seq(0.0f, 1.0f), "y")
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.centroidPairSimilarity(df, "embedding",
        "label")
      .collect().map(r => (r.getAs[String]("l1"), r.getAs[String]("l2"))
        -> r.getAs[Double]("cos")).toMap
    assert(math.abs(got(("x", "x2")) - 1.0) < 1e-9)
    assert(math.abs(got(("x", "y"))) < 1e-9)
    assert(math.abs(got(("x2", "y"))) < 1e-9)
  }

  test("greedyPairDrop: larger pair sides drop, everything else keeps") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L), (1L, 5L)).toDF("id1", "id2")
    val kept = DedupOps.greedyPairDrop(docs, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("keep")).toMap
    assert(kept == Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> false))
  }
}
