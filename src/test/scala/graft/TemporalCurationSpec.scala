package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{CurationOps, DedupOps, TemporalJoinOps}

/** Behavioral checks for the temporal-join and curation operators
  * beyond the DuckDB oracle (which pins values at sf0.01): as-of and
  * range joins against brute-force formulations, sampling rate
  * convergence and determinism, parity-twin agreement. */
class TemporalCurationSpec extends AnyFunSuite with SparkTestBase {
  private val dir = sf("sf0.001")

  private lazy val events = Tables.load(spark, dir, "events")
    .withColumn("tus", expr("ts_ns div 1000")).cache()
  private lazy val docs = Tables.load(spark, dir, "documents").cache()

  test("as-of join equals the brute-force per-row maximum") {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), col("event_id"), col("value"))
    val got = TemporalJoinOps.asofJoinLast(clicks, views, Seq("user_id"),
        "tus", "event_id", "value")
      .select(col("event_id"), col("asof_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap

    // brute force on the driver
    val vs = views.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val cs = clicks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cs.nonEmpty && vs.nonEmpty)
    cs.foreach { case (eid, uid, t) =>
      val want = vs.getOrElse(uid, Array.empty)
        .filter(_._2 <= t)
        .sortBy(v => (v._2, v._3)) // (ts, event_id): LOCF takes the last
        .lastOption.map(_._4)
      assert(got(eid) == want, s"click $eid: got ${got(eid)} want $want")
    }
  }

  test("as-of join matches a right row with a NULL value (no fallback " +
      "to an older non-null row)") {
    import spark.implicits._
    val left = Seq((100L, 1L, 25L)).toDF("event_id", "k", "t")
    val right = Seq(
      (1L, 10L, 1L, Some(5.0)),
      (1L, 20L, 2L, Option.empty[Double])).toDF("k", "t", "event_id", "v")
    val back = TemporalJoinOps.asofJoinLast(left, right, Seq("k"), "t",
        "event_id", "v")
      .select("event_id", "asof_v").collect()
    // true as-of match is the ts=20 row; its value is NULL — the join
    // must NOT fall back to the older ts=10 value 5.0
    assert(back.length == 1 && back(0).isNullAt(1),
      s"expected null match, got ${back(0)}")
    val fwd = TemporalJoinOps.asofJoinNext(left, right, Seq("k"), "t",
        "event_id", "v")
      .select("event_id", "asof_v").collect()
    // no right row at ts >= 25 -> null
    assert(fwd.length == 1 && fwd(0).isNullAt(1))
  }

  test("as-of join never matches NULL timestamps on either side") {
    import spark.implicits._
    val left = Seq((100L, 1L, Option.empty[Long]), (101L, 1L, Some(25L)))
      .toDF("event_id", "k", "t")
    val right = Seq(
      (1L, Option.empty[Long], 1L, 7.0), (1L, Some(10L), 2L, 5.0))
      .toDF("k", "t", "event_id", "v")
    def run(f: Boolean) = {
      val op = if (f) TemporalJoinOps.asofJoinNext _
        else TemporalJoinOps.asofJoinLast _
      op(left, right, Seq("k"), "t", "event_id", "v")
        .select("event_id", "asof_v").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    }
    val back = run(false)
    assert(back(100L).isEmpty, "NULL-ts left row must not match")
    assert(back(101L).contains(5.0), "non-null path unaffected")
    val fwd = run(true)
    assert(fwd(100L).isEmpty)
    assert(fwd(101L).isEmpty) // no right row at ts >= 25
  }

  test("forward as-of join equals the brute-force per-row minimum") {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"), col("value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), col("event_id"), col("value"))
    val got = TemporalJoinOps.asofJoinNext(clicks, views, Seq("user_id"),
        "tus", "event_id", "value")
      .select(col("event_id"), col("asof_value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val vs = views.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val cs = clicks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    cs.foreach { case (eid, uid, t) =>
      val want = vs.getOrElse(uid, Array.empty)
        .filter(_._2 >= t)
        .sortBy(v => (v._2, v._3)) // smallest (ts, event_id) wins
        .headOption.map(_._4)
      assert(got(eid) == want, s"click $eid: got ${got(eid)} want $want")
    }
  }

  test("range self-join equals the brute-force pair set") {
    val tol = 3600000000L // 1 h in micros
    val ev = events.filter(col("user_id") < 10)
    val got = TemporalJoinOps.rangeSelfPairs(ev, "user_id", "tus",
        "event_id", tol)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = ev.select("user_id", "event_id", "tus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 < b._2 && math.abs(a._3 - b._3) <= tol
    } yield (a._2, b._2)).toSet
    assert(want.nonEmpty, "subset should contain qualifying pairs")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("range join catches pairs exactly at the tolerance boundary") {
    import spark.implicits._
    // craft timestamps straddling bucket boundaries at exact distances
    val df = Seq(
      (1L, 10L, 999L), (1L, 11L, 1999L),    // dt=1000 == tol, adjacent buckets
      (1L, 12L, 3000L),                     // dt=1001 from id 11 -> excluded
      (2L, 20L, 0L), (2L, 21L, 1000L)       // dt=1000 == tol, same/adjacent
    ).toDF("k", "id", "t")
    val got = TemporalJoinOps.rangeSelfPairs(df, "k", "t", "id", 1000L)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 11L), (20L, 21L)), s"got $got")
  }

  test("hash sampling hits the target rate and is deterministic") {
    val ids = spark.range(0, 20000).toDF("id")
    val kept = ids.filter(CurationOps.hashKeep(col("id"), 0.3, "s1"))
    val n = kept.count()
    assert(math.abs(n / 20000.0 - 0.3) < 0.02, s"rate ${n / 20000.0}")
    // determinism: same salt -> same set; different salt -> different set
    val again = ids.filter(CurationOps.hashKeep(col("id"), 0.3, "s1"))
      .collect().map(_.getLong(0)).toSet
    assert(kept.collect().map(_.getLong(0)).toSet == again)
    val other = ids.filter(CurationOps.hashKeep(col("id"), 0.3, "s2"))
      .collect().map(_.getLong(0)).toSet
    assert(other != again)
    // nesting: a 0.1 sample is NOT a subset of a 0.3 sample only if
    // thresholds differ — with the same salt it IS (threshold monotone)
    val small = ids.filter(CurationOps.hashKeep(col("id"), 0.1, "s1"))
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(again), "same-salt samples must nest")
    // membership is fixed md5 arithmetic, identical in any engine:
    // at salt "bpe" and rate 0.5 exactly uv and pq are kept
    import spark.implicits._
    val words = Seq("xy", "uv", "pq", "mn").toDF("w")
      .filter(CurationOps.hashKeep(col("w"), 0.5, "bpe"))
      .collect().map(_.getString(0)).toSet
    assert(words == Set("uv", "pq"), s"kept $words")
  }

  test("stratified sample respects per-stratum rates") {
    import spark.implicits._
    val df = (0 until 10000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s")
    val kept = CurationOps.stratifiedSample(df, "s", "id",
        Map("a" -> 0.5), defaultRate = 0.05, salt = "x")
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("a") / 5000.0 - 0.5) < 0.05, s"a: ${kept("a")}")
    assert(math.abs(kept.getOrElse("b", 0L) / 5000.0 - 0.05) < 0.02,
      s"b: ${kept.getOrElse("b", 0L)}")
  }

  test("tfidf ranks a rare repeated term above ubiquitous ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "zebra zebra zebra common common"),
      (2L, "common words only here"),
      (3L, "more common words here")).toDF("doc_id", "text")
    val top = CurationOps.tfidfTopTerms(df, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "zebra")
  }

  test("token chunking covers every token with the right overlap") {
    import spark.implicits._
    import graft.operators.TextOps
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.tokenChunks(col("toks"), 32, 24)).as("c"))
      .select(col("c.chunk_idx"), col("c.chunk_text"))
    val chunks = df.collect()
      .map(r => r.getInt(0) -> r.getString(1).split(" ")).sortBy(_._1)
    // 100 tokens, width 32, stride 24 -> 1 + ceil(68/24) = 4 chunks
    assert(chunks.length == 4)
    assert(chunks.take(3).forall(_._2.length == 32))
    assert(chunks.last._2.length == 100 - 3 * 24) // final partial window
    // consecutive chunks overlap by width - stride tokens
    chunks.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a.takeRight(8).sameElements(b.take(8)))
    }
    // concatenating each chunk's first `stride` tokens + the tail
    // reconstructs the document
    val rebuilt = chunks.init.flatMap(_._2.take(24)) ++ chunks.last._2
    assert(rebuilt.sameElements(text.split(" ")))
  }

  test("split assignment is disjoint, total, and close to the weights") {
    import graft.operators.CurationOps
    val ids = spark.range(0, 30000).toDF("id")
    val counts = ids
      .select(CurationOps.assignSplit(col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "s").as("sp"))
      .groupBy("sp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 30000) // total: every row gets a split
    assert(math.abs(counts("train") / 30000.0 - 0.8) < 0.01)
    assert(math.abs(counts("val") / 30000.0 - 0.1) < 0.01)
    assert(math.abs(counts("test") / 30000.0 - 0.1) < 0.01)
  }

  test("redaction applies rules in order") {
    import spark.implicits._
    import graft.operators.TextOps
    val got = Seq(Tuple1("data in 42 databases"))
      .toDF("text")
      .select(TextOps.redact(col("text"), Seq(
        "\\bdata\\b" -> "<TOPIC>", "[0-9]+" -> "#")).as("r"))
      .collect()(0).getString(0)
    // word-bounded 'data' replaced; 'databases' untouched; digits last
    assert(got == "<TOPIC> in # databases", got)
  }

  test("token drift: exact counts, sign of the log ratio, ranking") {
    import spark.implicits._
    val a = Seq((1L, "alpha alpha alpha shared"),
      (2L, "alpha shared")).toDF("doc_id", "text")
    val b = Seq((3L, "beta shared shared")).toDF("doc_id", "text")
    val r = CurationOps.tokenDrift(a, b, "text", 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // corpus A: alpha=4, shared=2 (na=6); B: beta=1, shared=2 (nb=3); V=3
    assert(r("alpha")._1 == 4 && r("alpha")._2 == 0)
    assert(r("beta") == (0L, 1L,
      math.log(1.0 / 9.0) - math.log(2.0 / 6.0)))
    assert(r("alpha")._3 > 0 && r("beta")._3 < 0) // direction of drift
    // top-ranked token is the largest absolute count difference
    val top = CurationOps.tokenDrift(a, b, "text", 1)
      .collect().head.getString(0)
    assert(top == "alpha")
  }

  test("BPE training matches an independent driver-side implementation") {
    import graft.operators.TextOps
    val got = CurationOps.bpeTrain(docs, "text", 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // reference: classic dictionary BPE on the collected word freqs
    val wf = docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var seqs = wf.map { case (w, c) => (w.map(_.toString).toBuffer, c) }
    val want = (1 to 8).flatMap { r =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      seqs.foreach { case (s, c) =>
        s.sliding(2).filter(_.size == 2).foreach { p =>
          val k = s"${p(0)} ${p(1)}"
          counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      if (counts.isEmpty) None
      else {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val Array(a, b) = pair.split(" ", 2)
        seqs = seqs.map { case (s, c) =>
          val out = scala.collection.mutable.Buffer.empty[String]
          s.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.size - 1) = a + b
            else out += x
          }
          (out, c)
        }
        Some((r, pair, cnt))
      }
    }
    assert(got == want, s"got=$got\nwant=$want")
    // merges are non-trivial on real text
    assert(got.size == 8 && got.head._3 >= got.last._3)
  }

  test("batched BPE: batch=1 is exact, and batches of disjoint pairs " +
      "reproduce the sequential merge list") {
    import spark.implicits._
    // top pairs have pairwise-disjoint symbols, so batched selection
    // must agree with sequential BPE exactly on this corpus
    val corpus = (
      Seq.fill(100)("xy") ++ Seq.fill(90)("uv") ++
      Seq.fill(80)("pq") ++ Seq.fill(70)("mn"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val seqMerges = CurationOps.bpeTrain(corpus, "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(seqMerges.map(_._2) == Seq("x y", "u v", "p q", "m n"))
    for (b <- Seq(2, 4, 8)) {
      val batched = CurationOps.bpeTrain(corpus, "text", 4, batch = b)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(batched == seqMerges, s"batch=$b")
    }
    // overlapping candidates: "ab"x10 and words forcing pair (b c)
    // to share symbol b with (a b) — the batch must skip it and the
    // merge list stays a valid dedup'd set
    val overlap = (Seq.fill(10)("abc") ++ Seq.fill(6)("bc"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val m = CurationOps.bpeTrain(overlap, "text", 3, batch = 3)
      .collect().map(_.getString(1)).toSeq
    assert(m.distinct.length == m.length)
    // first pick is the true argmax, same as sequential round 1
    val firstSeq = CurationOps.bpeTrain(overlap, "text", 1)
      .collect().head.getString(1)
    assert(m.head == firstSeq)
  }

  test("BM25 matches the hand-computed Okapi formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, "data data query other words here"),   // tf(data)=2, dl=6
      (2L, "data alone"),                          // tf(data)=1, dl=2
      (3L, "nothing relevant at all"))             // no match, dl=4
      .toDF("doc_id", "text")
    val got = CurationOps.bm25Scores(docs, "doc_id", "text",
        Seq("data", "query"), k1 = 1.2, b = 0.75)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L), "only matching docs are scored")
    val n = 3.0; val avgdl = (6.0 + 2.0 + 4.0) / 3.0
    def idf(nd: Double) = math.log(1.0 + (n - nd + 0.5) / (nd + 0.5))
    def term(tf: Double, dl: Double, nd: Double) =
      idf(nd) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val want1 = term(2, 6, 2) + term(1, 6, 1) // data in 2 docs, query in 1
    val want2 = term(1, 2, 2)
    assert(math.abs(got(1L) - want1) < 1e-12, s"${got(1L)} vs $want1")
    assert(math.abs(got(2L) - want2) < 1e-12, s"${got(2L)} vs $want2")
  }

  test("prefix sum matches naive cumsum on adversarial random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // sparse, clustered, and negative order keys; zero and large values
    val keys = (Seq(Long.MinValue / 4, -1L, 0L, 1L, Long.MaxValue / 4) ++
      Seq.fill(200)(rnd.nextLong() % 1000000) ++
      Seq.tabulate(50)(i => 5000000L + i)).distinct
    val data = keys.map(k => (k, math.abs(rnd.nextInt(1000)).toLong))
    val df = data.toDF("k", "v").repartition(13)
    for (nb <- Seq(1, 3, 64)) {
      val got = CurationOps.prefixSum(df, "k", "v", nBuckets = nb)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      var acc = 0L
      val want = data.sortBy(_._1).map { case (k, v) =>
        acc += v; k -> acc
      }.toMap
      assert(got == want, s"nBuckets=$nb")
    }
  }

  test("new operators tolerate empty and tiny inputs") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val oneEmb = Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(CurationOps.prefixSum(
      emptyDocs.select(col("doc_id"), lit(1L).as("n")), "doc_id", "n")
      .count() == 0)
    assert(graft.operators.WindowOps.resampleLinear(
      emptyDocs.select(col("doc_id").as("k"), col("doc_id").as("ts"),
        lit(0.0).as("v")), "k", "ts", "v", 10L).count() == 0)
    assert(CurationOps.groupCap(emptyDocs, "text", "doc_id", 5, "s")
      .count() == 0)
    assert(CurationOps.unigramRarity(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(CurationOps.tokenDrift(emptyDocs, emptyDocs, "text", 5)
      .count() == 0)
    // blank docs tokenize to [""] — bpeTrain must not learn phantom
    // empty-symbol merges from them
    val blankDocs = Seq((1L, "ab ab"), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val merges = CurationOps.bpeTrain(blankDocs, "text", 5).collect()
    assert(merges.length == 1 && merges.head.getString(1) == "a b",
      merges.mkString(","))
    assert(CurationOps.bpeTrain(emptyDocs, "text", 3).count() == 0)
    // k-means with fewer vectors than clusters still assigns everything
    val asg = graft.operators.SimilarityOps
      .kmeansInt8(oneEmb, "vec_id", "embedding", k = 8, iters = 2)
      .collect()
    assert(asg.length == 1 && asg.head.getInt(1) == 0)
    assert(graft.operators.SimilarityOps
      .semanticDedup(oneEmb, "vec_id", "embedding", k = 4, iters = 1)
      .count() == 1)
    assert(graft.operators.SimilarityOps
      .int8TopK(oneEmb, oneEmb, "vec_id", "embedding", k = 3)
      .count() == 0) // only self-match, which is excluded
  }

  test("bigram surprisal: hand-computed Laplace bigram LM") {
    import spark.implicits._
    val d = Seq((1L, "a b a"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    // unigrams: a:3 b:2 x:1 -> V=3; bigrams: "a b":2, "b a":1
    // P(b|a) = (2+1)/(3+3) = 0.5; P(a|b) = (1+1)/(2+3) = 0.4
    val got = CurationOps.bigramSurprisal(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == Set(1L, 2L)) // single-token doc has no bigram
    assert(got(1L)._1 == 2 && got(2L)._1 == 1)
    val nllAB = -math.log(0.5)
    val nllBA = -math.log(0.4)
    assert(math.abs(got(1L)._2 - (nllAB + nllBA) / 2) < 1e-12)
    assert(math.abs(got(2L)._2 - nllAB) < 1e-12)
    assert(CurationOps.bigramSurprisal(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("dup n-gram coverage: hand-computed spans, overlaps, zero case") {
    import spark.implicits._
    val d = Seq(
      (1L, "x a b c y"),       // one dup window at pos 2 -> covers 2..4
      (2L, "z a b c w"),       // same
      (3L, "p q r"),           // no dup gram
      (4L, "a b c a b c"))     // dup windows at pos 1 and 4 -> all 6
      .toDF("doc_id", "text")
    val got = DedupOps.dupNgramCoverage(d, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((5L, 3L, 0.6)))
    assert(got(2L) == ((5L, 3L, 0.6)))
    assert(got(3L) == ((3L, 0L, 0.0)))
    assert(got(4L) == ((6L, 6L, 1.0)))
  }

  test("dup-span removal: covered positions dropped, order preserved") {
    import spark.implicits._
    val d = Seq(
      (1L, "x a b c y"),       // dup "a b c" covers 2..4 -> keep "x y"
      (2L, "z a b c w"),       // same -> "z w"
      (3L, "p q r"),           // nothing duplicated -> intact
      (4L, "a b c a b c"))     // both windows dup -> everything removed
      .toDF("doc_id", "text")
    val got = DedupOps.removeDupNgramSpans(d, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((5L, 2L, "x y")))
    assert(got(2L) == ((5L, 2L, "z w")))
    assert(got(3L) == ((3L, 3L, "p q r")))
    assert(got(4L) == ((6L, 0L, "")))
  }

  test("DSIR importance weights match the hand-computed log-ratio sum") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a b", true),   // target slice
      (2L, "b c", false))
      .toDF("doc_id", "text", "is_tgt")
    val got = CurationOps.dsirImportanceWeights(d, "doc_id", "text",
        isTarget = col("is_tgt"), alpha = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // vocab {a,b,c}: c_all = (2,2,1), N_all = 5; c_tgt = (2,1,0),
    // N_tgt = 3; V = 3; alpha = 0.5
    def llr(cTgt: Double, cAll: Double) =
      math.log((cTgt + 0.5) / (3.0 + 1.5)) -
        math.log((cAll + 0.5) / (5.0 + 1.5))
    val w1 = 2 * llr(2, 2) + llr(1, 2)
    val w2 = llr(1, 2) + llr(0, 1)
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    assert(math.abs(got(1L)._2 - w1) < 1e-12, s"${got(1L)._2} vs $w1")
    assert(math.abs(got(2L)._2 - w2) < 1e-12, s"${got(2L)._2} vs $w2")
  }

  test("dup-span removal matches a naive reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // tiny alphabet so 3-gram collisions across docs are common
    def doc(): Seq[String] =
      Seq.fill(3 + rnd.nextInt(12))(('a' + rnd.nextInt(4)).toChar.toString)
    val corpus = (0L until 40L).map(i => i -> doc()).toMap
    val n = 3
    val naive: Map[Long, (Long, Long, String)] = {
      val dup = corpus.toSeq
        .flatMap { case (id, ts) =>
          ts.sliding(n).filter(_.size == n).map(g => (id, g.mkString(" "))) }
        .groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 2).keySet
      corpus.map { case (id, ts) =>
        val cov = Array.fill(ts.length)(false)
        ts.sliding(n).zipWithIndex.foreach { case (g, i) =>
          if (g.size == n && dup(g.mkString(" ")))
            (i until i + n).foreach(cov(_) = true) }
        val kept = ts.indices.filterNot(cov).map(ts)
        id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }
    }
    val got = DedupOps.removeDupNgramSpans(
        corpus.toSeq.map { case (id, ts) => (id, ts.mkString(" ")) }
          .toDF("doc_id", "text"), "doc_id", "text", n = n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == naive)
  }

  test("DSIR weights match a naive reference on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    def doc(): Seq[String] =
      Seq.fill(1 + rnd.nextInt(10))(('a' + rnd.nextInt(6)).toChar.toString)
    val corpus = (0L until 30L).map(i => (i, doc(), rnd.nextBoolean()))
    val alpha = 0.5
    val naive: Map[Long, Double] = {
      val all = corpus.flatMap(c => c._2)
      val tgt = corpus.filter(_._3).flatMap(c => c._2)
      val cAll = all.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
      val cTgt = tgt.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
      val (nAll, nTgt, v) = (all.size.toDouble, tgt.size.toDouble, cAll.size.toDouble)
      def llr(w: String) =
        math.log((cTgt.getOrElse(w, 0.0) + alpha) / (nTgt + alpha * v)) -
          math.log((cAll(w) + alpha) / (nAll + alpha * v))
      corpus.map(c => c._1 -> c._2.map(llr).sum).toMap
    }
    val got = CurationOps.dsirImportanceWeights(
        corpus.map { case (id, ts, t) => (id, ts.mkString(" "), t) }
          .toDF("doc_id", "text", "is_tgt"),
        "doc_id", "text", isTarget = col("is_tgt"), alpha = alpha)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == naive.keySet)
    naive.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) < 1e-9, s"doc $id: ${got(id)} vs $w") }
  }

  test("token-budget mix matches a flat naive reference on random input") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val docs = (0L until 80L).map { i =>
      val src = s"s${rnd.nextInt(5)}"
      val text = Seq.fill(1 + rnd.nextInt(20))("w" + rnd.nextInt(9)).mkString(" ")
      (i, src, text)
    }
    val alpha = 0.5; val budget = 400L; val salt = "tbt"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val naive: Set[Long] = {
      val lens = docs.map { case (id, src, text) =>
        (id, src, text.split("\\s+").length.toLong, md5hex(s"$salt:$id")) }
      val tot = lens.groupBy(_._2).map { case (s, v) => s -> v.map(_._3).sum }
      val w = tot.map { case (s, t) =>
        s -> math.round(math.pow(t.toDouble, alpha) * 1e6) }
      val tw = w.values.sum
      val b = w.map { case (s, x) =>
        s -> math.floor(budget.toDouble * x / tw.toDouble).toLong }
      lens.groupBy(_._2).flatMap { case (s, v) =>
        val ordered = v.sortBy(d => (d._4, d._1))
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).filter(_._2 <= b(s)).map(_._1._1)
      }.toSet
    }
    val got = CurationOps.tokenBudgetMix(
        docs.toDF("doc_id", "source", "text"), "source", "doc_id",
        "text", alpha, budget, salt)
      .collect().map(_.getLong(1)).toSet
    assert(naive.nonEmpty && naive.size < docs.size, "budget must bite")
    assert(got == naive)
  }

  test("quantile bucket sample: bounds split evenly, rates gate buckets") {
    import spark.implicits._
    val d = (1L to 10L).map(i => (i, i * 100L)).toDF("doc_id", "score")
    // two buckets at the median (5.5): rate 0 drops ALL of the low
    // bucket, rate 1 keeps ALL of the high bucket — md5-independent
    val got = CurationOps.quantileBucketSample(d, "score", "doc_id",
        rates = Seq(0.0, 1.0), salt = "qb")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == (6L to 10L).map(_ -> 1).toMap)
    // a 0.5 mid-rate keeps a strict subset, deterministically
    val some = CurationOps.quantileBucketSample(d, "score", "doc_id",
        rates = Seq(0.5, 0.5), salt = "qb")
      .collect().map(_.getLong(0)).toSet
    val again = CurationOps.quantileBucketSample(d, "score", "doc_id",
        rates = Seq(0.5, 0.5), salt = "qb")
      .collect().map(_.getLong(0)).toSet
    assert(some == again && some.size < 10)
  }

  test("BPE encode: merges applied greedily left-to-right per word") {
    import spark.implicits._
    val d = Seq((1L, "abab ab"), (2L, "abc"), (3L, "  "))
      .toDF("doc_id", "text")
    // merges learned elsewhere; apply ["a b", "ab ab"]:
    //   abab -> [ab, ab] -> [abab]   (1 subword)
    //   ab   -> [ab]                 (1 subword)
    //   abc  -> [ab, c]              (2 subwords)
    val got = CurationOps.bpeEncode(d, "doc_id", "text",
        Seq("a b", "ab ab"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(1L -> ((2L, 2L)), 2L -> ((1L, 2L))),
      got.toString) // blank doc 3 has no in-vocab token -> no row
    // round-trip with training: encoding with ALL merges learned from
    // a corpus collapses every word that fully merged during training
    val corpus = Seq((1L, "xy xy xy zw")).toDF("doc_id", "text")
    val merges = CurationOps.bpeTrain(corpus, "text", 3)
      .orderBy(col("rank")).collect().map(_.getString(1)).toSeq
    val enc = CurationOps.bpeEncode(corpus, "doc_id", "text", merges)
      .collect().head
    assert(enc.getLong(1) == 4 && enc.getLong(2) == 4,
      s"every 2-char word should merge to one subword: $enc")
  }

  test("temperature mix: budget=total keeps all; subsets; tail upsampled") {
    import spark.implicits._
    val rows = (1L to 300L).map { i =>
      val src = if (i <= 240) "big" else if (i <= 290) "mid" else "small"
      (i, src)
    }
    val d = rows.toDF("doc_id", "source").repartition(7)
    // alpha=1, budget=total: every rate is exactly 1 -> identity mix
    assert(CurationOps.temperatureMix(d, "source", "doc_id",
      alpha = 1.0, budget = 300L, salt = "s").count() == 300)
    // smaller budget keeps a SUBSET of the bigger budget's selection
    def ids(b: Long) = CurationOps.temperatureMix(d, "source", "doc_id",
      alpha = 0.5, budget = b, salt = "s")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val k100 = ids(100L)
    val k200 = ids(200L)
    assert(k100.subsetOf(k200))
    // alpha < 1 upsamples the tail: small sources keep a larger
    // fraction than big ones
    val kept = CurationOps.temperatureMix(d, "source", "doc_id",
        alpha = 0.5, budget = 150L, salt = "s")
      .groupBy(col("source")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fBig = kept.getOrElse("big", 0L).toDouble / 240
    val fSmall = kept.getOrElse("small", 0L).toDouble / 10
    assert(fSmall > fBig,
      s"small frac $fSmall should exceed big frac $fBig")
    // deterministic under repartitioning
    assert(ids(150L) == CurationOps.temperatureMix(d.repartition(3),
      "source", "doc_id", alpha = 0.5, budget = 150L, salt = "s")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
  }

  test("group cap: per-group bound respected, deterministic, unbiased") {
    val capped = CurationOps.groupCap(docs, "source", "doc_id", 25, "t")
    val bySrc = capped.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (s, n) =>
      assert(bySrc.getOrElse(s, 0L) == math.min(n, 25L), s"source $s")
    }
    // deterministic under repartitioning
    val again = CurationOps
      .groupCap(docs.repartition(7), "source", "doc_id", 25, "t")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(again == capped.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet)
    // hash rank, not id rank: the kept set must not be the lowest ids
    val keptMax = capped.groupBy(col("source")).agg(max(col("doc_id")))
      .collect().map(_.getLong(1)).max
    val lowCut = docs.groupBy(col("source")).agg(max(col("doc_id")))
      .collect().map(_.getLong(1)).min
    assert(keptMax > 25, s"cap looks id-ordered (max kept id $keptMax)")
    assert(lowCut > 0)
  }

  test("linear resample: interpolation, exact hits, degenerate keys") {
    import spark.implicits._
    val df = Seq(
      ("a", 5L, 1.0), ("a", 15L, 3.0), ("a", 20L, 10.0),
      ("b", 10L, 7.0),             // single sample, exactly on grid
      ("c", 11L, 5.0), ("c", 14L, 6.0), // no grid point in [11,14] span
      ("d", 10L, 1.0), ("d", 10L, 9.0)  // duplicate ts -> min collapses
    ).toDF("k", "ts", "v")
    val r = graft.operators.WindowOps
      .resampleLinear(df, "k", "ts", "v", step = 10L)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2))
      .toMap
    // a: grid 10 -> between (5,1.0) and (15,3.0): 1 + 2*(5/10) = 2.0
    //    grid 20 -> exact hit on the (20,10.0) sample
    assert(r(("a", 10L)) == 2.0 && r(("a", 20L)) == 10.0)
    assert(r(("b", 10L)) == 7.0)          // exact hit, no later sample
    assert(r(("d", 10L)) == 1.0)          // min of duplicate ts values
    assert(!r.keySet.exists(_._1 == "c")) // empty grid, no rows
    assert(r.size == 4)
    // pre-epoch (negative) timestamps: grid must stay inside [mn, mx]
    val neg = Seq(("e", -20L, 2.0), ("e", 0L, 4.0))
      .toDF("k", "ts", "v")
    val rn = graft.operators.WindowOps
      .resampleLinear(neg, "k", "ts", "v", step = 10L)
      .collect().map(x => x.getLong(1) -> x.getDouble(2)).toMap
    assert(rn == Map(-20L -> 2.0, -10L -> 3.0, 0L -> 4.0),
      s"negative-ts grid wrong: $rn")
  }

  test("unigram rarity: exact frequency stats, rare docs score higher") {
    import spark.implicits._
    val df = Seq(
      (1L, "the the the"),       // 3 instances of a freq-3 token
      (2L, "unique alone"),      // two freq-1 tokens
      (3L, "common common")      // 2 instances of a freq-2 token
    ).toDF("doc_id", "text")
    val r = CurationOps.unigramRarity(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          x.getDouble(4))).toMap
    // corpus: the=3, unique=1, alone=1, common=2; total instances = 7
    assert(r(1L)._1 == 3 && r(1L)._2 == 9 && r(1L)._3 == 3)
    assert(r(2L)._1 == 2 && r(2L)._2 == 2 && r(2L)._3 == 1)
    assert(r(3L)._1 == 2 && r(3L)._2 == 4 && r(3L)._3 == 2)
    val ln = (x: Double) => math.log(x)
    assert(math.abs(r(1L)._4 - (ln(7) - ln(3))) < 1e-12)
    assert(math.abs(r(2L)._4 - ln(7)) < 1e-12)
    // the unique-token doc is the rarest, the all-"the" doc the least
    assert(r(2L)._4 > r(3L)._4 && r(3L)._4 > r(1L)._4)
  }

  test("distributed prefix sum equals the single-partition window form") {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"),
      graft.operators.TextOps.tokenCount(col("text")).as("n"))
    val naive = d.withColumn("cumsum",
        sum(col("n")).over(Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // a bucket count that does NOT divide the id range evenly
    val dist = CurationOps.prefixSum(d, "doc_id", "n", nBuckets = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dist == naive)
    // the big window must be partitioned: no single global sort of df
    val plan = CurationOps.prefixSum(d, "doc_id", "n")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition(doc_id"),
      "per-row window should be partitioned by bucket")
  }

  test("sequence packing: offsets chain contiguously, cuts at maxTokens") {
    val d = docs.select(col("doc_id"),
      graft.operators.TextOps.tokenCount(col("text")).as("n"))
    val packed = CurationOps.packSequences(d, "doc_id", "n", maxTokens = 512)
      .orderBy(col("doc_id")).collect()
    var globalPos = 0L
    packed.foreach { r =>
      val n = r.getInt(r.fieldIndex("n")).toLong
      val seqId = r.getLong(r.fieldIndex("seq_id"))
      val seqOff = r.getLong(r.fieldIndex("seq_off"))
      // each doc starts exactly where the previous one ended
      assert(seqId == globalPos / 512 && seqOff == globalPos % 512,
        s"doc ${r.getLong(0)}: seq $seqId/$seqOff vs pos $globalPos")
      globalPos += n
    }
    // sequences are dense: every id up to the last appears
    val seqs = packed.map(_.getLong(packed.head.fieldIndex("seq_id"))).toSet
    assert(seqs == (0L to seqs.max).toSet)
  }

  test("delta dedup vs a persisted signature store == full dedup " +
      "restricted to pairs touching the delta") {
    val d = docs.filter(col("doc_id") < 250)
    val old = d.filter(col("doc_id") < 150)
    val delta = d.filter(col("doc_id") >= 150)
    // persist the signature table and read it back — the store path
    val dir = tempDir("sigstore").toString
    DedupOps.minhashSignatureTable(old, "doc_id", "text", 2, 8)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val got = DedupOps.minhashLshDeltaDedup(delta, stored,
        "doc_id", "text", 2, 8, bands = 4, threshold = 0.2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = DedupOps.minhashLshDedupParity(d, "doc_id", "text",
        2, 8, bands = 4, threshold = 0.2)
      .filter(col("id1") >= 150 || col("id2") >= 150)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet,
      s"pair sets differ: extra=${got.keySet -- want.keySet} " +
        s"missing=${want.keySet -- got.keySet}")
    got.foreach { case (k, j) => assert(j == want(k), s"jaccard differs at $k") }
    assert(got.nonEmpty, "expected some delta pairs")
    // no old-old pair can ever appear
    assert(got.keys.forall { case (a, b) => a >= 150 || b >= 150 })
    // re-ingestion: a doc present in BOTH the store and the delta is
    // superseded — no self-pairs, no duplicates, same pair set
    val overlapStore = DedupOps.minhashSignatureTable(
      d.filter(col("doc_id") < 160), "doc_id", "text", 2, 8)
    val re = DedupOps.minhashLshDeltaDedup(delta, overlapStore,
        "doc_id", "text", 2, 8, bands = 4, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(re.forall { case (a, b) => a != b }, "self-pair leaked")
    assert(re.length == re.distinct.length, "duplicate pairs")
    assert(re.toSet == want.keySet, "superseded store changed the pair set")
  }

  test("md5-parity LSH twin finds the same high-jaccard pairs as the fast path") {
    val parity = DedupOps.minhashLshDedupParity(docs, "doc_id", "text",
        shingleN = 2, k = 16, bands = 16, threshold = 0.1)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = DedupOps.minhashLshDedup(docs, "doc_id", "text",
        shingleN = 2, k = 16, bands = 16, threshold = 0.1)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both are candidates∩(jaccard>=t) under different hash families;
    // the verified sets should largely agree
    val overlap = (parity intersect fast).size.toDouble
    assert(parity.nonEmpty && fast.nonEmpty)
    assert(overlap / math.max(parity.size, fast.size) >= 0.5,
      s"parity=$parity fast=$fast")
  }

  test("trailing z-score: self-excluded window, hand-computed values, " +
      "null below two trailing samples") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("a", 4L, 6.0), ("b", 1L, 5.0))
      .toDF("k", "t", "v")
    val got = graft.operators.WindowOps
      .trailingZScore(df, Seq("k"), "t", "v", 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(5)).map(_.asInstanceOf[Double])).toMap
    assert(got(("a", 1L)).isEmpty && got(("a", 2L)).isEmpty)
    assert(got(("b", 1L)).isEmpty)
    // t=3: trailing [1,2] -> avg 1.5, std sqrt(0.5); t=4: [1,2,3] -> 2, 1
    assert(math.abs(got(("a", 3L)).get - 1.5 / math.sqrt(0.5)) < 1e-12)
    assert(math.abs(got(("a", 4L)).get - 4.0) < 1e-12)
  }

  test("CMS estimates dominate exact counts; width=1 collapses to the " +
      "total token count") {
    import spark.implicits._
    val df = Seq((1L, "x x y z"), (2L, "x y w")).toDF("doc_id", "text")
    val got = CurationOps.cmsHeavyHitters(df, "text",
        depth = 4, width = 256, topK = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("x") == ((3L, 3L)) || got("x")._2 >= 3L)
    assert(got.forall { case (_, (c, est)) => est >= c })
    assert(got.keySet == Set("x", "y", "z", "w"))
    // width 1: every token lands in the single cell of each row ->
    // estimate == total token count (7) for all tokens
    val one = CurationOps.cmsHeavyHitters(df, "text",
        depth = 3, width = 1, topK = 10)
      .collect().map(_.getLong(2))
    assert(one.nonEmpty && one.forall(_ == 7L))
    // a candidate term the sketch never saw estimates 0 (left-join
    // with absent buckets counting as zero), not a vanished row or a
    // min over only the buckets it happens to collide into — pinned
    // on a tiny sketch where empty buckets actually exist
    val tinySketch = CurationOps.cmsSketch(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "text")
    val u = CurationOps.cmsEstimate(
        tinySketch, Seq("zz-never-in-corpus-zz").toDF("t"), "t")
      .collect()
    assert(u.length == 1 && u.head.getAs[Long]("est") == 0L,
      s"unseen term must estimate 0, got ${u.toSeq}")
  }

  test("source KL: identical distributions give zero; skew is positive " +
      "and hand-computed") {
    import spark.implicits._
    val same = Seq((1L, "x y", "a"), (2L, "x y", "b"))
      .toDF("doc_id", "text", "source")
    val g0 = CurationOps.sourceKlDivergence(same, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(g0("a")) < 1e-12 && math.abs(g0("b")) < 1e-12)

    val skew = Seq((1L, "x x x x", "a"), (2L, "y y", "b"))
      .toDF("doc_id", "text", "source")
    val got = CurationOps.sourceKlDivergence(skew, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: x=4, y=2, V=2, N=6
    def kl(cs: Map[String, Long], ns: Long): Double =
      Seq("x" -> 4L, "y" -> 2L).map { case (t, cc) =>
        val ps = (cs.getOrElse(t, 0L) + 1.0) / (ns + 2.0)
        val pc = (cc + 1.0) / (6.0 + 2.0)
        ps * math.log(ps / pc)
      }.sum
    assert(got("a")._1 == 4L && got("b")._1 == 2L)
    assert(math.abs(got("a")._2 - kl(Map("x" -> 4L), 4L)) < 1e-12)
    assert(math.abs(got("b")._2 - kl(Map("y" -> 2L), 2L)) < 1e-12)
    assert(got("a")._2 > 0 && got("b")._2 > 0)
  }

  test("Zipf fit matches hand-computed OLS; topK truncates") {
    import spark.implicits._
    // freqs: a=8, b=4, c=2, d=1 -> ranks 1..4
    val df = Seq(("a " * 8) + ("b " * 4) + ("c " * 2) + "d")
      .toDF("text")
    val got = CurationOps.zipfFit(df, "text", topK = 100).collect().head
    val pts = Seq((8.0, 1.0), (4.0, 2.0), (2.0, 3.0), (1.0, 4.0))
      .map { case (c, r) => (math.log(r), math.log(c)) }
    val mx = pts.map(_._1).sum / 4; val my = pts.map(_._2).sum / 4
    val slope = pts.map { case (x, y) => (x - mx) * (y - my) }.sum /
      pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val icept = my - slope * mx
    assert(got.getLong(0) == 4L)
    assert(math.abs(got.getDouble(1) - slope) < 1e-9)
    assert(math.abs(got.getDouble(2) - icept) < 1e-9)
    val trunc = CurationOps.zipfFit(df, "text", topK = 2).collect().head
    assert(trunc.getLong(0) == 2L)
    // two points: exact line through (ln1, ln8), (ln2, ln4)
    assert(math.abs(trunc.getDouble(1) - (-1.0)) < 1e-9)
    assert(math.abs(trunc.getDouble(2) - math.log(8.0)) < 1e-9)
  }

  test("Naive Bayes classifier matches a driver-side reference " +
      "and separates clear classes") {
    import spark.implicits._
    val df = Seq(
      (1L, "cat cat dog", "x"), (2L, "cat dog dog cat", "x"),
      (3L, "bird fish fish", "y"), (4L, "fish bird bird", "y"),
      (5L, "cat dog cat", "x"))
      .toDF("doc_id", "text", "lang")
    val got = CurationOps.naiveBayesLang(df, "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getDouble(3)))).toMap
    // driver-side reference NB
    val docs = Map(1L -> ("cat cat dog", "x"), 2L -> ("cat dog dog cat", "x"),
      3L -> ("bird fish fish", "y"), 4L -> ("fish bird bird", "y"),
      5L -> ("cat dog cat", "x"))
    val toks = docs.map { case (id, (t, l)) => (id, t.split(" "), l) }
    val classes = Seq("x", "y")
    val vocabV = toks.flatMap(_._2).toSet.size.toDouble
    val ct = classes.map(l => l -> toks.filter(_._3 == l).flatMap(_._2)
      .groupBy(identity).map { case (k, v) => k -> v.size }).toMap
    val tl = classes.map(l => l -> ct(l).values.sum.toDouble).toMap
    val nd = classes.map(l => l -> toks.count(_._3 == l).toDouble).toMap
    docs.foreach { case (id, (text, lab)) =>
      val scores = classes.map { l =>
        val s = math.log(nd(l) / 5.0) + text.split(" ").map { t =>
          math.log((ct(l).getOrElse(t, 0) + 1.0) / (tl(l) + vocabV))
        }.sum
        l -> math.rint(s * 1e4) / 1e4
      }
      val (predL, predS) = scores.minBy { case (l, s) => (-s, l) }
      val (gl, gp, gs) = got(id)
      assert(gl == lab && gp == predL,
        s"doc $id: got ($gl,$gp) want ($lab,$predL)")
      assert(math.abs(gs - predS) < 2e-4, s"doc $id score $gs vs $predS")
      // clearly separable corpus: prediction equals the true label
      assert(gp == lab)
    }
  }

  test("stratifiedKFold deals exact floor/ceil fold sizes per stratum " +
      "and is deterministic") {
    val folded = CurationOps.stratifiedKFold(docs, "lang", "doc_id",
      5, "kf")
    val sizes = folded.groupBy(col("lang"), col("fold")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val perLang = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      val fs = (0 until 5).map(f => sizes.getOrElse((lang, f.toLong), 0L))
      assert(fs.sum == n)
      // round-robin dealing: every fold holds floor or ceil(n/5)
      assert(fs.max - fs.min <= 1, s"$lang fold sizes $fs")
    }
    // determinism: same salt -> identical assignment
    val again = CurationOps.stratifiedKFold(docs, "lang", "doc_id",
      5, "kf").select(col("doc_id"), col("fold")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = folded.select(col("doc_id"), col("fold")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == again)
  }

  test("holtWinters matches the hand-rolled recursion on a toy " +
      "3-season series") {
    import spark.implicits._
    val series = Seq(10.0, 12, 14, 16, 18, 20, 22, 11, 13, 15, 17, 19,
      21, 23, 12, 14, 16, 18, 20, 22, 24)
    val df = series.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("day", "v")
    val row = graft.operators.StatsOps
      .holtWinters(df, "day", "v", 0.3, 0.05, 0.2, 7)
      .collect().head
    // reference recursion (independently hand-rolled)
    val p = 7
    val l0 = series.take(p).sum / p
    var l = l0
    var t = (series.slice(p, 2 * p).sum / p - l0) / p
    val s = series.take(p).map(_ - l0).toArray
    var sae = 0.0; var n = 0
    series.drop(2 * p).foreach { x =>
      val i = n % p
      sae += math.abs(x - (l + t + s(i)))
      val lp = 0.3 * (x - s(i)) + 0.7 * (l + t)
      t = 0.05 * (lp - l) + 0.95 * t
      s(i) = 0.2 * (x - lp) + 0.8 * s(i)
      l = lp; n += 1
    }
    assert(math.abs(row.getDouble(0) - l) < 1e-12, s"level ${row.getDouble(0)} vs $l")
    assert(math.abs(row.getDouble(1) - t) < 1e-12)
    assert(math.abs(row.getDouble(2) - sae / n) < 1e-12)
    assert(row.getLong(3) == n)
    val gotS = row.getSeq[Double](4)
    (0 until p).foreach(i => assert(math.abs(gotS(i) - s(i)) < 1e-12))
    // degenerate short series: null outputs, zero fitted points
    val short = Seq.tabulate(10)(i => (i.toLong, i.toDouble))
      .toDF("day", "v")
    val sr = graft.operators.StatsOps
      .holtWinters(short, "day", "v", 0.3, 0.05, 0.2, 7)
      .collect().head
    assert(sr.isNullAt(0) && sr.getLong(3) == 0L)
  }
}
