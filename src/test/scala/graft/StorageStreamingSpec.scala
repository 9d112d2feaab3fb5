package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sources.{OrcTelemetryStore, SessionizedCsvReader}
import graft.streaming.StreamingPipelines

/** ORC storage round-trip + structured-streaming semantics:
  * stream results must equal their batch equivalents on replay. */
class StorageStreamingSpec extends AnyFunSuite with SparkTestBase {

  test("ORC telemetry store round-trips the golden CSV with pruning") {
    val dir = tempDir("orc").toString
    OrcTelemetryStore.ingestCsv(spark, SessionizedCsvReader.GoldenCsv, dir)
    val back = OrcTelemetryStore.read(spark, dir)
    assert(back.count() == 128960)
    // values survive the round trip
    val orig = SessionizedCsvReader.read(spark, SessionizedCsvReader.GoldenCsv)
    // sums are partition-order dependent in fp — compare to 1e-6 abs
    // (values are 4-dp fixed-point; a true data difference would be >= 1e-4)
    val a = orig.agg(sum("acceleration_g"), sum("pitch_deg")).collect()(0)
    val b = back.agg(sum("acceleration_g"), sum("pitch_deg")).collect()(0)
    assert(math.abs(a.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)
    // partition pruning: filtering one log block reads only its files
    val pruned = back.filter(col("log_id") === 2690)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 64082) // counted independently from the CSV
    assert(plan.contains("log_id"), "partition filter should appear in scan")
  }

  test("streaming tumbling aggregation equals the batch equivalent") {
    import spark.implicits._
    val events = Tables.load(spark, sf("sf0.001"), "events")
      .select(col("ts"), col("event_type"), col("value"))
    // batch truth
    val expected = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start").as("h"), col("event_type"), col("n"),
        round(col("sv"), 6).as("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    // streaming replay through MemoryStream (single batch => watermark
    // never drops anything)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamed = StreamingPipelines.tumblingAgg(
      input.toDF().toDF("ts", "event_type", "value"))
    val q = streamed.writeStream.format("memory")
      .queryName("tumbling_out").outputMode("complete").start()
    try {
      input.addData(events.collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq)
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .select(col("h"), col("event_type"), col("n"),
          round(col("sv"), 6).as("sv"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming delta ingest into the IVF index equals batch append") {
    import spark.implicits._
    import graft.sources.IvfVectorStore
    val emb = Tables.load(spark, sf("sf0.01"), "embeddings")
    val mkPath = () => tempDir("ivf-stream").toString
    val (batchPath, streamPath) = (mkPath(), mkPath())
    val old = emb.filter(col("vec_id") < 400)
    IvfVectorStore.write(spark, old, "vec_id", "embedding", 16, batchPath)
    IvfVectorStore.write(spark, old, "vec_id", "embedding", 16, streamPath)
    val delta = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    // batch append in one shot
    IvfVectorStore.append(spark,
      emb.filter(col("vec_id") >= 400), "vec_id", "embedding", batchPath)
    // streaming append via foreachBatch over 4 micro-batches — the
    // production delta-ingest shape (each micro-batch assigns only its
    // own rows against the frozen stored quantizer)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfVectorStore.append(spark, batch, "vec_id", "embedding",
          streamPath)
      }
      .start()
    try {
      delta.grouped(25).foreach { g =>
        input.addData(g)
        q.processAllAvailable()
      }
    } finally q.stop()
    def snapshot(path: String) =
      spark.read.parquet(s"$path/vectors")
        // partition-dir type inference reads cell back as int
        .select(col("id"), col("cell").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (b, s) = (snapshot(batchPath), snapshot(streamPath))
    assert(s.size == 500 && b == s,
      "streamed store must hold identical cell assignments")
  }

  test("streaming near-dup ingest equals one-shot batch store build " +
      "under shuffled 3-batch replay (group-pair granularity)") {
    import spark.implicits._
    import graft.sources.NearDupGraphStore
    import graft.streaming.NearDupStreamIngest
    val docs = Tables.load(spark, sf("sf0.01"), "documents")
      .filter(col("doc_id") < 240)
      .select(col("doc_id"), col("text"))
    val mkPath = () => tempDir("ndg-stream").toString
    val (batchPath, streamPath, ckpt) = (mkPath(), mkPath(), mkPath())
    NearDupGraphStore.write(spark, docs, "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq(0.4), batchPath)
    // rep ids are ingest-order-dependent (a verbatim group's first
    // arrival becomes its rep), so equality is pinned at GROUP-PAIR
    // granularity: the (jaccard, size, size) pair multiset, the
    // group-size histogram, and the cluster-size histogram
    def graphView(path: String) = {
      val pairs = NearDupGraphStore.groupPairs(spark, path, 0.3)
        .collect()
        .map { r =>
          val (g1, g2) = (r.getLong(3), r.getLong(4))
          (math.round(r.getDouble(2) * 1e6),
            math.min(g1, g2), math.max(g1, g2))
        }.sorted.toSeq
      val sizes = NearDupGraphStore.groupSizes(spark, path)
        .collect().map(_.getLong(1)).sorted.toSeq
      val clusters = NearDupGraphStore.components(spark, path, 0.4)
        .groupBy(col("cluster_id")).agg(sum(col("g")).as("m"))
        .collect().map(_.getLong(1)).sorted.toSeq
      (pairs, sizes, clusters)
    }
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val slices = (0L to 2L).map { i =>
      docs.filter(col("doc_id") % 3L === i)
        .as[(Long, String)].collect().toSeq.map(r => (r._1, r._2, ts))
    }
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = NearDupStreamIngest.start(
      input.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", "10 minutes", n = 3, baseT = 0.3,
      componentThresholds = Seq(0.4), streamPath, ckpt)
    try {
      slices.foreach { g =>
        input.addData(g)
        q.processAllAvailable()
      }
      // at-least-once replay: slice 1 arrives again, plus an exact
      // duplicate id inside the replayed batch — all three
      // idempotency layers together must land ZERO new rows
      input.addData(slices(1) ++ slices(1).take(1))
      q.processAllAvailable()
    } finally q.stop()
    assert(NearDupGraphStore.membersTable(spark, streamPath).count() ==
      docs.count(), "replay must not inflate membership")
    assert(graphView(streamPath) == graphView(batchPath),
      "streamed shuffled-replay ingest must equal the one-shot batch " +
        "build at group-pair granularity")
    // cadence policy: label-free ingest (empty componentThresholds —
    // no per-batch iterative CC) + ONE deferred rebuild reads the
    // same graph and the same labels
    val lazyPath = mkPath()
    slices.zipWithIndex.foreach { case (g, i) =>
      NearDupStreamIngest.ingestBatch(
        g.toDF("doc_id", "text", "ts"),
        "doc_id", "text", n = 3, baseT = 0.3,
        componentThresholds = Seq(), lazyPath, epoch = i.toLong)
      if (i == 0) {
        assert(NearDupGraphStore
          .components(spark, lazyPath, 0.4).isEmpty,
          "label-free store must read empty components, not error")
      }
    }
    NearDupGraphStore.rebuildComponents(spark, lazyPath, Seq(0.4))
    assert(graphView(lazyPath) == graphView(batchPath),
      "label-free ingest + one deferred rebuild must equal the " +
        "per-batch-labeled build")
  }

  test("IVF store compaction: searches identical before/after, data " +
      "file count drops, cellstats pre-folded, appends still land") {
    import graft.sources.{IvfVectorStore, StoreCompaction}
    val emb = Tables.load(spark, sf("sf0.01"), "embeddings")
    val path = tempDir("ivf-compact").toString
    IvfVectorStore.write(spark, emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", 16, path)
    // two delta ingests: one file set per cell dir + one cellstats
    // row set EACH — the small-files accumulation compact() resets
    IvfVectorStore.append(spark,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding", path)
    IvfVectorStore.append(spark,
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 480),
      "vec_id", "embedding", path)
    val queries = emb.filter(col("vec_id") < 8)
    def heur = IvfVectorStore.searchTopK(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbes = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    def exact = IvfVectorStore.searchTopKExact(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val (heurBefore, exactBefore) = (heur, exact)
    val filesBefore = StoreCompaction.dataFileCount(spark, path)
    val statRowsBefore = spark.read.parquet(s"$path/cellstats").count()
    IvfVectorStore.compact(spark, path)
    assert(heur == heurBefore,
      "compaction must not change heuristic search results")
    assert(exact == exactBefore,
      "compaction must not change exact search results")
    val filesAfter = StoreCompaction.dataFileCount(spark, path)
    assert(filesAfter < filesBefore,
      s"expected fewer data files ($filesBefore -> $filesAfter)")
    val stats = spark.read.parquet(s"$path/cellstats")
    val nCells = stats.select("cell").distinct().count()
    assert(stats.count() == nCells && stats.count() < statRowsBefore,
      "cellstats must collapse to ONE pre-folded row per cell")
    // the append-only contract survives compaction (the sf0.01
    // embeddings fixture has exactly 500 rows — use its tail)
    IvfVectorStore.append(spark,
      emb.filter(col("vec_id") >= 480 && col("vec_id") < 500),
      "vec_id", "embedding", path)
    assert(spark.read.parquet(s"$path/vectors").count() == 500L,
      "post-compaction delta ingest must land")
  }

  test("streaming grouped top-k (bounded aggregate) equals batch " +
      "across micro-batches") {
    import spark.implicits._
    // the TypedImperativeAggregate must merge partial states across
    // micro-batch boundaries exactly like a batch shuffle merge
    val rnd = new scala.util.Random(21)
    val rows = (1L to 3000L).map(id =>
      (s"g${id % 5}", rnd.nextDouble(), id))
    val expected = rows.toDF("g", "v", "id")
      .groupBy("g")
      .agg(graft.functions.TopKRows.topK(col("v"), col("id"), 7).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.score"), col("t.id"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSet
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val streamed = input.toDF().toDF("g", "v", "id")
      .groupBy("g")
      .agg(graft.functions.TopKRows.topK(col("v"), col("id"), 7).as("top"))
    val q = streamed.writeStream.format("memory")
      .queryName("topk_out").outputMode("complete").start()
    try {
      rows.grouped(700).foreach { batch => // 5 micro-batches
        input.addData(batch)
        q.processAllAvailable()
      }
      val got = spark.table("topk_out")
        .select(col("g"), explode(col("top")).as("t"))
        .select(col("g"), col("t.score"), col("t.id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("gap sessions split on silence in streaming mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sessions = StreamingPipelines.gapSessions(
      input.toDF().toDF("ts", "user_id", "value"), gap = "10 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("complete").start()
    try {
      // user 1: bursts at 10:00-10:05 and 10:30-10:31 -> 2 sessions
      input.addData(Seq(
        (ts(0), 1L, 1.0), (ts(5), 1L, 2.0),
        (ts(30), 1L, 3.0), (ts(31), 1L, 4.0),
        (ts(0), 2L, 5.0)))
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .orderBy("user_id", "session_start").collect()
      assert(got.length == 3)
      assert(got(0).getAs[Long]("n_events") == 2) // user1 first burst
      assert(got(1).getAs[Long]("n_events") == 2) // user1 second burst
      assert(got(2).getAs[Long]("n_events") == 1) // user2
    } finally q.stop()
  }

  test("streaming C4 rule gate equals the batch gate (stateless " +
      "signals compose with readStream unchanged)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bad = Seq("slow", "dup")
    def gated(df: org.apache.spark.sql.DataFrame) = {
      val sig = df.select(col("doc_id") +:
        graft.operators.TextOps.c4Signals(col("text"), bad): _*)
      sig.select(col("doc_id"),
        graft.operators.TextOps.c4Keep(col("n_words"),
          col("has_bad_word"), col("has_brace"), col("has_lorem"),
          col("punct_line_frac"), minWords = 3).as("keep"))
    }
    val rows = Seq(
      (1L, "one good document here indeed."),
      (2L, "short"),                       // fails minWords
      (3L, "this one is slow somehow ok"), // bad word
      (4L, "code doc with { braces } in it and words"),
      (5L, "lorem ipsum dolor sit amet filler"))
    val input = MemoryStream[(Long, String)]
    val q = gated(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4_out")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2)); q.processAllAvailable()
      input.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table("c4_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = gated(rows.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch)
      assert(batch == Map(1L -> true, 2L -> false, 3L -> false,
        4L -> false, 5L -> false))
    } finally q.stop()
  }

  test("streaming CSV log sink writes micro-batched files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("csvsink").toString
    val ckpt = tempDir("ckpt").toString
    val input = MemoryStream[(Long, Double, Double, Double)]
    val q = StreamingPipelines.csvLogSink(
        input.toDF().toDF("sample_idx", "acceleration_g", "pitch_deg", "roll_deg"),
        out, ckpt)
      .start()
    try {
      input.addData((0L until 100L).map(i => (i, 0.1 * i, 1.0, 2.0)))
      q.processAllAvailable()
      val written = spark.read.schema(
        "sample_idx LONG, acceleration_g DOUBLE, pitch_deg DOUBLE, roll_deg DOUBLE")
        .csv(out)
      assert(written.count() == 100)
    } finally q.stop()
  }
}
