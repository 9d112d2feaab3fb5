package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-streaming equivalents of the reference's streaming
  * surface (SURVEY §2.8, §3.3):
  *
  *  - the reference's log path (ISR -> queue -> batched CSV flush every
  *    ~1 s) maps to `writeStream` with a processing-time trigger — the
  *    64 KiB cache becomes the micro-batch, fclose-per-flush becomes
  *    checkpointing (upgrading at-most-once to at-least-once);
  *  - tumbling/hourly windowed aggregation with an event-time watermark
  *    (the batch form is Q19);
  *  - gap-based sessionization via `session_window` (the streaming
  *    analogue of the pause-marker run splits).
  */
object StreamingPipelines {

  /** Tumbling event-time window aggregation: count + sum(value) per
    * (window, event_type). Watermark bounds state; late rows beyond it
    * are dropped (the reference drops on queue overflow — at-most-once;
    * this is the at-least-once upgrade). */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start").as("h"), col("event_type"),
        col("n"), col("sv"))

  /** Gap-based sessions per user: a session closes after `gap` of
    * event-time silence — the streaming form of the reference's
    * pause-marker run splitting (ORC_Main.c:815-856). */
  def gapSessions(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sv"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sv"))

  /** Streaming weighted sample without replacement: maintains, per
    * group, the n highest-priority rows seen so far — the streaming
    * form of [[graft.operators.CurationOps.prioritySample]], sharing
    * its exact priority definition (md5-deterministic w/u), so at any
    * point the maintained sample EQUALS the batch sample of every row
    * ingested so far (priorities don't depend on arrival order, and
    * the k-bounded [[graft.functions.TopKRows]] state merges across
    * micro-batches exactly like a batch shuffle merge). State is n
    * (score, id) pairs per group — bounded regardless of stream
    * length; complete/update output mode. */
  def streamingPrioritySample(docs: DataFrame, groupCol: String,
                              idCol: String, weightCol: String, n: Int,
                              salt: String): DataFrame =
    docs
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(groupCol).as("group"), col(idCol).cast("long").as("id"),
        graft.operators.CurationOps
          .samplePriority(idCol, weightCol, salt).as("pri"))
      .groupBy(col("group"))
      .agg(graft.functions.TopKRows.topK(col("pri"), col("id"), n).as("top"))

  /** Streaming exact dedup for a document/event stream: drops rows
    * whose dedup key was already seen within the watermark horizon —
    * the streaming form of [[graft.operators.DedupOps.exactDedup]].
    * State is keyed by the content hash and expires with the
    * watermark, so state-store size is bounded by the horizon's
    * distinct-key count, not the stream's length — the property that
    * keeps a continuous 100 TB/day ingest feasible. */
  def streamingExactDedup(docs: DataFrame, textCol: String,
                          tsCol: String = "ts",
                          watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash",
        graft.operators.DedupOps.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream inner join with event-time range condition: pair
    * each left event with right events of the same key within
    * `tolerance` AFTER it (the streaming enrichment shape — e.g. click
    * -> conversion attribution). Both sides carry watermarks and the
    * join has a time-range predicate, so Spark bounds BOTH state
    * stores: a side's row is dropped once the other side's watermark
    * passes its join window — the condition that keeps an unbounded
    * 100 TB/day two-stream join feasible. Inputs must already expose
    * (key, ts, payload); output carries both payloads and both times.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String, tolerance: String,
                       watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col(key).as("k"), col("ts").as("l_ts"),
        col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col(key).as("k2"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("k") === col("k2") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"interval $tolerance"))
      .select(col("k"), col("l_ts"), col("l_value"),
        col("r_ts"), col("r_value"))
  }

  /** One LSH band-bucket row of a streamed document. */
  case class BandRow(band: Int, bucket: String, doc_id: Long,
                     sig: Array[Long], ts: java.sql.Timestamp)
  /** Bucket state: members seen within the watermark horizon, or
    * saturated (megabucket cap hit — stop pairing, keep state tiny
    * until the horizon passes its last arrival and it resets). */
  case class BucketState(members: List[(Long, Array[Long], Long)],
                         saturated: Boolean, lastMs: Long)
  /** Candidate output: ids ordered, MinHash-estimated Jaccard. */
  case class StreamPair(id1: Long, id2: Long, est_jaccard: Double)

  /** One closed hourly bucket of a monitored series, in event-time
    * order per key. `h` is the hour start (epoch ms). Nullability
    * mirrors the batch operator column by column: trail_avg is None
    * only for the FIRST closed hour (empty ring), trail_std until the
    * ring holds >= 2 hours, z additionally when variance is zero. */
  case class HourCount(h: Long, n: Long)
  case class AnomalyState(open: Map[Long, Long], ring: List[HourCount])
  case class AnomalyRow(key: String, h: Long, n: Long,
      trail_avg: Option[Double], trail_std: Option[Double],
      z: Option[Double])

  /** Streaming MinHash-LSH near-dup detection: the streaming form of
    * [[graft.operators.DedupOps.minhashLshCandidates]] — same xxhash64
    * shingle hashing, same affine signature family, same banding — so
    * a replay of a bounded stream emits exactly the batch candidate
    * pair set (asserted in StorageStreamingSpec).
    *
    * Shape: a stateless per-partition pass computes each document's
    * k-MinHash signature in plain Scala (a typed boundary — immune to
    * the projection-collapse re-evaluation trap) and fans it out to
    * `bands` (band, bucket) rows; state is keyed by the band bucket,
    * holds the bucket's members within the watermark horizon, and each
    * arriving document emits a candidate pair per stored member with
    * the signature-overlap Jaccard estimate. Consumers dedup pairs
    * across bands downstream (exactly like the batch `distinct()`).
    *
    * State is bounded two ways, which is what keeps a continuous
    * ingest feasible: event-time timeout drops members older than the
    * watermark horizon, and `maxBucketSize` marks a bucket saturated —
    * it stops pairing and stores nothing further (the streaming analog
    * of the batch megabucket skip, which additionally drops the
    * bucket's earlier pairs retroactively — a stream cannot un-emit).
    */
  def streamingNearDup(docs: DataFrame, idCol: String, textCol: String,
                       tsCol: String = "ts",
                       shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                       watermark: String = "1 hour",
                       maxBucketSize: Int = 100): Dataset[StreamPair] = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    import docs.sparkSession.implicits._
    val r = k / bands
    val ds = docs.select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        col(textCol).cast("string").as("text"))
      .as[(Long, java.sql.Timestamp, String)]
    val banded = ds.mapPartitions { it =>
      it.flatMap { case (id, ts, text) =>
        val sig = minhashSigScala(text, shingleN, k)
        if (sig.isEmpty) Iterator.empty
        else (0 until bands).iterator.map { b =>
          BandRow(b, sig.slice(b * r, b * r + r).mkString("|"), id, sig, ts)
        }
      }
    }
    banded
      .withWatermark("ts", watermark)
      .groupByKey(x => (x.band, x.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, String), rows: Iterator[BandRow],
         gs: GroupState[BucketState]) => {
          val horizon = gs.getCurrentWatermarkMs()
          val st = gs.getOption
            .getOrElse(BucketState(Nil, saturated = false, lastMs = 0L))
          if (gs.hasTimedOut) {
            val kept = st.members.filter(_._3 >= horizon)
            if (kept.isEmpty && (!st.saturated || st.lastMs < horizon))
              gs.remove()
            else {
              gs.update(st.copy(members = kept))
              gs.setTimeoutTimestamp(horizon + timeoutSlackMs)
            }
            Iterator.empty
          } else if (st.saturated) {
            val lastMs = rows.map(_.ts.getTime).foldLeft(st.lastMs)(math.max)
            gs.update(st.copy(lastMs = lastMs))
            gs.setTimeoutTimestamp(math.max(horizon + timeoutSlackMs, 1L))
            Iterator.empty
          } else {
            var members = st.members.filter(_._3 >= horizon)
            var saturated = false
            var lastMs = st.lastMs
            val out = List.newBuilder[StreamPair]
            // In-batch arrival order is nondeterministic; sort by id so
            // replays emit an identical stream.
            rows.toSeq.sortBy(x => (x.doc_id, x.ts.getTime)).foreach { x =>
              lastMs = math.max(lastMs, x.ts.getTime)
              if (!saturated && !members.exists(_._1 == x.doc_id)) {
                members.foreach { case (mid, msig, _) =>
                  val est = msig.iterator.zip(x.sig.iterator)
                    .count { case (a, b) => a == b }.toDouble / k
                  out += (if (mid < x.doc_id) StreamPair(mid, x.doc_id, est)
                          else StreamPair(x.doc_id, mid, est))
                }
                members = (x.doc_id, x.sig, x.ts.getTime) :: members
                if (members.length > maxBucketSize) saturated = true
              }
            }
            if (saturated) gs.update(BucketState(Nil, saturated = true, lastMs))
            else gs.update(BucketState(members, saturated = false, lastMs))
            gs.setTimeoutTimestamp(math.max(horizon + timeoutSlackMs, 1L))
            out.result().iterator
          }
        })
  }

  /** How far past the current watermark a bucket's timeout is set;
    * each firing re-prunes expired members, so this only paces cleanup
    * frequency, not correctness. */
  private val timeoutSlackMs = 60000L

  /** One buffered reference row (epoch ms, tie order, value). */
  final case class AsOfRef(tsMs: Long, ord: Long, v: Double)
  /** One probe awaiting watermark finality. */
  final case class AsOfProbe(tsMs: Long, id: Long)
  final case class AsOfState(refs: List[AsOfRef], probes: List[AsOfProbe])
  /** Emitted match: the streaming twin of `asof_<valCol>` (None =
    * no reference at or before the probe). */
  final case class AsOfMatch(k: String, id: Long, tsMs: Long,
                             asofV: Option[Double])

  /** Streaming backward as-of join — the continuous form of
    * [[graft.operators.TemporalJoinOps.asofJoinLast]]: every probe row
    * gets the reference value with the greatest (ts, ord) at or before
    * its event time, per key. Both streams union into ONE keyed state
    * stream (same shape as the batch operator's union + window — no
    * stream-stream join, one shuffle).
    *
    * Correctness under disorder: a probe is emitted only once the
    * watermark passes its event time STRICTLY — any reference that
    * could still arrive has ts >= watermark > probe.ts, so the match
    * set is final; rows later than that are the watermark's own late
    * drops, exactly the contract of every watermarked operator here.
    * State per key is bounded by the watermark horizon: pending
    * probes inside it, references inside it, plus ONE carried
    * reference at-or-before the watermark (the LOCF carry every
    * future probe may still need). An idle key flushes via the
    * event-time timeout. */
  def streamingAsOf(probes: DataFrame, refs: DataFrame,
                    keyCol: String, tsCol: String, probeIdCol: String,
                    refOrdCol: String, valCol: String,
                    watermark: String = "1 hour"): Dataset[AsOfMatch] = {
    import probes.sparkSession.implicits._
    val p = probes.select(col(keyCol).cast("string").as("k"),
      col(tsCol).cast("timestamp").as("ts"), lit(1).as("side"),
      col(probeIdCol).cast("long").as("ord"),
      lit(Double.NaN).as("v"))
    val r = refs.select(col(keyCol).cast("string").as("k"),
      col(tsCol).cast("timestamp").as("ts"), lit(0).as("side"),
      col(refOrdCol).cast("long").as("ord"),
      col(valCol).cast("double").as("v"))
    r.unionByName(p)
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp, Int, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String,
         rows: Iterator[(String, java.sql.Timestamp, Int, Long, Double)],
         gs: GroupState[AsOfState]) => {
          val st = gs.getOption.getOrElse(AsOfState(Nil, Nil))
          var refsB = st.refs
          var probesB = st.probes
          rows.foreach { case (_, ts, side, ord, v) =>
            if (side == 0) refsB ::= AsOfRef(ts.getTime, ord, v)
            else probesB ::= AsOfProbe(ts.getTime, ord)
          }
          val wm = gs.getCurrentWatermarkMs()
          val (ready, pending) = probesB.partition(_.tsMs < wm)
          val out = ready.sortBy(pr => (pr.tsMs, pr.id)).map { pr =>
            val cand = refsB.filter(_.tsMs <= pr.tsMs)
            val m =
              if (cand.isEmpty) None
              else Some(cand.maxBy(rr => (rr.tsMs, rr.ord)).v)
            AsOfMatch(key, pr.id, pr.tsMs, m)
          }
          // evict references the watermark has finalized, keeping the
          // single newest one at-or-before wm as the LOCF carry
          val (future, past) = refsB.partition(_.tsMs > wm)
          val carry =
            if (past.isEmpty) Nil
            else List(past.maxBy(rr => (rr.tsMs, rr.ord)))
          gs.update(AsOfState(carry ++ future, pending))
          gs.setTimeoutTimestamp(math.max(wm + timeoutSlackMs, 1L))
          out.iterator
        })
  }

  /** Streaming trailing-window anomaly detection — the continuous
    * form of `WindowOps.trailingZScore` over per-key hourly event
    * counts (ingest-rate / metric monitoring): each key's state holds
    * the still-open hour buckets plus a ring of the last `lookback`
    * CLOSED hourly counts. An hour closes when the watermark passes
    * its end; closing emits the hour's count z-scored against the
    * ring (self-excluded, like the batch operator) and pushes it in.
    *
    * State per key is bounded by `lookback` ring entries + the open
    * hours inside the watermark horizon — independent of stream
    * length. Late rows beyond the watermark are dropped by the
    * watermark itself; an idle key still closes its hours via the
    * event-time timeout. Batch parity (same counts, same z) is
    * asserted in StorageStreamingSpec. */
  def streamingAnomaly(events: DataFrame, typeCol: String = "event_type",
                       tsCol: String = "ts", lookback: Int = 24,
                       watermark: String = "2 hours")
      : Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L
    val ds = events.select(col(typeCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(String, java.sql.Timestamp)]
    ds.withWatermark("ts", watermark)
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
         gs: GroupState[AnomalyState]) => {
          val st = gs.getOption.getOrElse(AnomalyState(Map.empty, Nil))
          val open = scala.collection.mutable.Map(st.open.toSeq: _*)
          rows.foreach { case (_, ts) =>
            val h = Math.floorDiv(ts.getTime, hourMs) * hourMs
            open(h) = open.getOrElse(h, 0L) + 1L
          }
          val wm = gs.getCurrentWatermarkMs()
          val (closed, still) = open.toSeq.partition(_._1 + hourMs <= wm)
          var ring = st.ring
          val out = List.newBuilder[AnomalyRow]
          closed.sortBy(_._1).foreach { case (h, n) =>
            val vals = ring.map(_.n.toDouble)
            // mirror the batch operator's column-by-column nullability:
            // avg is defined from ONE trailing sample, stddev_samp
            // needs two, z additionally needs nonzero variance
            val ta =
              if (vals.nonEmpty) Some(vals.sum / vals.length) else None
            val sd =
              if (vals.length >= 2) Some(math.sqrt(
                vals.map(v => (v - ta.get) * (v - ta.get)).sum /
                  (vals.length - 1)))
              else None
            val z = sd.filter(_ > 0).map(s => (n - ta.get) / s)
            out += AnomalyRow(key, h, n, ta, sd, z)
            ring = (HourCount(h, n) :: ring).take(lookback)
          }
          gs.update(AnomalyState(still.toMap, ring))
          gs.setTimeoutTimestamp(math.max(wm + timeoutSlackMs, 1L))
          out.result().iterator
        })
  }

  /** One buffered funnel event (epoch ms, tie order, stage index). */
  final case class FunnelEvent(tsMs: Long, tie: Long, stageIdx: Int)
  /** `times` is the matched-stage prefix (times(i) = stage i match
    * time); `buffered` holds events the watermark has not finalized. */
  final case class FunnelState(times: List[Long],
                               buffered: List[FunnelEvent])
  /** Emitted stage completion — final by construction. */
  final case class FunnelHit(k: String, stageIdx: Int, tsMs: Long)

  /** Streaming ordered funnel — the continuous form of
    * [[graft.operators.FunnelOps.funnelStageTimes]]: per entity, stage
    * k completes at the earliest stage-k event at-or-after the stage
    * k-1 completion. The batch window rule collapses to a sequential
    * automaton over (ts, tie)-ordered events: an event of stage index
    * j matches exactly when j stages are already matched (its ts is
    * >= t_{j-1} by sort order; ties at equal ts resolve by `tieCol`,
    * the batch operator's convention).
    *
    * Events ahead of the watermark stay buffered; only the finalized
    * region (ts < watermark, where late arrivals are impossible) is
    * folded into the automaton, so every emitted completion is final
    * under any arrival order. Per-key state: the O(stages) time
    * prefix + the horizon-bounded buffer. Non-stage event types are
    * filtered BEFORE the shuffle. */
  def streamingFunnel(events: DataFrame, entityCol: String,
                      typeCol: String, tsCol: String, tieCol: String,
                      stages: Seq[String],
                      watermark: String = "1 hour"): Dataset[FunnelHit] = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct: $stages")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex
      .map { case (s, i) => when(col(typeCol) === s, i) }
      .reduceRight(_ otherwise _) // right fold: each when gets ONE else
    events
      .withColumn("__si", idx).filter(col("__si").isNotNull)
      .select(col(entityCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"),
        col(tieCol).cast("long").as("tie"), col("__si").cast("int"))
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String,
         rows: Iterator[(String, java.sql.Timestamp, Long, Int)],
         gs: GroupState[FunnelState]) => {
          val st = gs.getOption.getOrElse(FunnelState(Nil, Nil))
          var buf = st.buffered
          rows.foreach { case (_, ts, tie, si) =>
            buf ::= FunnelEvent(ts.getTime, tie, si)
          }
          val wm = gs.getCurrentWatermarkMs()
          val (ripe, keep) = buf.partition(_.tsMs < wm)
          var times = st.times
          val out = List.newBuilder[FunnelHit]
          ripe.sortBy(e => (e.tsMs, e.tie)).foreach { e =>
            if (e.stageIdx == times.length) {
              times = times :+ e.tsMs
              out += FunnelHit(key, e.stageIdx, e.tsMs)
            }
          }
          gs.update(FunnelState(times, keep))
          gs.setTimeoutTimestamp(math.max(wm + timeoutSlackMs, 1L))
          out.result().iterator
        })
  }

  /** `cohort` fixes at the first finalized bucket; `open` holds
    * buckets the watermark has not yet closed. */
  final case class RetentionState(cohort: Option[Long], open: List[Long])
  /** One finalized (entity, activity-bucket) cell of the retention
    * grid: cohort bucket index + day offset. */
  final case class RetentionHit(k: String, cohort: Long, offset: Long)

  /** Streaming cohort retention — the continuous form of
    * [[graft.operators.FunnelOps.cohortRetention]]: each entity's
    * activity buckets emit as the watermark closes them, tagged with
    * the entity's cohort (its earliest bucket). A bucket only closes
    * once no event can reach it any more (its end is behind the
    * watermark), and the cohort is necessarily final by the time the
    * first bucket closes (any future event's bucket sits at or beyond
    * the watermark bucket), so every emitted cell is exact and
    * exactly-once. State per entity: the cohort long + the open
    * buckets inside the watermark horizon. Downstream, a grouped
    * count over (cohort, offset) reproduces the batch matrix. */
  def streamingRetention(events: DataFrame, entityCol: String,
                         tsCol: String, bucketMs: Long,
                         watermark: String = "1 hour")
      : Dataset[RetentionHit] = {
    require(bucketMs > 0, s"bad bucket width $bucketMs")
    import events.sparkSession.implicits._
    events
      .select(col(entityCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
         gs: GroupState[RetentionState]) => {
          val st = gs.getOption.getOrElse(RetentionState(None, Nil))
          var open = st.open
          rows.foreach { case (_, ts) =>
            val b = Math.floorDiv(ts.getTime, bucketMs)
            if (!open.contains(b)) open ::= b
          }
          val wm = gs.getCurrentWatermarkMs()
          val (closed, still) = open.partition(b => (b + 1) * bucketMs <= wm)
          var cohort = st.cohort
          val out = List.newBuilder[RetentionHit]
          closed.sorted.foreach { b =>
            if (cohort.forall(b < _)) cohort = Some(b)
            out += RetentionHit(key, cohort.get, b - cohort.get)
          }
          gs.update(RetentionState(cohort, still))
          gs.setTimeoutTimestamp(math.max(wm + timeoutSlackMs, 1L))
          out.result().iterator
        })
  }

  /** Plain-Scala twin of the batch signature pipeline
    * (TextOps.tokens -> shinglesFromTokens -> distinct -> xxhash64 ->
    * affine mins): split on whitespace, n-token shingles joined by a
    * space, XXH64 with Spark SQL's seed (42) over UTF8 bytes, then
    * k affine permutations over the Mersenne prime — value-identical
    * to `DedupOps.minhashLshCandidates`' aggregate form (asserted in
    * StorageStreamingSpec). Empty result = fewer than `shingleN`
    * tokens (the batch form yields an empty shingle array there). */
  private[graft] def minhashSigScala(text: String, shingleN: Int,
                                     k: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val P = 2147483647L
    // UTF8String trim/lower + limit=-1 split: Spark's exact semantics
    // (trim strips 0x20 only; split keeps trailing empties) — a plain
    // String.trim/toLowerCase/split diverges on tabs and locale.
    val norm = UTF8String.fromString(text).trim().toLowerCase().toString
    val toks = norm.split("\\s+", -1)
    if (toks.length < shingleN) Array.empty[Long]
    else {
      val base = toks.sliding(shingleN).map(_.mkString(" ")).toArray
        .distinct
        .map { s =>
          val h = XXH64.hashUTF8String(UTF8String.fromString(s), 42L)
          ((h % P) + P) % P
        }
      Array.tabulate(k) { i =>
        val a = 2 * i + 1
        val b = 1_000_003L * (i + 1)
        base.iterator.map(h => ((h * a + b) % P + P) % P).min
      }
    }
  }

  /** The reference's batched CSV logging sink (S3): micro-batched
    * append with a ~1 s cadence (ORC_CONFIG.h:19 64 KiB cache,
    * ORC_Main.c:806-814). */
  def csvLogSink(samples: DataFrame, path: String, checkpoint: String,
                 interval: String = "1 second"): DataStreamWriter[org.apache.spark.sql.Row] =
    samples.writeStream
      .format("csv")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .outputMode("append")

  /** One buffered transition event (epoch ms, tie order, type). */
  final case class TransEvent(tsMs: Long, tie: Long, typ: String)
  /** `last` = the latest FINALIZED event (the left side of the next
    * transition); `buffered` holds events the watermark hasn't
    * finalized. */
  final case class TransState(last: Option[TransEvent],
                              buffered: List[TransEvent])
  /** Emitted consecutive-event transition — final by construction. */
  final case class TransitionHit(k: String, prevType: String,
                                 nextType: String, tsMs: Long)

  /** Streaming event-type transitions — the continuous form of the
    * q164 Markov transition matrix: per entity, each FINALIZED event
    * pairs with its (ts, tie)-ordered predecessor. Events ahead of
    * the watermark stay buffered; only the region where late arrivals
    * are impossible is folded, so emitted transitions are exact and
    * exactly-once under any arrival order. State per entity: one last
    * event + the horizon-bounded buffer. Downstream, a grouped count
    * over (prevType, nextType) reproduces the batch matrix. */
  def streamingTransitions(events: DataFrame, entityCol: String,
                           typeCol: String, tsCol: String,
                           tieCol: String,
                           watermark: String = "1 hour")
      : Dataset[TransitionHit] = {
    import events.sparkSession.implicits._
    events
      .select(col(entityCol).cast("string").as("k"),
        col(typeCol).cast("string").as("typ"),
        col(tsCol).cast("timestamp").as("ts"),
        col(tieCol).cast("long").as("tie"))
      .withWatermark("ts", watermark)
      .as[(String, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String,
         rows: Iterator[(String, String, java.sql.Timestamp, Long)],
         gs: GroupState[TransState]) => {
          val st = gs.getOption.getOrElse(TransState(None, Nil))
          var buf = st.buffered
          rows.foreach { case (_, typ, ts, tie) =>
            buf ::= TransEvent(ts.getTime, tie, typ)
          }
          val wm = gs.getCurrentWatermarkMs()
          val (ripe, keep) = buf.partition(_.tsMs < wm)
          var last = st.last
          val out = List.newBuilder[TransitionHit]
          ripe.sortBy(e => (e.tsMs, e.tie)).foreach { e =>
            last.foreach(p =>
              out += TransitionHit(key, p.typ, e.typ, e.tsMs))
            last = Some(e)
          }
          gs.update(TransState(last, keep))
          gs.setTimeoutTimestamp(math.max(wm + timeoutSlackMs, 1L))
          out.result().iterator
        })
  }
}
