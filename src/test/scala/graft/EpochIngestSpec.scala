package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sources.{EpochCommitLog, NearDupGraphStore}
import graft.streaming.NearDupStreamIngest

/** Crash-safety of the epoch commit log under the continuous dedup
  * ingest: a micro-batch killed at EVERY protocol window (mid-stage,
  * post-stage, post-manifest, mid-move, post-move, post-marker) and
  * then replayed under the same epoch — the at-least-once foreachBatch
  * contract — must converge to the one-shot batch store, never
  * dropping a subdir's files (the members-landed-first / pairs-lost
  * hazard of a bare mode("append") ingest) and never duplicating one. */
class EpochIngestSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = Tables.load(spark, sf("sf0.01"), "documents")
    .filter(col("doc_id") < 150)
    .select(col("doc_id"), col("text"))
    .localCheckpoint(false)

  private lazy val slices = (0L to 2L).map(i =>
    docs.filter(col("doc_id") % 3L === i).localCheckpoint(false))

  private def mkPath() = tempDir("epoch-ingest").toString

  private def ingest(path: String, slice: Int, epoch: Long,
                     hook: EpochCommitLog.Hook = _ => ()): Unit =
    NearDupStreamIngest.ingestBatch(slices(slice), "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq.empty, path,
      epoch, hook)

  private def graphView(path: String) = {
    val pairs = NearDupGraphStore.groupPairs(spark, path, 0.3)
      .collect()
      .map { r =>
        val (g1, g2) = (r.getLong(3), r.getLong(4))
        (math.round(r.getDouble(2) * 1e6),
          math.min(g1, g2), math.max(g1, g2))
      }.sorted.toSeq
    val sizes = NearDupGraphStore.groupSizes(spark, path)
      .collect().map(_.getLong(1)).sorted.toSeq
    (pairs, sizes)
  }

  private lazy val reference: ((Seq[(Long, Long, Long)], Seq[Long])) = {
    val p = mkPath()
    NearDupGraphStore.write(spark, docs, "doc_id", "text",
      n = 3, baseT = 0.3, componentThresholds = Seq.empty, p)
    graphView(p)
  }

  private case class Boom(tag: String)
    extends RuntimeException(s"injected crash at $tag")

  /** A hook that throws when `tag` fires (a trailing `*` matches by
    * prefix); the replay then runs hook-free — the restarted-driver
    * simulation. */
  private def crashAt(tag: String): EpochCommitLog.Hook = {
    t => if (t == tag || (tag.endsWith("*") &&
      t.startsWith(tag.dropRight(1)))) throw Boom(t)
  }

  test("epoch ingest replayed after a crash at every protocol window " +
      "equals the one-shot batch build; completed epochs replay as " +
      "no-ops") {
    val fs = new org.apache.hadoop.fs.Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // crash points: after staging, after the manifest lands, after the
    // FIRST file move (the partial-append window the bare append path
    // cannot survive — some subdirs landed, others not), after cleanup,
    // and after the marker (commit done, manifest retire lost)
    val crashPoints =
      Seq("staged", "manifest", "moved:*", "cleaned", "marker")
    crashPoints.foreach { tag =>
      val path = mkPath()
      ingest(path, 0, epoch = 0L)
      val boom = intercept[Boom] {
        ingest(path, 1, epoch = 1L, crashAt(tag))
      }
      assert(boom.tag.startsWith(tag.stripSuffix("*")))
      // the engine replays the failed batch under the SAME epoch
      ingest(path, 1, epoch = 1L)
      ingest(path, 2, epoch = 2L)
      assert(graphView(path) == reference,
        s"crash at '$tag' + same-epoch replay must converge to the " +
          "one-shot batch build")
      assert(NearDupGraphStore.membersTable(spark, path).count() ==
        docs.count(), s"crash at '$tag': membership must not inflate")
      // no scratch/journal residue once all epochs committed
      val left = new java.io.File(path).listFiles().map(_.getName)
        .filter(nm => nm.startsWith("__epoch-"))
      assert(left.isEmpty, s"crash at '$tag': scratch residue $left")
      (0L to 2L).foreach { e =>
        assert(EpochCommitLog.isCommitted(spark, path, e))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/journal/e=$e.manifest")),
          s"crash at '$tag': manifest for epoch $e must be retired")
      }
      // a completed epoch replayed once more is a byte-level no-op
      val before = graphView(path)
      ingest(path, 1, epoch = 1L)
      assert(graphView(path) == before)
    }
  }

  test("a crash during staging itself re-stages cleanly on replay") {
    val path = mkPath()
    ingest(path, 0, epoch = 0L)
    // simulate a mid-stage crash: a stale partial scratch dir left by
    // a dead attempt (only SOME subdirs written, no manifest)
    val scratch = EpochCommitLog.scratchDir(path, 1L)
    slices(1).limit(3)
      .select(col("doc_id").as("rep_id"), col("doc_id"))
      .write.parquet(s"$scratch/members")
    ingest(path, 1, epoch = 1L)
    ingest(path, 2, epoch = 2L)
    assert(graphView(path) == reference,
      "stale mid-stage scratch must be discarded, not rolled forward")
    assert(NearDupGraphStore.membersTable(spark, path).count() ==
      docs.count())
  }

  test("a missing store path stages a full build; a transient meta " +
      "read failure does NOT masquerade as first contact") {
    // the initialized probe is fs.exists(meta) — on an IO failure it
    // throws (the streaming engine then retries the batch) instead of
    // returning false and clobbering a populated store with write().
    // Simulated by pointing the handler at an unreadable path scheme.
    val bad = "unknownfs://nowhere/store"
    val ex = intercept[Exception] {
      NearDupStreamIngest.ingestBatch(slices(0), "doc_id", "text",
        n = 3, baseT = 0.3, componentThresholds = Seq.empty, bad,
        epoch = 0L)
    }
    assert(!ex.isInstanceOf[Boom])
    // and nothing was written anywhere for that epoch
    val path = mkPath()
    ingest(path, 0, epoch = 0L)
    assert(NearDupGraphStore.membersTable(spark, path).count() ==
      slices(0).count())
  }
}
