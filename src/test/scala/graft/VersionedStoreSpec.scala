package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sources.{IvfVectorStore, NearDupGraphStore, VersionedStore}

/** The shared versioned-commit protocol: TOCTOU-verified commits,
  * retention GC (prune), and the IvfVectorStore ensure lifecycle that
  * round 12 gave the vector store (mirroring NearDupEnsureSpec's
  * simulated two-JVM race for the third store). */
class VersionedStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("commit TOCTOU: a racing builder landing between the " +
      "exists-probe and the rename cannot strand a nested scratch") {
    val root = tempDir("vstore-toctou").toString
    def stage(tag: String): String = {
      val scratch = VersionedStore.scratchDir(root, "fp")
      Seq((1L, tag)).toDF("id", "who").coalesce(1)
        .write.parquet(s"$scratch/data")
      scratch
    }
    val scratchA = stage("a")
    val scratchB = stage("b")
    val versioned = VersionedStore.versionDir(root, "fp")
    // A probes (dest absent), then B commits inside the window, then
    // A's rename runs against an EXISTING destination directory —
    // the Hadoop rename/copy fallback that adopts src INSIDE dst
    VersionedStore.commit(spark, scratchA, versioned, onProbe = () =>
      VersionedStore.commit(spark, scratchB, versioned))
    assert(fs.exists(new Path(s"$versioned/data")),
      "the winning commit must be intact")
    val inside = new java.io.File(versioned).listFiles()
      .map(_.getName).filter(_.startsWith("__build-"))
    assert(inside.isEmpty,
      s"lost-race commit left a nested scratch: ${inside.toSeq}")
    assert(!fs.exists(new Path(scratchA)) &&
      !fs.exists(new Path(scratchB)),
      "both scratch dirs must be gone")
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("__build-"))
    assert(leftovers.isEmpty, s"scratch leftovers: ${leftovers.toSeq}")
  }

  test("prune: keeps latest K + protected versions, a protected " +
      "reader survives, re-ensure after prune rebuilds cleanly, " +
      "stale scratch swept only past the grace window") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val root = tempDir("vstore-prune").toString
    def corpus(ids: Long*) =
      ids.map(i => (i, if (i % 2 == 0) a else b))
        .toDF("doc_id", "text")
    def ens(c: org.apache.spark.sql.DataFrame): String =
      NearDupGraphStore.ensure(spark, c, "doc_id", "text",
        3, 0.3, Seq(0.4), root)
    def view(d: String): Set[(Long, Long, Long)] =
      NearDupGraphStore.groupPairs(spark, d, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6))).toSet
    val vA = ens(corpus(1L, 2L))
    val viewA = view(vA)
    Thread.sleep(20) // distinct mtimes order the commits
    val vB = ens(corpus(1L, 2L, 3L))
    Thread.sleep(20)
    val vC = ens(corpus(1L, 2L, 3L, 4L))
    assert(Set(vA, vB, vC).size == 3)
    // a stale abandoned scratch + a fresh one (an active builder)
    val stale = new java.io.File(s"$root/__build-dead-00000000")
    val active = new java.io.File(s"$root/__build-live-00000000")
    stale.mkdirs(); active.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 7200L * 1000L)
    val deleted = NearDupGraphStore.prune(spark, root, keepLatest = 1,
      protect = Seq(vA))
    assert(deleted == Seq(vB),
      s"expected exactly vB pruned, got $deleted")
    assert(fs.exists(new Path(vA)) && fs.exists(new Path(vC)) &&
      !fs.exists(new Path(vB)))
    assert(!stale.exists(), "stale scratch must be swept")
    assert(active.exists(),
      "an in-grace scratch (active cross-process builder) must survive")
    // the protected reader still reads its version verbatim
    assert(view(vA) == viewA,
      "protected version must survive the prune intact")
    // re-ensure of the pruned corpus rebuilds a fresh committed copy
    val vB2 = ens(corpus(1L, 2L, 3L))
    assert(vB2 == vB && fs.exists(new Path(vB2)))
    assert(view(vB2).nonEmpty)
    active.delete()
  }

  test("IvfVectorStore.ensure: racing builders land one consistent " +
      "index; same corpus resolves to one version; changed corpus " +
      "lands a NEW version with the old still searchable") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val small = emb.filter(col("vec_id") < 200).localCheckpoint(false)
    val root = tempDir("ivf-ensure-race").toString
    def search(d: String): Set[(Long, Long, Long)] =
      IvfVectorStore.searchTopK(spark, d,
          small.filter(col("vec_id") < 6), "vec_id", "embedding",
          k = 4, nProbes = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    // simulated two-JVM race on one fingerprint: both stage a full
    // index; B commits first; A must lose benignly
    def stage(): String = {
      val scratch = VersionedStore.scratchDir(root, "ivf-race-fp")
      IvfVectorStore.write(spark, small, "vec_id", "embedding",
        8, scratch)
      scratch
    }
    val (scratchA, scratchB) = (stage(), stage())
    val vd = VersionedStore.versionDir(root, "ivf-race-fp")
    assert(VersionedStore.commit(spark, scratchB, vd) == vd)
    val committed = search(vd)
    assert(committed.nonEmpty)
    assert(VersionedStore.commit(spark, scratchA, vd) == vd)
    assert(search(vd) == committed,
      "losing a commit race must not perturb the committed index")
    assert(!fs.exists(new Path(scratchA)) &&
      !fs.exists(new Path(scratchB)))
    // ensure() end to end
    val e1 = IvfVectorStore.ensure(spark, small, "vec_id",
      "embedding", 8, root)
    val e2 = IvfVectorStore.ensure(spark, small, "vec_id",
      "embedding", 8, root)
    assert(e1 == e2, "same corpus+params must resolve to one version")
    val viewE1 = search(e1)
    assert(viewE1.nonEmpty)
    val grown = emb.filter(col("vec_id") < 260).localCheckpoint(false)
    val e3 = IvfVectorStore.ensure(spark, grown, "vec_id",
      "embedding", 8, root)
    assert(e3 != e1, "changed corpus must land a new version dir")
    assert(search(e1) == viewE1,
      "old version stays searchable after the new one commits")
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("__build-"))
    assert(leftovers.isEmpty, s"scratch leftovers: ${leftovers.toSeq}")
    // retention on the index root: protect e1, keep latest only
    val gone = IvfVectorStore.prune(spark, root, keepLatest = 1,
      protect = Seq(e1))
    assert(fs.exists(new Path(e1)) && fs.exists(new Path(e3)))
    assert(gone.forall(d => d != e1 && d != e3))
    assert(search(e1).nonEmpty, "protected index survives the prune")
  }
}
