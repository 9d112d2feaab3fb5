package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-process commit protocol for [[graft.sources.NearDupGraphStore.ensure]]:
  * versioned dirs + atomic rename — racing builders (separate driver
  * JVMs sharing a store path) must land one consistent store. */
class NearDupEnsureSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("ensure: versioned cross-process commit — racing builders land " +
      "one consistent store, losers discard, changed corpus lands a " +
      "NEW version with the old one still readable") {
    import graft.sources.NearDupGraphStore
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy cat today"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val root = tempDir("ndg-ensure-race").toString
    def view(d: String): Set[(Long, Long, Long)] =
      NearDupGraphStore.groupPairs(spark, d, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e6))).toSet
    // two builders of the SAME fingerprint race (separate scratch
    // dirs — the separate-JVM simulation the in-process lock can't
    // cover); B commits first, A must detect the loss and discard
    val scratchA = NearDupGraphStore.buildVersion(spark, docs,
      "doc_id", "text", 3, 0.3, Seq(0.4), root, "race-fp")
    val scratchB = NearDupGraphStore.buildVersion(spark, docs,
      "doc_id", "text", 3, 0.3, Seq(0.4), root, "race-fp")
    val vd = NearDupGraphStore.versionDir(root, "race-fp")
    assert(NearDupGraphStore.commitVersion(spark, scratchB, vd) == vd)
    val committed = view(vd)
    assert(committed.nonEmpty, "committed store must be readable")
    assert(NearDupGraphStore.commitVersion(spark, scratchA, vd) == vd)
    assert(view(vd) == committed,
      "losing a commit race must not perturb the committed store")
    assert(!fs.exists(new Path(scratchA)) &&
      !fs.exists(new Path(scratchB)),
      "both scratch dirs must be gone after their commits")
    // ensure() end to end: idempotent (same resolved dir, no scratch
    // leftovers), and a corpus change lands a NEW version dir while
    // the old one stays readable
    val e1 = NearDupGraphStore.ensure(spark, docs, "doc_id", "text",
      3, 0.3, Seq(0.4), root)
    val e2 = NearDupGraphStore.ensure(spark, docs, "doc_id", "text",
      3, 0.3, Seq(0.4), root)
    assert(e1 == e2, "same corpus+params must resolve to one version")
    assert(view(e1) == committed,
      "identical corpus: ensure's version reads like the manual one")
    val grown = docs.unionByName(
      Seq((9L, a)).toDF("doc_id", "text"))
    val e3 = NearDupGraphStore.ensure(spark, grown, "doc_id", "text",
      3, 0.3, Seq(0.4), root)
    assert(e3 != e1, "changed corpus must land a new version dir")
    assert(view(e1) == committed,
      "old version stays readable after the new one commits")
    assert(view(e3) != committed,
      "new version reflects the grown corpus")
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("__build-"))
    assert(leftovers.isEmpty,
      s"no scratch dirs may survive: ${leftovers.toSeq}")
  }
}
