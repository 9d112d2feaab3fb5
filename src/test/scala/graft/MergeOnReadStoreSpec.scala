package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeOnReadStore

/** Merge-on-read store semantics: latest version wins, delete beats
  * a same-batch upsert, tombstones drop keys, compaction preserves
  * the merged view and clears read amplification. */
class MergeOnReadStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshPath(tag: String): String =
    tempDir(s"mor-spec-$tag").resolve("store").toString

  private def snapshot(path: String): Map[Long, String] =
    MergeOnReadStore.read(spark, "k", path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("latest-wins upserts, tombstones, and new-key inserts") {
    val path = freshPath("basic")
    MergeOnReadStore.writeBase(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path)
    // batch 1: update k=1, insert k=4
    MergeOnReadStore.appendDelta(
      Seq((1L, "a2"), (4L, "d")).toDF("k", "v"),
      Seq.empty[Long].toDF("k"), "k", path)
    // batch 2: update k=1 again, delete k=2
    MergeOnReadStore.appendDelta(
      Seq((1L, "a3")).toDF("k", "v"),
      Seq(2L).toDF("k"), "k", path)
    assert(snapshot(path) == Map(1L -> "a3", 3L -> "c", 4L -> "d"))
  }

  test("delete beats a same-batch upsert of the same key") {
    val path = freshPath("delwins")
    MergeOnReadStore.writeBase(Seq((1L, "a")).toDF("k", "v"), path)
    MergeOnReadStore.appendDelta(
      Seq((1L, "a2")).toDF("k", "v"), Seq(1L).toDF("k"), "k", path)
    assert(snapshot(path) == Map.empty[Long, String])
  }

  test("a key deleted then re-upserted in a later batch is live again") {
    val path = freshPath("revive")
    MergeOnReadStore.writeBase(Seq((1L, "a")).toDF("k", "v"), path)
    MergeOnReadStore.appendDelta(
      Seq.empty[(Long, String)].toDF("k", "v"), Seq(1L).toDF("k"), "k", path)
    MergeOnReadStore.appendDelta(
      Seq((1L, "back")).toDF("k", "v"),
      Seq.empty[Long].toDF("k"), "k", path)
    assert(snapshot(path) == Map(1L -> "back"))
  }

  test("compact preserves the merged view and further deltas still apply") {
    val path = freshPath("compact")
    MergeOnReadStore.writeBase(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    MergeOnReadStore.appendDelta(
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v"),
      Seq(2L).toDF("k"), "k", path)
    val before = snapshot(path)
    MergeOnReadStore.compact(spark, "k", path)
    assert(snapshot(path) == before)
    assert(!new java.io.File(path, "delta").exists())
    // versions restart cleanly after compact
    MergeOnReadStore.appendDelta(
      Seq((3L, "c2")).toDF("k", "v"),
      Seq.empty[Long].toDF("k"), "k", path)
    assert(snapshot(path) == Map(1L -> "a2", 3L -> "c2"))
  }
}
