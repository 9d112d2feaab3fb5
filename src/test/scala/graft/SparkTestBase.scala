package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkTestBase extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(name: String): String = s"/root/testdata/$name"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory `graft-<tag>…` under `java.io.tmpdir`, deleted
    * with everything in it when the suite ends. */
  def tempDir(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft-$tag")
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(graft.core.Tables.NanosAsLongKey, "true")
    .getOrCreate()
}
