package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OrcTelemetryStore, SessionizedCsvReader}

/** The layout [[OrcTelemetryStore]] promises: every ORC file it writes
  * holds its rows in (file, run_id, sample_idx) order, also where two
  * logs share a log id and so a partition directory; reading the store
  * gives back the written rows; and a filter on the arm prunes whole
  * directories. */
class OrcTelemetryStoreSpec extends AnyFunSuite with SparkTestBase {

  private val columns = SessionizedCsvReader.schema.fieldNames.toSeq

  /** Rows as strings (so NaN equals NaN), in a canonical order. */
  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.select(columns.map(col): _*).collect().toSeq
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0000"))

  private def orcFiles(dir: String): Seq[Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".orc")).toSeq.sorted

  test("each written ORC file is run-ordered; read returns the written " +
      "rows; arm filters prune directories") {
    val in = tempDir("orc-in")
    // two logs; their enabled blocks share log id 4242, so both land in
    // one directory, with overlapping run ids
    val a = GeneratedSessions.generate(43, 0, IndexedSeq(300, 200, 250), Some((4242, 1717)))
    val b = GeneratedSessions.generate(43, 1, IndexedSeq(220, 310), Some((4242, 2929)))
    Files.writeString(in.resolve("ORCLOG_A.CSV"), a.text)
    Files.writeString(in.resolve("ORCLOG_B.CSV"), b.text)
    val samples = SessionizedCsvReader.read(spark, in.toString).cache()
    try {
      val out = tempDir("orc-out").resolve("store").toString
      OrcTelemetryStore.write(samples, out)

      val files = orcFiles(out)
      val shared = files.filter(_.toString.contains("log_id=4242"))
      val sharedLogs = shared.flatMap(f =>
        spark.read.orc(f.toString).select("file").distinct().collect().map(_.getString(0)))
      assert(sharedLogs.distinct.size == 2, "both logs wrote rows under log_id=4242")
      files.foreach { f =>
        val keys = spark.read.orc(f.toString).select("file", "run_id", "sample_idx")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
        assert(keys.nonEmpty)
        keys.sliding(2).foreach { case Seq(x, y) =>
          assert(Ordering[(String, Long, Int)].lt(x, y), s"$f: $x then $y")
        }
      }

      val back = OrcTelemetryStore.read(spark, out)
      assert(back.select(columns.map(col): _*).schema.map(f => f.name -> f.dataType) ==
        SessionizedCsvReader.schema.map(f => f.name -> f.dataType))
      assert(rows(back) == rows(samples))

      val enabled = back.filter(col("actuators_enabled"))
      val scan = enabled.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get
      assert(scan.partitionFilters.nonEmpty, "the arm filter is a partition filter")
      val got = enabled.collect()
      assert(got.length == 750 + 530 && got.forall(_.getAs[Boolean]("actuators_enabled")))
      assert(scan.metrics("numFiles").value ==
        files.count(_.toString.contains("actuators_enabled=true")),
        "only the enabled arm's files are read")
    } finally samples.unpersist()
  }
}
