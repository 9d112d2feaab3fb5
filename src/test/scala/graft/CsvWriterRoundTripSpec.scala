package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OrcLogCsvWriter, SessionizedCsvReader}

/** Write-side fidelity: rendering a parsed log back to the in-band
  * format and re-reading it must reproduce the samples table exactly
  * (the source data is 4-dp quantized, so %.4f round-trips). */
class CsvWriterRoundTripSpec extends AnyFunSuite with SparkTestBase {

  // run_id is a file-relative counter; when the writer splits blocks
  // across part-files it restarts. Normalize to the run ordinal
  // within each log block, which is the semantic identity.
  private def key(df: DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    df.withColumn("run_ord",
        dense_rank().over(Window.partitionBy("log_id").orderBy("run_id")))
      .select("log_id", "arm", "run_ord", "sample_idx",
        "acceleration_g", "pitch_deg", "roll_deg")
      .collect()
      .map(_.toSeq)
      .sortBy(r => (r(0).asInstanceOf[Int], r(2).asInstanceOf[Int],
        r(3).asInstanceOf[Int]))
  }

  test("golden CSV -> samples -> in-band CSV -> samples round-trips") {
    val orig = SessionizedCsvReader.read(spark, SessionizedCsvReader.GoldenCsv)
    val dir = tempDir("csvw").toString
    OrcLogCsvWriter.write(orig, dir)
    val back = SessionizedCsvReader.read(spark, dir)

    val a = key(orig)
    val b = key(back)
    assert(a.length == 128960 && b.length == a.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("generated two-log session -> samples -> in-band CSV -> samples " +
      "round-trips") {
    // two log files of two blocks each, distinct log ids, runs of
    // unequal length
    val in = tempDir("csvw-in")
    val logs = Seq(
      GeneratedSessions.generate(47, 0, IndexedSeq(300, 200, 250), Some((4101, 4102))),
      GeneratedSessions.generate(47, 1, IndexedSeq(220, 310), Some((4103, 4104))))
    logs.zipWithIndex.foreach { case (s, i) =>
      Files.writeString(in.resolve(s"ORCLOG_$i.CSV"), s.text)
    }
    val orig = SessionizedCsvReader.read(spark, in.toString)
    val dir = tempDir("csvw").toString
    OrcLogCsvWriter.write(orig, dir)
    val back = SessionizedCsvReader.read(spark, dir)

    val a = key(orig)
    val b = key(back)
    val n = logs.flatMap(_.arms).flatMap(_.runs).map(_.acc.length).sum
    assert(a.length == n && b.length == n)
    assert(b.map(_(0).asInstanceOf[Int]).distinct.sorted.toSeq ==
      Seq(4101, 4102, 4103, 4104))
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }
}
