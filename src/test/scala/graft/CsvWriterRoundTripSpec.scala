package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OrcLogCsvWriter, SessionizedCsvReader}

/** Write-side fidelity: rendering the parsed golden log back to the
  * in-band format and re-reading it must reproduce the samples table
  * exactly (the source data is 4-dp quantized, so %.4f round-trips). */
class CsvWriterRoundTripSpec extends AnyFunSuite with SparkTestBase {

  test("golden CSV -> samples -> in-band CSV -> samples round-trips") {
    val orig = SessionizedCsvReader.read(spark, SessionizedCsvReader.GoldenCsv)
    val dir = tempDir("csvw").toString
    OrcLogCsvWriter.write(orig, dir)
    val back = SessionizedCsvReader.read(spark, dir)

    // run_id is a file-relative counter; when the writer splits blocks
    // across part-files it restarts. Normalize to the run ordinal
    // within each log block, which is the semantic identity.
    def key(df: org.apache.spark.sql.DataFrame) = {
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

    val a = key(orig)
    val b = key(back)
    assert(a.length == 128960 && b.length == a.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }
}
