package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SessionizedCsvReader

/** [[SessionizedCsvReader]] must equal the windowed reference
  * ([[WindowedSessionReference]]) row for row, on all 11 columns
  * including the `file` strings, and keep sessions isolated per file
  * (runs, headers and indices never leak across files). Inputs: a
  * generated directory of well-formed and malformed logs, a malformed
  * file with a long headerless preamble, and the golden session next to
  * a small neighbor. The reference is also read under adversarial split
  * packing, which cuts its files into many chunks. */
class MultiFileReaderSpec extends AnyFunSuite with SparkTestBase {

  private val columns = SessionizedCsvReader.schema.fieldNames.toSeq

  /** Rows as strings (so NaN equals NaN), sorted by a unique key. */
  private def rows(df: DataFrame): Array[Seq[String]] = df
    .select(columns.map(col): _*)
    .collect().map(_.toSeq.map(String.valueOf))
    .sortBy(r => (r(0), r(5).toLong, r(2), r(6).toInt))

  private def assertSameRows(path: String): Array[Seq[String]] = {
    val got = SessionizedCsvReader.read(spark, path)
    val want = WindowedSessionReference.read(spark, path)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val (a, b) = (rows(got), rows(want))
    assert(a.length == b.length, s"${a.length} rows vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    a
  }

  /** Runs `body` with tiny input splits and zero file-open cost, so
    * Spark packs chunks of several files into one partition in
    * arbitrary positions. */
  private def withTinySplits[A](maxBytes: Int)(body: => A): A = {
    val conf = spark.conf
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val prev = keys.map(k => k -> conf.getOption(k))
    conf.set(keys(0), maxBytes.toString)
    conf.set(keys(1), "0")
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def write(p: Path, text: String): Unit = Files.writeString(p, text, UTF_8)

  /** One log block: `runs` runs per arm, alternating arms, each opened
    * by an `Interval:` line or a pause line. */
  private def session(rnd: scala.util.Random, logId: Int, runs: Int,
      rowsPerRun: Int): Seq[String] = {
    def value = ((rnd.nextInt(20000) - 10000) / 1000.0).toString
    Seq(s"Log #: $logId") ++ (0 until 2 * runs).flatMap { k =>
      val arm = if (k % 2 == 0) "Actuators enabled" else "Actuators disabled"
      val opener =
        if (k % 4 == 3) Seq("Log Paused, now resuming:")
        else Seq(s"Interval:${0.001 * (1 + k % 3)}", "Acceleration, Pitch, Roll")
      Seq(arm) ++ opener ++
        Seq.fill(rowsPerRun)(s"$value, $value, $value")
    }
  }

  private lazy val generatedDir: String = {
    val d = tempDir("genlogs")
    val rnd = new scala.util.Random(7)
    write(d.resolve("a_lf.csv"), session(rnd, 1001, 3, 150).mkString("", "\n", "\n"))
    write(d.resolve("b_crlf.csv"),
      session(rnd, 1002, 2, 120).mkString("", "\r\n", "\r\n\r\n"))
    // a lone CR ends a line too, and the last line has no terminator
    write(d.resolve("c_cr.csv"), session(rnd, 1003, 2, 90).mkString("\r"))
    // malformed headers, data before any header, a pause before any
    // data, arm switches inside a run, header lines that set two
    // headers, and the edge spellings of a float
    val malformed = Seq(
      "9.0, 9.0, 9.0",
      "Log Paused, now resuming:",
      "Actuators enabled",
      "8.0, 8.0, 8.0",
      "Log # 42",
      "Log #: abc",
      "7.0, 7.0, 7.0",
      "Log #: 42",
      "6.0, 6.0, 6.0",
      "Interval:abc",
      "5.0, 5.0, 5.0",
      "Interval: 0.5:7",
      " 1.5\t,2 , 3",
      "1d, 2f, 3",
      "inf, -Infinity, +INF",
      "NaN, 1, 2",
      "0x1p3, 1, 2",
      "1_0, 2, 3",
      "1,2",
      "1,2,3,4",
      "1,,3",
      "",
      "  Actuators disabled \t",
      "4.0, 4.0, 4.0",
      "Actuators enabled",
      "3.0, 3.0, 3.0",
      "Log #: 99999999999",
      "2.0, 2.0, 2.0",
      "Log #: 77 Actuators disabled",
      "1.0, 1.0, 1.0",
      "Interval:0.25 Actuators enabled",
      "0.5, 0.5, 0.5",
      "Log Paused, Actuators disabled",
      "0.25, 0.25, 0.25")
    write(d.resolve("d_malformed.csv"),
      (malformed ++ session(rnd, 1004, 2, 60)).mkString("", "\r\n", "\r\n"))
    write(d.resolve("e_bom.csv"),
      "\uFEFF" + session(rnd, 1005, 1, 40).mkString("", "\n", "\n"))
    val gz = new GZIPOutputStream(Files.newOutputStream(d.resolve("f.csv.gz")))
    try gz.write(session(rnd, 1006, 2, 70).mkString("", "\n", "\n").getBytes(UTF_8))
    finally gz.close()
    // hidden files are skipped by the text source
    write(d.resolve(".hidden.csv"), session(rnd, 1007, 1, 10).mkString("\n"))
    write(d.resolve("_hidden.csv"), session(rnd, 1008, 1, 10).mkString("\n"))
    d.toString
  }

  test("reader equals the windowed reference on a generated log directory") {
    val got = assertSameRows(generatedDir)
    val files = got.map(_.head).distinct
    assert(files.length == 6, files.mkString(", "))
    assert(!files.exists(_.contains("hidden")))
    val logIds = got.map(_(1)).distinct.toSet
    assert(Set("1001", "1002", "1003", "1004", "1005", "1006", "42", "77")
      .subsetOf(logIds), logIds)
    // the lone-CR file is split into lines, not read as one
    assert(got.count(_.head.endsWith("c_cr.csv")) == 2 * 2 * 90)
  }

  test("reader equals the windowed reference under adversarial split packing") {
    withTinySplits(1024) {
      assert(spark.read.textFile(generatedDir).rdd.getNumPartitions > 10)
      assertSameRows(generatedDir)
    }
  }

  test("malformed file with data rows before headers matches the reference") {
    // Data rows BEFORE any Log#/Actuators header are parseable but not
    // emitted (headers unknown) and must not count toward sample_idx.
    val sb = new StringBuilder
    (0 until 3000).foreach(i => sb.append(s"$i.0, 1.0, 2.0\n"))
    sb.append("Log #: 42\n")
    (0 until 500).foreach(_ => sb.append("0.5, 0.6, 0.7\n")) // still no arm
    sb.append("Actuators enabled\n")
    sb.append("Interval:0.001\n")
    (0 until 3000).foreach(i => sb.append(s"$i.1, 0.2, 0.3\n"))
    sb.append("Log Paused, now resuming:\n")
    (0 until 2000).foreach(i => sb.append(s"$i.2, 0.4, 0.5\n"))
    val path = tempDir("malformed").resolve("mal.csv")
    write(path, sb.toString)
    val got = withTinySplits(8 * 1024)(assertSameRows(path.toString))
    assert(got.length == 5000)
    assert(got.groupBy(_(5)).map { case (run, rs) => run -> rs.length } ==
      Map("1" -> 3000, "2" -> 2000))
  }

  private lazy val goldenDir: String = {
    val d = tempDir("multilog")
    Files.copy(Paths.get(SessionizedCsvReader.GoldenCsv),
      d.resolve("a.csv"), StandardCopyOption.REPLACE_EXISTING)
    write(d.resolve("b.csv"),
      """Log #: 1234
        |Actuators enabled
        |Interval:0.01
        |Acceleration, Pitch, Roll
        |0.1, 1.0, 2.0
        |0.2, 1.1, 2.1
        |Log Paused, now resuming:
        |0.3, 1.2, 2.2
        |""".stripMargin)
    d.toString
  }

  test("reader isolates sessions per file") {
    val df = SessionizedCsvReader.read(spark, goldenDir)
    assert(df.count() == 128960 + 3)
    // the small file's block is intact and isolated
    val small = df.filter(col("log_id") === 1234)
      .orderBy("run_id", "sample_idx").collect()
    assert(small.length == 3)
    assert(small.map(_.getAs[Double]("acceleration_g")).toSeq ==
      Seq(0.1, 0.2, 0.3))
    // run ids restart per file: small file has exactly 2 distinct runs
    assert(small.map(_.getAs[Long]("run_id")).distinct.length == 2)
    // the golden file's structure is unaffected by the neighbor
    val golden = df.filter(col("log_id").isin(2690, 6822))
    assert(golden.count() == 128960)
    assert(golden.select("arm", "run_id").distinct().count() == 10)
    val runs = golden.groupBy("run_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(runs.size == 10)
    assert(runs.values.sum == 128960)
  }

  test("reader equals the windowed reference on the golden directory") {
    assert(assertSameRows(goldenDir).length == 128963)
    withTinySplits(128 * 1024)(assertSameRows(goldenDir))
  }
}
