package graft.sources

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S2 — sessionized telemetry-log CSV scan (SURVEY §2.1).
  *
  * The reference firmware writes an in-band block grammar
  * (ESP source/main/ORC_Main.c:774-805):
  *
  * {{{
  * Log #: <int>                  -> new log block (random 4-digit id)
  * Actuators (enabled|disabled)  -> experiment arm
  * Interval:<float>              -> sample period in seconds; starts run 0
  * Acceleration, Pitch, Roll     -> column header (ignored by parser)
  * <f>, <f>, <f>                 -> data row
  * Log Paused, now resuming:     -> run separator
  * }}}
  *
  * and the reference analyzer re-infers that structure line-by-line
  * (Python Plotting/main.py:22-65). A log is an inherently ordered
  * stream, so this reader does the same: each file is read whole (the
  * `text` source with `wholetext`, which keeps the source's globs,
  * hidden-file rules, codecs and `input_file_name()` strings) and
  * walked once, line by line, carrying the latest header values and
  * the run counter forward. No shuffle, no sort: one task per file.
  *
  * Scale notes: the parallel unit is the file. Fleet-scale deployments
  * produce many files (one per device-session), and a 100 TB corpus of
  * logs parallelizes per file. The limit is per file: one log must fit
  * in one JVM string (2 GB); the largest documented log, the golden
  * session, is about 3 MB.
  */
object SessionizedCsvReader {

  /** The canonical `samples` table (FIXTURES.md §1). */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("log_id", IntegerType),
    StructField("arm", StringType),
    StructField("actuators_enabled", BooleanType),
    StructField("interval_s", DoubleType), StructField("run_id", LongType),
    StructField("sample_idx", IntegerType), StructField("t_s", DoubleType),
    StructField("acceleration_g", DoubleType),
    StructField("pitch_deg", DoubleType), StructField("roll_deg", DoubleType)))

  /** Parse one or more ORC-log CSV files into the canonical `samples`
    * table: file, log_id, arm, actuators_enabled, interval_s, run_id,
    * sample_idx, t_s, acceleration_g, pitch_deg, roll_deg.
    *
    * Faithful to main.py: runs are opened by each `Interval:` line and
    * each `Log Paused` line; data rows must have exactly 3
    * comma-separated parseable floats and follow both a `Log #` and an
    * `Actuators` header; unparseable rows and malformed headers are
    * skipped (a malformed header keeps the previous value).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name(), col("value"))
      .flatMap(r => sessionize(r.getString(0), r.getString(1)))(
        Encoders.row(schema))

  /** One sequential pass over one file's text. Header lines are
    * recognized by prefix or substring and are not exclusive (a line
    * can set several headers). `sample_idx` counts the emitted rows of
    * one arm within one run; `t_s = sample_idx * interval_s` (M22,
    * main.py:51-54), null before any valid `Interval:` line. */
  private def sessionize(file: String, text: String): Iterator[Row] = {
    var logId: Option[Int] = None
    var arm: Option[String] = None
    var interval: Option[Double] = None
    var runId = 0L
    val runRows = mutable.HashMap.empty[String, Int]
    lines(text).flatMap { line =>
      if (line.startsWith("Log #")) parseLogId(line).foreach(v => logId = Some(v))
      if (line.contains("Actuators")) arm = Some(trimSpaces(line))
      val isInterval = line.startsWith("Interval:")
      if (isInterval)
        toDouble(line.split(":", -1)(1)).foreach(v => interval = Some(v))
      if (isInterval || line.startsWith("Log Paused")) {
        runId += 1
        runRows.clear()
      }
      for {
        lg <- logId
        am <- arm
        (a, p, r) <- parseData(line)
      } yield {
        val idx = runRows.getOrElse(am, 0)
        runRows(am) = idx + 1
        Row(file, lg, am, !am.contains("disabled"),
          interval.map(Double.box).orNull, runId, idx,
          interval.map(v => Double.box(idx * v)).orNull, a, p, r)
      }
    }
  }

  /** Lines as the `text` source splits them: at LF, CRLF or a lone CR,
    * with no empty line after a final terminator and a leading UTF-8
    * byte-order mark dropped. */
  private def lines(text: String): Iterator[String] = new Iterator[String] {
    private var pos = if (text.startsWith("\uFEFF")) 1 else 0
    def hasNext: Boolean = pos < text.length
    def next(): String = {
      var end = pos
      while (end < text.length && text.charAt(end) != '\n' &&
          text.charAt(end) != '\r') end += 1
      val line = text.substring(pos, end)
      pos = if (text.startsWith("\r\n", end)) end + 2 else end + 1
      line
    }
  }

  private val LogIdRe = "Log #:\\s*(\\d+)".r

  private def parseLogId(line: String): Option[Int] =
    LogIdRe.findFirstMatchIn(line).flatMap(_.group(1).toIntOption)

  private def parseData(line: String): Option[(Double, Double, Double)] = {
    val f = line.split(",", -1)
    if (f.length != 3) None
    else for {
      a <- toDouble(f(0))
      p <- toDouble(f(1))
      r <- toDouble(f(2))
    } yield (a, p, r)
  }

  /** SQL `trim`: strips the space character only. */
  private def trimSpaces(s: String): String = {
    var from = 0
    var until = s.length
    while (from < until && s.charAt(from) == ' ') from += 1
    while (until > from && s.charAt(until - 1) == ' ') until -= 1
    s.substring(from, until)
  }

  /** String to double as SQL `try_cast` reads it: Java's parser, which
    * allows surrounding whitespace, then the SQL spellings of infinity
    * and NaN. */
  private def toDouble(s: String): Option[Double] =
    try Some(java.lang.Double.parseDouble(s))
    catch {
      case _: NumberFormatException =>
        s.trim.toLowerCase(Locale.ROOT) match {
          case "inf" | "+inf" | "infinity" | "+infinity" =>
            Some(Double.PositiveInfinity)
          case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
          case "nan" | "+nan" | "-nan" => Some(Double.NaN)
          case _ => None
        }
    }

  /** Path of the checked-in golden specimen (read-only reference data):
    * `$SPARK_GRAFT_GOLDEN_CSV`, else the reference checkout's path. */
  val GoldenCsv: String = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_CSV", DefaultGoldenCsv)

  private def DefaultGoldenCsv: String =
    "/root/reference/Python Plotting/Vibration_test/High Speed/ORCLOG_vibration_HS.CSV"
}
