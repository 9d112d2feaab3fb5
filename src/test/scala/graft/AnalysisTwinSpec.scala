package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.OfflineAnalytics
import graft.sources.SessionizedCsvReader

/** Generated twin of the golden analysis path: `runStats`, `analyze`
  * (per-run rows, arm summary, Welch t/p) and `plotArtifact` on
  * sessions of the golden shape in the firmware grammar, and on edge
  * inputs built as tables: runs shorter than the kernel, NaN, ±inf,
  * -0.0 and null measures, a null run id and a null sample index,
  * shuffled rows over several partitions, and two files whose arm, log
  * id and run ids coincide. Each result is checked against the plain
  * port ([[AnalysisReference]]) and the SQL window formulation
  * ([[WindowedAnalysisReference]]). */
class AnalysisTwinSpec extends AnyFunSuite with SparkTestBase {
  import AnalysisReference.{RunStat, close}

  private val analyses = Seq(("acceleration_g", false), ("pitch_deg", false),
    ("roll_deg", false), ("acceleration_g", true))

  private type Key = (String, String, java.lang.Long)
  private def key(r: Row): Key =
    (r.getAs[String]("file"), r.getAs[String]("arm"), r.getAs[java.lang.Long]("run_id"))

  private def opt(r: Row, name: String): Option[Double] =
    Option(r.getAs[java.lang.Double](name)).map(_.doubleValue)
  private def same(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)
  private def sameOpt(a: Option[Double], b: Option[Double], rel: Double): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => if (rel == 0) same(x, y) else close(x, y, rel)
      case (None, None) => true
      case _ => false
    }

  /** A per-run row against the port: RMS to 1e-12, min/max exact. */
  private def assertRun(got: Row, want: RunStat, ctx: String): Unit = {
    assert(sameOpt(opt(got, "rms"), want.rms, 1e-12), s"$ctx rms: $got vs $want")
    assert(sameOpt(opt(got, "min"), want.min, 0), s"$ctx min: $got vs $want")
    assert(sameOpt(opt(got, "max"), want.max, 0), s"$ctx max: $got vs $want")
    assert(got.getAs[Long]("n") == want.n, s"$ctx n: $got vs $want")
  }

  /** Per-run rows against the SQL window reference, run by run. */
  private def assertSameAsWindowed(rows: Seq[Row], samples: DataFrame,
                                   measure: String, derivative: Boolean): Unit = {
    val want = WindowedAnalysisReference.runStats(samples, measure, derivative)
      .collect().map(r => key(r) -> r).toMap
    assert(rows.map(key).toSet == want.keySet)
    rows.foreach { g =>
      val w = want(key(g))
      val ctx = s"$measure/$derivative ${key(g)}"
      assert(sameOpt(opt(g, "rms"), opt(w, "rms"), 1e-12), s"$ctx rms: $g vs $w")
      assert(sameOpt(opt(g, "min"), opt(w, "min"), 0), s"$ctx min: $g vs $w")
      assert(sameOpt(opt(g, "max"), opt(w, "max"), 0), s"$ctx max: $g vs $w")
      assert(g.getAs[Long]("n") == w.getAs[Long]("n"), s"$ctx n: $g vs $w")
    }
  }

  private val perRunColumns = Seq("file" -> StringType, "arm" -> StringType,
    "run_id" -> LongType, "rms" -> DoubleType, "min" -> DoubleType,
    "max" -> DoubleType, "n" -> LongType)
  private val summaryColumns = Seq("arm" -> StringType, "first_run" -> LongType,
    "runs" -> LongType) ++ Seq("avg", "var").flatMap(m =>
    Seq("rms", "min", "max").map(s => s"${m}_$s" -> DoubleType))

  /** Arm summary against the port's moments of its per-run stats (in
    * first-seen order) and against the SQL summary of the SQL per-run
    * table. */
  private def assertSummary(summary: DataFrame, want: Seq[(String, java.lang.Long, Seq[RunStat])],
                            samples: DataFrame, measure: String, derivative: Boolean): Unit = {
    assert(summary.schema.map(f => f.name -> f.dataType) == summaryColumns)
    val got = summary.collect().toSeq
    val sql = WindowedAnalysisReference.armSummary(
      WindowedAnalysisReference.runStats(samples, measure, derivative)).collect().toSeq
    assert(got.map(_.getString(0)) == want.map(_._1))
    assert(sql.map(_.getString(0)) == want.map(_._1))
    got.zip(sql).zip(want).foreach { case ((g, s), (arm, firstRun, runs)) =>
      val ctx = s"$measure/$derivative $arm"
      assert(g.getAs[java.lang.Long]("first_run") == firstRun, s"$ctx first_run $g")
      assert(g.getAs[Long]("runs") == runs.size.toLong, s"$ctx runs $g")
      Seq[(String, RunStat => Option[Double])](("rms", _.rms), ("min", _.min),
        ("max", _.max)).foreach { case (stat, f) =>
        val (m, v) = AnalysisReference.meanVar(runs.map(f))
        for ((name, port) <- Seq(s"avg_$stat" -> m, s"var_$stat" -> v)) {
          assert(sameOpt(opt(g, name), port, 1e-10), s"$ctx $name: $g vs port $port")
          assert(sameOpt(opt(g, name), opt(s, name), 1e-10), s"$ctx $name: $g vs SQL $s")
        }
      }
    }
  }

  private def assertWelch(got: Seq[OfflineAnalytics.WelchResult],
                          want: Seq[AnalysisReference.Welch], ctx: String): Unit = {
    assert(got.map(_.stat) == want.map(_.stat))
    got.zip(want).foreach { case (g, w) =>
      assert(close(g.t, w.t, 1e-9), s"$ctx Welch ${g.stat} t: $g vs $w")
      if (!w.p.isNaN) assert(close(g.p, w.p, 1e-6), s"$ctx Welch ${g.stat} p: $g vs $w")
    }
  }

  private def measureOf(r: GeneratedSessions.Run, measure: String): Array[Double] =
    measure match {
      case "acceleration_g" => r.acc
      case "pitch_deg" => r.pitch
      case "roll_deg" => r.roll
    }

  private lazy val golden = GeneratedSessions.generate(41, 0)
  private lazy val goldenSamples = {
    val dir = tempDir("twin")
    Files.writeString(dir.resolve("ORCLOG_000.CSV"), golden.text)
    SessionizedCsvReader.read(spark, dir.toString).cache()
  }

  /** The port's stats of the generated session, per arm in file order. */
  private def goldenPort(measure: String, derivative: Boolean): Seq[(String, IndexedSeq[RunStat])] =
    golden.arms.map(a => a.label ->
      a.runs.map(r => AnalysisReference.runStat(measureOf(r, measure).toSeq.map(Double.box), derivative)))

  test("golden-shape session: per-run rows, arm summary and Welch tests " +
      "match the plain port and the SQL window reference") {
    val samples = goldenSamples
    analyses.foreach { case (m, d) =>
      val ctx = s"$m/$d"
      val (perRun, summary, welch) = OfflineAnalytics.analyze(samples, m, d)
      assert(perRun.schema.map(f => f.name -> f.dataType) == perRunColumns)
      val rows = perRun.collect().toSeq
      assert(rows.map(r => (r.getString(1), r.getLong(2))) ==
        rows.map(r => (r.getString(1), r.getLong(2))).sorted, s"$ctx order")
      val port = goldenPort(m, d)
      port.foreach { case (arm, want) =>
        val got = rows.filter(_.getString(1) == arm)
        assert(got.size == want.size, s"$ctx $arm runs")
        got.zip(want).foreach { case (g, w) => assertRun(g, w, s"$ctx $arm") }
      }
      assertSameAsWindowed(rows, samples, m, d)
      assert(OfflineAnalytics.runStats(samples, m, d).collect().map(key).toSet ==
        rows.map(key).toSet)
      val firstRuns = port.map { case (arm, _) =>
        java.lang.Long.valueOf(rows.filter(_.getString(1) == arm).map(_.getLong(2)).min) }
      assertSummary(summary, port.zip(firstRuns).map { case ((a, s), f) => (a, f, s) },
        samples, m, d)
      assertWelch(welch, AnalysisReference.welch(port(0)._2, port(1)._2), ctx)
      if (m == "acceleration_g" && !d)
        welch.filter(_.stat != "min").foreach(w =>
          assert(w.p < 0.01, s"planted arm effect not significant: $w"))
    }
  }

  test("golden-shape session: plotArtifact series is each arm's third " +
      "filtered run, as both references filter it; its stats rows are analyze's") {
    val samples = goldenSamples
    val interval = GeneratedSessions.Interval.toDouble
    Seq(false, true).foreach { d =>
      val art = OfflineAnalytics.plotArtifact(samples, "acceleration_g", d).collect().toSeq
      val (perRun, summary, welch) = OfflineAnalytics.analyze(samples, "acceleration_g", d)
      def elem(e: String) = art.filter(_.getAs[String]("element") == e)
      val runs = perRun.collect().toSeq
      golden.arms.foreach { arm =>
        val series = elem("series").filter(_.getAs[String]("arm") == arm.label)
          .sortBy(_.getAs[Long]("sample_idx"))
        val third = runs.filter(_.getString(1) == arm.label).map(_.getLong(2)).sorted.apply(2)
        assert(series.map(_.getAs[Long]("run_id")).distinct == Seq(third))
        val want = AnalysisReference.values(measureOf(arm.runs(2), "acceleration_g")
          .toSeq.map(Double.box), d).get
        val sql = WindowedAnalysisReference.filteredValues(samples, "acceleration_g", d)
          .filter(col("arm") === arm.label && col("run_id") === third)
          .orderBy("sample_idx").select("v").collect().map(_.getDouble(0))
        assert(series.size == want.length && sql.length == want.length)
        series.zip(want).zip(sql).zipWithIndex.foreach { case (((r, w), q), i) =>
          assert(r.getAs[Long]("sample_idx") == i)
          assert(close(r.getAs[Double]("time_s"), i * interval, 1e-12))
          assert(close(r.getAs[Double]("value"), w, 1e-12), s"${arm.label} $d sample $i vs port")
          assert(close(r.getAs[Double]("value"), q, 1e-12), s"${arm.label} $d sample $i vs SQL")
        }
      }
      val runStat = elem("run_stat").map(r => (r.getAs[String]("arm"),
        r.getAs[Long]("run_id"), r.getAs[String]("stat")) -> r.getAs[Double]("value")).toMap
      assert(runStat.size == 3 * runs.size)
      runs.foreach { r =>
        Seq("rms", "min", "max").foreach(s =>
          assert(runStat((r.getString(1), r.getLong(2), s)) == r.getAs[Double](s)))
      }
      val armAvg = elem("arm_avg").map(r => (r.getAs[String]("arm"),
        r.getAs[String]("stat")) -> r.getAs[Double]("value")).toMap
      summary.collect().foreach { r =>
        Seq("rms", "min", "max").foreach(s =>
          assert(armAvg((r.getString(0), s)) == r.getAs[Double](s"avg_$s")))
      }
      val tRows = elem("t_test").map(r => r.getAs[String]("stat") -> r.getAs[Double]("value")).toMap
      assert(tRows == welch.flatMap(w => Seq(s"${w.stat}_t" -> w.t, s"${w.stat}_p" -> w.p)).toMap)
    }
  }

  /** Edge inputs as (file, arm, log id, first run id, run lengths); the
    * two files' arms, log ids and run ids coincide. */
  private val edgeRuns = Seq(
    ("a.csv", "Actuators enabled", 1111, 1L, Seq(1, 2, 14, 40)),
    ("a.csv", "Actuators disabled", 2222, 5L, Seq(14, 2, 1, 33)),
    ("b.csv", "Actuators enabled", 1111, 1L, Seq(2, 15, 1, 16)),
    ("b.csv", "Actuators disabled", 2222, 5L, Seq(3, 1, 14, 29)))

  /** Canonical sample rows of the edge runs, one run keyed by a null
    * run id, with special values planted: nine NaN / +inf / -inf in a
    * row (enough to move a median-15), and single NaN, ±inf, -0.0 and
    * null samples. */
  private lazy val edgeRows: Seq[Row] = {
    val rnd = new scala.util.Random(17)
    val runs = edgeRuns.flatMap { case (file, arm, logId, first, lengths) =>
      lengths.zipWithIndex.map { case (n, i) =>
        (file, arm, logId, java.lang.Long.valueOf(first + i), n)
      }
    } :+ (("b.csv", "Actuators disabled", 2222, null: java.lang.Long, 9))
    runs.zipWithIndex.flatMap { case ((file, arm, logId, runId, n), r) =>
      val scale = if (arm.endsWith("enabled")) 0.3 else 0.6
      (0 until n).map { i =>
        val v: java.lang.Double = (r, i) match {
          case (3, j) if j >= 10 && j < 19 => Double.NaN
          case (7, j) if j >= 5 && j < 14 => Double.PositiveInfinity
          case (15, j) if j >= 3 && j < 12 => Double.NegativeInfinity
          case (_, 3) => null
          case (_, 5) if r % 3 == 0 => Double.NaN
          case (_, 6) if r % 3 == 1 => Double.PositiveInfinity
          case (_, 7) if r % 3 == 2 => Double.NegativeInfinity
          case (_, 8) => -0.0
          case _ => scale * rnd.nextGaussian()
        }
        // one row of the 40-sample run has no sample index: it sorts first
        val idx: Integer = if (r == 3 && i == 39) null else i
        new GenericRowWithSchema(Array(file, logId, arm, arm.endsWith("enabled"), 0.000282,
          runId, idx, if (idx == null) null else idx * 0.000282, v, 0.0, 0.0),
          SessionizedCsvReader.schema): Row
      }
    }
  }

  /** The port of the edge runs: rows grouped by run, sorted by sample
    * index with nulls first. */
  private def edgePort(derivative: Boolean): Map[Key, RunStat] =
    edgeRows.groupBy(key).map { case (k, rs) =>
      val sorted = rs.sortBy(r => Option(r.getAs[Integer]("sample_idx")).map(_.intValue))
      k -> AnalysisReference.runStat(sorted.map(_.getAs[java.lang.Double]("acceleration_g")), derivative)
    }

  private lazy val edgeSamples: DataFrame = spark
    .createDataFrame(new scala.util.Random(5).shuffle(edgeRows).asJava, SessionizedCsvReader.schema)
    .repartition(3).cache()

  test("edge inputs: short runs, special values, null keys, shuffled rows " +
      "and coinciding keys across files match both references") {
    val samples = edgeSamples
    Seq(false, true).foreach { d =>
      val port = edgePort(d)
      val rows = OfflineAnalytics.runStats(samples, "acceleration_g", d).collect().toSeq
      assert(rows.map(key).toSet == port.keySet)
      rows.foreach(r => assertRun(r, port(key(r)), s"runStats/$d ${key(r)}"))
      assertSameAsWindowed(rows, samples, "acceleration_g", d)

      val (perRun, summary, _) = OfflineAnalytics.analyze(samples, "acceleration_g", d)
      val ordered = perRun.collect().toSeq
      assert(ordered.map(key) == ordered.map(key).sortBy(k =>
        (k._2, Option(k._3).map(_.longValue), k._1)), s"analyze/$d order")
      ordered.foreach(r => assertRun(r, port(key(r)), s"analyze/$d ${key(r)}"))
      val arms = Seq("Actuators enabled", "Actuators disabled").map { arm =>
        val ks = port.keys.filter(_._2 == arm).toSeq
        (arm, ks.flatMap(k => Option(k._3)).minBy(_.longValue), ks.map(port))
      }
      assertSummary(summary, arms, samples, "acceleration_g", d)
    }
    // the one-sample runs: null stats under the derivative, n still counted
    val one = OfflineAnalytics.runStats(samples, "acceleration_g", derivative = true)
      .collect().filter(_.getAs[Long]("n") == 1L)
    assert(one.length == 4 && one.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("a one-run arm has null variances and NaN Welch statistics") {
    val samples = edgeSamples.filter("run_id IS NULL OR run_id IN (1, 2)")
    val (_, summary, welch) = OfflineAnalytics.analyze(samples, "acceleration_g")
    val disabled = summary.collect().find(_.getString(0) == "Actuators disabled").get
    assert(disabled.getAs[Long]("runs") == 1L && disabled.isNullAt(1))
    assert(Seq("var_rms", "var_min", "var_max").forall(c => disabled.isNullAt(disabled.fieldIndex(c))))
    assert(welch.size == 3 && welch.forall(w => w.t.isNaN && w.p.isNaN))
  }

  test("reading analyze's per-run table and summary starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // a job the listener must see; listener events arrive in order, so
    // every job started before it has been seen once it arrives
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!jobs.contains(name)) {
        assert(System.nanoTime() < deadline, s"listener never saw $name")
        Thread.sleep(10)
      }
    }
    val (perRun, summary, _) = OfflineAnalytics.analyze(goldenSamples, "acceleration_g")
    sc.addSparkListener(listener)
    try {
      marker("before")
      assert(perRun.collect().length == 10)
      assert(summary.collect().length == 2)
      marker("after")
      val seen = jobs.asScala.toSeq
      assert(seen.slice(seen.indexOf("before") + 1, seen.indexOf("after")).isEmpty,
        s"jobs started while reading the tables: $seen")
    } finally sc.removeSparkListener(listener)
  }
}
