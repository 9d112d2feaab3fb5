package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.OfflineAnalytics
import graft.sources.SessionizedCsvReader

/** Tier-B golden replay (SURVEY §5.3): run the Spark offline-analytics
  * pipeline over the reference's checked-in Vibration-HS telemetry CSV
  * and compare against values computed by an independent sequential
  * port (numpy medfilt/gradient + Welch; see commit message / tools).
  * That port reproduces ALL 12 published p-values from the reference's
  * result summary (BASELINE.md "Vib HS" column: 1.06e-6, 4.42e-5,
  * 1.52e-6, 1.65e-1, 1.78e-1, 9.15e-3, 1.54e-2, 3.16e-4, 3.91e-4,
  * 4.45e-1, 9.96e-1, 7.33e-1), so these pins carry the reference's own
  * published evidence.
  */
class GoldenReplaySpec extends AnyFunSuite with SparkTestBase {

  private lazy val csv = SessionizedCsvReader.GoldenCsv

  private def relClose(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Acceleration per-run (arm, n, rms, min, max) in run order, from
    * the sequential port. */
  private val accelerationRuns = Seq(
    ("Actuators enabled", 13308L, 0.09312359527447382, -0.3255, 0.3133),
    ("Actuators enabled", 13309L, 0.10742790255213176, -0.3217, 0.311),
    ("Actuators enabled", 10697L, 0.1062478094908071, -0.3265, 0.3509),
    ("Actuators enabled", 13426L, 0.09518553327096851, -0.3255, 0.3174),
    ("Actuators enabled", 13342L, 0.10375464591642627, -0.3248, 0.2928),
    ("Actuators disabled", 16181L, 0.14469128105786044, -0.4475, 0.4834),
    ("Actuators disabled", 10772L, 0.14515353489315788, -0.471, 0.4748),
    ("Actuators disabled", 10878L, 0.15598449109928947, -0.4622, 0.4834),
    ("Actuators disabled", 13531L, 0.15263201623421163, -0.4934, 0.4765),
    ("Actuators disabled", 13516L, 0.1480976407871441, -0.4443, 0.4331))

  test("sessionized reader recovers the golden CSV structure") {
    val samples = SessionizedCsvReader.read(spark, csv).cache()
    assert(samples.count() == 128960)
    val runs = samples.groupBy("arm", "run_id").count()
      .orderBy("run_id").collect()
    assert(runs.length == 10)
    assert(runs.count(_.getString(0) == "Actuators enabled") == 5)
    assert(runs.count(_.getString(0) == "Actuators disabled") == 5)
    val logIds = samples.select("log_id").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(logIds.toSeq == Seq(2690, 6822))
  }

  test("acceleration per-run stats match the independent port") {
    val (rs, _, _) = OfflineAnalytics.replay(spark, csv, "acceleration_g")
    val got = rs.collect().map(r => (r.getAs[String]("arm"),
      r.getAs[Long]("n"), r.getAs[Double]("rms"),
      r.getAs[Double]("min"), r.getAs[Double]("max")))
    val want = accelerationRuns
    val gotSorted = got.sortBy(r => (r._1 == "Actuators disabled", r._2))
    val wantSorted = want.sortBy(r => (r._1 == "Actuators disabled", r._2))
    assert(gotSorted.length == 10)
    gotSorted.zip(wantSorted).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"run mismatch: $g vs $w")
      assert(relClose(g._3, w._3), s"rms: $g vs $w")
      assert(relClose(g._4, w._4, 1e-12), s"min: $g vs $w")
      assert(relClose(g._5, w._5, 1e-12), s"max: $g vs $w")
    }
  }

  test("welch t-tests match the independent port on all four measures") {
    // (measure, derivative, t_rms, p_rms, t_min, p_min, t_max, p_max)
    val expected = Seq(
      ("acceleration_g", false,
        -13.161177494097318, 1.063692022103068e-06,
        15.57645799824485, 4.423202668912829e-05,
        -11.46309571181493, 1.5181904556287783e-06),
      ("pitch_deg", false,
        -1.0731723149234083, 0.16468557784199273,
        0.9893361683787996, 0.1784413417206917,
        -3.692277794381925, 0.009146318929383317),
      ("roll_deg", false,
        -3.1123992310026094, 0.01539196586663062,
        8.81181187093942, 0.00031606967713670997,
        -7.847858606448177, 0.00039086042956226405),
      ("acceleration_g", true,
        -0.14257000535781236, 0.4450975522698912,
        -3.633711243697949, 0.9960521638978987,
        0.6550452224761943, 0.7331382917737546))
    expected.foreach { case (m, deriv, tr, pr, tn, pn, tx, px) =>
      val (_, _, welch) = OfflineAnalytics.replay(spark, csv, m, deriv)
      val byStat = welch.map(w => w.stat -> w).toMap
      val tol = 1e-6
      assert(relClose(byStat("rms").t, tr, tol), s"$m rms t ${byStat("rms").t}")
      assert(relClose(byStat("rms").p, pr, tol), s"$m rms p ${byStat("rms").p}")
      assert(relClose(byStat("min").t, tn, tol), s"$m min t ${byStat("min").t}")
      assert(relClose(byStat("min").p, pn, tol), s"$m min p ${byStat("min").p}")
      assert(relClose(byStat("max").t, tx, tol), s"$m max t ${byStat("max").t}")
      assert(relClose(byStat("max").p, px, tol), s"$m max p ${byStat("max").p}")
    }
  }

  test("published acceleration p-values from the pinned per-run rows, " +
      "without the CSV") {
    // the enabled arm's five runs come first in the file
    val rows = accelerationRuns.zipWithIndex.map { case ((arm, n, rms, mn, mx), i) =>
      Row("ORCLOG_vibration_HS.CSV", arm, i + 1L, rms, mn, mx, n)
    }
    val welch = OfflineAnalytics.welchTests(OfflineAnalytics.armSummary(rows))
      .map(w => w.stat -> w).toMap
    // (stat, t to four places, published p, the port's t and p)
    Seq(("rms", "-13.1612", "1.06e-06", -13.161177494097318, 1.063692022103068e-06),
      ("min", "15.5765", "4.42e-05", 15.57645799824485, 4.423202668912829e-05),
      ("max", "-11.4631", "1.52e-06", -11.46309571181493, 1.5181904556287783e-06))
      .foreach { case (stat, t, p, portT, portP) =>
        val w = welch(stat)
        assert(f"${w.t}%.4f" == t && f"${w.p}%.2e" == p, s"$stat: $w")
        assert(relClose(w.t, portT) && math.abs(w.p - portP) <= 1e-9 * portP, s"$stat: $w")
      }
  }
}
