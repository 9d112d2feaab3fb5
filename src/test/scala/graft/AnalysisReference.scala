package graft

import org.apache.commons.math3.distribution.TDistribution

/** Plain sequential Scala port of the reference analysis
  * (scipy.signal.medfilt with zero padding, unit-spacing numpy.gradient,
  * per-run RMS/min/max, Welch's one-sided t-test with commons-math3
  * p-values), used to check [[graft.pipelines.OfflineAnalytics]].
  * Nothing here calls the program. Spark's semantics are spelled out
  * where numpy has none: a null sample is 0.0 in the filter, the
  * derivative of one sample is undefined (null stats), and min/max
  * order NaN above every number. */
object AnalysisReference {

  /** scipy.signal.medfilt(x, k): each output is the median of the k
    * samples centred on it, with zeros outside the run. */
  def medfilt(x: Array[Double], k: Int = 15): Array[Double] = {
    val half = k / 2
    Array.tabulate(x.length) { i =>
      val win = Array.tabulate(k) { j =>
        val idx = i - half + j
        if (idx < 0 || idx >= x.length) 0.0 else x(idx)
      }
      win.sortWith((a, b) => java.lang.Double.compare(a, b) < 0)(half)
    }
  }

  /** numpy.gradient(x) with unit spacing: central differences inside,
    * one-sided differences at both ends. */
  def gradient(x: Array[Double]): Array[Double] =
    Array.tabulate(x.length) { i =>
      if (i == 0) x(1) - x(0)
      else if (i == x.length - 1) x(i) - x(i - 1)
      else (x(i + 1) - x(i - 1)) / 2.0
    }

  /** The filtered (and optionally differentiated) run; None where the
    * derivative is undefined. Nulls are 0.0. */
  def values(x: Seq[java.lang.Double], derivative: Boolean): Option[Array[Double]] = {
    val f = medfilt(x.map(v => if (v == null) 0.0 else v.doubleValue).toArray)
    if (!derivative) Some(f) else if (f.length < 2) None else Some(gradient(f))
  }

  /** rms/min/max are None when undefined. */
  final case class RunStat(rms: Option[Double], min: Option[Double],
                           max: Option[Double], n: Long)

  def runStat(x: Seq[java.lang.Double], derivative: Boolean): RunStat =
    values(x, derivative) match {
      case None => RunStat(None, None, None, x.size.toLong)
      case Some(v) =>
        val max = if (v.exists(_.isNaN)) Double.NaN else v.max
        val min = if (v.forall(_.isNaN)) Double.NaN else v.filterNot(_.isNaN).min
        RunStat(Some(math.sqrt(v.map(e => e * e).sum / v.length)), Some(min),
          Some(max), v.length.toLong)
    }

  /** Mean and sample variance of the defined values; None when fewer
    * than one (mean) or two (variance) are defined. */
  def meanVar(xs: Seq[Option[Double]]): (Option[Double], Option[Double]) = {
    val d = xs.flatten
    val n = d.size.toDouble
    val m = if (d.isEmpty) None else Some(d.sum / n)
    (m, m.filter(_ => d.size > 1).map(mm => d.map(x => (x - mm) * (x - mm)).sum / (n - 1)))
  }

  final case class Welch(stat: String, t: Double, df: Double, p: Double)

  /** Welch t-tests of arm `a` against arm `b` for rms/min/max with the
    * reference's one-sided alternatives (rms, max: less; min: greater). */
  def welch(a: Seq[RunStat], b: Seq[RunStat]): Seq[Welch] =
    Seq[(String, RunStat => Option[Double], Boolean)](
      ("rms", _.rms, true), ("min", _.min, false), ("max", _.max, true)).map {
      case (name, f, less) =>
        val (m1, v1) = meanVar(a.map(f))
        val (m2, v2) = meanVar(b.map(f))
        val (n1, n2) = (a.size.toDouble, b.size.toDouble)
        val se2 = v1.get / n1 + v2.get / n2
        val t = (m1.get - m2.get) / math.sqrt(se2)
        val df = se2 * se2 /
          (v1.get * v1.get / (n1 * n1 * (n1 - 1)) + v2.get * v2.get / (n2 * n2 * (n2 - 1)))
        val cdf = new TDistribution(df).cumulativeProbability(t)
        Welch(name, t, df, if (less) cdf else 1.0 - cdf)
    }

  /** Relative closeness; equal infinities and NaN against NaN count as
    * close. */
  def close(a: Double, b: Double, rel: Double, abs: Double = 1e-12): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= math.max(abs, rel * math.max(math.abs(a), math.abs(b)))
}
