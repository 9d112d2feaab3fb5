package perfbench

import org.apache.commons.math3.distribution.TDistribution

/** Plain sequential Scala port of the reference analysis
  * (scipy.signal.medfilt with zero padding, unit-spacing numpy.gradient,
  * per-run RMS/min/max, Welch's one-sided t-test), used to check the
  * program's results. Nothing here calls the program. */
object Reference {

  /** scipy.signal.medfilt(x, k): each output is the median of the k
    * samples centred on it, with zeros outside the run. */
  def medfilt(x: Array[Double], k: Int = 15): Array[Double] = {
    val half = k / 2
    val win = new Array[Double](k)
    Array.tabulate(x.length) { i =>
      var j = 0
      while (j < k) {
        val idx = i - half + j
        win(j) = if (idx < 0 || idx >= x.length) 0.0 else x(idx)
        j += 1
      }
      java.util.Arrays.sort(win)
      win(half)
    }
  }

  /** numpy.gradient(x) with unit spacing: central differences inside,
    * one-sided differences at both ends. */
  def gradient(x: Array[Double]): Array[Double] =
    if (x.length < 2) Array.fill(x.length)(Double.NaN)
    else Array.tabulate(x.length) { i =>
      if (i == 0) x(1) - x(0)
      else if (i == x.length - 1) x(i) - x(i - 1)
      else (x(i + 1) - x(i - 1)) / 2.0
    }

  final case class RunStat(rms: Double, min: Double, max: Double, n: Int)

  def runStat(values: Array[Double], derivative: Boolean): RunStat = {
    val f = medfilt(values)
    val v = if (derivative) gradient(f) else f
    RunStat(math.sqrt(v.map(x => x * x).sum / v.length), v.min, v.max, v.length)
  }

  final case class Welch(stat: String, t: Double, df: Double, p: Double)

  private def meanVar(xs: Seq[Double]): (Double, Double, Double) = {
    val n = xs.size.toDouble
    val m = xs.sum / n
    (m, xs.map(x => (x - m) * (x - m)).sum / (n - 1), n)
  }

  /** Welch t-tests of arm `a` against arm `b` for rms/min/max with the
    * reference's one-sided alternatives (rms, max: less; min: greater). */
  def welch(a: Seq[RunStat], b: Seq[RunStat]): Seq[Welch] =
    Seq[(String, RunStat => Double, Boolean)](
      ("rms", _.rms, true), ("min", _.min, false), ("max", _.max, true)).map {
      case (name, f, less) =>
        val (m1, v1, n1) = meanVar(a.map(f))
        val (m2, v2, n2) = meanVar(b.map(f))
        val se2 = v1 / n1 + v2 / n2
        val t = (m1 - m2) / math.sqrt(se2)
        val df = se2 * se2 / (v1 * v1 / (n1 * n1 * (n1 - 1)) + v2 * v2 / (n2 * n2 * (n2 - 1)))
        val cdf = new TDistribution(df).cumulativeProbability(t)
        Welch(name, t, df, if (less) cdf else 1.0 - cdf)
    }

  def close(a: Double, b: Double, rel: Double, abs: Double = 1e-12): Boolean =
    math.abs(a - b) <= math.max(abs, rel * math.max(math.abs(a), math.abs(b)))
}
