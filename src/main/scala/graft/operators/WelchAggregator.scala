package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Streaming-mergeable moments via Welford / Chan parallel update —
  * numerically stable partial aggregation for mean + sample variance.
  */
final case class Moments(n: Long, mean: Double, m2: Double) {
  def add(x: Double): Moments = {
    val n1 = n + 1
    val delta = x - mean
    val mean1 = mean + delta / n1
    Moments(n1, mean1, m2 + delta * (x - mean1))
  }
  def merge(o: Moments): Moments = {
    if (n == 0) o
    else if (o.n == 0) this
    else {
      val nt = n + o.n
      val delta = o.mean - mean
      Moments(nt,
        mean + delta * o.n / nt,
        m2 + o.m2 + delta * delta * n * o.n / nt)
    }
  }
  def varSamp: Double = if (n < 2) Double.NaN else m2 / (n - 1)
}

object Moments { val empty: Moments = Moments(0, 0.0, 0.0) }

final case class WelchBuf(a: Moments, b: Moments)

final case class WelchTResult(t: Double, df: Double, p: Double,
    nA: Long, nB: Long)

/** A4 as a single distributed pass: a typed Aggregator over
  * (isArmA, value) rows accumulating both arms' moments at once —
  * one shuffle-free partial aggregation per partition, merged
  * associatively, with the t statistic, Welch–Satterthwaite df, and
  * one-sided p-value (pure-Scala incomplete beta) computed in
  * `finish`. Usable as a `TypedColumn` in any Dataset agg, at any
  * scale, with no driver-side collection of the samples.
  *
  * alternative: "less" | "greater" | "two-sided" (scipy ttest_ind
  * semantics; reference uses less for RMS/MAX, greater for MIN —
  * Python Plotting/main.py:113-115).
  */
final class WelchTTest(alternative: String)
    extends Aggregator[(Boolean, Double), WelchBuf, WelchTResult] {

  override def zero: WelchBuf = WelchBuf(Moments.empty, Moments.empty)

  override def reduce(b: WelchBuf, in: (Boolean, Double)): WelchBuf =
    if (in._1) b.copy(a = b.a.add(in._2)) else b.copy(b = b.b.add(in._2))

  override def merge(x: WelchBuf, y: WelchBuf): WelchBuf =
    WelchBuf(x.a.merge(y.a), x.b.merge(y.b))

  override def finish(r: WelchBuf): WelchTResult = {
    val (t, df, p) = SpecialFns.welch(r.a.mean, r.a.varSamp, r.a.n.toDouble,
      r.b.mean, r.b.varSamp, r.b.n.toDouble, alternative)
    WelchTResult(t, df, p, r.a.n, r.b.n)
  }

  override def bufferEncoder: Encoder[WelchBuf] = Encoders.product[WelchBuf]
  override def outputEncoder: Encoder[WelchTResult] =
    Encoders.product[WelchTResult]
}
