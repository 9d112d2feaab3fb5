package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpecialFns
import graft.state._

/** Property-based invariants (SURVEY §5.5): algebraic laws the
  * operators must satisfy for any input, not just fixtures.
  * Uses raw ScalaCheck Gen with deterministic seeds (the
  * scalatest-scalacheck bridge isn't on the offline classpath). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var checked = 0
    (0 until n * 3).foreach { i =>
      if (checked < n) gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach { a => checked += 1; f(a) }
    }
    assert(checked > n / 2, s"generator too sparse: $checked of $n")
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(f.tupled)

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(f.tupled)

  // --- RollingHash: evaluate the Catalyst expression standalone ---
  private def rh(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    graft.functions.RollingHash(Literal(s))
      .eval(null).asInstanceOf[Long]
  }
  private val Mod = 1000000007L
  private val asciiText = Gen.listOf(Gen.alphaNumChar).map(_.mkString)

  test("rolling hash matches an independent code-point fold") {
    forAll(asciiText) { s =>
      var acc = 0L
      s.codePoints().forEach(cp => acc = (acc * 31 + cp) % Mod)
      assert(rh(s) == acc, s"'$s'")
    }
    assert(rh("") == 0L)
    // supplementary-plane char = ONE code point, not two UTF-16 units
    val g = new String(Character.toChars(0x1D11E))
    assert(rh(g) == 0x1D11E % Mod)
  }

  test("rolling hash composes across chunk boundaries") {
    // hash(a ++ b) == (hash(a) * 31^cp(b) + hash(b)) mod M — the law
    // that makes the fingerprint recomputable from chunked storage
    def powMod(e: Long): Long = {
      var r = 1L; var base = 31L; var n = e
      while (n > 0) {
        if ((n & 1) == 1) r = r * base % Mod
        base = base * base % Mod; n >>= 1
      }
      r
    }
    forAll(Gen.zip(asciiText, asciiText)) { case (a, b) =>
      val composed =
        (rh(a) * powMod(b.codePointCount(0, b.length)) % Mod + rh(b)) % Mod
      assert(rh(a + b) == composed, s"'$a' ++ '$b'")
    }
  }

  private val finite = Gen.choose(-1e3, 1e3)
  private val smallVec = for {
    x <- finite; y <- finite; z <- finite
  } yield Vec3(x, y, z)
  private val quatGen = for {
    w <- finite; x <- finite; y <- finite; z <- finite
    if math.sqrt(w * w + x * x + y * y + z * z) > 1e-6
  } yield Quat(w, x, y, z)

  test("quaternion normalize is idempotent and unit-norm") {
    forAll(quatGen) { q =>
      val n = q.normalize
      val mag = math.sqrt(n.w * n.w + n.x * n.x + n.y * n.y + n.z * n.z)
      assert(math.abs(mag - 1.0) < 1e-9)
      val n2 = n.normalize
      assert(math.abs(n2.w - n.w) < 1e-9 && math.abs(n2.z - n.z) < 1e-9)
    }
  }

  test("cross product is orthogonal to both operands") {
    forAll(smallVec, smallVec) { (a, b) =>
      val c = a.cross(b)
      assert(math.abs(c.dot(a)) < 1e-3) // scaled by magnitudes ~1e6
      assert(math.abs(c.dot(b)) < 1e-3)
    }
  }

  test("corner transform is affine: midscale plus a linear part") {
    val t = CornerTransform.reference
    forAll(Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0),
      Gen.choose(-100.0, 100.0)) { (fz, ft, fp) =>
      // unclamped region: linearity act(a+b) - 32768 = (act(a)-32768) + (act(b)-32768)
      val (a1, _, _, _) = t(fz, ft, fp)
      val (b1, _, _, _) = t(2 * fz, 2 * ft, 2 * fp)
      assert(math.abs((b1 - 32768) - 2.0 * (a1 - 32768)) <= 2.0) // int truncation slack
    }
  }

  test("corner transform clamp is monotone in each input") {
    val t = CornerTransform.reference
    forAll(Gen.choose(-1e7, 1e7), Gen.choose(-1e7, 1e7)) { (lo, hi) =>
      val (l, h) = (math.min(lo, hi), math.max(lo, hi))
      assert(t(l, 0, 0)._1 <= t(h, 0, 0)._1) // fZ raises act1
      assert(t(0, l, 0)._1 >= t(0, h, 0)._1) // fTheta lowers act1
    }
  }

  test("deadband preserves sign and never increases magnitude") {
    val floor = 0.003
    forAll(Gen.choose(-10.0, 10.0)) { x =>
      val crushed =
        if (math.abs(x) <= floor) 0.0 else x - math.signum(x) * floor
      assert(crushed * x >= 0.0)
      assert(math.abs(crushed) <= math.abs(x))
    }
  }

  test("welch t is antisymmetric and p(less)+p(greater)=1") {
    val statsGen = for {
      m <- Gen.choose(-100.0, 100.0)
      v <- Gen.choose(0.01, 100.0)
      n <- Gen.choose(3, 50)
    } yield (m, v, n.toDouble)
    forAll(statsGen, statsGen) { case ((m1, v1, n1), (m2, v2, n2)) =>
      val pl = SpecialFns.welch(m1, v1, n1, m2, v2, n2, "less")._3
      val pg = SpecialFns.welch(m1, v1, n1, m2, v2, n2, "greater")._3
      assert(math.abs(pl + pg - 1.0) < 1e-9)
      // antisymmetry: swapping the samples flips the alternative
      val plSwap = SpecialFns.welch(m2, v2, n2, m1, v1, n1, "greater")._3
      assert(math.abs(pl - plSwap) < 1e-9)
    }
  }

  test("student-t CDF is monotone and symmetric about 0") {
    forAll(Gen.choose(-20.0, 20.0), Gen.choose(1.0, 200.0)) { (t, df) =>
      val c = SpecialFns.studentTCdf(t, df)
      assert(c >= 0.0 && c <= 1.0)
      assert(math.abs(c + SpecialFns.studentTCdf(-t, df) - 1.0) < 1e-9)
      assert(SpecialFns.studentTCdf(t + 0.5, df) >= c - 1e-12)
    }
  }

  test("PID output always within [limMin, limMax]") {
    val cfgGen = for {
      kp <- Gen.choose(-100.0, 100.0)
      ki <- Gen.choose(-10.0, 10.0)
      kd <- Gen.choose(-10.0, 10.0)
    } yield PidConfig(kp, ki, kd, tau = 0.003, limMin = -50.0,
      limMax = 50.0, dt = 0.01, quantizeInt16 = false)
    forAll(cfgGen, Gen.listOfN(50, Gen.choose(-10.0, 10.0))) { (cfg, xs) =>
      var st = PidState()
      xs.foreach { m =>
        val (n, out) = Pid.update(cfg, st, 0.0, m)
        st = n
        assert(out >= cfg.limMin - 1e-9 && out <= cfg.limMax + 1e-9)
      }
    }
  }

  test("M17: all 24 axes alignments are distinct proper rotations " +
      "(signed permutations, det +1) that preserve vector norm") {
    assert(AxesAlignment.All.length == 24)
    assert(AxesAlignment.All.distinct.length == 24)
    def det3(m: Array[Array[Double]]): Double =
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    AxesAlignment.All.foreach { spec =>
      val m = AxesAlignment.matrix(spec)
      // signed permutation: one +-1 per row and per column
      m.foreach(row => assert(row.map(math.abs).sum == 1.0, spec))
      (0 until 3).foreach(c =>
        assert((0 until 3).map(r => math.abs(m(r)(c))).sum == 1.0, spec))
      assert(det3(m) == 1.0, s"$spec det ${det3(m)}")
    }
    // the matrices are pairwise distinct too (ordinal map is faithful)
    val keys = AxesAlignment.All.map(s =>
      AxesAlignment.matrix(s).flatten.toSeq)
    assert(keys.distinct.length == 24)
    // pinned reference example: ordinal 1 = +X-Z+Y
    assert(AxesAlignment.swap(Vec3(1.0, 2.0, 3.0), 1) ==
      Vec3(1.0, -3.0, 2.0))
    forAll(smallVec) { v =>
      (0 until 24).foreach { a =>
        val s = AxesAlignment.swap(v, a)
        // swap only reorders/negates, but the dot sums in a different
        // order -> compare with relative tolerance
        assert(math.abs(s.dot(s) - v.dot(v)) <=
          1e-12 * math.max(1.0, v.dot(v)), s"norm $a")
      }
    }
  }

  test("M4 faithful fast inverse sqrt: bit-exact pinned fp32 outputs " +
      "and bounded relative error") {
    // pinned against an independent bit-level replay of the firmware
    // expression (magic 0x5F1F1412, one polished multiply)
    assert(FastInvSqrt(1.0f) == 1.0001187324523926f)
    assert(FastInvSqrt(2.0f) == 0.7074484825134277f)
    assert(FastInvSqrt(0.25f) == 2.000237464904785f)
    assert(FastInvSqrt(100.0f) == 0.09994177520275116f)
    forAll(Gen.choose(1e-6, 1e6)) { x =>
      val approx = FastInvSqrt(x.toFloat).toDouble
      val exact = 1.0 / math.sqrt(x)
      assert(math.abs(approx - exact) / exact < 1e-3, s"x=$x")
    }
    // faithful normalization lands within fp32 tolerance of unit norm
    forAll(smallVec) { v =>
      if (v.magnitude > 1e-3) {
        val n = FastInvSqrt.normalize(v)
        assert(math.abs(n.magnitude - 1.0) < 2e-3, s"$v")
      }
    }
  }

  test("AHRS quaternion stays unit-norm through arbitrary input") {
    val dt = 0.01
    val settings = AhrsSettings(recoveryTriggerPeriod = 500)
    forAll(Gen.listOfN(100, Gen.zip(smallVec, smallVec))) { steps =>
      var st = Ahrs.initial(settings)
      steps.foreach { case (g, a) =>
        st = Ahrs.update(st, settings, g, a, dt)
        val q = st.quaternion
        val mag = math.sqrt(q.w * q.w + q.x * q.x + q.y * q.y + q.z * q.z)
        assert(math.abs(mag - 1.0) < 1e-6, s"quaternion drifted: $mag")
      }
    }
  }
}
