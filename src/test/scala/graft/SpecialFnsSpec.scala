package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpecialFns._

/** Student-t CDF / incomplete beta against standard table values. */
class SpecialFnsSpec extends AnyFunSuite {
  private val Tol = 1e-7

  test("logGamma matches known values") {
    assert(math.abs(logGamma(1.0)) < Tol)
    assert(math.abs(logGamma(2.0)) < Tol)
    assert(math.abs(logGamma(5.0) - math.log(24.0)) < Tol)
    assert(math.abs(logGamma(0.5) - 0.5 * math.log(math.Pi)) < Tol)
  }

  test("betainc endpoints and symmetry") {
    assert(betainc(2.0, 3.0, 0.0) == 0.0)
    assert(betainc(2.0, 3.0, 1.0) == 1.0)
    // I_x(a,b) = 1 - I_{1-x}(b,a)
    val x = 0.37
    assert(math.abs(betainc(2.5, 1.5, x) - (1.0 - betainc(1.5, 2.5, 1 - x))) < Tol)
    // I_x(1,1) = x (uniform)
    assert(math.abs(betainc(1.0, 1.0, 0.42) - 0.42) < Tol)
  }

  test("student-t CDF matches standard quantiles") {
    assert(math.abs(studentTCdf(0.0, 10) - 0.5) < Tol)
    // t_{0.95, 10} = 1.8124611...
    assert(math.abs(studentTCdf(1.8124611228107335, 10) - 0.95) < 1e-7)
    // t_{0.975, 5} = 2.5705818...
    assert(math.abs(studentTCdf(2.5705818366147395, 5) - 0.975) < 1e-7)
    // large df approaches normal: t=1.96, df=1e6 -> ~0.975
    assert(math.abs(studentTCdf(1.959964, 1e6) - 0.975) < 1e-4)
  }

  test("welchPValue matches scipy ttest_ind example") {
    // Two small samples, computed independently:
    // a = [1,2,3,4,5] (m=3, v=2.5, n=5); b = [2,4,6,8,10] (m=6, v=10, n=5)
    // se2 = 0.5+2 = 2.5, t = -3/sqrt(2.5) = -1.8973666...
    // df = 2.5^2 / (0.5^2/4 + 2^2/4) = 6.25/1.0625 = 5.8823529...
    val pLess = welch(3, 2.5, 5, 6, 10, 5, "less")._3
    val pGreater = welch(3, 2.5, 5, 6, 10, 5, "greater")._3
    val pTwo = welch(3, 2.5, 5, 6, 10, 5, "two-sided")._3
    assert(math.abs(pLess + pGreater - 1.0) < Tol)
    assert(math.abs(pTwo - 2 * pLess) < Tol)  // t < 0 so two-sided = 2*less
    // independently computed (mpmath betainc): p = 0.107531194930627
    assert(math.abs(pTwo - 0.107531194930627) < 1e-9)
  }
}
