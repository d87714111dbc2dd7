package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** PortableMath.round4HalfUp must be BIT-IDENTICAL to the definition it
  * replaces in hot loops (`BigDecimal(x).setScale(4, HALF_UP).toDouble`,
  * i.e. Spark's `round(x, 4)` on doubles) — the broadcast kNN scan and
  * SRP band keys feed hash-checked query outputs through it, so any
  * drift is a correctness bug, not a precision nit. */
class PortableMathSpec extends AnyFunSuite {

  private def ref(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("round4HalfUp == BigDecimal HALF_UP on the .5 grid and around it") {
    // every half-boundary in [-1.5, 1.5] plus one-ulp perturbations —
    // the exact region the fast path's guard band must route to the
    // slow path (cosines live in [-1, 1]; margins exercise beyond)
    var k = -15000
    while (k <= 15000) {
      val b = (2 * k + 1) / 20000.0 // …±0.00005, ±0.00015, …
      for (x <- Seq(b, math.nextUp(b), math.nextDown(b),
          math.nextUp(math.nextUp(b)), math.nextDown(math.nextDown(b)))) {
        assert(PortableMath.round4HalfUp(x) == ref(x),
          s"mismatch at x=$x (boundary $b)")
      }
      k += 1
    }
  }

  test("round4HalfUp == BigDecimal HALF_UP on deterministic random doubles") {
    val rnd = new scala.util.Random(424242L)
    for (_ <- 1 to 200000) {
      val x = (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(6) - 3)
      val got = PortableMath.round4HalfUp(x)
      val want = ref(x)
      assert(got == want, s"mismatch at x=$x: got $got want $want")
      // no -0.0 leaks (BigDecimal never emits one)
      assert(java.lang.Double.doubleToRawLongBits(got) !=
        java.lang.Double.doubleToRawLongBits(-0.0d), s"-0.0 at x=$x")
    }
  }

  test("round4HalfUp == BigDecimal HALF_UP on large-magnitude .5-grid ties") {
    // the multiply error grows with |x| (about one ulp of x·10⁴), so a
    // fixed guard band misroutes ties once |x| ≳ 10³: these three went
    // the wrong way under the old 1e-9 band
    for (x <- Seq(6570.77925, 88643.68675, 605543.12565))
      assert(PortableMath.round4HalfUp(x) == ref(x), s"mismatch at x=$x")
    val rnd = new scala.util.Random(8675309L)
    for (e <- 1 to 12; _ <- 1 to 20000) {
      // the tie (m + 0.5)·10⁻⁴ with |x| in [10^(e-1), 10^e)
      val m = (math.pow(10, e - 1 + rnd.nextDouble()) * 1e4).toLong
      val b = BigDecimal(BigInt(m) * 10 + 5, 5).toDouble
      for (x <- Seq(b, -b, math.nextUp(b), math.nextDown(b)))
        assert(PortableMath.round4HalfUp(x) == ref(x),
          s"mismatch at x=$x (tie $b)")
    }
  }

  test("round4HalfUp canonicalizes tiny negatives to +0.0") {
    val got = PortableMath.round4HalfUp(-1e-9)
    assert(got == 0.0 &&
      java.lang.Double.doubleToRawLongBits(got) == 0L)
  }
}
