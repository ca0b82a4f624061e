package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** `SimilarityOps.round4` is the one rounding rule for similarity scores:
  * Catalyst's `round(x, 4)` on doubles. Its `rint` fast path must agree
  * bit for bit with the BigDecimal definition, including at every tie,
  * where half-even and HALF_UP disagree.
  */
class Round4Spec extends AnyFunSuite {

  /** Catalyst `Round` on a double: shortest decimal, HALF_UP, NaN and
    * ±Inf passed through.
    */
  private def reference(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def check(xs: Iterator[Double]): Unit = {
    var n = 0
    val bad = xs.filter { x =>
      n += 1
      java.lang.Double.doubleToRawLongBits(SimilarityOps.round4(x)) !=
        java.lang.Double.doubleToRawLongBits(reference(x))
    }.take(5).toList
    assert(bad.isEmpty, s"round4 differs from HALF_UP on " +
      bad.map(x => s"$x -> ${SimilarityOps.round4(x)} vs ${reference(x)}"))
    assert(n > 0)
  }

  test("round4 equals BigDecimal HALF_UP on uniform and random-bit doubles") {
    val rnd = new java.util.SplittableRandom(7L)
    check(Iterator.fill(1000000)(rnd.nextDouble(-1.0, 1.0)))
    check(Iterator.fill(200000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())))
  }

  test("round4 equals BigDecimal HALF_UP at every tie and its neighbours") {
    check((-200000 to 200000).iterator.flatMap { i =>
      val t = (i + 0.5) / 1e4
      Iterator(t, math.nextUp(t), math.nextDown(t))
    })
  }

  test("round4 on signed zeros, tiny negatives, huge values, NaN and Inf") {
    val specials = Seq(0.0, -0.0, -1e-300, -Double.MinPositiveValue,
      -4.9e-5, -5e-5, -5.0000001e-5, 4.9999e-5, 5e-5, 1e5, -1e5, 99999.99995,
      1e12, -1e12, 1.23456789e12, 1e15 + 0.125, 1e300, -1e300,
      Double.MaxValue, -Double.MaxValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    check(specials.iterator)
    assert(SimilarityOps.round4(-0.0).equals(0.0))
    assert(SimilarityOps.round4(Double.NaN).isNaN)
  }
}
