package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** [[Weiszfeld.weiszfeldFlat]] against the frozen pre-rewrite kernel
  * ([[WeiszfeldReference]]): the same bits for every group, over the shapes,
  * values and stopping rules the composites meet. */
class WeiszfeldSpec extends AnyFunSuite {

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  private def assertSame(pts: Seq[Seq[Double]], maxIter: Int, tol: Double, what: String): Seq[Double] = {
    val ref = WeiszfeldReference.weiszfeld(pts, maxIter, tol)
    val got = WeiszfeldReference.viaFlat(pts, maxIter, tol)
    assert(bits(got) == bits(ref),
      s"$what (maxIter=$maxIter, tol=$tol): flat $got, reference $ref, points $pts")
    got
  }

  private val stops = Seq((1, 0.0), (32, 0.0), (200, 1e-9))

  /** Value generators: integer-valued, fractional with both signs, negative
    * integers, ±0.0 among a few small values, a two-value band (coincident
    * points), and magnitudes that print in `E` notation. */
  private val kinds: Seq[(String, scala.util.Random => Double)] = Seq(
    "integer" -> (r => r.nextInt(3000).toDouble),
    "fractional" -> (r => r.nextDouble() * 2000 - 1000),
    "negative" -> (r => -r.nextInt(50).toDouble),
    "signed zeros" -> (r => Array(0.0, -0.0, 1.0, -1.0)(r.nextInt(4))),
    "two values" -> (r => 100.0 + r.nextInt(2)),
    "exponents" -> (r => Array(1e-7, 3.5e-5, 2.0, 1e7, 4.25e12)(r.nextInt(5)) * (1 - 2 * r.nextInt(2))))

  test("weiszfeldFlat ≡ the frozen boxed kernel, bit for bit, over random groups") {
    val rnd = new scala.util.Random(20261019)
    for (d <- 1 to 4; n <- Seq(1, 2, 3, 5, 20, 57, 137); (kind, gen) <- kinds; (maxIter, tol) <- stops;
         _ <- 0 until 4) {
      val pts = Seq.fill(n)(Seq.fill(d)(gen(rnd)))
      assertSame(pts, maxIter, tol, s"d=$d n=$n $kind")
    }
  }

  test("coincident start: the Vardi–Zhang stay branch and move branch match the reference") {
    // the mean start (0, 0) is a data point of multiplicity η = 2 and the
    // other points cancel, so ‖r̃‖ = 0 ≤ η: the iterate stays put
    val stay = Seq(Seq(0.0, 0.0), Seq(0.0, 0.0), Seq(3.0, 4.0), Seq(-3.0, -4.0), Seq(5.0, 0.0), Seq(-5.0, 0.0))
    // the mean start 0 is a data point of multiplicity 1 and ‖r̃‖ = |1 − 3| = 2 > η
    val move = Seq(Seq(0.0), Seq(3.0), Seq(-1.0), Seq(-1.0), Seq(-1.0))
    for ((maxIter, tol) <- stops) {
      assert(assertSame(stay, maxIter, tol, "stay") == Seq(0.0, 0.0))
      assert(assertSame(move, maxIter, tol, "move").head != 0.0)
    }
    // every point coincides with the start: den = 0 freezes at once
    assert(assertSame(Seq.fill(7)(Seq(-0.0, 2.5)), 32, 0.0, "all equal") == Seq(-0.0, 2.5))
  }
}
