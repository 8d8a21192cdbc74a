package graft.ops

/** Frozen parity oracle for [[Weiszfeld.weiszfeldFlat]]: the boxed
  * `Array[Array[Double]]` kernel as it stood before the flat rewrite, kept
  * unchanged — per-comparison `mkString(",")` sort, `map`/`zip`/`tabulate`
  * per iteration. WeiszfeldSpec pins the main kernel bit for bit against it.
  * Keep the body of [[weiszfeldCore]] as it is: it is the reference because
  * it predates the rewrite. */
object WeiszfeldReference {
  /** Boxed entry over `Seq[Double]` band vectors (200 iterations, tol 1e-9
    * by default, like the driver's converged form). */
  def weiszfeld(pts0: Seq[Seq[Double]], maxIter: Int = 200, tol: Double = 1e-9): Seq[Double] =
    if (pts0.isEmpty) Seq.empty
    else weiszfeldCore(pts0.map(_.toArray).toArray, maxIter, tol).toSeq

  /** The main kernel called on `Seq[Double]` band vectors: flattens them
    * into the d-strided buffer [[Weiszfeld.weiszfeldFlat]] reads. */
  def viaFlat(pts: Seq[Seq[Double]], maxIter: Int = 200, tol: Double = 1e-9): Seq[Double] = {
    val flat = pts.flatten.toArray
    Weiszfeld.weiszfeldFlat(flat, pts.headOption.fold(0)(_.length), flat.length, maxIter, tol).toSeq
  }

  def weiszfeldCore(ptsIn: Array[Array[Double]],
                    maxIter: Int, tol: Double): Array[Double] = {
    val pts = ptsIn.sortBy(_.mkString(","))
    val d = pts.head.length
    var cur = Array.tabulate(d)(i => pts.map(_(i)).sum / pts.length)
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIter && moved > tol) {
      val num = new Array[Double](d)
      var den = 0.0
      var eta = 0 // multiplicity of data points coincident with cur
      pts.foreach { p =>
        var dist2 = 0.0
        var i = 0
        while (i < d) { val dx = p(i) - cur(i); dist2 += dx * dx; i += 1 }
        val dist = math.sqrt(dist2)
        if (dist < 1e-12) eta += 1
        else {
          val w = 1.0 / dist
          i = 0
          while (i < d) { num(i) += p(i) * w; i += 1 }
          den += w
        }
      }
      if (den == 0.0) moved = 0.0 // all points coincide with cur
      else {
        val tMap = num.map(_ / den) // plain Weiszfeld step over non-coincident points
        val next =
          if (eta == 0) tMap
          else {
            // r̃ = Σ_{p≠cur} (p−cur)/‖p−cur‖ ; ‖r̃‖ ≤ η ⇒ cur IS the geomedian
            val rt = Array.tabulate(d)(i => num(i) - den * cur(i))
            val rNorm = math.sqrt(rt.map(x => x * x).sum)
            if (rNorm <= eta) cur
            else {
              val a = 1.0 - eta / rNorm
              Array.tabulate(d)(i => a * tMap(i) + (eta / rNorm) * cur(i))
            }
          }
        moved = math.sqrt(next.zip(cur).map { case (a, b) => (a - b) * (a - b) }.sum)
        cur = next
      }
      it += 1
    }
    cur
  }
}
