package jbench

/** Order statistics for the per-run series. `quartiles` follows Python's
  * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so a
  * spread computed here reads the same as one computed from the run
  * records by the steadiness script.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty series")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3); needs at least two values, as Python does. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val d = xs.sorted
    val ld = d.length
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }
}
