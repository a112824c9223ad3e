package perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size}")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** The tail: the highest whole percentile that still has at least
    * `beyond` samples strictly above its rank. Returns (percentile,
    * value). With too few samples for even the median to qualify there
    * is no such percentile; the maximum is returned as percentile 100 so
    * the caller can state it as a maximum, together with n.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val n = xs.size
    val p = math.floor(100.0 * (n - beyond) / n + 1e-9).toInt
    if (n <= beyond || p < 50) (100, xs.max)
    else {
      // Step down until the nearest rank leaves `beyond` samples above it.
      val ok = (p to 50 by -1).find(q => n - math.ceil(q / 100.0 * n).toInt >= beyond)
      ok.map(q => (q, percentile(xs, q))).getOrElse((100, xs.max))
    }
  }
}
