package perfbench

/** Order statistics for timing samples.
  *
  * A tail percentile is only reported when at least ten samples lie
  * beyond it (p90 needs 100 samples, p99 needs 1000): with fewer, the
  * "percentile" is one or two unlucky samples and moves at random
  * between runs.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p < 100), or None when fewer than
    * ten samples lie strictly above its rank. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    val n = xs.length
    val rank = math.ceil(p / 100.0 * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < 10) None
    else Some(xs.sorted.apply(rank - 1))
  }
}
