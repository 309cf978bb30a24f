package perfbench

/** Sample statistics with the conventions every reported number follows:
  * medians average the two middle samples for even counts, and a
  * percentile exists only when at least ten samples lie beyond it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The p-th percentile (0 < p < 1) by linear interpolation between order
    * statistics, or None when fewer than ten samples lie above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    if (n == 0 || n * (1 - p) < 10 - 1e-9) None
    else {
      val s = xs.sorted
      val h = (n - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, n - 1)
      Some(s(lo) + (h - lo) * (s(hi) - s(lo)))
    }
  }
}
