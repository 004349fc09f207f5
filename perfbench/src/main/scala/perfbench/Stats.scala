package perfbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  val Levels: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** The highest of `Levels` that still has at least `beyond` samples
    * above its nearest rank, with its value; None when even the median
    * has fewer (a tail read from fewer samples is noise).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    Levels.reverse.find(p => xs.length - math.ceil(p * xs.length).toInt >= beyond)
      .map(p => (p, percentile(xs, p)))
}
