package perfbench

/** Order statistics for latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The highest whole percentile that still leaves at least `beyond`
    * samples above its rank, with its value; None when fewer than
    * `beyond + 1` samples exist. A tail read off fewer samples than that is
    * a single outlier, not a percentile. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .map(p => (p, percentile(xs, p)))
  }
}
