package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Nearest-rank percentile (`p` in [0, 100]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail to report: the highest whole percentile that still leaves at
    * least `beyond` samples strictly above its rank. Returns
    * (percentile, value), or None when there are too few samples for any
    * percentile to have `beyond` samples past it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.length
    // nearest rank of percentile p is ceil(p*n/100); samples beyond it: n - rank
    val ok = (99 to 1 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= beyond)
    ok.map(p => p -> percentile(xs, p.toDouble))
  }
}
