package perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Percentiles a tail metric may use, best (highest) first. */
  val TailCandidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a percentile for it to be reported. */
  val MinBeyond = 10

  /** The highest candidate percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => n * (100.0 - p) / 100.0 >= MinBeyond)

  /** Nearest-rank percentile (0 < p <= 100) of unsorted values. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
