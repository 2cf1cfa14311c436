package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Interquartile mean: the mean of the samples left after dropping
    * the lowest and the highest quarter (`n / 4` each; all of them when
    * there are fewer than four).
    */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "iqm of no samples")
    val s = xs.sorted
    val mid = s.slice(s.size / 4, s.size - s.size / 4)
    mid.sum / mid.size
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * strictly above its nearest-rank position, or None when there are
    * too few samples for even the median to qualify.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
}
