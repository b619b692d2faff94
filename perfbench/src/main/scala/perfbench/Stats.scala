package perfbench

/** Order statistics used by every metric the benchmark reports.
  *
  * Percentiles are nearest-rank: the p-th percentile of n sorted samples is
  * the sample at 1-based rank ceil(p/100 * n). A percentile is only
  * "supported" when at least [[MinBeyond]] samples lie strictly beyond its
  * rank, so a tail figure is never read off a handful of points. */
object Stats {

  val MinBeyond = 10

  /** Percentiles the summary considers, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  private def rank(p: Double, n: Int): Int = {
    require(n > 0, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    // guard against 0.99 * 1000 = 989.9999999 style rounding
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
  }

  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rank(p, sorted.size) - 1)

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(p, n)

  /** The highest percentile of [[Ladder]] with at least [[MinBeyond]]
    * samples beyond it, or None when even the median lacks them. */
  def highestSupported(n: Int): Option[Double] =
    if (n == 0) None else Ladder.filter(p => beyond(n, p) >= MinBeyond).lastOption

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median of the sample, 0 when it is empty (a layer that did no work). */
  def medianOr0(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def percentileOr0(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.toIndexedSeq.sorted, p)
}
