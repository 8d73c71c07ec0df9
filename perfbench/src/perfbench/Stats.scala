package perfbench

/** Order statistics used for every timing the benchmark reports.
  *
  * Percentiles are nearest-rank: the p-th percentile of n samples is the
  * value at 1-based rank ceil(p/100 * n) of the sorted samples, so every
  * reported value is a measured sample, never an interpolation. */
object Stats {

  /** A tail percentile: `value` sits at `percentile` of `n` samples and has
    * exactly `beyond` samples ranked above it. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  /** Samples that must rank above the reported tail value. */
  val TailBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile with at least `beyond` samples above it: the
    * sample at rank n - beyond, which is percentile 100 * (n - beyond) / n.
    * None when there are not more than `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some(Tail(100.0 * (n - beyond) / n, s(n - beyond - 1), n))
    }
  }

  /** Length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
