package perfbench

/** Order statistics and interval arithmetic behind the reported metrics. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency with the evidence behind it: `beyond` samples are
    * strictly later in the sorted order than `value`, out of `samples`. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile that still has `minBeyond` samples beyond it:
    * the (minBeyond+1)-th largest sample. Below 2*minBeyond+1 samples that
    * order statistic sits at or under the median, which is no tail at all;
    * the maximum is reported instead, and `beyond` says it has none. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * minBeyond + 1) Tail(s.last, 100.0, 0, n)
    else {
      val i = n - minBeyond - 1
      Tail(s(i), 100.0 * (i + 1) / n, n - 1 - i, n)
    }
  }

  /** Length of the union of half-open intervals [start, end): time during
    * which at least one interval was open, so overlapping intervals are
    * not counted twice. */
  def mergedLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
