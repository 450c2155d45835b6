package graftbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The q-quantile (0 < q < 1) of a sample, or None when fewer than
    * 10 samples lie strictly above its rank: a percentile is reported
    * only where it has at least ten samples beyond it, so a median
    * needs 20 samples and a p90 needs 100.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile must lie in (0, 1), got $q")
    val n = xs.length
    val rank = math.ceil(q * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < 10) None
    else if (q == 0.5) Some(median(xs))
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover. Children may overlap each other and may
    * stick out of the parent; only the covered part inside counts once.
    */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }
}
