package perfbench

/** Summary statistics the report uses. */
object Stats {

  /** Linear-interpolated quantile of a non-empty sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the standard percentiles (p99, p90, p75) that has at
    * least ten samples strictly beyond it, or None when the sample is too
    * small for any of them. A tail figure with fewer samples beyond it
    * is a single observation, not a percentile. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 90, 75).find(p => n - math.ceil(n * p / 100.0).toInt >= 10)

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover. Children may overlap each other (calls
    * made from a thread pool), so the covered part is the union of the
    * child intervals, clipped to the parent. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** Metric names are limited to this alphabet so every consumer can
    * parse them without quoting. */
  def validName(n: String): Boolean = n.matches("[A-Za-z0-9_.-]+")
}
