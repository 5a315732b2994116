package perfbench

/** Order statistics and interval arithmetic used by the harness
  * report. Pure functions; unit-tested in StatsSpec. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Percentile ladder the tail metric reports from. */
  val Ladder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest ladder percentile that leaves at least `beyond`
    * samples strictly above its rank among `n` samples; 50 when even
    * the median has fewer. A tail read from fewer samples than that
    * is one or two outliers, not a percentile. */
  def tailPercentile(n: Int, beyond: Int = 10): Int =
    Ladder.find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .getOrElse(50)

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of a span: its length minus the part of it that its
    * children cover (children are clipped to the parent, and
    * overlapping children count once). */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (a, b) = parent
    val clipped = children.map { case (c, d) => (math.max(a, c), math.min(b, d)) }
    (b - a) - unionLength(clipped)
  }
}
