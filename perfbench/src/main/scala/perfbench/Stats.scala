package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the tracer. */
object Stats {

  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** The tail of a sample of `n`: the highest percentile that leaves at
    * least 10 samples beyond it, when that is at least the median.
    * Workloads fix `n` (their minimum op count), so two builds report the
    * same level. */
  def tailLevel(n: Int): Option[Double] =
    if (n < 20) None else Some(100.0 * (n - 10) / n)

  /** Total length of the union of [start, end) intervals, each clipped to
    * [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: a letter or digit, then letters, digits, `_`, `.`, `-`;
    * at most 64 characters. */
  def validName(name: String): Boolean = NamePattern.matches(name)
}
