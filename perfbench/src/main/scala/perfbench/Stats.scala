package perfbench

/** Sample statistics the report is built from. Pure functions, unit-tested
  * in StatsSpec.
  */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBacking = 10

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); `xs` non-empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail rule: the highest whole percentile that still has at least
    * [[TailBacking]] samples beyond it. None when even the median lacks that
    * backing.
    */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - TailBacking) / n).toInt
    if (n <= 0 || p < 50) None else Some(math.min(p, 99))
  }

  /** p90 under the tail rule: refused (None) below 100 samples, because
    * fewer than ten samples would lie beyond it.
    */
  def p90(xs: Seq[Double]): Option[Double] =
    tailPercentile(xs.length).filter(_ >= 90).map(_ => quantile(xs, 0.90))

  /** Total length of the union of half-open intervals [start, end). */
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

  /** Intervals clipped to [from, to). */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(i => i._2 > i._1)

  /** Self time of a span: its length minus the part of it that the union
    * of its children covers (children may overlap each other and may
    * stick out of the parent; only the covered part of the parent counts).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - unionLength(clip(children, span._1, span._2))

  /** Driver gap: the part of a window in which no Spark job ran. Jobs that
    * overlap (concurrent bucket jobs) count once.
    */
  def driverGap(window: (Long, Long), jobs: Seq[(Long, Long)]): Long = selfTime(window, jobs)

  /** Most intervals open at any one instant. */
  def maxInFlight(intervals: Seq[(Long, Long)]): Int = {
    val events = intervals.filter(i => i._2 > i._1)
      .flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy(ev => (ev._1, ev._2)) // an end at t closes before a start at t opens
    var cur = 0
    var best = 0
    events.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best
  }

  /** max ÷ median, 0 for no samples. */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val m = median(xs); if (m > 0) xs.max / m else 0.0 }
}
