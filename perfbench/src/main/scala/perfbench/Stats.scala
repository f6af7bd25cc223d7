package perfbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * on its own.
  */
object Stats {

  /** A percentile together with the number of samples it was taken
    * from: a p90 of five samples is not the p90 of five hundred. */
  final case class Pct(value: Double, n: Int)

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    Pct(sorted(rank - 1), sorted.size)
  }

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Time in `[lo, hi]` during which none of `busy` was running: the
    * wall of a window minus the union of its task intervals. */
  def idle(busy: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    (hi - lo) - unionLength(busy, lo, hi)

  /** R² from the sums one aggregate pass yields: row count, sum and sum
    * of squares of the target, and the residual sum of squares. */
  def r2(n: Long, sumY: Double, sumY2: Double, ssRes: Double): Double = {
    val ssTot = sumY2 - sumY * sumY / n
    require(ssTot > 0, "R² of a constant target")
    1.0 - ssRes / ssTot
  }
}
