package retrbench

/** Order statistics used by every reported timing. */
object Stats {

  /** linear-interpolated quantile (p in [0, 1]) of the sorted copy */
  def quantile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of no samples")
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least ten samples above it,
    * floored at p75: below 40 samples that rule would fall under p75 (and
    * under the median below 20), so short runs report p75 instead, with
    * fewer than ten samples above it. Interpolated like [[quantile]];
    * reported with its percentile and the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Iterable[Double]): Tail = {
    val n = xs.size
    require(n > 0, "tail of no samples")
    val p = math.max(0.75, (n - 10).toDouble / n)
    Tail(quantile(xs, p), 100.0 * p, n)
  }
}
