package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Quantile `q` (0..1) of `xs`, linearly interpolated between the two
    * closest ranks (the numpy / `statistics.quantiles` "inclusive" rule). */
  def quantile(xs: Array[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  /** Least-squares slope of y over x. */
  def slope(xy: Seq[(Double, Double)]): Double = {
    val n = xy.size.toDouble
    val mx = xy.map(_._1).sum / n
    val my = xy.map(_._2).sum / n
    xy.map { case (x, y) => (x - mx) * (y - my) }.sum / xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }

  /** A tail statistic: the value at `percentile`, over `count` samples. */
  final case class Tail(percentile: Int, value: Double, count: Int)

  /** The highest whole percentile, at most 99, that still has at least
    * `beyond` samples above it, so a tail is never read off one or two
    * outliers: 1000 samples give p99, 500 give p98, 20 give p50. With
    * `beyond` or fewer samples no percentile qualifies and the maximum is
    * returned, labelled 100. */
  def tail(xs: Array[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    if (n <= beyond) Tail(100, xs.max, n)
    else {
      val p = math.min(99, math.floor(100.0 * (n - beyond) / n + 1e-9).toInt)
      Tail(p, quantile(xs, p / 100.0), n)
    }
  }
}

/** Backlog arithmetic for the MemKafka topic between the producer and
  * the consumer query. */
object Backlog {

  /** Records in the broker log that the consumer has not read yet: the
    * broker's size minus the end offset of the consumer's last batch. */
  def memkafka(brokerSize: Long, consumerEnd: Long): Long =
    math.max(0L, brokerSize - consumerEnd)

  /** Whether a backlog series grew across a run: the peak of its last
    * third exceeds the peak of its first third by more than `slack`.
    * Peaks, not means, because a micro-batch consumer drains in a saw
    * tooth; a flat saw tooth is a sustained rate, a rising one is not. */
  def grew(samples: Array[Long], slack: Long): Boolean =
    if (samples.length < 3) false
    else {
      val third = samples.length / 3
      val first = samples.take(third).max
      val last = samples.takeRight(third).max
      last - first > slack
    }
}
