package perfbench

/** Order statistics for the latency samples of one run. */
object Stats {

  /** Samples that must lie beyond a percentile for it to count as measured. */
  val MinBeyond = 10

  /** A tail latency: `value` is the nearest-rank `percentile` of `n`
    * samples, and `beyond` samples rank above it.
    */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least [[MinBeyond]]
    * samples ranked above it: the sample with exactly MinBeyond above it, at
    * percentile 100 (n - MinBeyond) / n. Being the same order statistic
    * counted from the top, it stays comparable between runs whose sample
    * counts differ a little. It is never taken below the median: with fewer
    * than 2 x MinBeyond samples the median is returned and `beyond` shows
    * the shortfall.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val r = math.max(n - MinBeyond, rank(50, n))
    Tail(100.0 * r / n, s(r - 1), n - r, n)
  }
}
