package perfbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Rank (1-based) of the nearest-rank percentile `p` of `n` samples.
    * `p` is taken in tenths so that no float rounding moves the rank. */
  def rank(n: Int, p: Double): Int = {
    val tenths = math.round(p * 10).toLong
    math.max(1, ((tenths * n + 999) / 1000).toInt)
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(rank(xs.size, p) - 1)

  /** Tail latency: the value at `percentile`, with `beyond` of the
    * `samples` ranked above it. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  val tailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile of [[tailLadder]] above the median with at
    * least ten samples beyond it. Where there is none (fewer than 40
    * samples) the tail is reported as the median, percentile 50, and
    * `beyond` says how many samples lie above the median's rank. */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    def beyond(p: Double) = n - rank(n, p)
    tailLadder.find(p => beyond(p) >= 10) match {
      case Some(p) => Tail(percentile(xs, p), p, beyond(p), n)
      case None => Tail(median(xs), 50.0, beyond(50.0), n)
    }
  }
}
