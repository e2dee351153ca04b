package perfbench

/** Order statistics for latency samples.
  *
  * Percentiles interpolate linearly between closest ranks (the same
  * definition as numpy's default and Python's `statistics.quantiles`
  * with method "inclusive"). A tail percentile is only reported when at
  * least [[MinBeyond]] samples lie beyond it: with fewer, the value is
  * set by one or two outliers and says nothing about the tail. p95 needs
  * 200 samples of a kind; a run holds a few dozen, so p75 is the
  * fallback. */
object Stats {

  /** Samples a reported tail percentile must have beyond it. */
  val MinBeyond = 10

  /** Tail percentiles considered, highest first. */
  val TailLadder: Seq[Double] = Seq(95.0, 75.0)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 100.0, s"percentile out of range: $p")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly beyond the `p`-th percentile of `n` samples. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (1.0 - p / 100.0) + 1e-9).toInt

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when `n` supports no tail at all. */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= MinBeyond)

  def label(p: Double): String = s"p${p.toInt}"

  /** Geometric mean (every value must be positive). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
