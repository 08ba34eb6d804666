package perfbench

/** Summary helpers. Percentiles interpolate linearly between the two
  * closest ranks (the common "type 7" definition), so p50 of an even count
  * is the mean of the middle pair. */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0.0 && p <= 100.0, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Units per second over a window given in nanoseconds. */
  def rate(units: Double, windowNanos: Long): Double = {
    require(windowNanos > 0L, "rate over an empty window")
    units * 1e9 / windowNanos
  }

  /** Relative difference `(b - a) / a` in percent. */
  def pctChange(a: Double, b: Double): Double =
    if (a == 0.0) 0.0 else (b - a) / a * 100.0
}
