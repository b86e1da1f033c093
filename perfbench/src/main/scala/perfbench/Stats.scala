package perfbench

/** The benchmark's summary statistics. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" rule: position q·(n−1) in
    * the sorted sample). NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** NaN for an empty sample. */
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Open-loop latency in ms: from the request's DUE time (its place in the
    * arrival schedule), not from when a sender got to it — so a stall also
    * charges the wait it imposes on every request queued behind it. */
  def latencyFromDueMs(dueNs: Long, endNs: Long): Double = (endNs - dueNs) / 1e6

  /** How late the generator sent a request, in ms (>= 0). */
  def lateMs(dueNs: Long, sentNs: Long): Double = math.max(0L, sentNs - dueNs) / 1e6
}
