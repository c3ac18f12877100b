package perfbench

/** Order statistics as Python's `statistics` module computes them, so the
  * figures printed here match what a reader recomputes from the record.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentile `p` (0–100) by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (s(i + 1) - s(i)) * (pos - i)
  }
}
