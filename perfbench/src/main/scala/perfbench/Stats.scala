package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (`p` in 0..100); 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
