package perfbench

/** Order statistics for the benchmark's reported numbers. */
object Stats {

  /** Samples a percentile needs strictly above its rank. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`.
    *
    * Refuses (throws) when fewer than [[MinBeyond]] samples lie strictly
    * above the chosen rank: a percentile resting on a handful of samples is
    * a single outlier, not a distribution. Sizing a run so its percentiles
    * pass this check is the workload's job.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    require(xs.nonEmpty, "percentile of an empty sample")
    val sorted = xs.sorted
    val rank = math.max(1, math.ceil(p * sorted.size).toInt)
    val beyond = sorted.size - rank
    require(beyond >= MinBeyond,
      f"p${p * 100}%.0f of ${sorted.size} samples has $beyond beyond it; " +
        s"need at least $MinBeyond")
    sorted(rank - 1)
  }

  /** Median of any non-empty sample (mean of the two middle values). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, or 0 for a layer that recorded no samples in this workload. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def maxOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.max
}
