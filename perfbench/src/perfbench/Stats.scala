package perfbench

/** Summary statistics over one run's samples. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..1) of `xs`: the smallest sample
    * with at least `p` of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside 0..1")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Whether `n` samples support percentile `p`: at least ten samples lie
    * beyond it. */
  def supports(n: Int, p: Double): Boolean = n - math.ceil(p * n).toInt >= 10

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}
