package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` % of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Percentiles a tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail of a latency sample: the highest candidate percentile that has
    * at least ten samples beyond its rank, and its value. With fewer than
    * twenty samples no candidate qualifies and the median is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = TailCandidates.find(p => n - rank(n, p) >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}
