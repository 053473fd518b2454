package graftbench

/** Summary statistics for timing samples. */
object Stats {

  /** A percentile value with the sample count it was taken from. */
  final case class Pct(p: Double, value: Double, n: Int)

  /** Samples that must lie above a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank `p`-th percentile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie beyond it (p50 needs 20 samples, p90 100). */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p > 0 && p < 100, s"percentile out of range: $p")
    val n = xs.size
    val rank = math.ceil(p / 100 * n).toInt
    if (n == 0 || n - rank < MinBeyond) None
    else Some(Pct(p, xs.sorted.apply(rank - 1), n))
  }

  /** Highest of `ps` that [[percentile]] can report for `xs`. */
  def highest(xs: Seq[Double], ps: Seq[Double] = Seq(99, 95, 90, 75, 50)): Option[Pct] =
    ps.sorted.reverseIterator.map(percentile(xs, _)).collectFirst { case Some(x) => x }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
