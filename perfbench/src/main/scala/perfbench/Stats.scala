package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail a run can support: the highest nearest-rank percentile that
    * still has at least `beyond` calls above it. With n calls that is rank
    * n - beyond, i.e. percentile 100 (n - beyond) / n. */
  final case class Tail(percentile: Double, value: Double, calls: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    if (xs.length <= beyond) None
    else {
      val s = xs.sorted
      val rank = s.length - beyond
      Some(Tail(100.0 * rank / s.length, s(rank - 1), s.length, beyond))
    }
}
