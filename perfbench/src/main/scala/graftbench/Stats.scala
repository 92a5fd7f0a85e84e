package graftbench

/** Latency summaries. */
object Stats {

  /** Samples that must lie beyond the reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail as the highest percentile with at least [[TailBeyond]] samples
    * beyond it: the (n-10)-th smallest of n samples, whose percentile rank is
    * 100 * (n-10) / n. None (not applicable) with ten samples or fewer. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= TailBeyond) None
    else {
      val k = n - TailBeyond
      Some(Tail(xs.sorted.apply(k - 1), 100.0 * k / n, TailBeyond, n))
    }
  }
}
