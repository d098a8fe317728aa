package webdocbench

object Stats {
  /** nearest-rank quantile of a non-empty sample, q in [0, 1] */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** the highest of p50/p90/p99/p999 that leaves at least ten samples above
    * it; with fewer than forty samples there is no tail worth naming */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq("p999" -> 0.999, "p99" -> 0.99, "p90" -> 0.90)
      .find { case (_, q) => xs.length * (1 - q) >= 10 }
      .map { case (n, q) => n -> quantile(xs, q) }
}
