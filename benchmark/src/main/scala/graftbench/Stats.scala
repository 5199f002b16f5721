package graftbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    // the r-th smallest sample (1-based) has n - r samples beyond it
    val r = n - 10
    if (r < 1) None else Some(((r * 100) / n, s(r - 1)))
  }

  /** Least-squares slope of ys against their index. */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.length
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
  }
}
