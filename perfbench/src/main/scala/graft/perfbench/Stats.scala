package graft.perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** The `q`-quantile (0..1) of `xs` by linear interpolation between
    * closest ranks. NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples strictly beyond percentile `p` in a sample of `n`. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (100.0 - p) / 100.0 + 1e-9).toInt

  /** The highest percentile that has at least ten samples beyond it, so
    * a tail figure always rests on ten or more observations. None when
    * even the median has fewer than ten beyond it (n < 20). */
  def tailPercentile(n: Int): Option[Double] =
    TailPercentiles.find(p => beyond(n, p) >= 10)

  /** "p<pct>=<value> unit (n=<count>)" for the report, by [[tailPercentile]]. */
  def tailText(xs: Seq[Double], unit: String): String =
    tailPercentile(xs.size) match {
      case Some(p) =>
        val label = if (p == p.floor) p.toInt.toString else p.toString
        f"p$label=${quantile(xs, p / 100)}%.4f $unit (n=${xs.size})"
      case None => s"no percentile has ten samples beyond it (n=${xs.size})"
    }
}
