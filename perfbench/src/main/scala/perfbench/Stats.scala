package perfbench

/** Percentiles and the result line. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of a non-empty sample. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  def nowS: Double = System.nanoTime() / 1e9

  /** The last line of a run: verdict, operation counts and metrics. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite")
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
