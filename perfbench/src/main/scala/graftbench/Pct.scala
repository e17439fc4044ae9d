package graftbench

/** A timing summary: median, the highest percentile that keeps at least
  * [[Pct.MinBeyond]] samples beyond it, and the sample count they rest on.
  * `tailPct` is 0 when the sample is too small for even a median.
  */
final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double) {
  def render(name: String, unit: String): String =
    if (n == 0) s"$name: n=0"
    else f"$name: p50=$p50%.3f $unit, p$tailPct%s=$tail%.3f $unit, n=$n"
}

/** Nearest-rank percentiles, the rule for which ones a sample supports,
  * and the open-loop latency clock.
  */
object Pct {

  /** A percentile is only reported when this many samples lie beyond it. */
  val MinBeyond = 10

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)

  /** 1-based nearest rank of the p-th percentile in n samples. */
  def rank(n: Int, p: Double): Int = {
    require(n > 0, "empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
  }

  /** Nearest-rank p-th percentile: the smallest sample with at least p %
    * of the sample at or below it. No interpolation.
    */
  def nearestRank(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(rank(xs.length, p) - 1)

  /** Samples that sort strictly after the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  def supported(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** Highest ladder percentile the sample supports, if any. */
  def highestSupported(n: Int): Option[Double] = Ladder.find(supported(n, _))

  def summary(xs: Seq[Double]): Summary =
    if (xs.isEmpty) Summary(0, Double.NaN, 0, Double.NaN)
    else {
      val s = xs.sorted
      val tp = highestSupported(s.length).getOrElse(50.0)
      Summary(s.length, s(rank(s.length, 50) - 1), tp, s(rank(s.length, tp) - 1))
    }

  /** Open-loop latency of one item in ms: from when it was due to be
    * sent, so a stall that delays later sends is charged to them too.
    */
  def fromDue(dueNanos: Long, doneNanos: Long): Double = (doneNanos - dueNanos) / 1e6

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else nearestRank(xs, 50)
}
