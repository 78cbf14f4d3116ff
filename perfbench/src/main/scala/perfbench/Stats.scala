package perfbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {

  /** Percentile ladder the tail is chosen from, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** A tail percentile and the sample count it rests on. */
  final case class Tail(pct: Double, value: Double, samples: Int)

  /** Nearest-rank percentile `p` (0-100] of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. The
    * product is rounded first so that 99.9% of 10000 is rank 9990. */
  private def rank(n: Int, p: Double): Int =
    math.ceil(math.rint(p / 100.0 * n * 1e6) / 1e6).toInt.max(1).min(n)

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest ladder percentile that leaves at least ten samples above
    * it. With fewer than twenty samples no percentile qualifies and the
    * median is reported instead; `samples` says how thin that is. */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val pct = TailLadder.find(p => n - rank(n, p) >= 10).getOrElse(50.0)
    Tail(pct, percentile(xs, pct), n)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Length of the part of [start, end) that `intervals` cover. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (s.max(start), e.min(end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
