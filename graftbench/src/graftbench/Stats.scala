package graftbench

/** Order statistics for the latency samples and the span tree. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Percentiles the tail rule may report, highest first. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest ladder percentile that leaves at least 10 samples beyond
    * it: p qualifies when n·(100 − p)/100 ≥ 10. None below 20 samples. */
  def tailPercentile(n: Int): Option[Int] =
    TailLadder.find(p => n.toLong * (100 - p) >= 1000L)

  /** (percentile, value) of the tail rule, if the sample is large enough. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    tailPercentile(xs.length).map(p => (p, quantile(xs, p / 100.0)))

  /** A recorded interval of one span; times in ns. */
  final case class Interval(id: Long, parent: Long, start: Long, end: Long) {
    def duration: Long = end - start
  }

  /** Self time of each span: its duration minus the part of its interval
    * that the union of its direct children covers (children clipped to
    * the parent; overlapping children are counted once). */
  def selfTimes(spans: Seq[Interval]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
      s.id -> (s.duration - covered)
    }.toMap
  }
}
