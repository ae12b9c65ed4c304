package perfbench

/** The benchmark's own arithmetic: order statistics over per-pass samples,
  * interval unions for span self time, and failure accounting. Pure
  * functions, unit-tested in StatsSpec. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile (the numpy default) of a non-empty
    * sample; `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0.0 && q <= 100.0, s"percentile $q outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual tail percentiles that has at least ten
    * samples beyond it, if any: a tail quoted from fewer samples is noise. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0).find(q => n * (100.0 - q) / 100.0 >= 10.0 - 1e-9)

  /** A timing as it is reported: median, the supported tail, sample count. */
  final case class Summary(median: Double, tail: Option[(Double, Double)],
                           n: Int)

  def summarize(xs: Seq[Double]): Summary =
    Summary(median(xs), tailPercentile(xs.length).map(q =>
      (q, percentile(xs, q))), xs.length)

  /** Total length covered by a set of half-open intervals (start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a
          curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children are clipped to the span; overlapping
    * children count once). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    math.max(0L, e - s) - unionLength(clipped)
  }

  /** Failed share of attempted work: rows that carry an error plus every
    * unit of a pass that threw, over all units attempted. */
  def failedFrac(errorUnits: Long, thrownUnits: Long, attempted: Long): Double = {
    require(attempted > 0, "nothing attempted")
    (errorUnits + thrownUnits).toDouble / attempted
  }
}
