package perfbench

/** Summary statistics over the per-op samples a run collects. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: a latency summary that weighs a 2x change of any op
    * kind the same, however the mix splits between fast and slow kinds. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Nearest-rank percentile of `xs`, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** A tail latency: the value at `percentile`, read off `samples` samples. */
  final case class Tail(percentile: Int, value: Double, samples: Int)

  /** The highest whole percentile (at most 99) whose nearest-rank sample
    * still has at least `beyond` samples above it, so a tail figure always
    * rests on at least that many observations. None when no percentile from
    * the median up qualifies (fewer than 2 × `beyond` samples).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
      .map(p => Tail(p, percentile(xs, p), n))
  }

  /** [[tail]], or the maximum (as percentile 100) when there are too few
    * samples, so a short run still reports its worst op. */
  def tailOrMax(xs: Seq[Double], beyond: Int = 10): Tail =
    tail(xs, beyond).getOrElse(Tail(100, xs.max, xs.length))

  /** Tracing overhead from `(kind, traced, seconds)` op samples: per op
    * kind, the median traced op minus the median untraced op, weighted by
    * the kind's op count, so the figure does not depend on which kinds
    * happened to be traced. Kinds lacking either side are left out; None
    * when no kind has both.
    */
  def pairedOverhead(ops: Seq[(String, Boolean, Double)]): Option[Double] = {
    val perKind = ops.groupBy(_._1).values.toSeq.flatMap { xs =>
      val (traced, untraced) = xs.partition(_._2)
      if (traced.isEmpty || untraced.isEmpty) None
      else Some(xs.size -> (median(traced.map(_._3)) - median(untraced.map(_._3))))
    }
    if (perKind.isEmpty) None
    else Some(perKind.map { case (n, d) => n * d }.sum / perKind.map(_._1).sum)
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
