package perfbench

import scala.collection.mutable

/** Pure helpers for the metrics: percentiles and span self time. */
object Stats {

  /** Percentile `p` (0..100) of `xs` by linear interpolation between closest
    * ranks (the method of numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Number of samples beyond percentile `p` among `n`. */
  def beyond(n: Int, p: Double): Double = n * (100.0 - p) / 100.0

  /** The highest of `candidates` with at least `minBeyond` of the `n`
    * samples beyond it, if any: a tail percentile is only reported when
    * enough samples sit past it to pin it down. */
  def reportablePercentile(n: Int, candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50),
                           minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond - 1e-9)

  /** The union of `intervals` as sorted, disjoint intervals. */
  def merge(intervals: Seq[(Double, Double)]): Seq[(Double, Double)] =
    intervals.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((lo, hi) :: rest, (a, b)) if a <= hi => (lo, math.max(hi, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** The parts of `span` that none of its `children` cover. */
  def selfIntervals(span: Span, children: Seq[Span]): Seq[(Double, Double)] = {
    val gaps = mutable.ArrayBuffer.empty[(Double, Double)]
    var at = span.startMs
    merge(children.map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs))))
      .foreach { case (a, b) => if (a > at) gaps += ((at, a)); at = math.max(at, b) }
    if (span.endMs > at) gaps += ((at, span.endMs))
    gaps.toSeq
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children count once). */
  def selfTime(span: Span, children: Seq[Span]): Double =
    selfIntervals(span, children).map { case (a, b) => b - a }.sum

  /** Self time per layer: the wall time during which some span of the
    * layer was running on its own account. Spans of one layer that
    * overlap (stages of one job, say) count once. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> merge(ss.flatMap(s => selfIntervals(s, kids.getOrElse(s.id, Nil))))
        .map { case (a, b) => b - a }.sum
    }
  }
}

/** One traced interval. `parent` is -1 for a root. Times are epoch ms. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}
