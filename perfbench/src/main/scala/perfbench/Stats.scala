package perfbench

/** Order statistics and interval arithmetic for the benchmark's reports. */
object Stats {

  /** Percentile `p` (0..100) of `xs` by linear interpolation between the
    * closest ranks (the "inclusive" definition: p0 = min, p100 = max).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail percentiles (p99.9, p99, p95, p90) that
    * has at least `beyond` samples above it, or None when the sample is too
    * small for any of them.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0).find(p => n * (100 - p) / 100 + 1e-9 >= beyond)

  /** Total length of the union of closed intervals, each clipped to
    * [from, to].
    */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced interval: a public call, a Spark job or a planning phase. */
final case class Span(id: Int, workload: String, call: Int, layer: String,
                      name: String, startMs: Long, endMs: Long, parent: Int) {
  def toJson: String =
    s"""{"id":$id,"workload":"$workload","call":$call,"layer":"$layer",""" +
      s""""name":"$name","start_ms":$startMs,"end_ms":$endMs,"parent":$parent}"""
}

object Span {
  /** Self time per layer: each span's duration minus the part of it that
    * its children cover.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs - Stats.coveredMs(kids, s.startMs, s.endMs)) / 1e3
      }.sum
    }
  }
}
