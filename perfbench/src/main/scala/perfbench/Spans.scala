package perfbench

/** One timed interval of a traced query. Times are epoch milliseconds;
  * `parent` is the id of the enclosing span, or -1 for the root. Every span
  * of one query carries the same `trace` id.
  */
final case class Span(trace: String, id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double) {
  def durationMs: Double = math.max(0.0, endMs - startMs)

  def json: String =
    s"""{"trace":"$trace","id":$id,"parent":$parent,"name":"$name",""" +
      f""""start_ms":$startMs%.3f,"end_ms":$endMs%.3f}"""
}

object Spans {

  /** Total length of the union of `intervals` after clipping each to
    * [lo, hi]. Overlapping children (parallel stages, say) count once.
    */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its direct children cover.
    */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durationMs -
      coveredMs(children.map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** Self time summed per span name over all given spans (of any traces). */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(s => (s.trace, s.parent))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => selfMs(s, kids.getOrElse((s.trace, s.id), Nil))).sum
    }
  }
}
