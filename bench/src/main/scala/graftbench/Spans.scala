package graftbench

/** One timed interval of the benchmark's own calls into a layer, or of a
  * listener-reported job. Times are seconds since the run started. Spans of
  * one op share `op`; `parent` is the id of the enclosing span (-1 = root). */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      start: Double, end: Double) {
  def duration: Double = end - start
}

object Spans {
  /** Length of the union of `intervals`, each clipped to [from, to]. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's time minus the part of its interval its children cover. */
  def selfTime(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == span.id).map(c => (c.start, c.end))
    span.duration - covered(kids, span.start, span.end)
  }

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}","start":${s.start}%.6f,"end":${s.end}%.6f,"self":${selfTime(s, spans)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
