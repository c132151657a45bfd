package graft.perfbench

/** One timed interval of the trace tree: run → pass → op → job → stage. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its length minus the time its children cover
    * (overlapping children, e.g. concurrent stages, count once). */
  def selfNs(span: Span, all: Seq[Span]): Long =
    span.durNs - covered(span.startNs, span.endNs,
      all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)))
}
