package graft.perfbench

/** Maps Spark call sites to the engine's modules, and spans to self time. */
object Attribution {
  /** The engine module a job belongs to, from its stage's long call site
    * (`StageInfo.details`: one stack frame per line, innermost first).
    * The first frame of an engine class decides: a frame in a package
    * (`graft.operators.Dedup$.clusterPairs`) gives the package
    * (`operators`), a top-level object (`graft.Tables$.table`) gives the
    * object (`Tables`). Frames of this benchmark are skipped. None when no
    * engine frame is on the stack (jobs started from a pool thread). */
  def module(details: String): Option[String] =
    details.linesIterator.map(frameClass).collectFirst {
      case c if c.startsWith("graft.") && !c.startsWith("graft.perfbench.") =>
        val part = c.split('.')(1)
        if (part.headOption.exists(_.isLower)) part else part.takeWhile(_ != '$')
    }

  /** Class name of one `StackTraceElement.toString` line: drops the source
    * position, the method, and any `loader/module/` prefix. */
  private def frameClass(frame: String): String = {
    val call = frame.trim.takeWhile(_ != '(')
    val qualified = call.substring(call.lastIndexOf('/') + 1)
    qualified.substring(0, qualified.lastIndexOf('.').max(0))
  }

  /** Length of the union of half-open intervals `[start, end)`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover (children may overlap each other and may
    * stick out of the parent; only the overlap with the parent counts). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children.map { case (s, e) => (s max start, e min end) })
}
