package graft.perfbench

/** The traced run's span tree: run -> pass -> query -> phase (build, plan,
  * exec, sweep) -> Spark job. All spans of one query share its id as a
  * prefix. Self time is a span's duration minus what its children cover. */
object Spans {
  final case class Span(id: String, parent: String, kind: String, name: String,
      startMs: Long, endMs: Long, selfMs: Long) {
    def json: Json.Value = Json.obj("id" -> Json.Str(id), "parent" -> Json.Str(parent),
      "kind" -> Json.Str(kind), "name" -> Json.Str(name), "start_ms" -> Json.Num(startMs.toDouble),
      "end_ms" -> Json.Num(endMs.toDouble), "self_ms" -> Json.Num(selfMs.toDouble))
  }

  private def span(id: String, parent: String, kind: String, name: String,
      start: Long, end: Long, children: Seq[(Long, Long)]): Span =
    Span(id, parent, kind, name, start, end, Attribution.selfTime(start, end, children))

  def of(passes: Seq[Main.PassRun], t: Tracer): Seq[Span] = {
    val perPass = passes.map { p =>
      val queries = p.queries.flatMap { q =>
        val jobs = t.forQuery(q.span).jobs
        val phases = q.windows.flatMap { w =>
          val pid = s"${q.span}/${w.phase}"
          val js = jobs.collect { case (j, ph) if ph == w.phase =>
            span(s"${q.span}/job-${j.id}", pid, "job", s"job ${j.id}", j.startMs, j.end, Nil)
          }
          span(pid, q.span, "phase", w.phase, w.startMs, w.endMs,
            js.map(j => (j.startMs, j.endMs))) +: js
        }
        val start = q.windows.map(_.startMs).min
        val end = q.windows.map(_.endMs).max
        span(q.span, s"pass-${p.index}", "query", q.name, start, end,
          q.windows.map(w => (w.startMs, w.endMs))) +: phases
      }
      val top = queries.filter(_.kind == "query").map(s => (s.startMs, s.endMs))
      span(s"pass-${p.index}", "run", "pass", p.kind, p.startMs, p.endMs, top) +: queries
    }
    if (passes.isEmpty) Nil
    else {
      val ps = perPass.map(_.head)
      span("run", "", "run", "traced passes", ps.map(_.startMs).min, ps.map(_.endMs).max,
        ps.map(s => (s.startMs, s.endMs))) +: perPass.flatten
    }
  }
}
