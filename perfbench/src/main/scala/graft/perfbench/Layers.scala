package graft.perfbench

/** The per-layer metrics of the traced run, named after the engine's
  * modules. `perQuery` turns one query's timed phases and its share of the
  * listener's records into values; `perPass` folds a pass's queries. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count",
    "SparkEntry.build_self_s" -> "s",
    "operators.loop_jobs" -> "count", "operators.loop_s" -> "s",
    "Tables.schema_jobs" -> "count", "Tables.schema_s" -> "s",
    "Tables.scan_bytes" -> "bytes", "Tables.scan_rows" -> "count",
    "Tables.scan_nodes" -> "count",
    "plans.analysis_s" -> "s", "plans.optimize_s" -> "s", "plans.physical_s" -> "s",
    "plans.sql_executions" -> "count",
    "sources.jobs" -> "count", "sources.s" -> "s", "sources.write_bytes" -> "bytes",
    "sources.write_rows" -> "count", "sources.leaked_dirs" -> "count",
    "Bridge.blocks_written" -> "count", "Bridge.block_mb" -> "MB",
    "Bridge.retained_rdds" -> "count", "Bridge.peak_cached_mb" -> "MB",
    "exec.wall_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.run_s" -> "s", "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.task_wait_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "setup.jvm_s" -> "s", "trace.pass_s" -> "s", "trace.overhead_s" -> "s")

  /** What the benchmark measured around one query, outside Spark. */
  final case class Timed(buildS: Double, planS: Double, execS: Double,
      planner: Map[String, Double], retainedRdds: Int, leakedDirs: Int,
      build: Tracer.Window)

  private val MB = 1024.0 * 1024.0

  def perQuery(t: Timed, ev: Tracer.QueryEvents, cores: Int): Map[String, Double] = {
    def covered(js: Seq[Tracer.JobRec]): Double =
      Attribution.covered(js.map(_.interval)) / 1000.0
    val jobs = ev.jobs
    val build = jobs.collect { case (j, "build") => j }
    val byModule = jobs.map(_._1).groupBy(_.module.getOrElse(""))
    def moduleJobs(m: String) = byModule.getOrElse(m, Nil)
    val loops = build.filter(_.module.contains("operators"))
    val stages = ev.stages.map(_._1)
    val execStages = ev.stages.collect { case (s, "exec") => s }
    val execJobs = jobs.count(_._2 == "exec")
    val runS = execStages.map(_.runMs).sum / 1000.0
    val buildSelf = Attribution.selfTime(t.build.startMs, t.build.endMs, build.map(_.interval))
    Map(
      "SparkEntry.build_s" -> t.buildS,
      "SparkEntry.build_jobs" -> build.size.toDouble,
      "SparkEntry.build_self_s" -> buildSelf / 1000.0,
      "operators.loop_jobs" -> loops.size.toDouble,
      "operators.loop_s" -> covered(loops),
      "Tables.schema_jobs" -> moduleJobs("Tables").size.toDouble,
      "Tables.schema_s" -> covered(moduleJobs("Tables")),
      "Tables.scan_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "Tables.scan_rows" -> stages.map(_.inputRows).sum.toDouble,
      "Tables.scan_nodes" -> ev.scanNodes.toDouble,
      "plans.analysis_s" -> t.planner.getOrElse("analysis", 0.0),
      "plans.optimize_s" -> t.planner.getOrElse("optimization", 0.0),
      "plans.physical_s" -> t.planner.getOrElse("planning", 0.0),
      "plans.sql_executions" -> jobs.flatMap(_._1.sqlExec).distinct.size.toDouble,
      "sources.jobs" -> moduleJobs("sources").size.toDouble,
      "sources.s" -> covered(moduleJobs("sources")),
      "sources.write_bytes" -> stages.map(_.outputBytes).sum.toDouble,
      "sources.write_rows" -> stages.map(_.outputRows).sum.toDouble,
      "sources.leaked_dirs" -> t.leakedDirs.toDouble,
      "Bridge.blocks_written" -> stages.map(_.blocks).sum.toDouble,
      "Bridge.block_mb" -> stages.map(_.blockBytes).sum / MB,
      "Bridge.retained_rdds" -> t.retainedRdds.toDouble,
      "exec.wall_s" -> t.execS,
      "exec.jobs" -> execJobs.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execStages.map(_.tasks).sum.toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> execStages.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> execStages.map(_.gcMs).sum / 1000.0,
      "exec.task_wait_s" -> execStages.map(_.waitMs).sum / 1000.0,
      "exec.busy_frac" -> (if (t.execS > 0) runS / (t.execS * cores) else 0.0),
      "exec.failed_tasks" -> execStages.map(_.failedTasks).sum.toDouble,
      "shuffle.write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble)
  }

  /** A pass's totals: sums over its queries, except `exec.busy_frac`,
    * which is the ratio of the summed run time to the summed capacity. */
  def perPass(queries: Seq[Map[String, Double]], cores: Int, peakCachedBytes: Long)
      : Map[String, Double] = {
    val keys = queries.headOption.map(_.keySet).getOrElse(Set.empty)
    val sums = keys.map(k => k -> queries.map(_.getOrElse(k, 0.0)).sum).toMap
    val wall = sums.getOrElse("exec.wall_s", 0.0)
    sums ++ Map(
      "exec.busy_frac" -> (if (wall > 0) sums("exec.run_s") / (wall * cores) else 0.0),
      "Bridge.peak_cached_mb" -> peakCachedBytes / MB)
  }
}
