package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** The traced run's SparkListener. It keeps every job, stage, task total
  * and SQL execution in memory; the benchmark reads them back per query
  * after draining the listener bus.
  *
  * Every query is a span with an id that the benchmark sets as a local
  * property ([[Tracer.SpanKey]]) on the calling thread, so it reaches the
  * jobs that thread starts. Jobs from a thread pool that did not inherit
  * it fall back to the time window they start in (see [[forQuery]]). */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val sqlExecs = mutable.HashMap.empty[Long, (Int, Option[String])]
  private val rddStage = mutable.HashMap.empty[Int, StageRec]
  private val spans = mutable.HashMap.empty[String, Seq[Window]]
  private val cachedBlocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val sqlExec = Option(prop(e.properties, "spark.sql.execution.id")).flatMap(_.toLongOption)
    // jobs a SQL execution starts from a helper thread (broadcasts) have no
    // engine frame; the execution's own call site names the caller then
    val module = Attribution.module(result)
      .orElse(sqlExec.flatMap(sqlExecs.get).flatMap(_._2))
    jobs(e.jobId) = JobRec(e.jobId, prop(e.properties, SpanKey),
      e.time, e.time, module, sqlExec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val s = stages.getOrElseUpdate(info.stageId, new StageRec(info.stageId,
      prop(e.properties, SpanKey), info.submissionTime.getOrElse(System.currentTimeMillis())))
    info.rddInfos.foreach(r => rddStage.getOrElseUpdate(r.id, s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
      s.waitMs += (e.taskInfo.launchTime - s.submittedMs).max(0L)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.outputRows += m.outputMetrics.recordsWritten
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      // a block written for the first time counts for the stage that
      // first computed its RDD (persist and checkpoint blocks alike)
      if (size > 0 && !cachedBlocks.contains(key)) info.blockId.asRDDId
        .flatMap(id => rddStage.get(id.rddId)).foreach { s =>
          s.blocks += 1
          s.blockBytes += size
        }
      cachedBytes += size - cachedBlocks.getOrElse(key, 0L)
      if (size > 0) cachedBlocks(key) = size else cachedBlocks.remove(key)
      cachedPeak = cachedPeak max cachedBytes
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized {
        sqlExecs(s.executionId) = (scanNodes(s.sparkPlanInfo), Attribution.module(s.details))
      }
    case _ => ()
  }

  /** Forgets the blocks seen so far: the listener misses the unpersists of
    * the plain passes it is detached for, and each pass starts swept. */
  def resetCached(): Unit = synchronized {
    cachedBlocks.clear()
    cachedBytes = 0L
    cachedPeak = 0L
  }

  /** Most bytes RDD blocks held at once since [[resetCached]]. */
  def cachedPeakBytes: Long = synchronized(cachedPeak)

  /** Marks `span` live from `startMs` until [[finish]] gives its phases. */
  def begin(span: String, startMs: Long): Unit = synchronized {
    spans(span) = Seq(Window("", startMs, Long.MaxValue))
  }

  def finish(span: String, phases: Seq[Window]): Unit = synchronized {
    spans(span) = phases
  }

  /** Jobs and stages of one query: those that started inside one of its
    * phase windows and carry its span id, no span id, or the id of a span
    * not live at that moment (pool threads keep the properties of the
    * query that created them). The phase is the window a job starts in. */
  def forQuery(span: String): QueryEvents = synchronized {
    val windows = spans.getOrElse(span, Nil)
    def phaseAt(ms: Long): Option[String] =
      windows.find(w => ms >= w.startMs && ms <= w.endMs).map(_.phase)
    def live(other: String, ms: Long): Boolean =
      other != null && spans.get(other).exists(_.exists(w => ms >= w.startMs && ms <= w.endMs))
    def owned(other: String, ms: Long): Option[String] =
      phaseAt(ms).filter(_ => other == span || !live(other, ms))
    val js = jobs.values.toSeq.flatMap(j => owned(j.span, j.startMs).map(j -> _))
    val ss = stages.values.toSeq.flatMap(s => owned(s.span, s.submittedMs).map(s -> _))
    val scans = js.flatMap(_._1.sqlExec).distinct.map(id => sqlExecs.get(id).fold(0)(_._1)).sum
    QueryEvents(js, ss, scans)
  }
}

object Tracer {
  val SpanKey = "graft.perfbench.span"

  final case class Window(phase: String, startMs: Long, endMs: Long)

  final case class JobRec(id: Int, span: String, startMs: Long,
      var end: Long, module: Option[String], sqlExec: Option[Long]) {
    def interval: (Long, Long) = (startMs, end)
  }

  /** A query's jobs and stages, each with its phase, and the `Scan parquet`
    * operators across the SQL executions its jobs ran in. */
  final case class QueryEvents(jobs: Seq[(JobRec, String)], stages: Seq[(StageRec, String)],
      scanNodes: Int)

  final class StageRec(val id: Int, val span: String, val submittedMs: Long) {
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var inputBytes, inputRows, outputBytes, outputRows = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
    var blocks, blockBytes = 0L
  }

  private def prop(p: java.util.Properties, key: String): String =
    if (p == null) null else p.getProperty(key)

  /** `Scan parquet` operators in a physical plan tree. */
  def scanNodes(p: SparkPlanInfo): Int =
    (if (p.nodeName.startsWith("Scan parquet")) 1 else 0) + p.children.map(scanNodes).sum
}
