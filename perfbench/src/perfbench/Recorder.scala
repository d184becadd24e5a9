package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory, around the benchmark's own calls into the
  * library. Times are epoch milliseconds (with a fractional part), the
  * clock Spark stamps its listener events with, so jobs and SQL
  * executions can be placed inside spans.
  *
  * While a span is open its id is the `perfbench.span` local property,
  * so every Spark job submitted from inside it carries the id.
  */
final class Spans(sc: SparkContext, @volatile var enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var open: List[Int] = Nil
  private var next = 0

  def apply[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    val start = nowMs
    open = id :: open
    sc.setLocalProperty(Spans.Property, id.toString)
    try body
    finally {
      val end = nowMs
      open = open.tail
      sc.setLocalProperty(Spans.Property, open.headOption.map(_.toString).orNull)
      done += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start" -> start, "end" -> end)
    }
  }

  def records: Seq[Map[String, Any]] = done.toSeq
}

object Spans {
  val Property = "perfbench.span"
}

/** Listener-side counters: Spark jobs and task metrics, SQL executions
  * with the files they read and wrote, the Catalyst phase times of each
  * action, streaming progress and cache block updates. Everything is
  * kept in memory and handed to the report at the end of the run.
  */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private final class Job(val id: Int, val span: Int, val execution: Long,
      val start: Long) {
    @volatile var end = -1L
  }

  private final class StageAgg {
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
  }

  /** Gates every callback, so the untraced passes of a traced run do
    * no recording work.
    */
  @volatile var active = false

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val streamProgress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachedBytes = new AtomicLong(0L)
  private val cachePeak = new AtomicLong(0L)
  private val blocksSeen = ConcurrentHashMap.newKeySet[String]()

  // ── SparkListener ──────────────────────────────────────────────────
  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val job = new Job(e.jobId,
      prop(Spans.Property).map(_.toInt).getOrElse(-1),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val job = jobs.get(e.jobId)
    if (job != null) job.end = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    agg.synchronized {
      agg.tasks += 1
      if (e.reason != Success) agg.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.inBytes += m.inputMetrics.bytesRead
        agg.inRows += m.inputMetrics.recordsRead
        agg.outBytes += m.outputMetrics.bytesWritten
        agg.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (active) {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = Option(blocks.put(id, size)).map(_.longValue).getOrElse(0L)
      if (size > 0) blocksSeen.add(id)
      val now = cachedBytes.addAndGet(size - prev)
      cachePeak.accumulateAndGet(now, math.max)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (active) e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
      execRoot.put(s.executionId, s.rootExecutionId.getOrElse(s.executionId))
    case s: SparkListenerSQLExecutionEnd =>
      execEnd.put(s.executionId, s.time)
      PerfbenchAccess.queryExecution(s).foreach { qe =>
        // a failed execution may have no executed plan to describe
        try executions.add(describe(s.executionId, qe))
        catch { case NonFatal(_) => }
      }
    case _ =>
  }

  // ── QueryExecutionListener: Catalyst phases of each action ─────────
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) actions.add(phases(funcName, qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    if (active) actions.add(phases(funcName, qe))

  private def phases(funcName: String, qe: QueryExecution): Map[String, Any] = {
    val ph = qe.tracker.phases
    val p = ph.map { case (k, v) => k -> v.durationMs }
    Map("func" -> funcName,
      "start" -> (if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min),
      "analysis_ms" -> p.getOrElse("analysis", 0L),
      "optimization_ms" -> p.getOrElse("optimization", 0L),
      "planning_ms" -> p.getOrElse("planning", 0L))
  }

  /** Files an execution wrote and scanned, and the output rows of its
    * nested-loop joins (the similarity kernel's cross join).
    */
  private def describe(executionId: Long, qe: QueryExecution): Map[String, Any] = {
    val plan: SparkPlan = qe.executedPlan
    val writes = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec => w
    }.flatMap { w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
          Some(Map("path" -> i.outputPath.toString,
            "files" -> metric("numFiles"), "rows" -> metric("numOutputRows"),
            "bytes" -> metric("numOutputBytes")))
        case _ => None
      }
    }
    val scans = collectWithSubqueries(plan) {
      case f: FileSourceScanExec => f
    }.map { f =>
      Map("paths" -> f.relation.location.rootPaths.map(_.toString),
        "files" -> f.metrics.get("numFiles").map(_.value).getOrElse(0L))
    }
    val nestedLoopRows = collectWithSubqueries(plan) {
      case j: BroadcastNestedLoopJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    Map("execution" -> executionId, "writes" -> writes, "scans" -> scans,
      "nested_loop_rows" -> nestedLoopRows)
  }

  // ── StreamingQueryListener ─────────────────────────────────────────
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        streamProgress.add(Map("query" -> p.runId.toString,
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Every record, once the listener bus has drained. */
  def records: Map[String, Any] = {
    val jobRecords = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "span" -> j.span, "execution" -> j.execution,
        "start" -> j.start, "end" -> j.end)
    }
    val stageRecords = stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "job" -> Option(stageJob.get(id)).map(_.intValue).getOrElse(-1),
        "tasks" -> a.tasks, "failed" -> a.failed, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs,
        "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
        "spill" -> a.spill, "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
        "out_bytes" -> a.outBytes, "out_rows" -> a.outRows)
    }
    val io = executions.asScala.map(e => e("execution") -> e).toMap
    val execRecords = execStart.asScala.toSeq.sortBy(_._1).map { case (id, t0) =>
      Map("id" -> id, "root" -> execRoot.get(id), "start" -> t0,
        "end" -> Option(execEnd.get(id)).map(_.longValue).getOrElse(-1L),
        "writes" -> io.get(id).map(_("writes")).getOrElse(Nil),
        "scans" -> io.get(id).map(_("scans")).getOrElse(Nil),
        "nested_loop_rows" -> io.get(id).map(_("nested_loop_rows")).getOrElse(0L))
    }
    Map("jobs" -> jobRecords, "stages" -> stageRecords,
      "executions" -> execRecords, "actions" -> actions.asScala.toSeq,
      "streams" -> streamProgress.asScala.toSeq,
      "cache" -> Map("peak_bytes" -> cachePeak.get, "blocks" -> blocksSeen.size))
  }
}
