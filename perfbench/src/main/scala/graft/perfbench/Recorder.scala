package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * none); spans of one request share `req`. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, req: String, layer: String,
    name: String, start: Long, end: Long)

/** In-memory record of everything a run observes: spans opened by the
  * harness around calls into each module, plus the engine's own job, stage,
  * task, SQL-execution and streaming-progress events. Nothing is written
  * until the run ends. */
final class Recorder(val tracing: Boolean) {
  import Recorder._
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body`; when tracing, keep it as a span. */
  def span[T](layer: String, name: String, req: String = "", parent: Long = 0L)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally if (tracing) spans.add(Span(id, parent, req, layer, name, t0, System.nanoTime()))
  }

  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  /** nanoTime of an epoch-millisecond listener timestamp. */
  def nsOfEpoch(ms: Long): Long = baseNs + (ms - baseEpochMs) * 1000000L
  def addEpoch(layer: String, name: String, startMs: Long, endMs: Long,
      req: String, parent: Long): Long =
    add(layer, name, nsOfEpoch(startMs), nsOfEpoch(endMs), req, parent)

  def add(layer: String, name: String, start: Long, end: Long,
      req: String = "", parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (tracing) spans.add(Span(id, parent, req, layer, name, start, end))
    id
  }

  // ---- engine events -----------------------------------------------------

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Task sums per request id ("" = unattributed). */
  val taskSums = new java.util.concurrent.ConcurrentHashMap[String, TaskSums]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val execReq = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  val progress = new ConcurrentLinkedQueue[Progress]()
  /** Notified on every progress event. */
  val progressSignal = new Object
  val terminated = new java.util.concurrent.Semaphore(0)

  private def reqOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.ReqProperty))).getOrElse("")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val req = reqOf(e.properties)
      if (exec >= 0 && req.nonEmpty) execReq.putIfAbsent(exec, req)
      val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      jobs.put(e.jobId, Job(e.jobId, req, exec, e.time, streaming, stages = e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val req = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .map(_.req).getOrElse("")
      val s = taskSums.computeIfAbsent(req, _ => new TaskSums)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case e: SparkListenerSQLExecutionEnd if tracing =>
        val (qe, durationNs) = org.apache.spark.sql.PerfbenchDoor.execution(e)
        if (qe != null) record(e.executionId, qe, durationNs)
      case _ =>
    }
  }

  private def record(execId: Long, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
    val plan = qe.executedPlan
    val scans = plan.collect { case s: FileSourceScanLike => s }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val caps = Recorder.capFlushes(plan)
    execs.add(Exec(execId, "", planMs, durationNs / 1e6, scans,
      graft.values.map(_.totalTimeNs).sum, graft.values.map(_.numInvocations).sum,
      graft.values.map(_.numEffectiveInvocations).sum, caps))
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = System.nanoTime()
      progress.add(Progress(p.id.toString, p.batchId,
        p.numInputRows, at, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
      progressSignal.synchronized(progressSignal.notifyAll())
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.release()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.PerfbenchDoor.drainListenerBus(spark.sparkContext)

  def spansList: Seq[Span] = spans.asScala.toSeq
}

object Recorder {
  /** Per-job facts. Listener times are epoch ms; `req` comes from the
    * submitting thread's local property. */
  final case class Job(id: Int, req: String, execId: Long, startMs: Long,
      streaming: Boolean, var endMs: Long = -1L, var stages: Seq[Int] = Nil)
  final class TaskSums {
    var tasks = 0L; var runMs = 0L; var inputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  final case class Exec(id: Long, req: String, planMs: Double, execMs: Double,
      scanRows: Long, graftRuleNs: Long, graftRuleRuns: Long, graftRuleEffective: Long,
      capFlushes: Long)

  /** One streaming progress event, received at `atNs`. */
  final case class Progress(query: String, batch: Long, rows: Long, atNs: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)
  val ReqProperty = "graft.perfbench.req"

  /** Sum of the top-k operator's partial-cap flush counter over a plan. */
  def capFlushes(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    var n = 0L
    plan.foreach(p => p.metrics.get("numCapFlushes").foreach(m => n += m.value))
    n
  }
}
