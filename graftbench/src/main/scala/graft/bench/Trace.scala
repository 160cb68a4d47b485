package graft.bench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Wall clock in epoch microseconds, nanoTime-precise between calls and
  * comparable with the millisecond stamps Spark puts on its events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** One timed interval: run, pass, query, build, plan, exec, job or stage.
  * Spans of one query share `query`; `parent` is the span that caused it.
  */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val query: Long, @volatile var start: Long) {
  @volatile var end: Long = -1L
  def seconds: Double = if (end < start) 0.0 else (end - start) / 1e6
}

/** Span recorder plus the three listeners the traced run attaches: Spark
  * jobs/stages/tasks, Catalyst query executions and streaming progress.
  * Everything stays in memory and is written out when the run ends.
  * Counters accumulate on the listener-bus thread; the benchmark thread
  * reads them after `drain()`, so each query's counts are a before/after
  * difference.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.Map[Long, Span]()
  private val jobOf = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[(Int, Int), Span]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val executions = mutable.ArrayBuffer[QueryExecution]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  /** Opens a span; `query` < 0 makes the span the root of its own query. */
  def open(kind: String, name: String, parent: Long, query: Long,
      startUs: Long = Clock.nowUs): Span = synchronized {
    val id = ids.incrementAndGet()
    val s = new Span(id, parent, kind, name, if (query < 0) id else query, startUs)
    spans += s; byId(s.id) = s
    s
  }

  def close(s: Span, endUs: Long = Clock.nowUs): Unit = s.end = endUs

  /** Runs `body` with `s` as the parent of every Spark job it starts. */
  def within[T](s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  def counters: Map[String, Double] = synchronized(counts.toMap)

  /** Query executions completed since the last call. */
  def takeExecutions(): Seq[QueryExecution] = synchronized {
    val r = executions.toSeq; executions.clear(); r
  }
  /** Progress the streaming listener received for one query run. */
  def progressOf(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(progress.filter(_.runId == runId).toSeq)
  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val ps = byId.get(parent)
      val job = open("job", s"job ${e.jobId}", parent, ps.map(_.query).getOrElse(0L),
        e.time * 1000)
      jobOf(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = job)
      counts(s"jobs.${ps.map(_.kind).getOrElse("none")}") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobOf.remove(e.jobId).foreach(_.end = e.time * 1000)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val job = stageJob.get(i.stageId)
        val st = open("stage", s"stage ${i.stageId}.${i.attemptNumber()}",
          job.map(_.id).getOrElse(0L), job.map(_.query).getOrElse(0L),
          i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000)
        stageSpan((i.stageId, i.attemptNumber())) = st
        counts("stages") += 1
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stageSpan.remove((i.stageId, i.attemptNumber())).foreach { st =>
          st.end = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      counts("tasks") += 1
      if (e.reason != org.apache.spark.Success) counts("failed_tasks") += 1
      val st = stageSpan.get((e.stageId, e.stageAttemptId))
      st.foreach(s => counts("task_wait_ms") += math.max(0L,
        e.taskInfo.launchTime - s.start / 1000))
      val m = e.taskMetrics
      if (m != null) {
        counts("task_busy_ms") += m.executorRunTime
        counts("gc_ms") += m.jvmGCTime
        counts("spill_bytes") += m.diskBytesSpilled
        counts("input_bytes") += m.inputMetrics.bytesRead
        counts("input_rows") += m.inputMetrics.recordsRead
        counts("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        // storage writes happen inside registry calls; the timed write
        // is the noop sink, so output is attributed by the job's layer
        val layer = stageJob.get(e.stageId).flatMap(j => byId.get(j.parent))
          .map(_.kind).getOrElse("none")
        counts(s"output_bytes.$layer") += m.outputMetrics.bytesWritten
        counts(s"output_rows.$layer") += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized { executions += qe }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Trace.this.synchronized { executions += qe }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val SpanKey = "graft.bench.span"

  private val CatalystPhases = Seq("analysis", "optimization", "planning")

  /** Analysis + optimization + planning seconds from a tracker. */
  def planSeconds(qe: QueryExecution): Double =
    CatalystPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3

  private object Plans extends AdaptiveSparkPlanHelper

  private def nodes(qe: QueryExecution): Seq[SparkPlan] =
    try Plans.collectWithSubqueries(qe.executedPlan) { case p => p }
    catch { case scala.util.control.NonFatal(_) => Nil }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Files the scans of `qe` read. */
  def filesRead(qe: QueryExecution): Long =
    nodes(qe).collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum

  /** Files the write commands of `qe` committed. */
  def filesWritten(qe: QueryExecution): Long =
    nodes(qe).collect { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Per-key difference of two counter snapshots. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet)
      .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap

  /** Seconds of `s` not covered by its children's intervals. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    if (s.end < s.start) return 0.0
    val iv = children.filter(_.end >= 0)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.end - s.start - covered) / 1e6)
  }
}
