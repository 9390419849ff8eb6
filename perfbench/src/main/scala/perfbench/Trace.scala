package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the engine, for `--trace 1` runs only.
  *
  * Spark listeners record jobs, tasks, query executions (planning phases,
  * executed plan), compaction rewrites and streaming progress. The
  * benchmark records a span around each operation it drives. Every loop is
  * one closed client, so spans never overlap and a job, task or query
  * execution belongs to the span its start time falls in; the span names
  * the layer. (A job's call site cannot: jobs inside a stream carry the
  * stream's `start` call site, and Spark runs many actions from a
  * CompletableFuture whose frame becomes the call site.) */
final class Trace {
  import Trace._

  val spans = new ConcurrentLinkedQueue[Span]()

  def record[T](name: String, family: String)(body: => T): T = {
    val start = System.currentTimeMillis()
    try body finally spans.add(Span(name, family, start, System.currentTimeMillis()))
  }

  /** Called on every streaming progress event while attached. */
  @volatile var onProgress: () => Unit = () => ()

  def jobs: Seq[Job] = Sink.jobs.asScala.toSeq
  def tasks: Seq[TaskRec] = Sink.tasks.asScala.toSeq
  def executions: Seq[Exec] = Sink.execs.asScala.toSeq
  def progress: Seq[Progress] = Sink.progress.asScala.toSeq
  /** (start, end) of every compaction rewrite. */
  def compactions: Seq[(Long, Long)] = Sink.compactions.asScala.toSeq

  def within(s: Span, t: Long): Boolean = t >= s.start && t <= s.end
  def jobsIn(s: Span): Seq[Job] = jobs.filter(j => within(s, j.start))
  def tasksIn(s: Span): Seq[TaskRec] = {
    val stages = jobsIn(s).flatMap(_.stages).toSet
    tasks.filter(t => stages(t.stage))
  }
  def execsIn(s: Span): Seq[Exec] = executions.filter(e => within(s, e.start))

  /** Span time during which no job of the span was running. */
  def driverGapMs(s: Span): Double = {
    val cover = jobsIn(s).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.start
    cover.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (s.end - s.start - covered).toDouble
  }
}

object Trace {
  final case class Span(name: String, family: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class TaskRec(stage: Int, attempt: Int, failed: Boolean, runMs: Long, cpuMs: Double,
                           gcMs: Long, shuffleWrite: Long, spill: Long, recordsRead: Long,
                           bytesWritten: Long)
  final case class Exec(start: Long, planningMs: Double, execMs: Double, fallbacks: Int)
  final case class Progress(start: Long, durations: Map[String, Long], rows: Long)

  /** Process-wide sink: the listener classes below are registered through
    * session conf (so child sessions and stream clones report too) and
    * record only while a trace is attached. */
  object Sink {
    val on = new AtomicBoolean(false)
    val jobs = new ConcurrentLinkedQueue[Job]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    val execs = new ConcurrentLinkedQueue[Exec]()
    val progress = new ConcurrentLinkedQueue[Progress]()
    val compactions = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var current: Option[Trace] = None
  }

  /** Session conf that registers the listeners (trace runs only). */
  val Conf: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[ExecListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName,
    "spark.extraListeners" -> classOf[JobListener].getName)

  def attach(spark: SparkSession): Trace = {
    val t = new Trace
    drain(spark)
    Seq(Sink.jobs, Sink.tasks, Sink.execs, Sink.progress, Sink.compactions).foreach(_.clear())
    Sink.current = Some(t)
    Sink.on.set(true)
    t
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    Sink.on.set(false)
    Sink.current = None
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark.sparkContext, 10000L)

  def span[T](t: Option[Trace], name: String, family: String)(body: => T): T = t match {
    case Some(tr) => tr.record(name, family)(body)
    case None => body
  }

  private def fallbacks(plan: SparkPlan): Int = {
    var n = 0
    def visit(p: SparkPlan): Unit = p.foreach {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case node => n += node.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum
    }
    visit(plan)
    n
  }

  class ExecListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (Sink.on.get()) {
        val phases = qe.tracker.phases
        val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000L
          else phases.values.map(_.startTimeMs).min
        val planning = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
        Sink.execs.add(Exec(start, planning, durationNs / 1e6, fallbacks(qe.executedPlan)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (Sink.on.get()) {
        val p = e.progress
        Sink.progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
        Sink.current.foreach(_.onProgress())
      }
  }

  class JobListener extends SparkListener {
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val rewrites = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    /** A compaction is the SQL execution that writes `<table>.compact`
      * (Engine.Handle.compact's staging dir); inside a stream no call site
      * tells it apart from the ingest jobs. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if Sink.on.get() && s.physicalPlanDescription.contains(".compact") =>
        rewrites.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(rewrites.remove(s.executionId)).foreach(t0 => Sink.compactions.add((t0, s.time)))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = if (Sink.on.get()) {
      val job = Job(j.jobId, j.time, j.time, j.stageIds)
      open.put(j.jobId, job)
      Sink.jobs.add(job)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(open.remove(j.jobId)).foreach(_.end = j.time)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (Sink.on.get()) {
      val m = t.taskMetrics
      if (m != null) Sink.tasks.add(TaskRec(t.stageId, t.taskInfo.attemptNumber,
        !t.taskInfo.successful, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }
}
