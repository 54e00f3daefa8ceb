package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's clock: seconds since the run started, on both the JVM's
  * monotonic clock and the epoch-millisecond clock Spark's events carry. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - baseNs) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - baseMs) / 1e3
}

/** One op of a traced pass: `id` is the job local property value that ties
  * Spark's job events to it. */
final case class OpWindow(pass: Int, op: String, id: String,
                          start: Double, buildEnd: Double, end: Double)

/** Listener-side records of one traced run, and their per-pass reduction to
  * the per-layer metrics. Nothing inside the program is instrumented: every
  * number comes from events of listeners registered here, from Spark's
  * public counters, or from the benchmark's own spans. */
final class Tracer(spark: SparkSession, clock: Clock, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Double)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      jobs.add(JobRec(e.jobId, op, clock.ofEpochMs(e.time), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, clock.ofEpochMs(e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, clock.ofEpochMs(i.launchTime),
        clock.ofEpochMs(i.finishTime), m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val started = phases.values.map(_.startTimeMs).minOption
      started.foreach { t =>
        plans.add(PlanRec(clock.ofEpochMs(t), ms("analysis"), ms("optimization"),
          ms("planning"), PlanWalk.exchanges(qe.executedPlan)))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      batches.add(BatchRec(clock.ofEpochMs(Instant.parse(p.timestamp).toEpochMilli),
        p.runId.toString, d.getOrElse("triggerExecution", 0.0),
        CommitPhases.toSeq.map(k => d.getOrElse(k, 0.0)).sum,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  private var compileAtStart = 0L

  /** Registers the listeners for one traced pass. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    compileAtStart = CodeGenerator.compileTime
  }

  /** Delivers every queued event, then removes the listeners; returns the
    * whole-stage codegen compile time spent since [[attach]]. */
  def detach(): Double = {
    val compile = (CodeGenerator.compileTime - compileAtStart) / 1e9
    GraftbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    compile
  }

  /** Per-layer metrics of one traced pass, from the records whose op
    * belongs to `ops`. */
  def passMetrics(ops: Seq[OpWindow], compileS: Double): Map[String, Double] = {
    val byId = ops.map(o => o.id -> o).toMap
    def at(t: Double): Option[OpWindow] =
      ops.find(o => o.start - Slack <= t && t <= o.end + Slack)
    val passJobs = jobs.asScala.toSeq.flatMap { j =>
      j.op.flatMap(byId.get).orElse(at(j.start)).map(o => (j, o))
    }
    val stageOp = passJobs.flatMap { case (j, o) => j.stages.map(_ -> o) }.toMap
    val passTasks = tasks.asScala.toSeq.flatMap(t => stageOp.get(t.stageId).map(o => (t, o)))
    val passPlans = plans.asScala.toSeq.filter(p => at(p.start).isDefined)
    val passBatches = batches.asScala.toSeq.filter(b => at(b.start).isDefined)
    val ts = passTasks.map(_._1)
    val opWall = ops.map(o => o.end - o.start).sum
    val gap = ops.map { o =>
      val spans = passTasks.collect { case (t, w) if w.id == o.id => (t.launch, t.finish) }
      (o.end - o.start) - Spans.covered(spans, o.start, o.end)
    }.sum
    val taskTime = ts.map(t => t.finish - t.launch).sum
    val scans = ts.filter(_.inBytes > 0)
    val writes = ts.filter(_.outBytes > 0)
    val finalState = passBatches.groupBy(_.runId).values.map(_.maxBy(_.start).stateRows).sum
    Map(
      "SparkEntry.build_s" -> ops.map(o => o.buildEnd - o.start).sum,
      "SparkEntry.eager_jobs" -> passJobs.count { case (j, o) => j.start <= o.buildEnd }.toDouble,
      "spark.plan.analysis_s" -> passPlans.map(_.analysis).sum,
      "spark.plan.optimization_s" -> passPlans.map(_.optimization).sum,
      "spark.plan.planning_s" -> passPlans.map(_.planning).sum,
      "spark.plan.executions" -> passPlans.size.toDouble,
      "spark.plan.exchanges" -> passPlans.map(_.exchanges).sum.toDouble,
      "spark.codegen.compile_s" -> compileS,
      "spark.sched.jobs" -> passJobs.size.toDouble,
      "spark.sched.stages" -> passJobs.map(_._1.stages.size).sum.toDouble,
      "spark.sched.tasks" -> ts.size.toDouble,
      "spark.sched.driver_gap_s" -> gap,
      "spark.sched.slot_busy_frac" -> (if (opWall > 0) taskTime / (cores * opWall) else 0.0),
      "spark.exec.task_s" -> ts.map(_.run).sum,
      "spark.exec.task_cpu_s" -> ts.map(_.cpu).sum,
      "spark.exec.gc_s" -> ts.map(_.gc).sum,
      "spark.exec.peak_mem_mb" -> ts.map(_.peakMem).maxOption.getOrElse(0L) / MB,
      "spark.shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "spark.shuffle.read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "spark.shuffle.spill_mb" -> ts.map(_.spill).sum / MB,
      "sources.input_mb" -> ts.map(_.inBytes).sum / MB,
      "sources.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "sources.scan_task_s" -> scans.map(_.run).sum,
      "sinks.output_mb" -> ts.map(_.outBytes).sum / MB,
      "sinks.output_rows" -> ts.map(_.outRows).sum.toDouble,
      "sinks.write_task_s" -> writes.map(_.run).sum,
      "streaming.batches" -> passBatches.size.toDouble,
      "streaming.trigger_s" -> passBatches.map(_.trigger).sum,
      "streaming.commit_s" -> passBatches.map(_.commit).sum,
      "streaming.state_rows" -> finalState.toDouble)
  }

  /** Job spans of a traced pass, parented to the build or action span of
    * their op (looked up in `parentOf` by op id and phase). */
  def jobSpans(ops: Seq[OpWindow], parentOf: (String, Boolean) => Int,
               nextId: () => Int): Seq[Span] = {
    val byId = ops.map(o => o.id -> o).toMap
    val endOf = jobEnds.asScala.toMap
    jobs.asScala.toSeq.flatMap { j =>
      for (o <- j.op.flatMap(byId.get); end <- endOf.get(j.jobId))
      yield Span(nextId(), parentOf(o.id, j.start <= o.buildEnd), s"job ${j.jobId}", o.op,
        j.start, end)
    }
  }
}

object Tracer {
  val OpProperty = "graftbench.op"
  private val MB = 1024.0 * 1024.0
  /** Events stamped in whole milliseconds may land just outside their op. */
  private val Slack = 0.002
  /** Progress phases that persist a batch's offsets and commit its output. */
  private val CommitPhases = Set("walCommit", "commitOffsets", "commitBatch")

  /** Unit of a per-layer metric, from its name's suffix. */
  def unit(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac")) "frac" else "count"

  final case class JobRec(jobId: Int, op: Option[String], start: Double, stages: Seq[Int])
  final case class TaskRec(stageId: Int, launch: Double, finish: Double, run: Double,
                           cpu: Double, gc: Double, peakMem: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long,
                           outBytes: Long, outRows: Long)
  final case class PlanRec(start: Double, analysis: Double, optimization: Double,
                           planning: Double, exchanges: Int)
  final case class BatchRec(start: Double, runId: String, trigger: Double, commit: Double,
                            stateRows: Long)
}

/** Counts the exchanges a query ran, inside adaptive query stages too. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int = collect(plan) { case e: Exchange => e }.size
}
