package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call into a layer. `phase` is "build" for a call that
  * returns a lazy result (any job it starts ran before the action) and
  * "action" for a call that materialises one. */
final case class Span(id: Int, parent: Int, name: String, phase: String,
    startNs: Long, endNs: Long, jobs: Int)

/** Counts Spark work through a SparkListener and a
  * QueryExecutionListener. Jobs are attributed to the span that
  * submitted them through local properties, which Spark snapshots into
  * each job at submission. Fields are written on the listener bus
  * thread and read by the benchmark thread after [[Trace.drain]]. */
final class Counters extends SparkListener with QueryExecutionListener {
  private var jobs, buildJobs, stages, tasks = 0L
  private var taskRunMs, taskCpuNs, taskMaxMs = 0L
  private var shuffleWriteB, spillB, scanB, planMs, execNs = 0L
  private val jobsBySpan = scala.collection.mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Trace.PhaseProp) == "build")) buildJobs += 1
    props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).foreach { s =>
      jobsBySpan(s.toInt) = jobsBySpan.getOrElse(s.toInt, 0) + 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      taskMaxMs = math.max(taskMaxMs, m.executorRunTime)
      taskCpuNs += m.executorCpuTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    execNs += durationNs
    planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    scanB += Counters.scanBytes(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobsOf(span: Int): Int = synchronized(jobsBySpan.getOrElse(span, 0))

  /** Totals since the last reset, in the units the metrics report. */
  def snapshot(): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.toDouble, "spark.build_jobs" -> buildJobs.toDouble,
      "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
      "spark.task_run_s" -> taskRunMs / 1e3, "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.task_max_s" -> taskMaxMs / 1e3,
      "spark.shuffle_write_mb" -> shuffleWriteB / mb, "spark.spill_mb" -> spillB / mb,
      "spark.scan_mb" -> scanB / mb, "spark.plan_s" -> planMs / 1e3,
      "spark.exec_s" -> execNs / 1e9)
  }

  def reset(): Unit = synchronized {
    jobs = 0; buildJobs = 0; stages = 0; tasks = 0; taskRunMs = 0; taskCpuNs = 0
    taskMaxMs = 0; shuffleWriteB = 0; spillB = 0; scanB = 0; planMs = 0
    execNs = 0; jobsBySpan.clear()
  }
}

object Counters extends AdaptiveSparkPlanHelper {
  /** Bytes of the files each scan node read, from the scan nodes' own
    * SQL metrics (stage-level bytesRead reads 0 for parquet scans). */
  def scanBytes(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
}

/** Spans around the benchmark's calls into each layer. With tracing off
  * [[span]] only runs its body, so traced and untraced passes execute
  * the same code. */
object Trace {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"

  private var enabled = false
  private var session: Option[SparkSession] = None
  private val counters = new Counters
  private val spans = ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  /** Install the listeners on `spark` once (idempotent) and turn
    * tracing on. */
  def setup(spark: SparkSession): Unit = {
    if (!session.contains(spark)) {
      session.foreach(teardown)
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      session = Some(spark)
    }
    enabled = true
  }

  /** Remove the listeners and turn tracing off. */
  def teardown(spark: SparkSession): Unit = {
    if (session.contains(spark)) {
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      session = None
    }
    enabled = false
  }

  def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)

  def span[T](name: String, phase: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = session.get.sparkContext
      val id = nextId; nextId += 1
      val parent = stack.head
      val (prevSpan, prevPhase) = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(PhaseProp))
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(PhaseProp, phase)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevSpan)
        sc.setLocalProperty(PhaseProp, prevPhase)
        spans += Span(id, parent, name, phase, t0, t1, 0)
      }
    }

  def build[T](name: String)(body: => T): T = span(name, "build")(body)
  def action[T](name: String)(body: => T): T = span(name, "action")(body)

  /** Spans and counters recorded since the last call, with each span's
    * job count filled in; clears both. */
  def collect(spark: SparkSession): (Seq[Span], Map[String, Double]) = {
    drain(spark)
    val out = spans.toSeq.sortBy(_.startNs).map(s => s.copy(jobs = counters.jobsOf(s.id)))
    val snap = counters.snapshot()
    spans.clear(); counters.reset()
    (out, snap)
  }

  /** Materialise `df` through the noop sink: every row is computed,
    * nothing is written or collected. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
