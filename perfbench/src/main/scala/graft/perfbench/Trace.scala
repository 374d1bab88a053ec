package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. `layer` names the repo module the interval belongs
  * to; `op` groups every span of one operation (the trace id). Times are
  * epoch milliseconds with a fractional part, so spans from the harness
  * clock and from Spark's event timestamps share one axis. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Double, end: Double)

/** Spans recorded from the harness side of each layer boundary, kept in
  * memory and written out when the run ends. Disabled, it records nothing
  * and only runs the body. */
final class Tracer(sc: SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var currentOp = 0

  /** Jobs submitted inside the body carry these local properties, which
    * is how [[Probe]] files each Spark job under its op, phase and span. */
  def span[T](layer: String, name: String, op: Int = currentOp)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(Tracer.Root)
    val savedOp = currentOp
    currentOp = op
    stack = id :: stack
    sc.setLocalProperty(Probe.OpKey, op.toString)
    sc.setLocalProperty(Probe.PhaseKey, name)
    sc.setLocalProperty(Probe.SpanKey, id.toString)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      synchronized { spans += Span(id, parent, op, layer, name, start, end) }
      stack = stack.tail
      currentOp = savedOp
      sc.setLocalProperty(Probe.OpKey, if (savedOp == 0) null else savedOp.toString)
      sc.setLocalProperty(Probe.PhaseKey, null)
      sc.setLocalProperty(Probe.SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }
}

object Tracer {
  /** Id of the workload span, the parent of every pass. */
  val Root = 1
}

/** Executor-side counters for one (op, phase). */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, maxTaskMs = 0L
  var shuffleRead, shuffleWrite, spill, inputRows, outputBytes = 0L
  def +=(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    maxTaskMs = maxTaskMs max o.maxTaskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputRows += o.inputRows
    outputBytes += o.outputBytes
  }
}

/** Catalyst phase times of one query execution, from its
  * `QueryPlanningTracker`, and the bytes of the files its scans selected. */
final case class PlanPhases(startMs: Double, endMs: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    scanBytes: Long)

/** The benchmark's own listener: counts jobs, stages, tasks, CPU, shuffle,
  * spill and GC per (op, phase), turns each Spark job into a child span,
  * and collects the planning phase times of every query execution. It is
  * registered only for traced passes. */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val stageOwner = mutable.Map[Int, (Int, String)]()
  private val openJobs = mutable.Map[Int, (Int, Int, Double)]()
  val exec = mutable.Map[(Int, String), ExecAcc]()
  val jobSpans = mutable.ArrayBuffer[Span]()
  val plans = mutable.ArrayBuffer[PlanPhases]()

  private def acc(k: (Int, String)) = exec.getOrElseUpdate(k, new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    for (op <- prop(Probe.OpKey); phase <- prop(Probe.PhaseKey)) {
      val key = (op.toInt, phase)
      acc(key).jobs += 1
      e.stageIds.foreach(s => stageOwner(s) = key)
      openJobs(e.jobId) = (op.toInt, prop(Probe.SpanKey).fold(0)(_.toInt),
        e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (op, parent, start) =>
      jobSpans += Span(-e.jobId - 1, parent, op, "exec", s"job ${e.jobId}",
        start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOwner.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (key <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(key)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.maxTaskMs = a.maxTaskMs max e.taskInfo.duration
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(k: String) = ph.get(k).fold(0.0)(_.durationMs.toDouble)
      // task input metrics under-count parquet bytes (the reader fetches
      // column chunks off the task thread), so scanned bytes come from the
      // scans' own file-size metric
      val scanned = scala.util.Try(collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanLike => s.metrics.get("filesSize").fold(0L)(_.value)
      }.sum).getOrElse(0L)
      plans += PlanPhases(ph.values.map(_.startTimeMs).min.toDouble,
        ph.values.map(_.endTimeMs).max.toDouble,
        ms("analysis"), ms("optimization"), ms("planning"), scanned)
    }
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
}
