package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Wall time is taken by the harness; the
  * Spark-side fields are filled by [[SpanListener]] from the jobs,
  * stages and tasks whose `perfbench.span` local property names this
  * span, and from the query executions that finish while it is open.
  */
final class Span(val id: Int, val parent: Int, val name: String, val tag: String) {
  var startMs = 0L
  var endMs = 0L
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0L
  var queryExecutions = 0L
  var dv3fScanRows = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder. Spans stay in memory and are written when the run
  * ends. The harness is a single closed-loop client, so at most one
  * chain of nested spans is open at a time; the innermost one is
  * published to Spark as a thread-local property, which Spark copies
  * into every job and stage it starts on the caller's behalf (including
  * the AQE and broadcast futures whose call sites are anonymous).
  */
object Trace {
  val Property = "perfbench.span"

  @volatile var enabled = false
  private var sc: SparkContext = _
  val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[String, Span]()
  private var stack: List[Span] = Nil

  /** Innermost open span; query-execution callbacks (which arrive on
    * the listener thread, without the caller's properties) attach here.
    * The listener bus is drained at every span boundary, so a callback
    * is never processed after the span that caused it has closed.
    */
  @volatile private[perfbench] var current: Span = _

  def install(context: SparkContext): Unit = sc = context

  def lookup(id: String): Span = if (id == null) null else byId.get(id)

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  def span[A](name: String, tag: String = "")(body: => A): A =
    if (!enabled) body
    else {
      drain()
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, tag)
      spans += s
      byId.put(s.id.toString, s)
      stack = s :: stack
      current = s
      sc.setLocalProperty(Property, s.id.toString)
      s.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        s.wallNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        drain()
        stack = stack.tail
        current = stack.headOption.orNull
        sc.setLocalProperty(Property, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Wall time of `s` not covered by any Spark job of its subtree. */
  def driverMs(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallNs / 1e6 - covered)
  }

  /** Inclusive (subtree) totals of one span, by field name. */
  def totals(s: Span): Map[String, Double] = {
    val t = subtree(s)
    def sum(f: Span => Long): Double = t.map(f).sum.toDouble
    Map(
      "wall_ms" -> s.wallNs / 1e6,
      "driver_ms" -> driverMs(s),
      "jobs" -> sum(_.jobs),
      "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks),
      "task_ms" -> sum(_.taskMs),
      "task_cpu_ms" -> sum(_.taskCpuNs) / 1e6,
      "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "spill_bytes" -> sum(_.spillBytes),
      "gc_ms" -> sum(_.gcMs),
      "output_bytes" -> sum(_.outputBytes),
      "analysis_ms" -> sum(_.analysisMs),
      "optimization_ms" -> sum(_.optimizationMs),
      "planning_ms" -> sum(_.planningMs),
      "exchanges" -> sum(_.exchanges),
      "query_executions" -> sum(_.queryExecutions),
      "dv3f_scan_rows" -> sum(_.dv3fScanRows))
  }
}

/** Task-level accounting. The whole-run task CPU and task count are
  * kept in every run (host-noise evidence); per-span attribution only
  * while tracing is enabled.
  */
final class SpanListener extends SparkListener {
  @volatile var taskCpuNs = 0L
  @volatile var taskCount = 0L
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()

  private def spanOf(props: java.util.Properties): Span =
    if (props == null) null else Trace.lookup(props.getProperty(Trace.Property))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      s.jobs += 1
      jobSpan.put(e.jobId, (s, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      s.stages += 1
      stageSpan.put(e.stageInfo.stageId, s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskCount += 1
      val s = stageSpan.get(e.stageId)
      if (s != null) {
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        s.taskCpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Catalyst phase times (from each QueryExecution's planning tracker),
  * exchanges on the AQE-final plan, and rows the `dv3f` DSv2 scan
  * emitted — the source-side read count behind `reads_per_cell`.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = Trace.current
    if (Trace.enabled && s != null) {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
      s.queryExecutions += 1
      val plan: SparkPlan = qe.executedPlan
      s.exchanges += collect(plan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size
      s.dv3fScanRows += collect(plan) {
        case b: BatchScanExec if isDv3f(b.scan) =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    }
  }

  private def isDv3f(scan: Scan): Boolean = scan.isInstanceOf[graft.sources.Dv3fScan]

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
