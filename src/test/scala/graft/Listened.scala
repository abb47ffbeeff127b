package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts what a block makes Spark do: Dataset actions (one
  * QueryExecutionListener callback each), jobs, and the rows output by
  * the DataSource V2 scans of those actions. A scan node counts once,
  * also when it sits in a cached plan that several actions read, so a
  * source read twice shows as twice its rows and a cached batch read
  * back does not (its tasks report cached batches as records read,
  * which is why task input metrics are not used). Jobs count only when
  * submitted by the calling thread or a thread it started (local
  * properties are inherited), so work started elsewhere in the shared
  * session does not leak in.
  */
object Listened extends AdaptiveSparkPlanHelper {
  final case class Counts(actions: Int, jobs: Int, sourceRows: Long)

  private val TagKey = "graft.spec.listened"

  def apply[A](spark: SparkSession)(f: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val tagged = (p: java.util.Properties) =>
      p != null && p.getProperty(TagKey) == tag
    val actions, jobs = new AtomicInteger
    val scans = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[BatchScanExec, java.lang.Boolean]))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
    }
    val queries = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit = {
        actions.incrementAndGet()
        sourceScans(qe.executedPlan).foreach(scans.add)
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen(qe)
    }
    SpecListenerBus.drain(sc) // earlier events must not reach the counters
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    sc.setLocalProperty(TagKey, tag)
    try {
      val a = f
      SpecListenerBus.drain(sc)
      val sourceRows = scans.synchronized(
        scans.toArray(Array.empty[BatchScanExec]).map(_.metrics("numOutputRows").value).sum)
      (a, Counts(actions.get, jobs.get, sourceRows))
    } finally {
      sc.setLocalProperty(TagKey, null)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  /** The DataSource V2 scan nodes of a plan, looking inside adaptive
    * plans, subqueries and the plans of cached relations.
    */
  private def sourceScans(plan: SparkPlan): Seq[BatchScanExec] =
    collectWithSubqueries(plan) {
      case b: BatchScanExec => Seq(b)
      case m: InMemoryTableScanExec => sourceScans(m.relation.cachedPlan)
    }.flatten
}
