package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SpecListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts what a block makes Spark do: Dataset actions (one
  * QueryExecutionListener callback each), jobs, and the records read by
  * tasks of stages that scan a DataSource V2 source (`DataSourceRDD` in
  * the stage's lineage). Jobs and stages count only when submitted by
  * the calling thread or a thread it started (local properties are
  * inherited), so work started elsewhere in the shared session does not
  * leak in.
  */
object Listened {
  final case class Counts(actions: Int, jobs: Int, sourceRows: Long)

  private val TagKey = "graft.spec.listened"

  def apply[A](spark: SparkSession)(f: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val tagged = (p: java.util.Properties) =>
      p != null && p.getProperty(TagKey) == tag
    val actions, jobs = new AtomicInteger
    val sourceRows = new AtomicLong
    val sourceStages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties) &&
          e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          sourceStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (sourceStages.contains(e.stageId) && e.taskMetrics != null)
          sourceRows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = actions.incrementAndGet()
    }
    SpecListenerBus.drain(sc) // earlier events must not reach the counters
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    sc.setLocalProperty(TagKey, tag)
    try {
      val a = f
      SpecListenerBus.drain(sc)
      (a, Counts(actions.get, jobs.get, sourceRows.get))
    } finally {
      sc.setLocalProperty(TagKey, null)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }
}
