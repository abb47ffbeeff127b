package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** AQE skew-split receipt tool (`runMain graft.SkewAudit`).
  *
  * Default mode: runs [[queries.LlmOps.spanRemovalPositions]] over the
  * ADVERSARIAL corpus (ScaleBench's `span_removal_hot` cell: a fixed
  * 8-token phrase, repeated 13×, prepended to 10% of docs — NOT
  * replica-tagged, so its 8 rotated 8-gram hashes concentrate ~600k
  * rows/key at x100) and prints per-stage task-duration / shuffle-read
  * histograms, any `skew=true` join marks in the executed plan, and
  * the exact per-partition shuffle bytes AQE's skew trigger compared.
  *
  * `SPARK_GRAFT_SKEW_DEMO` mode: a synthetic skewed join whose children
  * are BARE ENSURE_REQUIREMENTS shuffles — the shape OptimizeSkewedJoin
  * can rewrite — proving the session's AQE config does engage the
  * mechanism where the plan allows. The contrast is the receipt: the
  * span-removal join's build side is an aggregate carrying its own
  * partitioning, so no splittable shuffle stage exists under it (and
  * caching or repartitioning cannot manufacture one); its skew defense
  * is hash-spreading + bounded per-row work, and the measured
  * histograms show that suffices at x100.
  */
object SkewAudit {

  private case class StageAgg(var name: String,
      durations: scala.collection.mutable.ArrayBuffer[Long],
      readRows: scala.collection.mutable.ArrayBuffer[Long])

  private def pct(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) 0L else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  private def report(stages: scala.collection.mutable.LinkedHashMap[Int, StageAgg],
      plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    println(f"${"stage"}%-8s${"tasks"}%7s${"med_ms"}%9s${"p95_ms"}%9s${"max_ms"}%9s" +
      f"${"med_rows"}%12s${"max_rows"}%12s  name")
    stages.toSeq.sortBy(_._1).foreach { case (id, a) =>
      val d = a.durations.toSeq
      val r = a.readRows.toSeq
      println(f"$id%-8d${d.size}%7d${pct(d, 0.5)}%9d${pct(d, 0.95)}%9d${d.max}%9d" +
        f"${pct(r, 0.5)}%12d${if (r.isEmpty) 0L else r.max}%12d  ${a.name}")
    }
    val planStr = plan.toString
    val skewMarks = planStr.split("\n").filter(_.contains("skew=true"))
    println(s"skew-marked join nodes: ${skewMarks.length}")
    skewMarks.foreach(l => println("  " + l.trim.take(160)))
    if (sys.env.contains("SPARK_GRAFT_PLAN"))
      println(planStr.split("\n").map(_.take(170)).mkString("\n"))
    // exact per-partition compressed bytes each shuffle stage reported
    // to AQE — the numbers the skew trigger compares against
    def shuffleStages(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec] = {
      val self = p match {
        case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => Seq(s)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self ++ kids.flatMap(shuffleStages)
    }
    shuffleStages(plan).foreach { s =>
      s.mapStats.foreach { ms =>
        val sz = ms.bytesByPartitionId.sorted
        def mb(x: Long) = f"${x / 1e6}%.1f"
        println(s"shuffle stage ${s.id}: parts=${sz.length} " +
          s"med=${mb(sz(sz.length / 2))}MB p95=${mb(sz((sz.length * 19) / 20))}MB " +
          s"max=${mb(sz.last)}MB")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft-scale/x100")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val b = EngineSession.builder(cpus.toInt, smallInputTuning = false)
    val spark = EngineSession.withConfOverrides(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        val agg = stages.getOrElseUpdate(te.stageId, StageAgg("",
          scala.collection.mutable.ArrayBuffer.empty,
          scala.collection.mutable.ArrayBuffer.empty))
        agg.durations += te.taskInfo.duration
        Option(te.taskMetrics).foreach(m =>
          agg.readRows += m.shuffleReadMetrics.recordsRead)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        stages.get(sc.stageInfo.stageId).foreach(_.name = sc.stageInfo.name.take(40))
      }
    }

    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    if (sys.env.contains("SPARK_GRAFT_SKEW_DEMO")) {
      // one key carries half the probe side; both children are bare
      // ENSURE_REQUIREMENTS exchanges (range → project, no agg below
      // the join), so OptimizeSkewedJoin is free to act
      val left = spark.range(0, 20000000L)
        .select(when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(0, 2000000L).select(col("id").as("k"),
        (col("id") * 3).as("attr"))
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val j = left.join(right, "k").select(sum(col("payload") + col("attr")))
      j.collect()
      println(f"[skew-demo] wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500)
      report(stages, j.queryExecution.executedPlan)
      spark.stop()
      return
    }

    val hot = Seq.fill(13)(
      "lorem ipsum dolor sit amet consectetur adipiscing elit").mkString(" ")
    val corpus = Tables.load(spark, sfDir, "documents").withColumn("text",
      when(col("doc_id") % 10 === 0, concat(lit(hot + " "), col("text")))
        .otherwise(col("text")))
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val df = queries.LlmOps.spanRemovalPositions(corpus, n = 8)
    df.queryExecution.executedPlan.execute().map(_ => 1L).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    println(f"wall=$sec%.2f s  rows=${df.count()}")
    report(stages, df.queryExecution.executedPlan)
    graft.ops.CacheBin.releaseAll()
    spark.stop()
  }
}
