package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan audit tool: `runMain graft.AuditPlan <query> ...` RUNS each named
  * SparkEntry query against `SPARK_GRAFT_SF_DIR` (any table dir,
  * including a ScaleBench-amplified one) and prints the adaptive plan
  * that actually executed, in `formatted` mode, plus the runtime shape
  * numbers that matter at scale: distinct shuffle exchanges, how many
  * consumers ReuseExchange served, distinct file scans, and shuffle
  * bytes/records.
  *
  * Checklist per plan: PushedFilters reach the scan, ReadSchema is pruned
  * to used columns, small dims broadcast, WholeStageCodegen spans are
  * wide, no unexpected Exchange. Only the executed plan is a receipt at
  * scale: a static plan can promise exchange reuse that AQE then breaks at
  * a larger input (stage-independent replanning), and only the final plan
  * shows the broadcast→SMJ flips AQE made.
  */
object AuditPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = EngineSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) Seq("q1_agg") else args.toSeq
    wanted.foreach { name =>
      println(s"\n========== $name @ $sfDir ==========")
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val t0 = System.nanoTime()
          df.queryExecution.executedPlan.execute().map(_ => 1L).count()
          val sec = (System.nanoTime() - t0) / 1e9
          val m = ops.PlanMetrics
          println(f"sec=$sec%.2f rows=${df.count()}")
          println(s"exchanges=${m.exchangeCount(df)} " +
            s"reuse_servings=${m.reusedExchangeServings(df)} " +
            s"file_scans=${m.distinctFileScans(df).size} " +
            s"shuffle_mb=${m.shuffleBytesWritten(df) / (1 << 20)} " +
            s"shuffle_records=${m.shuffleRecordsWritten(df)}")
          println("---- executed (AQE-final) plan ----")
          println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          ops.CacheBin.releaseAll(); spark.catalog.clearCache()
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
