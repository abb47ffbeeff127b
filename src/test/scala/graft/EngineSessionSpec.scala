package graft

import graft.dv3f.{Dv3fConfig, IngestJob, StagingTable, Upsert}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EngineSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF: k=v entries parse in order, a value may contain '='") {
    assert(EngineSession.parseConf("spark.x=1;spark.y=a=b;") ===
      Seq("spark.x" -> "1", "spark.y" -> "a=b"))
    assert(EngineSession.parseConf("") === Nil)
  }

  test("SPARK_GRAFT_CONF: an entry without '=' fails, naming the entry") {
    val e = intercept[IllegalArgumentException](
      EngineSession.parseConf("spark.x=1;spark.oops"))
    assert(e.getMessage.contains("'spark.oops'"), e.getMessage)
  }

  /** Janino compiles of the second of two back-to-back runs of `run`,
    * whose answers must agree.
    */
  private def compilesOfRerun(run: () => Seq[String]): Long = {
    val first = run()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run() === first)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def rows(df: DataFrame): Seq[String] =
    try df.collect().map(_.toString).sorted.toSeq finally ops.CacheBin.releaseAll()

  private def query(name: String): Seq[String] = rows(SparkEntry.queries(name)(spark, sf))

  test("compile once: a rerun of the ingest gate compiles no class") {
    assert(compilesOfRerun(() => query("q_ingest_gate_e2e")) === 0)
  }

  test("compile once: a rerun of a 20-query session compiles no class") {
    val session = SparkEntry.registry.take(20).map(_.name)
    assert(compilesOfRerun(() => session.flatMap(query)) === 0)
  }

  test("compile once: a rerun of each DV3F evidence aggregate compiles no class") {
    val wh = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-compile-once").toString
    val fetch: IngestJob.Fetcher = (scope, code) => {
      val (k, lk) = if (scope == "region") ("reg", "libreg") else ("dep", "libdep")
      val results = for (y <- 2019 to 2021; c <- Seq(111, 121)) yield
        s"""{"annee": "$y", "$k": "$code", "$lk": "Name$code",
           | "nbtrans_cod$c": ${y - 2000 + c}, "pxm2_median_cod$c": ${c * 10.5}}""".stripMargin
      s"""{"count": ${results.size}, "results": [${results.mkString(",")}]}"""
    }
    val reports = IngestJob.run(spark, fetch, wh, Seq(("departement", "85"),
      ("departement", "44"), ("region", "52"), ("region", "53")))
    assert(reports.forall(_.ok), reports.mkString("; "))
    def read(t: StagingTable) = Upsert.read(spark, s"$wh/${t.name}")
    val aggregates: Seq[() => DataFrame] = Seq(
      () => read(Dv3fConfig.departement).groupBy(col("annee"))
        .agg(count(lit(1)).as("n_rows"), sum(col("nbtrans")).as("nbtrans")),
      () => read(Dv3fConfig.region).groupBy(col("cod"))
        .agg(count(lit(1)).as("n_rows"), sum(col("nbtrans")).as("nbtrans"),
          max(col("pxm2_median")).as("pxm2_median_max")),
      () => read(Dv3fConfig.departement).filter(col("annee") === "2021")
        .groupBy(col("dep")).agg(sum(col("nbtrans")).as("nbtrans"))
        .orderBy(col("nbtrans").desc, col("dep")).limit(10))
    assert(aggregates.map(a => compilesOfRerun(() => rows(a()))) === Seq(0L, 0L, 0L))
  }
}
