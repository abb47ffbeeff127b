package graft.dv3f

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** JSON payload flattening (S2): the API returns
  * `{count, next, previous, results: [...]}`; the relation is the
  * flattened `results` array (reference: scripts/extract_load.py:81-91,
  * pandas json_normalize). Spark-side: parse + explode.
  */
object JsonFlatten {
  def flattenResults(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.json(Seq(json).toDS())
    if (!raw.columns.contains("results"))
      throw new IllegalArgumentException("payload has no 'results' array")
    raw.select(explode(col("results")).as("r")).select("r.*")
  }
}

/** The ingestion job: dynamic fan-out over (scope, code) partitions with
  * per-branch error isolation (reference: scripts/etl.py:13-66 — Dagster
  * DynamicOut + mapped subgraph; each op try/excepts so one bad partition
  * never kills the run, scripts/etl.py:26-55).
  *
  * `fetch` is pluggable (the reference hits
  * https://apidf-preprod.cerema.fr; tests inject fixtures). Phase-1 shape:
  * fetch on the driver per partition, transform/load distributed. At real
  * scale the fetch belongs in a DataSource V2 reader with one
  * InputPartition per (scope, code) so HTTP runs on executors — the
  * transform/load below is already executor-side and unchanged by that
  * move.
  */
object IngestJob {
  /** One branch's outcome. `layerMs` holds the wall-clock ms of each
    * layer of a loaded batch (`stage_ms`, `upsert_ms`, `refresh_ms`);
    * it is empty for a failed branch.
    */
  final case class BranchReport(scope: String, code: String,
      rows: Long, error: Option[String],
      layerMs: Seq[(String, Long)] = Nil) {
    def ok: Boolean = error.isEmpty
  }

  type Fetcher = (String, String) => String // (scope, code) => payload JSON

  /** Run one branch: extract → transform → upsert. Returns a report, never
    * throws (D4 error isolation).
    */
  def runBranch(spark: SparkSession, fetch: Fetcher, warehouseDir: String)(
      scope: String, code: String): BranchReport =
    logged(scope, code)(Try {
      val table = Dv3fConfig.route(scope)
      load(spark, warehouseDir, table)(
        Reshape.transform(JsonFlatten.flattenResults(spark, fetch(scope, code)), table))
    })

  /** Full run over the configured fan-out (D1/D2): sequential like the
    * reference's execute_in_process, but each branch is an independent
    * Spark job — trivially parallelizable with a .par collection or by
    * unioning staged frames per target table before one upsert (fewer
    * rewrites; preferred at scale).
    */
  def run(spark: SparkSession, fetch: Fetcher, warehouseDir: String,
      scopes: Seq[(String, String)] = Dv3fConfig.defaultScopes): Seq[BranchReport] =
    scopes.map { case (s, c) => runBranch(spark, fetch, warehouseDir)(s, c) }

  /** The at-scale shape: ONE job through the DSv2 `dv3f` source (fetch
    * and flatten on executors, one InputPartition per (scope, code)),
    * then ONE upsert per target table instead of a table rewrite per
    * branch. Each table's batch scans the source once: the row count
    * and the merge both read the persisted batch (see [[load]]). Error
    * isolation moves down a level: a bad partition fails its table's
    * batch, the other table still lands.
    */
  def runViaSource(spark: SparkSession, payloadDir: String,
      warehouseDir: String): Seq[BranchReport] = {
    val longDf = spark.read.format("dv3f")
      .option("path", payloadDir).load()
    Dv3fConfig.staging.map { table =>
      logged(table.scope, "*")(Try(
        load(spark, warehouseDir, table)(graft.sources.Dv3fSource.stage(longDf, table))))
    }
  }

  /** Stage → upsert → catalog re-point for one table, computing the
    * staged batch ONCE: it is persisted before its row count, so the
    * count and both uses of the batch in the merge (the broadcast key
    * side and the union side) read the cached rows instead of each
    * re-running the scan and reshape. The cache lives through any
    * commit-race retries of the upsert and is dropped in a `finally`,
    * also when a layer throws. An empty batch commits nothing. Returns
    * the row count and the per-layer ms for the branch's RunLog line;
    * `stage_ms` covers building the batch (a driver-side fetch
    * included) and materializing it.
    */
  private def load(spark: SparkSession, warehouseDir: String,
      table: StagingTable)(stage: => DataFrame): (Long, Seq[(String, Long)]) = {
    val t0 = System.nanoTime()
    val staged = stage.persist()
    try {
      val n = staged.count()
      val t1 = System.nanoTime()
      if (n > 0)
        Upsert.upsertByName(spark, s"$warehouseDir/${table.name}", staged, table)
      val t2 = System.nanoTime()
      if (n > 0) Catalog.repointIfRegistered(spark, warehouseDir, table)
      val t3 = System.nanoTime()
      val ms = (a: Long, b: Long) => (b - a) / 1000000
      (n, Seq("stage_ms" -> ms(t0, t1), "upsert_ms" -> ms(t1, t2),
        "refresh_ms" -> ms(t2, t3)))
    } finally staged.unpersist()
  }

  /** The branch's report, logged: never throws (D4 error isolation). */
  private def logged(scope: String, code: String)(
      result: Try[(Long, Seq[(String, Long)])]): BranchReport = {
    val r = result match {
      case Success((n, layerMs)) => BranchReport(scope, code, n, None, layerMs)
      case Failure(e) => BranchReport(scope, code, 0, Some(e.toString))
    }
    RunLog.branch(r)
    r
  }
}
