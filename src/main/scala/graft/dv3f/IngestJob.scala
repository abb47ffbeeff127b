package graft.dv3f

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

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
  * https://apidf-preprod.cerema.fr; tests inject fixtures). [[run]] is
  * the phase-1 shape: fetch on the driver per partition, then the
  * melt → split → pivot → uid transform (`Reshape.transform`) and the
  * load. [[runViaSource]] is the at-scale shape: the fetch and the
  * melt → split → pivot run on executors inside the DataSource V2 `dv3f`
  * reader, one (scope, code) page chain at a time, so the staged batch
  * is built with no shuffle; the load is the same. The load caches and
  * counts the batch in one Spark job and leaves the output's file count
  * to the commit's sizing rule ([[Upsert]]), so a merging load runs
  * three jobs per table: the count, the broadcast of the batch's keys
  * and the one-task write.
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

  /** A loaded batch: its row count and per-layer ms. */
  private type Loaded = (Long, Seq[(String, Long)])

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
    * reference's execute_in_process, one driver-side fetch and one
    * upsert per branch. [[runViaSource]] is the shape for scale.
    */
  def run(spark: SparkSession, fetch: Fetcher, warehouseDir: String,
      scopes: Seq[(String, String)] = Dv3fConfig.defaultScopes): Seq[BranchReport] =
    scopes.map { case (s, c) => runBranch(spark, fetch, warehouseDir)(s, c) }

  /** The at-scale shape: the DSv2 `dv3f` source fetches the payloads
    * and folds each (scope, code) page chain into staging rows on
    * executors, its pairs packed into at most `defaultParallelism` scan
    * tasks per table, then ONE upsert per target table instead of a
    * table rewrite per branch (see [[loadStaging]]). Error isolation
    * moves down a level: a bad partition fails its table's batch, the
    * other table still lands.
    */
  def runViaSource(spark: SparkSession, payloadDir: String,
      warehouseDir: String): Seq[BranchReport] =
    loadStaging(spark, spark.read.format("dv3f").option("path", payloadDir), warehouseDir)

  /** Stage (`Dv3fSource.staged`) and [[load]] every table of
    * `Dv3fConfig.staging` from one configured `dv3f` reader, the tables
    * side by side: each runs on a thread this call starts, so it
    * inherits the caller's Spark local properties (job group,
    * description, scheduler pool, tags), and the call joins both before
    * it returns. Each table's batch scans the source once, with no
    * exchange. One report per table, logged and returned in staging
    * order; a table's failure is its own report.
    */
  private[graft] def loadStaging(spark: SparkSession, reader: DataFrameReader,
      warehouseDir: String): Seq[BranchReport] = {
    val tables = Dv3fConfig.staging
    // built on this thread: a DataFrameReader is mutable, not for sharing
    val batches = tables.map(graft.sources.Dv3fSource.staged(reader, _))
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val done = pool.invokeAll(tables.zip(batches).map { case (table, batch) =>
        (() => Try(load(spark, warehouseDir, table)(batch))): Callable[Try[Loaded]]
      }.asJava).asScala
      tables.zip(done).map { case (table, f) =>
        logged(table.scope, "*")(
          try f.get() catch { case e: ExecutionException => throw e.getCause })
      }
    } finally pool.shutdown()
  }

  /** Stage → upsert → catalog re-point for one table, computing the
    * staged batch ONCE: it is persisted, then materialized and counted
    * by ONE job over its physical plan (`toRdd.count()`; a
    * `Dataset.count` would plan a cache stage, a partial-count stage
    * and a result stage, three jobs under AQE). That job fills the
    * cache, so both uses of the batch in the merge (the broadcast key
    * side and the union side) read the cached rows instead of each
    * re-running the scan and reshape. The cache lives through any
    * commit-race retries of the upsert and is dropped in a `finally`,
    * also when a layer throws. An empty batch commits nothing. The
    * commit sizes its own output ([[Upsert]]'s output-sizing rule), so
    * a small batch writes one file. Returns the row count and the
    * per-layer ms for the branch's RunLog line; `stage_ms` covers
    * building the batch (a driver-side fetch included) and
    * materializing it.
    */
  private def load(spark: SparkSession, warehouseDir: String,
      table: StagingTable)(stage: => DataFrame): Loaded = {
    val t0 = System.nanoTime()
    val staged = stage.persist()
    try {
      val n = staged.queryExecution.toRdd.count()
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
      result: Try[Loaded]): BranchReport = {
    val r = result match {
      case Success((n, layerMs)) => BranchReport(scope, code, n, None, layerMs)
      case Failure(e) => BranchReport(scope, code, 0, Some(e.toString))
    }
    RunLog.branch(r)
    r
  }
}
