package graft.dv3f

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog surface (SURVEY.md §2 K1/K2/S4/P1 and §3.2): the reference's
  * DuckDB schema/DDL layer and dbt model graph, as Spark catalog objects.
  *
  *  - K1: `CREATE DATABASE IF NOT EXISTS dev`
  *        (reference: scripts/extract_load.py:220)
  *  - K2: `CREATE TABLE IF NOT EXISTS dev.<t> (...) USING parquet` with
  *        the typed schema generated from config, like the reference's
  *        YAML-driven DDL (scripts/extract_load.py:222-231). The PK is
  *        advisory — uniqueness is owned by the keyed upsert (K3) and
  *        checked by Quality (Q1).
  *  - S4/P1: dbt `source()`/staging models — `select *` views over the
  *        sources (dbt_core/models/dev/sources/src_departement.sql:1-3);
  *        dbt's ephemeral materialization is exactly a temp view:
  *        Catalyst inlines it into consumers the way dbt inlines CTEs.
  *  - Example models (dbt_core/models/example SQL files): literal union
  *        source and the id=1 filter, as views over the catalog.
  */
object Catalog {

  val database = "dev"

  /** K1 — idempotent schema creation. */
  def ensureDatabase(spark: SparkSession): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")

  /** K2 — idempotent typed table creation over the warehouse parquet
    * location the upsert writes. DDL is generated from the same
    * StagingTable config the transform uses — one declarative source of
    * truth, like the reference's YAML.
    */
  /** The table's live data dir: Upsert's commit pointer resolved (the
    * upsert protocol keeps each snapshot in an immutable `_v_<n>` dir),
    * or the plain path for flat/pre-protocol layouts.
    */
  private def liveLocation(spark: SparkSession, warehouseDir: String,
      table: StagingTable): String = {
    val path = s"$warehouseDir/${table.name}"
    Upsert.currentSnapshot(spark, path) match {
      case None => path // flat/pre-protocol (or not-yet-written) layout
      case Some(snap) => snap.getOrElse("",
        // a partitioned-protocol snapshot has no single live dir; a
        // plain-parquet LOCATION over the root would silently scan zero
        // files (data hides under _v_ dirs) — fail loudly instead
        throw new IllegalStateException(s"$path uses the PARTITIONED " +
          "upsert protocol; register it as a partitioned table or read " +
          "through Upsert.read"))
    }
  }

  def ensureStagingTable(spark: SparkSession, warehouseDir: String,
      table: StagingTable): Unit = {
    ensureDatabase(spark)
    val cols = table.schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $database.${table.name} ($cols)
         |USING parquet LOCATION '${liveLocation(spark, warehouseDir, table)}'
         |""".stripMargin)
  }

  def ensureAll(spark: SparkSession, warehouseDir: String): Unit =
    Dv3fConfig.staging.foreach(ensureStagingTable(spark, warehouseDir, _))

  /** After an upsert committed a new snapshot, re-point the catalog
    * table at it. `ALTER TABLE … SET LOCATION` refreshes the table
    * itself (its cached relation, file listing and any cached data), so
    * no `REFRESH TABLE` follows. The old snapshot stays on disk for
    * Upsert.keepCommits commits, so queries planned against the
    * previous location still read consistent data.
    */
  def refresh(spark: SparkSession, warehouseDir: String, table: StagingTable): Unit =
    spark.sql(s"ALTER TABLE $database.${table.name} " +
      s"SET LOCATION '${liveLocation(spark, warehouseDir, table)}'")

  /** Refresh cached file listings only (no location re-point). */
  def refresh(spark: SparkSession, table: StagingTable): Unit =
    spark.sql(s"REFRESH TABLE $database.${table.name}")

  /** Re-point after a commit IF the table is registered — the ingest
    * path calls this after every upsert so catalog LOCATIONs track the
    * live snapshot (vacuum retains only Upsert.keepCommits snapshots;
    * a pinned stale LOCATION would eventually point at a deleted dir).
    * No-op before ensureStagingTable has run.
    */
  def repointIfRegistered(spark: SparkSession, warehouseDir: String,
      table: StagingTable): Unit =
    if (spark.catalog.tableExists(s"$database.${table.name}"))
      refresh(spark, warehouseDir, table)

  /** P1 — `select *` staging views (dbt models dev/sources/src_*). */
  def registerStagingViews(spark: SparkSession): Unit =
    Dv3fConfig.staging.foreach { t =>
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${t.name}_v AS " +
        s"SELECT * FROM $database.${t.name}")
    }

  /** dbt example models (my_first/my_second_dbt_model.sql) as views:
    * literal UNION ALL source + downstream equality filter. Ephemeral
    * materialization == temp view (inlined by the analyzer).
    */
  def registerExampleModels(spark: SparkSession): Unit = {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW my_first_dbt_model AS
        |SELECT 1 AS id UNION ALL SELECT NULL AS id""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW my_second_dbt_model AS
        |SELECT * FROM my_first_dbt_model WHERE id = 1""".stripMargin)
  }

  /** dbt schema tests for the example models (Q1/Q2 over the graph). */
  def exampleModelTests(spark: SparkSession): Seq[(String, Boolean)] = {
    registerExampleModels(spark)
    Seq(
      "my_first_unique" ->
        (Quality.uniqueViolations(spark.table("my_first_dbt_model"), "id") == 0),
      "my_second_not_null" ->
        (Quality.notNullViolations(spark.table("my_second_dbt_model"), "id") == 0))
  }
}
