package graft.queries

import graft.Tables
import graft.dv3f._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline-shaped queries exercising the DV3F reshape/hash/quality
  * operators (SURVEY.md §2 T1-T4, Q1-Q2, F3-F7) on the driver testdata
  * plus one self-contained golden pipeline on the FIXTURES.md §1 payload.
  */
object Dv3fQueries {

  /** T1 — unpivot lineitem's four numeric metrics long-form. */
  def unpivotLineitem(spark: SparkSession, dir: String): DataFrame =
    Reshape.unpivotWide(
      Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"),
      idVars = Seq("l_orderkey", "l_linenumber"))
      .withColumnRenamed("cod_full", "metric")
      .withColumnRenamed("valeur", "value")

  /** T3 — pivot the long form back to wide with an explicit value list
    * (no distinct scan) and a deterministic agg (max).
    */
  def pivotLineitem(spark: SparkSession, dir: String): DataFrame = {
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    unpivotLineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .pivot("metric", metrics)
      .agg(max(col("value")))
  }

  /** T2 — split-on-last-underscore + "cod" strip over synthesized
    * `<metric>_cod<N>` strings (the API's wide column naming).
    */
  def splitCod(spark: SparkSession, dir: String): DataFrame =
    Reshape.splitCod(
      Tables.load(spark, dir, "part")
        .select(col("p_partkey"),
          concat(lit("valeurfonc_sum_cod"), (col("p_partkey") % 10).cast(StringType))
            .as("cod_full")))
      .select(col("p_partkey"), col("cod_full").as("metric"), col("cod"))

  /** T4/F3-F5 — sha256 content-hash uid over nation. */
  def uidSha2(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"),
        sha2(concat(col("n_nationkey").cast(StringType), col("n_name")), 256).as("uid"))

  /** FIXTURES.md §1 — the wide departement API payload as a literal frame. */
  def fixtureWide(spark: SparkSession): DataFrame = {
    val metricCols = Seq(
      "nbtrans_cod111", "valeurfonc_sum_cod111", "valeurfonc_q25_cod111",
      "valeurfonc_median_cod111", "valeurfonc_q75_cod111", "pxm2_q25_cod111",
      "pxm2_median_cod111", "pxm2_q75_cod111", "sbati_sum_cod111",
      "sbati_median_cod111", "nbtrans_cod121", "valeurfonc_sum_cod121",
      "valeurfonc_median_cod121", "pxm2_median_cod121")
    val schema = StructType(
      Seq("annee", "dep", "libdep").map(StructField(_, StringType)) ++
        metricCols.map(StructField(_, DoubleType)))
    val rows = java.util.Arrays.asList(
      Row("2019", "85", "Vendée",
        7543.0, 1.23e9, 98000.0, 152000.0, 231000.0, 1450.5, 1980.0, 2610.75,
        812345.0, 95.0, 312.0, 4.1e7, null, 2100.0),
      Row("2020", "85", "Vendée",
        8012.0, 1.41e9, null, null, null, null, null, null, null, null,
        null, null, null, null))
    spark.createDataFrame(rows, schema)
  }

  /** The flagship end-to-end transform: FIXTURES wide payload →
    * unpivot → split → pivot(first) → sha2 uid (golden rows in
    * FIXTURES.md §2). Fully self-contained — `dir` unused.
    */
  def dv3fPipeline(spark: SparkSession, dir: String): DataFrame =
    Reshape.transform(fixtureWide(spark), Dv3fConfig.departement)

  /** The FIXTURES wide payload serialized as an API-shaped JSON dir for
    * the dv3f source (one departement_85 partition).
    */
  private def fixtureApiDir(spark: SparkSession): String = {
    val tmp = java.nio.file.Files.createTempDirectory("dv3f_api").toFile
    tmp.deleteOnExit()
    val results = fixtureWide(spark).toJSON.collect().mkString(",")
    val payload =
      s"""{"count":2,"next":null,"previous":null,"results":[$results]}"""
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "departement_85.json").toPath, payload)
    tmp.getAbsolutePath
  }

  /** S1 phase 2 — the SAME flagship pipeline, but entering through the
    * DataSource V2 `format("dv3f")` reader: the fixture payload is
    * serialized to an API-shaped JSON file and read back in the staging
    * shape — the fetch, melt, split and pivot of each (scope, code) page
    * chain run on executors, its pairs packed into core-sized
    * InputPartitions — then staged with no exchange. Oracle-identical to
    * q_dv3f_pipeline — which is the point: the source is a drop-in scan.
    */
  def dv3fSourcePipeline(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Dv3fSource.staged(
      spark.read.format("dv3f").option("path", fixtureApiDir(spark)), Dv3fConfig.departement)

  /** S1 phase 3 — DSv2 AGGREGATE pushdown through the same source: the
    * per-annee indicator profile (metric-cell count, observed-value
    * count, min/max) computed INSIDE the partition reader against the
    * paginating page chain (SupportsPushDownAggregates — partial
    * pushdown, Spark merges). For a REST deployment this is the
    * bandwidth story: |groups| rows per (scope, code) leave the edge
    * instead of every flattened metric row. The spec pins that the
    * scan really emits aggregated rows; this face pins the numbers.
    */
  def dv3fAggPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("dv3f")
      .option("path", fixtureApiDir(spark)).load()
      .groupBy(col("scope"), col("code"), col("annee"))
      .agg(count(lit(1)).as("n_cells"),
        count(col("valeur")).as("n_vals"),
        min(col("valeur")).as("min_v"),
        max(col("valeur")).as("max_v"))
      .orderBy(col("annee"))

  /** Q1 — dbt `unique` test as a query (violation count). */
  def qualityUnique(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderkey")).count()
      .filter(col("count") > 1)
      .agg(count(lit(1)).as("violations"))

  /** Q2 — dbt `not_null` test as a query (violation count). */
  def qualityNotNull(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("violations"))

  /** dbt `accepted_values` test as a query: orders.o_orderstatus must be
    * one of O/F/P. SINGLE-ROW pass/fail summary — total violation count
    * plus the lexicographically-first offending value ('' when clean) so
    * a failure message can name a concrete bad value without a second
    * scan. For the per-value diagnostic shape (dbt store_failures), see
    * [[qualityAcceptedReport]].
    */
  def qualityAcceptedValues(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus").isNotNull &&
        !col("o_orderstatus").isin("O", "F", "P"))
      .agg(count(lit(1)).as("violations"),
        coalesce(min(col("o_orderstatus")), lit("")).as("first_bad"))

  /** dbt `accepted_values` with `store_failures`: one row PER distinct
    * offending value with its count (empty when clean) — the diagnostic
    * face of [[qualityAcceptedValues]]. Run here against
    * orders.o_orderpriority with an allowed set the data genuinely
    * violates (priorities 4/5 excluded) so the report shape is
    * hash-checked non-empty. Scale: group on the offending VALUE, so
    * cardinality is bounded by distinct bad values, not rows.
    */
  def qualityAcceptedReport(spark: SparkSession, dir: String): DataFrame =
    Quality.acceptedValuesReport(
      Tables.load(spark, dir, "orders"), "o_orderpriority",
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))

  /** dbt `relationships` test as a query: every lineitem.l_orderkey must
    * exist in orders (referential integrity). One anti join on the key.
    */
  def qualityRelationship(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey").isNotNull)
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))

  /** Column profiling over orders — the dbt-test family generalized
    * (one scan for all columns; see Quality.profile).
    */
  def profileOrders(spark: SparkSession, dir: String): DataFrame =
    Quality.profile(Tables.load(spark, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
}
