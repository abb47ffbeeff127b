package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: how Spark builds it from a table dir, and the
  * DuckDB SQL that checks its answer over the same parquet tables.
  *
  * `stagedInput` marks a cell whose Spark side reads an artifact built once
  * per JVM (an index, a fit, a stream run, a maintained view) while the
  * oracle re-derives it on every run, or does different I/O: its
  * spark/duck ratio compares different work (BASELINE.md's staged-input,
  * cached-fit and basis-mismatch families). Bench lists these cells in
  * every receipt.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    stagedInput: Boolean = false)

/** The engine's public query surface (SURVEY.md §7): `entry`, `queries`
  * and `oracleSql`.
  *
  * Each query is declared once, in `registry`, next to its DuckDB oracle;
  * the two maps are views of it. Column names are aligned on both sides
  * because the result compare sorts columns by name before hashing.
  * Money sums are exact-decimal on both sides (see queries.Analytics) so
  * no float nondeterminism leaks into the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.ordersByMonth(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap

  /** Every query with its oracle. Names are unique (SparkEntrySpec): the
    * maps above would keep only the last of two entries with one name. */
  val registry: Seq[QuerySpec] = Seq(
    // — reference parity: aggregations / filters / sorts (SURVEY §2.3, 2.6, 2.8)
    QuerySpec("q1_agg", Reference.q1Agg(_, _),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    QuerySpec("q_orders_by_month", Analytics.ordersByMonth(_, _),
      """SELECT date_trunc('month', o_orderdate) AS order_month,
         count(*) AS number_of_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_usd,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS average_order_value
         FROM orders GROUP BY 1 ORDER BY 1 DESC"""),
    QuerySpec("q_filter_eq", Analytics.filterEq(_, _),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderstatus = 'F' AND o_orderkey < 100"""),
    QuerySpec("q_filter_range", Analytics.filterRange(_, _),
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_usd
         FROM orders WHERE o_orderdate >= '1998-06-01' GROUP BY o_orderstatus"""),
    QuerySpec("q_like_groupall", Analytics.salesByCategoryLike(_, _),
      """SELECT o_orderpriority AS category,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_usd
         FROM orders WHERE o_orderpriority LIKE '%HIGH%'
         AND CAST(date_part('year', o_orderdate) AS VARCHAR) LIKE '19%'
         GROUP BY ALL"""),
    QuerySpec("q_distinct_category", Analytics.distinctCategories(_, _),
      "SELECT o_orderpriority AS category FROM orders GROUP BY o_orderpriority"),
    QuerySpec("q_limit_preview", Analytics.limitPreview(_, _),
      "SELECT * FROM region ORDER BY r_regionkey LIMIT 10"),
    QuerySpec("q_union_all", Analytics.unionAllLiterals(_, _),
      "SELECT 1 AS id UNION ALL SELECT NULL AS id"),
    QuerySpec("q_sql_ordinal", Analytics.sqlOrdinal(_, _),
      """SELECT date_trunc('month', o_orderdate) AS order_month,
         count(*) AS number_of_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_usd
         FROM orders GROUP BY 1 ORDER BY 1 DESC"""),
    QuerySpec("q_sql_recursive", Analytics.sqlRecursive(_, _), Analytics.sqlRecursiveSql),
    QuerySpec("q_sql_pivot", Analytics.sqlPivot(_, _), Analytics.sqlPivotSql),
    QuerySpec("q_sql_unpivot", Analytics.sqlUnpivot(_, _), Analytics.sqlUnpivotSql),
    QuerySpec("q_corr_matrix", Analytics.corrMatrix(_, _), Analytics.corrMatrixSql),
    QuerySpec("q_sql_groupby_all", Analytics.sqlGroupByAll(_, _),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY ALL"""),
    QuerySpec("q_sql_params", Analytics.sqlParams(_, _),
      """SELECT o_orderpriority AS category,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales_usd
         FROM orders WHERE o_orderpriority LIKE '%HIGH%'
         AND CAST(date_part('year', o_orderdate) AS VARCHAR) LIKE '19%'
         GROUP BY ALL ORDER BY sales_usd DESC"""),
    QuerySpec("q_sql_rollup", Analytics.rollupCounts(_, _),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""),
    QuerySpec("q_sql_cube", Analytics.cubeCounts(_, _), Analytics.cubeCountsSql),
    QuerySpec("q_sql_grouping_sets", Analytics.groupingSetsCounts(_, _),
      Analytics.groupingSetsCountsSql),
    QuerySpec("q_string_agg", Analytics.stringAggStatuses(_, _), Analytics.stringAggStatusesSql),
    QuerySpec("q_window_nav", Analytics.windowNavigation(_, _), Analytics.windowNavigationSql),
    QuerySpec("q_join_full_outer", Analytics.fullOuterActivity(_, _),
      Analytics.fullOuterActivitySql),
    QuerySpec("q_sql_correlated", Analytics.sqlCorrelated(_, _), Analytics.sqlCorrelatedSql),
    QuerySpec("q_sql_lateral", Analytics.sqlLateral(_, _), Analytics.sqlLateralSql),
    QuerySpec("q_window_ignore_nulls", Analytics.windowIgnoreNulls(_, _),
      Analytics.windowIgnoreNullsSql),
    QuerySpec("q_fuzzy_match", Analytics.fuzzyPartNames(_, _), Analytics.fuzzyPartNamesSql),
    QuerySpec("q_sql_setops", Analytics.setOps(_, _),
      """SELECT o_orderpriority, 'both' AS op FROM (
           SELECT o_orderpriority FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'
           INTERSECT
           SELECT o_orderpriority FROM orders
           WHERE o_orderdate BETWEEN '1995-07-01' AND '1995-12-31')
         UNION ALL
         SELECT o_orderpriority, 'h1_only' AS op FROM (
           SELECT o_orderpriority FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'
           EXCEPT
           SELECT o_orderpriority FROM orders
           WHERE o_orderdate BETWEEN '1995-07-01' AND '1995-12-31')"""),
    QuerySpec("q_sql_setops_all", Analytics.setOpsAll(_, _), Analytics.setOpsAllSql),
    QuerySpec("q_window_running", Analytics.runningWindows(_, _),
      """WITH monthly AS (
           SELECT o_orderstatus, date_trunc('month', o_orderdate) AS month,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
           FROM orders GROUP BY 1, 2)
         SELECT o_orderstatus, month, n,
           CAST(sum(n) OVER (PARTITION BY o_orderstatus ORDER BY month
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n,
           round(avg(sales) OVER (PARTITION BY o_orderstatus ORDER BY month
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS sales_ma3
         FROM monthly"""),
    // — joins (SURVEY §2.4 / testdata surface)
    QuerySpec("q_join_nation_region", Analytics.joinNationRegion(_, _),
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"""),
    QuerySpec("q_join_orders_lineitem", Analytics.joinOrdersLineitem(_, _),
      """SELECT o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority"""),
    QuerySpec("q_join_5way", Analytics.revenueByNation(_, _),
      """SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'ASIA'
           AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
         GROUP BY n_name"""),
    QuerySpec("q_shipping_priority", Analytics.shippingPriority(_, _),
      Analytics.shippingPrioritySql),
    QuerySpec("q_join_semi_anti", Analytics.churnedCustomers(_, _),
      """SELECT c_custkey FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01')
         AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01')"""),
    QuerySpec("q_join_bloom_prune", Analytics.bloomSemiRevenue(_, _),
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n_items
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
           AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1"""),
    // — windows / percentiles (extension surface, SURVEY §2.7)
    QuerySpec("q_window_topk", Analytics.topOrdersPerPriority(_, _),
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
           FROM orders) WHERE rk <= 3"""),
    QuerySpec("q_window_ranking", Analytics.rankingFamily(_, _), Analytics.rankingFamilySql),
    QuerySpec("q_window_range_7d", Events.rolling7d(_, _), Events.rolling7dSql),
    QuerySpec("q_funnel", Events.funnel(_, _), Events.funnelSql),
    QuerySpec("q_cohort_retention", Events.cohortRetention(_, _), Events.cohortRetentionSql),
    QuerySpec("q_engagement_coverage", Events.engagementCoverage(_, _),
      Events.engagementCoverageSql),
    QuerySpec("q_event_transitions", Events.eventTransitions(_, _), Events.eventTransitionsSql),
    QuerySpec("q_attribution", Events.lastTouchAttribution(_, _), Events.lastTouchAttributionSql),
    QuerySpec("q_attribution_linear", Events.linearAttribution(_, _), Events.linearAttributionSql),
    QuerySpec("q_attribution_stream", Events.attributionStreamMaterialize(_, _),
      Events.lastTouchAttributionSql, stagedInput = true),
    QuerySpec("q_trend_slope", Events.trendSlope(_, _), Events.trendSlopeSql),
    QuerySpec("q_anomaly_days", Events.anomalyDays(_, _), Events.anomalyDaysSql),
    QuerySpec("q_ewma_daily", Events.ewmaDaily(_, _), Events.ewmaDailySql),
    QuerySpec("q_regression_multi", Events.regressionMulti(_, _), Events.regressionMultiSql),
    QuerySpec("q_theil_sen", Events.theilSenSlope(_, _), Events.theilSenSlopeSql),
    QuerySpec("q_event_paths", Events.eventPaths(_, _), Events.eventPathsSql),
    QuerySpec("q_pagerank", (s, d) => LlmOps.pagerankTopK(s, d), LlmOps.pagerankTopKSql),
    QuerySpec("q_pagerank_ppr", (s, d) => LlmOps.pagerankPersonalized(s, d),
      LlmOps.pagerankPersonalizedSql),
    QuerySpec("q_textrank", (s, d) => LlmOps.textrank(s, d), LlmOps.textrankSql()),
    QuerySpec("q_percentiles", Analytics.quantitiesQuartiles(_, _),
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
         quantile_cont(l_quantity, 0.5) AS median,
         quantile_cont(l_quantity, 0.75) AS q75
         FROM lineitem GROUP BY l_returnflag"""),
    // — DV3F reshape pipeline (SURVEY §2.5, T1-T4)
    QuerySpec("q_unpivot", Dv3fQueries.unpivotLineitem(_, _),
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
           FROM lineitem)
         UNPIVOT INCLUDE NULLS (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))"""),
    QuerySpec("q_pivot", Dv3fQueries.pivotLineitem(_, _),
      """SELECT l_orderkey, l_linenumber,
         max(CASE WHEN metric = 'l_quantity' THEN value END) AS l_quantity,
         max(CASE WHEN metric = 'l_extendedprice' THEN value END) AS l_extendedprice,
         max(CASE WHEN metric = 'l_discount' THEN value END) AS l_discount,
         max(CASE WHEN metric = 'l_tax' THEN value END) AS l_tax
         FROM (
           SELECT l_orderkey, l_linenumber, metric, value FROM (
             SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
             FROM lineitem)
           UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax)))
         GROUP BY l_orderkey, l_linenumber"""),
    QuerySpec("q_split_cod", Dv3fQueries.splitCod(_, _),
      """SELECT p_partkey,
         regexp_extract(cod_full, '^(.*)_([^_]*)$', 1) AS metric,
         regexp_replace(regexp_extract(cod_full, '^(.*)_([^_]*)$', 2), 'cod', '') AS cod
         FROM (SELECT p_partkey,
           'valeurfonc_sum_cod' || CAST(p_partkey % 10 AS VARCHAR) AS cod_full FROM part)"""),
    QuerySpec("q_uid_sha2", Dv3fQueries.uidSha2(_, _),
      """SELECT n_nationkey,
         sha256(CAST(n_nationkey AS VARCHAR) || n_name) AS uid FROM nation"""),
    QuerySpec("q_dv3f_pipeline", Dv3fQueries.dv3fPipeline(_, _), Dv3fOracle.pipelineSql),
    QuerySpec("q_dv3f_source", Dv3fQueries.dv3fSourcePipeline(_, _), Dv3fOracle.pipelineSql),
    QuerySpec("q_dv3f_agg_pushdown", Dv3fQueries.dv3fAggPushdown(_, _), Dv3fOracle.aggPushdownSql),
    // — connector smoke (SURVEY §2.1 S6): real round trips per format
    QuerySpec("q_csv_scan", Connectors.csvScan(_, _), Connectors.csvScanSql),
    QuerySpec("q_jdbc_scan", Connectors.jdbcScan(_, _), Connectors.jdbcScanSql),
    QuerySpec("q_dbf_scan", Connectors.dbfScan(_, _), Connectors.dbfScanSql),
    QuerySpec("q_dbf_lookup_join", Connectors.dbfLookupJoin(_, _), Connectors.dbfLookupJoinSql),
    QuerySpec("q_orc_scan", Connectors.orcScan(_, _), Connectors.orcScanSql),
    QuerySpec("q_xml_scan", Connectors.xmlScan(_, _), Connectors.xmlScanSql),
    QuerySpec("q_json_scan", Connectors.jsonScan(_, _), Connectors.jsonScanSql),
    QuerySpec("q_binaryfile_scan", Connectors.binaryFilesScan(_, _),
      Connectors.binaryFilesScanSql, stagedInput = true),
    QuerySpec("q_avro_scan", Connectors.avroScan(_, _), Connectors.avroScanSql),
    QuerySpec("q_text_scan", Connectors.textScan(_, _), Connectors.textScanSql),
    // — physical-layout surface through the gate (skew/layout/bucketing)
    QuerySpec("q_skew_salted_agg", Physical.saltedAgg(_, _), Physical.saltedAggSql),
    QuerySpec("q_skew_salted_join", Physical.saltedJoin(_, _), Physical.saltedJoinSql),
    QuerySpec("q_layout_pruned_scan", Physical.partitionPrunedScan(_, _),
      Physical.partitionPrunedScanSql),
    QuerySpec("q_bucketed_join", Physical.bucketedJoin(_, _), Physical.bucketedJoinSql),
    // — data quality (SURVEY §2.13)
    QuerySpec("q_quality_unique", Dv3fQueries.qualityUnique(_, _),
      """SELECT count(*) AS violations FROM (
           SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)"""),
    QuerySpec("q_quality_notnull", Dv3fQueries.qualityNotNull(_, _),
      "SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders"),
    QuerySpec("q_quality_accepted", Dv3fQueries.qualityAcceptedValues(_, _),
      """SELECT count(*) AS violations,
           coalesce(min(o_orderstatus), '') AS first_bad
         FROM orders WHERE o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('O', 'F', 'P')"""),
    QuerySpec("q_quality_accepted_report", Dv3fQueries.qualityAcceptedReport(_, _),
      """SELECT o_orderpriority AS bad_value, count(*) AS violations
         FROM orders WHERE o_orderpriority IS NOT NULL
           AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q_quality_relationship", Dv3fQueries.qualityRelationship(_, _),
      """SELECT count(*) AS violations FROM lineitem l
         WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""),
    QuerySpec("q_profile", Dv3fQueries.profileOrders(_, _),
      Seq("o_orderstatus", "o_orderpriority", "o_custkey").map(c =>
      s"""SELECT '$c' AS "column", count(*) AS n,
          count(*) - count($c) AS n_null,
          count(DISTINCT $c) AS n_distinct,
          min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value
          FROM orders""").mkString(" UNION ALL ")),
    // — LLM-pipeline: dedup family
    QuerySpec("q_dedup_exact", LlmOps.dedupExact(_, _), LlmOps.dedupExactSql),
    QuerySpec("q_dedup_minhash", LlmOps.minhashSignatures(_, _), LlmOps.minhashSql),
    QuerySpec("q_dedup_minhash_lsh", LlmOps.minhashLshDedup(_, _), LlmOps.minhashLshSql),
    QuerySpec("q_dedup_cc", LlmOps.dedupClusters(_, _), LlmOps.dedupClustersSql),
    QuerySpec("q_dedup_survivors", LlmOps.dedupSurvivors(_, _), LlmOps.dedupSurvivorsSql),
    QuerySpec("q_dedup_survivors_best", LlmOps.dedupSurvivorsBest(_, _),
      LlmOps.dedupSurvivorsBestSql),
    QuerySpec("q_curation_report", LlmOps.curationReport(_, _), LlmOps.curationReportSql),
    QuerySpec("q_dedup_cc_incr", LlmOps.dedupClustersIncremental(_, _),
      LlmOps.dedupClustersIncrSql),
    QuerySpec("q_dedup_ngram_jaccard", LlmOps.ngramJaccard(_, _), LlmOps.ngramJaccardSql),
    QuerySpec("q_dedup_containment", LlmOps.ngramContainment(_, _), LlmOps.ngramContainmentSql),
    QuerySpec("q_chunk_cdc_dedup", LlmOps.cdcChunkDedup(_, _), LlmOps.cdcChunkDedupSql),
    QuerySpec("q_dedup_simhash", LlmOps.simhashSignatures(_, _), LlmOps.simhashSql),
    QuerySpec("q_dedup_simhash_pairs", LlmOps.simhashPairs(_, _), LlmOps.simhashPairsSql),
    QuerySpec("q_corpus_clean", LlmOps.corpusClean(_, _), LlmOps.corpusCleanSql),
    QuerySpec("q_prepare_corpus", LlmOps.prepareCorpus(_, _), LlmOps.prepareCorpusSql),
    QuerySpec("q_dedup_spans", LlmOps.duplicateSpans(_, _), LlmOps.duplicateSpansSql),
    QuerySpec("q_dedup_longest_span", (s, d) => LlmOps.dedupLongestSpan(s, d),
      LlmOps.dedupLongestSpanSql),
    QuerySpec("q_blocklist_scan", LlmOps.blocklistScan(_, _), LlmOps.blocklistScanSql),
    QuerySpec("q_blocklist_mask", LlmOps.blocklistMask(_, _), LlmOps.blocklistMaskSql),
    QuerySpec("q_blocklist_stream", LlmOps.blocklistStreamMaterialize(_, _),
      LlmOps.blocklistMaskSql, stagedInput = true),
    QuerySpec("q_dedup_doc_coverage", LlmOps.dedupDocCoverage(_, _),
      LlmOps.dedupDocCoverageSql, stagedInput = true),
    QuerySpec("q_dedup_suffix_span", LlmOps.dedupSuffixSpan(_, _), LlmOps.dedupSuffixSpanSql),
    QuerySpec("q_para_dedup", LlmOps.paraDedup(_, _), LlmOps.paraDedupSql),
    // bloom prefilter is semantically invisible: same oracle as q_para_dedup
    QuerySpec("q_para_dedup_bloom", LlmOps.paraDedupBloom(_, _), LlmOps.paraDedupSql),
    QuerySpec("q_para_dedup_incr", LlmOps.paraDedupIncr(_, _),
      LlmOps.paraDedupIncrSql, stagedInput = true),
    QuerySpec("q_para_dedup_stream", LlmOps.paraDedupStreamMaterialize(_, _),
      LlmOps.paraDedupStreamSql, stagedInput = true),
    QuerySpec("q_decontaminate", LlmOps.decontaminate(_, _), LlmOps.decontaminateSql),
    QuerySpec("q_decontaminate_bloom", LlmOps.decontaminateBloom(_, _),
      LlmOps.decontaminateBloomSql),
    QuerySpec("q_dedup_incr_exact", LlmOps.dedupIncrementalExact(_, _),
      LlmOps.dedupIncrementalExactSql),
    QuerySpec("q_dedup_incr_lsh", LlmOps.dedupIncrementalLsh(_, _), LlmOps.dedupIncrementalLshSql),
    QuerySpec("q_ingest_gate_e2e", LlmOps.ingestGateE2e(_, _),
      LlmOps.ingestGateE2eSql, stagedInput = true),
    QuerySpec("q_vocab_topk", LlmOps.vocabTopK(_, _), LlmOps.vocabTopKSql),
    QuerySpec("q_tfidf_keywords", (s, d) => LlmOps.tfidfKeywords(s, d), LlmOps.tfidfKeywordsSql()),
    QuerySpec("q_ssjoin_ppjoin", LlmOps.ssjoinPpjoin(_, _), LlmOps.ssjoinPpjoinSql),
    QuerySpec("q_ssjoin_incr", LlmOps.ssjoinIncr(_, _), LlmOps.ssjoinIncrSql),
    QuerySpec("q_ssjoin_stream", LlmOps.ssjoinStreamMaterialize(_, _),
      LlmOps.ssjoinStreamSql, stagedInput = true),
    QuerySpec("q_lsh_tune", LlmOps.lshParamSweep(_, _), LlmOps.lshParamSweepSql),
    // reads the per-JVM fitted banding; the oracle replays the full sweep
    QuerySpec("q_lsh_fitted_dedup", (s, d) => LlmOps.lshFittedDedup(s, d),
      LlmOps.lshFittedDedupSql(), stagedInput = true),
    QuerySpec("q_vocab_richness", LlmOps.vocabRichness(_, _), LlmOps.vocabRichnessSql),
    QuerySpec("q_source_novelty", LlmOps.sourceNovelty(_, _), LlmOps.sourceNoveltySql),
    QuerySpec("q_dedup_bbit_est", LlmOps.bbitMinhashEstimate(_, _), LlmOps.bbitMinhashEstimateSql),
    QuerySpec("q_bpe_pairs", (s, d) => LlmOps.bpePairCounts(s, d), LlmOps.bpePairCountsSql),
    QuerySpec("q_bpe_merges", (s, d) => graft.ops.Bpe.mergesQuery(s, d),
      graft.ops.Bpe.mergesSql(), stagedInput = true),
    QuerySpec("q_bpe_bytes", (s, d) => graft.ops.Bpe.bytesQuery(s, d),
      graft.ops.Bpe.mergesBytesSql(), stagedInput = true),
    QuerySpec("q_bpe_bytes_encode", (s, d) => graft.ops.Bpe.encodeStatsBytes(s, d),
      graft.ops.Bpe.encodeBytesSql(), stagedInput = true),
    QuerySpec("q_bpe_encode", (s, d) => graft.ops.Bpe.encodeStats(s, d), graft.ops.Bpe.encodeSql()),
    QuerySpec("q_wordpiece_vocab", (s, d) => graft.ops.WordPiece.vocabQuery(s, d),
      graft.ops.WordPiece.vocabSql(), stagedInput = true),
    QuerySpec("q_wordpiece_encode", (s, d) => graft.ops.WordPiece.encodeStats(s, d),
      graft.ops.WordPiece.encodeSql(), stagedInput = true),
    QuerySpec("q_wordpiece_ids", (s, d) => graft.ops.WordPiece.idsQuery(s, d),
      graft.ops.WordPiece.idsSql(), stagedInput = true),
    QuerySpec("q_minpiece_encode", (s, d) => graft.ops.WordPiece.minEncodeStats(s, d),
      graft.ops.WordPiece.minEncodeSql(), stagedInput = true),
    QuerySpec("q_unigram_fit", (s, d) => graft.ops.Unigram.fitQuery(s, d),
      graft.ops.Unigram.fitSql()),
    QuerySpec("q_unigram_encode", (s, d) => graft.ops.Unigram.encodeStats(s, d),
      graft.ops.Unigram.encodeSql),
    QuerySpec("q_unigram_bakeoff", (s, d) => graft.ops.Unigram.bakeoff(s, d),
      graft.ops.Unigram.bakeoffSql),
    QuerySpec("q_token_blocks", (s, d) => graft.ops.WordPiece.blocksQuery(s, d),
      graft.ops.WordPiece.blocksSql(), stagedInput = true),
    // both read the per-JVM WordPiece fit; their oracles re-derive the
    // unrolled fit chain per run (the q_token_blocks asymmetry)
    QuerySpec("q_block_provenance", (s, d) => graft.ops.WordPiece.blockProvenance(s, d),
      graft.ops.WordPiece.blockProvenanceSql(), stagedInput = true),
    QuerySpec("q_block_decontam", (s, d) => graft.ops.WordPiece.blockDecontam(s, d),
      graft.ops.WordPiece.blockDecontamSql, stagedInput = true),
    QuerySpec("q_trgm_like_scan", (s, d) => graft.ops.TrigramIndex.likeScan(s, d),
      graft.ops.TrigramIndex.likeScanSql, stagedInput = true),
    QuerySpec("q_trgm_like_incr", (s, d) => graft.ops.TrigramIndex.likeScanIncr(s, d),
      graft.ops.TrigramIndex.likeScanSql, stagedInput = true),
    QuerySpec("q_phrase_search", (s, d) => graft.ops.InvertedIndex.phraseSearch(s, d),
      graft.ops.InvertedIndex.phraseSearchSql(), stagedInput = true),
    QuerySpec("q_phrase_search_incr", (s, d) => graft.ops.InvertedIndex.phraseSearchIncr(s, d),
      graft.ops.InvertedIndex.phraseSearchSql(), stagedInput = true),
    QuerySpec("q_index_stats", (s, d) => graft.ops.InvertedIndex.indexStats(s, d),
      graft.ops.InvertedIndex.indexStatsSql, stagedInput = true),
    QuerySpec("q_span_corruption", Curation.spanCorruption(_, _), Curation.spanCorruptionSql),
    QuerySpec("q_budget_select", (s, d) => Curation.budgetSelect(s, d), Curation.budgetSelectSql),
    QuerySpec("q_pref_pairs", Curation.prefPairs(_, _), Curation.prefPairsSql),
    QuerySpec("q_sft_examples", Curation.sftExamples(_, _), Curation.sftExamplesSql),
    QuerySpec("q_session_transcript", Events.sessionTranscript(_, _), Events.sessionTranscriptSql),
    QuerySpec("q_collocations", (s, d) => LlmOps.collocations(s, d), LlmOps.collocationsSql),
    QuerySpec("q_lang_diversity", LlmOps.langDiversity(_, _), LlmOps.langDiversitySql),
    QuerySpec("q_langid_nb", (s, d) => LlmOps.langIdNbConfusion(s, d), LlmOps.langIdNbSql()),
    QuerySpec("q_code_switch", (s, d) => LlmOps.codeSwitchCensus(s, d), LlmOps.codeSwitchSql()),
    QuerySpec("q_code_switch_split", (s, d) => LlmOps.codeSwitchSplit(s, d),
      LlmOps.codeSwitchSplitSql()),
    QuerySpec("q_token_drift", (s, d) => LlmOps.tokenDrift(s, d), LlmOps.tokenDriftSql),
    QuerySpec("q_vocab_overlap", LlmOps.vocabOverlap(_, _), LlmOps.vocabOverlapSql),
    QuerySpec("q_bm25_topk", (s, d) => LlmOps.bm25TopK(s, d), LlmOps.bm25TopKSql),
    QuerySpec("q_hard_negatives", (s, d) => LlmOps.hardNegatives(s, d), LlmOps.hardNegativesSql),
    QuerySpec("q_retrieval_mrr", (s, d) => LlmOps.retrievalMrr(s, d), LlmOps.retrievalMrrSql()),
    QuerySpec("q_rm3_topk", (s, d) => LlmOps.rm3TopK(s, d), LlmOps.rm3TopKSql()),
    QuerySpec("q_hybrid_rrf", (s, d) => LlmOps.hybridRrf(s, d), LlmOps.hybridRrfSql),
    // — LLM-pipeline: text analysis
    QuerySpec("q_text_stats", LlmOps.textStats(_, _), LlmOps.textStatsSql),
    QuerySpec("q_text_repetition", LlmOps.textRepetition(_, _), LlmOps.textRepetitionSql),
    QuerySpec("q_quality_gopher", LlmOps.gopherQuality(_, _), LlmOps.gopherQualitySql),
    QuerySpec("q_quality_classifier", LlmOps.qualityClassifier(_, _),
      LlmOps.qualityClassifierSql, stagedInput = true),
    QuerySpec("q_unigram_lm", (s, d) => LlmOps.unigramLmTopK(s, d), LlmOps.unigramLmTopKSql),
    QuerySpec("q_bigram_lm", (s, d) => LlmOps.bigramLmTopK(s, d), LlmOps.bigramLmTopKSql),
    QuerySpec("q_kn_bigram", (s, d) => LlmOps.knBigramTopK(s, d), LlmOps.knBigramTopKSql),
    QuerySpec("q_ppl_buckets", LlmOps.pplBuckets(_, _), LlmOps.pplBucketsSql),
    QuerySpec("q_dsir_sample", (s, d) => LlmOps.dsirSample(s, d), LlmOps.dsirSampleSql),
    QuerySpec("q_outlier_mad", (s, d) => LlmOps.outlierMad(s, d), LlmOps.outlierMadSql),
    QuerySpec("q_doc_fingerprints", LlmOps.docFingerprints(_, _), LlmOps.docFingerprintsSql),
    QuerySpec("q_winnow_pairs", (s, d) => LlmOps.winnowPairs(s, d), LlmOps.winnowPairsSql),
    QuerySpec("q_winnow_incr", (s, d) => LlmOps.winnowIncrPairs(s, d), LlmOps.winnowIncrPairsSql),
    // — LLM-pipeline: similarity search
    QuerySpec("q_embed_topk", LlmOps.embedTopK(_, _), LlmOps.embedTopKSql),
    QuerySpec("q_embed_topk_i8", LlmOps.embedTopKI8(_, _), LlmOps.embedTopKI8Sql),
    QuerySpec("q_embed_pq_topk", LlmOps.embedPqTopK(_, _), LlmOps.embedPqTopKSql),
    QuerySpec("q_embed_pq_rerank", LlmOps.embedPqRerank(_, _), LlmOps.embedPqRerankSql),
    QuerySpec("q_embed_ivfpq", LlmOps.embedIvfPq(_, _), LlmOps.embedIvfPqSql),
    QuerySpec("q_embed_neardup", LlmOps.embedNearDup(_, _), LlmOps.embedNearDupSql),
    QuerySpec("q_embed_margin_pairs", (s, d) => LlmOps.embedMarginPairs(s, d),
      LlmOps.embedMarginPairsSql()),
    QuerySpec("q_embed_incr_neardup", LlmOps.embedIncrNearDup(_, _), LlmOps.embedIncrNearDupSql),
    QuerySpec("q_embed_topk_perlabel", LlmOps.embedTopKPerLabel(_, _), LlmOps.embedTopKPerLabelSql),
    QuerySpec("q_embed_ann_ivf", LlmOps.embedAnnIvf(_, _),
      LlmOps.embedAnnIvfSql, stagedInput = true),
    QuerySpec("q_embed_recall", LlmOps.embedRecallEval(_, _),
      LlmOps.embedRecallEvalSql(), stagedInput = true),
    QuerySpec("q_embed_recall_budget", LlmOps.embedRecallBudget(_, _),
      LlmOps.embedRecallBudgetSql(), stagedInput = true),
    QuerySpec("q_embed_drift", LlmOps.embedDrift(_, _), LlmOps.embedDriftSql, stagedInput = true),
    QuerySpec("q_embed_ivf_sq8", LlmOps.embedIvfSq8(_, _),
      LlmOps.embedIvfSq8Sql, stagedInput = true),
    QuerySpec("q_embed_mmr", LlmOps.embedMmr(_, _), LlmOps.embedMmrSql()),
    // the persisted-index path must return byte-identical results to the
    // in-memory assignment path — same oracle
    QuerySpec("q_embed_ann_ivf_indexed", LlmOps.embedAnnIvfIndexed(_, _),
      LlmOps.embedAnnIvfSql, stagedInput = true),
    // append ≡ rebuild is the incremental face's correctness contract:
    // the appended index holds the identical row set, so the oracle is
    // the same full-corpus IVF replay
    QuerySpec("q_embed_ivf_append", LlmOps.embedIvfAppend(_, _),
      LlmOps.embedAnnIvfSql, stagedInput = true),
    QuerySpec("q_embed_ivf_sq8_append", (s, d) => LlmOps.embedIvfSq8Append(s, d),
      LlmOps.embedIvfSq8Sql, stagedInput = true),
    QuerySpec("q_embed_ivfpq_append", LlmOps.embedIvfPqAppend(_, _),
      LlmOps.embedIvfPqSql, stagedInput = true),
    QuerySpec("q_kmeans_step", LlmOps.kmeansStep(_, _), LlmOps.kmeansStepSql),
    QuerySpec("q_dedup_semantic", LlmOps.semanticDedup(_, _),
      LlmOps.semanticDedupSql, stagedInput = true),
    QuerySpec("q_sample_cluster_balanced", (s, d) => LlmOps.sampleClusterBalanced(s, d),
      LlmOps.sampleClusterBalancedSql, stagedInput = true),
    // — LLM-pipeline: multimodal plumbing
    QuerySpec("q_multimodal_meta", LlmOps.multimodalMeta(_, _), LlmOps.multimodalMetaSql),
    QuerySpec("q_multimodal_feat", LlmOps.multimodalFeatures(_, _), LlmOps.multimodalFeaturesSql),
    QuerySpec("q_multimodal_audio_neardup", LlmOps.multimodalAudioNearDup(_, _),
      LlmOps.multimodalAudioNearDupSql),
    QuerySpec("q_multimodal_neardup", LlmOps.multimodalNearDup(_, _), LlmOps.multimodalNearDupSql),
    QuerySpec("q_multimodal_audio", LlmOps.multimodalAudio(_, _), LlmOps.multimodalAudioSql),
    QuerySpec("q_multimodal_video", LlmOps.multimodalVideo(_, _), LlmOps.multimodalVideoSql),
    QuerySpec("q_multimodal_video_neardup", LlmOps.multimodalVideoNearDup(_, _),
      LlmOps.multimodalVideoNearDupSql),
    // — corpus curation: deterministic sampling / splits / PII / chunking
    QuerySpec("q_sample_hash", Curation.sampleHash(_, _), Curation.sampleHashSql),
    QuerySpec("q_train_test_split", Curation.trainTestSplit(_, _), Curation.trainTestSplitSql),
    QuerySpec("q_split_leakage_safe", Curation.splitLeakageSafe(_, _),
      Curation.splitLeakageSafeSql),
    QuerySpec("q_sample_stratified", Curation.sampleStratified(_, _), Curation.sampleStratifiedSql),
    QuerySpec("q_text_pii", Curation.piiMask(_, _), Curation.piiMaskSql),
    QuerySpec("q_chunk_docs", Curation.chunkDocs(_, _), Curation.chunkDocsSql),
    QuerySpec("q_chunk_docs_gen", Curation.chunkDocsGen(_, _), Curation.chunkDocsSql),
    QuerySpec("q_pack_sequences", Curation.packSequences(_, _), Curation.packSequencesSql),
    QuerySpec("q_pack_sequences_sharded", Curation.packSequencesSharded(_, _),
      Curation.packSequencesShardedSql),
    QuerySpec("q_corpus_mix", Curation.corpusMix(_, _), Curation.corpusMixSql),
    // — time-series: as-of join, resample/gap-fill, histogram
    QuerySpec("q_asof_join", Events.asofPurchase(_, _), Events.asofPurchaseSql),
    QuerySpec("q_asof_join_native", Events.asofPurchaseNative(_, _), Events.asofPurchaseSql),
    QuerySpec("q_asof_join_forward", Events.asofNextPurchase(_, _), Events.asofNextPurchaseSql),
    QuerySpec("q_range_join_sessions", Events.eventSessionAssign(_, _),
      Events.eventSessionAssignSql),
    QuerySpec("q_resample_1d", Events.resampleDaily(_, _), Events.resampleDailySql),
    QuerySpec("q_histogram", Analytics.histogram(_, _),
      """SELECT CAST(floor(l_extendedprice/1000)*1000 AS BIGINT) AS bucket_lo,
         count(*) AS n FROM lineitem GROUP BY 1"""),
    // — streaming operators, batch faces (unified API; streaming runs of
    //   the same transforms are exercised in EventStreamsSpec)
    QuerySpec("q_events_tumbling", Events.tumbling(_, _), Events.tumblingSql),
    QuerySpec("q_events_sliding", Events.sliding(_, _), Events.slidingSql),
    QuerySpec("q_events_sessionize", Events.sessionize(_, _), Events.sessionizeSql),
    QuerySpec("q_events_session_window", Events.sessionWindow(_, _), Events.sessionWindowSql),
    QuerySpec("q_events_json", Events.jsonProps(_, _), Events.jsonPropsSql, stagedInput = true),
    // — table maintenance: CDC merge, incremental aggregates, zone maps
    QuerySpec("q_cdc_merge", Maintenance.cdcMerge(_, _),
      Maintenance.cdcMergeSql, stagedInput = true),
    QuerySpec("q_cdc_merge_part", Maintenance.cdcMergePartitioned(_, _),
      Maintenance.cdcMergePartitionedSql),
    QuerySpec("q_time_travel", Maintenance.timeTravel(_, _), Maintenance.timeTravelSql),
    QuerySpec("q_ivm_aggregate", Maintenance.ivmAggregate(_, _),
      Maintenance.ivmAggregateSql, stagedInput = true),
    QuerySpec("q_ivm_join", Maintenance.ivmJoin(_, _), Maintenance.ivmJoinSql, stagedInput = true),
    QuerySpec("q_ivm_join_dim", Maintenance.ivmJoinDim(_, _),
      Maintenance.ivmJoinDimSql, stagedInput = true),
    QuerySpec("q_ivm_minmax", Maintenance.ivmMinMax(_, _),
      Maintenance.ivmMinMaxSql, stagedInput = true),
    QuerySpec("q_ivm_minmax_stream", Maintenance.ivmMinMaxStreamMaterialize(_, _),
      Maintenance.ivmMinMaxSql, stagedInput = true),
    QuerySpec("q_ivm_stream", Maintenance.ivmStreamMaterialize(_, _),
      Maintenance.ivmAggregateSql, stagedInput = true),
    QuerySpec("q_ivm_topk", Maintenance.ivmTopK(_, _), Maintenance.ivmTopKSql, stagedInput = true),
    QuerySpec("q_ivm_topk_stream", Maintenance.ivmTopKStreamMaterialize(_, _),
      Maintenance.ivmTopKSql, stagedInput = true),
    QuerySpec("q_ivm_distinct", Maintenance.ivmDistinct(_, _),
      Maintenance.ivmDistinctSql, stagedInput = true),
    QuerySpec("q_scd2_history", Maintenance.scd2History(_, _), Maintenance.scd2HistorySql),
    QuerySpec("q_scd2_asof", Maintenance.scd2AsOf(_, _), Maintenance.scd2AsOfSql),
    QuerySpec("q_scd2_stream", Maintenance.scd2StreamMaterialize(_, _),
      Maintenance.scd2HistorySql, stagedInput = true),
    QuerySpec("q_skyline", (s, d) => graft.ops.Skyline.skyline(s, d), graft.ops.Skyline.skylineSql),
    QuerySpec("q_skyline_grouped", (s, d) => graft.ops.Skyline.skylineByBrand(s, d),
      graft.ops.Skyline.skylineByBrandSql),
    QuerySpec("q_forget_index", (s, d) => graft.ops.Forget.forgetIndex(s, d),
      graft.ops.Forget.forgetIndexSql, stagedInput = true),
    QuerySpec("q_forget_dedup", (s, d) => graft.ops.Forget.forgetDedup(s, d),
      graft.ops.Forget.forgetDedupSql, stagedInput = true),
    QuerySpec("q_forget_embed", LlmOps.forgetEmbed(_, _),
      LlmOps.embedAnnIvfSqlWhere("NOT (a.vec_id % 23 = 5)"), stagedInput = true),
    QuerySpec("q_forget_sigs", (s, d) => graft.ops.Forget.forgetSigs(s, d),
      LlmOps.forgetSigsSql, stagedInput = true),
    QuerySpec("q_forget_winnow", (s, d) => graft.ops.Forget.forgetWinnow(s, d),
      LlmOps.forgetWinnowSql, stagedInput = true),
    QuerySpec("q_forget_postings", (s, d) => graft.ops.Forget.forgetPostings(s, d),
      graft.ops.Forget.forgetPostingsSql, stagedInput = true),
    QuerySpec("q_forget_stream", (s, d) => graft.ops.Forget.forgetStreamMaterialize(s, d),
      graft.ops.Forget.forgetStreamSql, stagedInput = true),
    QuerySpec("q_k_anonymity", Curation.kAnonymity(_, _), Curation.kAnonymitySql),
    QuerySpec("q_l_diversity", Curation.lDiversity(_, _), Curation.lDiversitySql),
    QuerySpec("q_t_closeness", Curation.tCloseness(_, _), Curation.tClosenessSql),
    QuerySpec("q_dp_randomized_response", Curation.dpRandomizedResponse(_, _),
      Curation.dpRandomizedResponseSql),
    QuerySpec("q_dp_histogram", Curation.dpHistogram(_, _), Curation.dpHistogramSql),
    QuerySpec("q_dp_stream", Curation.dpStreamMaterialize(_, _),
      Curation.dpStreamSql, stagedInput = true),
    QuerySpec("q_dp_threshold", Curation.dpThresholdRelease(_, _), Curation.dpThresholdReleaseSql),
    QuerySpec("q_dp_quantile", Curation.dpQuantiles(_, _), Curation.dpQuantilesSql),
    QuerySpec("q_sample_stream", Curation.sampleStreamMaterialize(_, _),
      Curation.sampleStreamSql, stagedInput = true),
    QuerySpec("q_cdc_stream", Maintenance.cdcStreamMaterialize(_, _),
      Maintenance.cdcStreamMaterializeSql),
    QuerySpec("q_incr_agg", Maintenance.incrAgg(_, _), Maintenance.incrAggSql),
    QuerySpec("q_incr_agg_state", Maintenance.incrAggState(_, _), Maintenance.incrAggStateSql),
    QuerySpec("q_zonemap_scan", Maintenance.zonemapScan(_, _), Maintenance.zonemapScanSql),
    // — curation: per-language gate, training-order shuffle, projection
    QuerySpec("q_quality_stratified", Curation.qualityStratifiedGate(_, _),
      Curation.qualityStratifiedGateSql),
    QuerySpec("q_shuffle_batches", (s, d) => Curation.shuffleBatches(s, d),
      Curation.shuffleBatchesSql),
    QuerySpec("q_shard_manifest", (s, d) => Curation.shardManifest(s, d),
      Curation.shardManifestSql),
    QuerySpec("q_embed_project", (s, d) => LlmOps.embedProject(s, d), LlmOps.embedProjectSql),
    QuerySpec("q_range_bounds", Physical.rangeBounds(_, _), Physical.rangeBoundsSql),
    QuerySpec("q_zorder_scan", Maintenance.zorderScan(_, _), Maintenance.zorderScanSql),
    QuerySpec("q_dedup_span_removal", (s, d) => LlmOps.removeDuplicateSpans(s, d),
      LlmOps.removeDuplicateSpansSql),
    // — portable sketches, graph stats, weighted sampling
    QuerySpec("q_sketch_hll", SketchOps.sketchHllTokens(_, _), SketchOps.sketchHllTokensSql),
    QuerySpec("q_sketch_hll_rollup", SketchOps.sketchHllRollup(_, _), SketchOps.sketchHllRollupSql),
    QuerySpec("q_sketch_kmv_overlap", SketchOps.sketchKmvOverlap(_, _),
      SketchOps.sketchKmvOverlapSql()),
    QuerySpec("q_sketch_kmv_setops", SketchOps.sketchKmvSetops(_, _),
      SketchOps.sketchKmvSetopsSql()),
    QuerySpec("q_sketch_qdigest", SketchOps.sketchQdigest(_, _), SketchOps.sketchQdigestSql),
    QuerySpec("q_sketch_kmv", SketchOps.sketchKmvTokens(_, _), SketchOps.sketchKmvTokensSql),
    QuerySpec("q_sketch_cms", SketchOps.sketchCmsTokens(_, _), SketchOps.sketchCmsTokensSql),
    QuerySpec("q_sketch_builtin_bounds", SketchOps.sketchBuiltinBounds(_, _),
      SketchOps.sketchBuiltinBoundsSql),
    QuerySpec("q_dedup_graph_stats", SketchOps.dedupGraphStats(_, _), SketchOps.dedupGraphStatsSql),
    QuerySpec("q_dedup_kcore", SketchOps.dedupKcore(_, _), SketchOps.dedupKcoreSql),
    QuerySpec("q_graph_lpa", SketchOps.graphLpa(_, _), SketchOps.graphLpaSql),
    QuerySpec("q_graph_bfs", SketchOps.graphBfs(_, _), SketchOps.graphBfsSql),
    QuerySpec("q_heavy_hitters", SketchOps.heavyHitters(_, _), SketchOps.heavyHittersSql),
    QuerySpec("q_heavy_hitters_stream", SketchOps.heavyHittersStreamMaterialize(_, _),
      SketchOps.heavyHittersSql),
    QuerySpec("q_sample_weighted", SketchOps.sampleWeighted(_, _), SketchOps.sampleWeightedSql),
    QuerySpec("q_sample_temperature", SketchOps.sampleTemperature(_, _),
      SketchOps.sampleTemperatureSql),
  )
}
