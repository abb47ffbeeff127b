package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connector smoke queries (SURVEY.md §2.1 S6): the reference workspace
  * declares csv- and jdbc-family sources
  * (evidence-workspace/evidence.plugins.yaml:29-41) but never exercises
  * them; these queries exercise the matching Spark built-ins with a
  * genuine write-then-read round trip per format, oracle-checked against
  * the same data's parquet form. The round trip is the point: values
  * must survive the format's own serialization (CSV quoting, JDBC type
  * mapping), not just the happy path of an already-clean file.
  *
  * The export side is STAGED ONCE per JVM and source version
  * ([[graft.ops.StageOnce]]): the first invocation pays the write, every
  * later invocation — e.g. bench iterations 2..n — only reads, so the
  * reported time measures the scan, not a write+read round trip billed
  * as "scan".
  */
object Connectors {

  import graft.ops.StageOnce, StageOnce.tmp

  private def nationAgg(df: DataFrame): DataFrame =
    df.groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
        max(length(col("n_name"))).as("max_name_len"))

  /** CSV scan: nation exported to CSV (header, default quoting) and read
    * back through `spark.read.format("csv")` with an explicit schema —
    * streaming-file-source style, no inference job. The aggregate result
    * must match the parquet original, so the format's own serialization
    * is covered, not assumed.
    */
  def csvScan(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val out = tmp("csv_nation", dir)
    StageOnce(out) {
      nation.write.mode("overwrite").option("header", "true").csv(out)
    }
    nationAgg(spark.read.format("csv")
      .schema(nation.schema)
      .option("header", "true")
      .load(out))
  }

  val csvScanSql: String =
    """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name,
      |  CAST(max(length(n_name)) AS INT) AS max_name_len
      |FROM nation GROUP BY n_regionkey""".stripMargin

  /** ORC scan: same round-trip contract as csvScan through Spark's
    * built-in columnar ORC source (predicate pushdown + column pruning
    * apply as with parquet). Oracle reads the parquet original — the
    * values must survive ORC's encoding both ways.
    */
  def orcScan(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val out = tmp("orc_nation", dir)
    StageOnce(out) { nation.write.mode("overwrite").orc(out) }
    nationAgg(spark.read.orc(out))
  }

  val orcScanSql: String = csvScanSql

  /** XML scan: the same round-trip contract through Spark 4's BUILT-IN
    * xml source (the former spark-xml package, merged into sql/core) —
    * one `<nation>` element per row under a `<nations>` root. Explicit
    * schema (no inference job); values cross XML text serialization
    * both ways before the aggregate, so escaping and numeric
    * round-trips are checked against the parquet-reading oracle.
    */
  def xmlScan(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val out = tmp("xml_nation", dir)
    StageOnce(out) {
      nation.write.mode("overwrite")
        .option("rootTag", "nations").option("rowTag", "nation")
        .xml(out)
    }
    nationAgg(spark.read.format("xml")
      .schema(nation.schema)
      .option("rowTag", "nation")
      .load(out))
  }

  val xmlScanSql: String = csvScanSql

  /** JSON-lines scan: the row-per-line interchange format (explicit
    * schema — no inference job, streaming-source style). Values cross
    * JSON serialization both ways before the aggregate.
    */
  def jsonScan(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val out = tmp("json_nation", dir)
    StageOnce(out) { nation.write.mode("overwrite").json(out) }
    nationAgg(spark.read.schema(nation.schema).json(out))
  }

  val jsonScanSql: String = csvScanSql

  /** Raw-text scan: the corpus staged as a line-per-document text file
    * (how raw crawls arrive — no schema, no ids) and read back through
    * `spark.read.text`. The id problem is solved the way a real
    * pipeline solves it: a content hash becomes the stable document id
    * (reproducible on any engine, robust to line order). Oracle derives
    * the same (hash, token-count) rows from the parquet original.
    */
  def textScan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = tmp("txt_docs", dir)
    StageOnce(out) {
      // line-oriented staging is only content-preserving for texts with
      // no newline (a '\n' would split one document into two lines and
      // silently diverge content_id/n_tokens from the original) — make
      // the contract a hard error instead of an unstated assumption.
      // One extra scan, paid once per JVM at staging time.
      val embeddedNewlines = docs.filter(
        col("text").contains("\n") || col("text").contains("\r")).count()
      require(embeddedNewlines == 0,
        s"textScan stages one document per line; $embeddedNewlines documents " +
          "contain a line terminator (LineRecordReader splits on CR, LF and " +
          "CRLF) — escape or normalize them before line staging")
      docs.select(col("text")).write.mode("overwrite").text(out)
    }
    spark.read.text(out)
      .select(sha2(col("value"), 256).as("content_id"),
        size(split(trim(col("value")), "\\s+")).as("n_tokens"))
  }

  val textScanSql: String =
    """SELECT sha256(text) AS content_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
      |FROM documents""".stripMargin

  /** binaryFile scan: image payloads staged as ONE FILE PER OBJECT —
    * the shape multimodal corpora actually arrive in — and read back
    * through Spark's built-in `binaryFile` source. The object id comes
    * from the path, dims from parsing the REAL PNG bytes (ImageDims
    * kernel). Files are written executor-side (foreachPartition), the
    * distributed staging shape; the oracle predicts dims in closed form
    * from the encodePng contract, so a codec or source bug is a hard
    * mismatch. At 100 TB the same reader scans an object-store prefix;
    * `pathGlobFilter`/`modifiedAfter` options give planning-time file
    * pruning.
    */
  def binaryFilesScan(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("binfiles", dir)
    StageOnce(out) {
      new java.io.File(out).mkdirs()
      // one FILE per object is the shape being demonstrated, and it is
      // also the small-files pathology: Hadoop's LocalFileSystem costs
      // ~2 ms per tiny file regardless of task layout, so the staged
      // sample is bounded (doc_id % 10) — the read path is identical,
      // the benched time measures the source, not 5000 file opens. At
      // scale the real fix is upstream: batch tiny objects into
      // archives/parquet-with-binary-column at ingest (see Multimodal).
      // NOTE: the executor-side java.nio writes land on LOCAL disks —
      // correct here (local mode) and on any shared filesystem, but on
      // a real cluster this staging must target a shared/object store
      // (the scale story above: the reader scans an object-store
      // prefix; only this demo's write side is local-FS-bound).
      graft.ops.Multimodal.pngPayloads(spark, dir)
        .filter(col("doc_id") % 10 === 0)
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"${r.getLong(0)}.png"),
              r.getAs[Array[Byte]](1))
          }
        }
    }
    val dims = graft.functions.GraftFunctions.imageDims(col("content"))
    // FILES-PER-TASK is the scan's governing ratio: Spark packs files
    // into splits of `spark.sql.files.maxPartitionBytes`, charging
    // `spark.sql.files.openCostInBytes` per file, so files per task ≈
    // maxPartitionBytes / (avgFileSize + openCostInBytes). The ~1 s
    // floor observed here for 50 tiny files is per-file open/listing
    // overhead, constant at this scale — but at 50M objects the knobs
    // matter: RAISE openCostInBytes (8 MB default 4 MB) so thousands of
    // tiny files pack into each task without starving parallelism, and
    // keep directory listing off the driver —
    // `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
    // 32) distributes the file listing once a prefix holds more paths
    // than that, which is what stands between "scan a 50M-object
    // prefix" and a driver-side LIST stall. (EngineSession's
    // smallInputTuning LOWERS both knobs instead — correct for MB-scale
    // bench inputs, inverted for a real multimodal corpus.)
    spark.read.format("binaryFile").load(s"$out/*.png")
      .coalesce(spark.sparkContext.defaultParallelism)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"),
        dims.getItem(1).as("width"), dims.getItem(2).as("height"))
  }

  val binaryFilesScanSql: String =
    """SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS width,
      |  CAST(doc_id % 8 + 1 AS INT) AS height
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** JDBC scan: nation written to an embedded Derby database through
    * `format("jdbc")` and read back the same way (Derby ships with
    * Spark). In-memory DB here; on a cluster the URL points at a real
    * server and nothing else changes. Values cross the JDBC type
    * mapping (BIGINT/CLOB) both ways before the aggregate.
    *
    * The read side is PARTITIONED (`partitionColumn` + bounds derived
    * from the key's min/max): Spark issues `numPartitions` range-bounded
    * SELECTs in parallel instead of funneling the whole table through
    * one connection — the difference between a smoke test and a source
    * that can actually drain a big table.
    */
  def jdbcScan(spark: SparkSession, dir: String): DataFrame = {
    // keep Derby from dropping a derby.log into the working directory
    System.setProperty("derby.stream.error.field", "java.lang.System.err")
    val url = s"jdbc:derby:memory:${new java.io.File(tmp("jdbc_nation", dir)).getName};create=true"
    val nation = Tables.load(spark, dir, "nation")
    StageOnce(url) {
      nation.write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "nation").save()
    }
    // bounds are a 2-value aggregate on the dimension key — a parameter
    // lookup, not dataflow (same pattern a production ingest uses:
    // SELECT min(pk), max(pk) then range-partitioned fetch)
    val Array(lo, hi) = spark.read.format("jdbc")
      .option("url", url)
      // Spark writes the table with quoted (lower-case) identifiers, so
      // the bounds probe must quote them too (Derby folds unquoted up)
      .option("query",
        """SELECT min("n_nationkey") lo, max("n_nationkey") hi FROM nation""")
      .load().collect()(0).toSeq.map(_.toString.toLong).toArray
    nationAgg(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "nation")
      .option("partitionColumn", "n_nationkey")
      .option("lowerBound", lo.toString).option("upperBound", (hi + 1).toString)
      .option("numPartitions", "4")
      .load())
  }

  val jdbcScanSql: String = csvScanSql

  /** dBase scan: nation exported to a single .dbf (the reference's one
    * unreadable-before-now input shape — its communes lookup table
    * ships only as the missing blob `ressources/v_commune_2023.dbf`)
    * and read back through the native `format("dbf")` DSv2 source
    * ([[graft.sources.DbfSource]]): fixed-width records, planning-time
    * record-range splits, column pruning, limit pushdown. Same
    * round-trip contract as the other connector faces: the aggregate
    * over the .dbf bytes must equal the parquet original, so the
    * format's own serialization (N right-justification, C padding,
    * 11-byte field names) is covered, not assumed. `recordsPerSplit=10`
    * forces MULTIPLE splits over the 25-row file so the split seek math
    * is exercised on every run, not just in the spec.
    */
  def dbfScan(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val out = tmp("dbf_nation", dir)
    StageOnce(out) {
      new java.io.File(out).mkdirs()
      graft.sources.DbfSource.write(nation, s"$out/nation.dbf")
    }
    nationAgg(spark.read.format("dbf")
      .option("recordsPerSplit", "10")
      .load(s"$out/nation.dbf"))
  }

  val dbfScanSql: String = csvScanSql

  /** The communes-lookup-join shape the reference's missing blob was
    * FOR: a .dbf code register broadcast against a fact-side aggregate
    * to enrich codes with labels. Here the register is the staged
    * nation.dbf and the fact is customer: per-nation customer count and
    * exact decimal balance total, labeled through the dbf. The dim scan
    * prunes to the 2 join/label columns (the DSv2 reader parses nothing
    * else) and broadcasts — the join shape that stays shuffle-free on
    * the fact side at any corpus scale.
    */
  def dbfLookupJoin(spark: SparkSession, dir: String): DataFrame = {
    dbfScan(spark, dir) // ensure staged
    val out = tmp("dbf_nation", dir)
    val lookup = spark.read.format("dbf").load(s"$out/nation.dbf")
      .select(col("n_nationkey"), col("n_name"))
    val customer = Tables.load(spark, dir, "customer")
    customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        Analytics.moneySum(col("c_acctbal")).as("total_acctbal"))
      // no broadcast() hint: the source reports exact header-derived
      // statistics, so the planner auto-broadcasts the dim (pinned by
      // PlanMetricsSpec)
      .join(lookup, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_customers"), col("total_acctbal"))
  }

  val dbfLookupJoinSql: String =
    """SELECT n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Avro OCF scan through the NATIVE DSv2 source
    * ([[graft.sources.AvroSource]] — spark-avro is absent from this
    * distribution, so the engine carries its own): supplier exported
    * once as a block-compressed container file with a deliberately
    * small sync interval (many blocks) and read back through byte-range
    * splits (`blockBytesPerSplit` forces multi-partition reads on the
    * fixture — the sync-marker split machinery is exercised, not
    * bypassed). Aggregate must match the parquet original: per-nation
    * supplier count, first name, exact-decimal balance total.
    */
  def avroScan(spark: SparkSession, dir: String): DataFrame = {
    val supplier = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    val out = tmp("avro_supplier", dir)
    StageOnce(out) {
      new java.io.File(out).mkdirs()
      graft.sources.AvroSource.write(supplier, s"$out/supplier.avro",
        syncIntervalBytes = 1024)
    }
    spark.read.format("avrofile")
      .option("blockBytesPerSplit", "8192")
      .load(s"$out/supplier.avro")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        min(col("s_name")).as("first_name"),
        Analytics.moneySum(col("s_acctbal")).as("total_acctbal"))
      .orderBy(col("s_nationkey"))
  }

  val avroScanSql: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  min(s_name) AS first_name,
      |  CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |    AS DOUBLE) AS total_acctbal
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin
}
