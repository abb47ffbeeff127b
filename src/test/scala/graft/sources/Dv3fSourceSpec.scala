package graft.sources

import java.io.File
import java.nio.file.Files

import scala.collection.JavaConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{Listened, SparkSpec}
import graft.dv3f.{Dv3fConfig, IngestJob, Reshape, RunLog, StagingTable}
import graft.queries.Dv3fQueries

class Dv3fSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def writePayload(dir: File, scope: String, code: String,
      results: String): Unit =
    Files.writeString(new File(dir, s"${scope}_$code.json").toPath,
      s"""{"count":1,"next":null,"previous":null,"results":[$results]}""")

  private def scanOf(dir: File): Dv3fScan =
    new Dv3fScanBuilder(Map("path" -> dir.getAbsolutePath)).build().asInstanceOf[Dv3fScan]

  /** The (scope, code) pairs of a scan's planned partitions, in order. */
  private def plannedPairs(scan: Dv3fScan): Seq[(String, String)] =
    scan.planInputPartitions().toSeq.flatMap(_.asInstanceOf[Dv3fPartition].pairs)

  private def countingReader(dir: File) = spark.read.format("dv3f")
    .option("path", dir.getAbsolutePath)
    .option("fetcher", classOf[CountingFileFetcher].getName)

  private def countingSource(dir: File) = countingReader(dir).load()

  private def reader(dir: File) = spark.read.format("dv3f").option("path", dir.getAbsolutePath)

  /** The long → splitCod → pivotFirst → withUid chain the staging shape
    * replaces, kept as its oracle.
    */
  private def oracle(long: DataFrame, table: StagingTable): DataFrame = {
    val renamed = long.filter(col("scope") === table.scope)
      .select(col("annee"), col("code").as(table.idVars(1)),
        col("lib").as(table.idVars(2)), col("cod_full"), col("valeur"))
    Reshape.withUid(Reshape.pivotFirst(Reshape.splitCod(renamed), table), table)
      .select(table.schema.fieldNames.map(col): _*)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Payloads that exercise every pivot rule: departement 85 spans two
    * pages (annee 2019 on both), with null, non-numeric and undeclared
    * metrics, a field name with no `_`, a `cod` inside a code, a null
    * libdep and an all-null object; departement 17 and region 52 are
    * single pages, region 52 with one group given twice.
    */
  private def pivotFixture(): File = {
    val dir = Files.createTempDirectory("dv3fpivot").toFile
    new File(dir, "pages").mkdirs()
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":5,"next":"pages/departement_85_2.json","previous":null,"results":[
        |{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":null,"pxm2_median_cod111":1.5,
        | "valeurfonc_sum_cod111":"n/a","sbati_sum_cod111":{"x":1}},
        |{"annee":"2020","dep":"85","libdep":"V","nbtrans_cod111":3.0,"foo_cod9":4.0,
        | "weird":5.0,"nbtrans_cod1cod2":6.0,"pxm2_q25_cod121":null}]}""".stripMargin)
    Files.writeString(new File(dir, "pages/departement_85_2.json").toPath,
      """{"count":5,"next":null,"previous":"departement_85.json","results":[
        |{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0,"pxm2_median_cod111":2.5},
        |{"annee":"2021","dep":"85","libdep":null,"nbtrans_cod111":8.0},
        |{"annee":"2022","dep":"85","libdep":"V","nbtrans_cod131":null}]}""".stripMargin)
    writePayload(dir, "departement", "17",
      """{"annee":"2019","dep":"17","libdep":"C","nbtrans_cod111":1.0,"sbati_median_cod121":2.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"P","nbtrans_cod111":9.0,"valeurfonc_sum_cod111":5.5},
        |{"annee":"2019","reg":"52","libreg":"P","nbtrans_cod111":10.0}""".stripMargin)
    dir
  }

  test("format(\"dv3f\") resolves via DataSourceRegister; one partition per (scope, code)") {
    val dir = Files.createTempDirectory("dv3fsrc").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"Pays de la Loire","nbtrans_cod111":9.0}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 2)
    val byScope = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(3), r.getDouble(5))).toSet
    assert(byScope == Set(
      ("departement", "85", "Vendée", 7.0),
      ("region", "52", "Pays de la Loire", 9.0)))
  }

  test("explicit scopes option limits the fan-out") {
    val dir = Files.createTempDirectory("dv3fsrc2").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "departement", "44",
      """{"annee":"2019","dep":"44","libdep":"Loire-Atlantique","nbtrans_cod111":3.0}""")
    val df = spark.read.format("dv3f")
      .option("path", dir.getAbsolutePath)
      .option("scopes", "departement:44").load()
    assert(df.select("code").collect().map(_.getString(0)).toSeq == Seq("44"))
  }

  test("multi-page payload: the reader follows `next` within one partition") {
    val dir = Files.createTempDirectory("dv3fsrc_pg").toFile
    new File(dir, "pages").mkdirs()
    // page 1 points at page 2 (relative locator; continuation pages live
    // under pages/ so planning never lists them as partitions)
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":3,"next":"pages/departement_85_2.json","previous":null,
        |"results":[{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0},
        |           {"annee":"2020","dep":"85","libdep":"V","nbtrans_cod111":8.0}]}""".stripMargin)
    Files.writeString(new File(dir, "pages/departement_85_2.json").toPath,
      """{"count":3,"next":null,"previous":"departement_85.json",
        |"results":[{"annee":"2021","dep":"85","libdep":"V","nbtrans_cod111":9.0}]}""".stripMargin)
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    assert(df.rdd.getNumPartitions == 1) // pages concatenate, not fan out
    val got = df.collect().map(r => (r.getString(2), r.getDouble(5))).toSet
    assert(got == Set(("2019", 7.0), ("2020", 8.0), ("2021", 9.0)))
  }

  test("cyclic `next` locators terminate (visited-set guard)") {
    val dir = Files.createTempDirectory("dv3fsrc_cyc").toFile
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":1,"next":"departement_85.json","previous":null,
        |"results":[{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0}]}""".stripMargin)
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    // without the visited-set guard this loops forever; with it the
    // self-reference is dropped and only the seed page is emitted
    assert(df.count() == 1)
  }

  test("fetcher injection: a non-file PageFetcher drives the same scan unchanged") {
    FakeHttpServer.reset()
    val base = "http://fake-api.test/v1"
    FakeHttpServer.pages = Map(
      s"$base/departement?code=85&page=1" ->
        """{"count":3,"next":"http://fake-api.test/v1/departement?code=85&page=2",
          |"previous":null,
          |"results":[{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0},
          |           {"annee":"2020","dep":"85","libdep":"V","nbtrans_cod111":8.0}]}""".stripMargin,
      s"$base/departement?code=85&page=2" ->
        """{"count":3,"next":null,"previous":null,
          |"results":[{"annee":"2021","dep":"85","libdep":"V","nbtrans_cod111":9.0}]}""".stripMargin)
    val df = spark.read.format("dv3f")
      .option("path", base) // base URL, not a directory
      .option("fetcher", classOf[FakeHttpPageFetcher].getName)
      .option("scopes", "departement:85")
      .load()
    val got = df.collect().map(r => (r.getString(2), r.getDouble(5))).toSet
    assert(got == Set(("2019", 7.0), ("2020", 8.0), ("2021", 9.0)))
    // pagination went through the fetcher: first page by (scope, code),
    // page 2 by following the payload's own `next` locator
    assert(FakeHttpServer.gets.reverse == List(
      s"$base/departement?code=85&page=1",
      s"$base/departement?code=85&page=2"))
  }

  test("limit pushdown: a LIMIT within page 1 never fetches page 2") {
    FakeHttpServer.reset()
    val base = "http://fake-api.test/v1"
    FakeHttpServer.pages = Map(
      s"$base/departement?code=85&page=1" ->
        """{"count":3,"next":"http://fake-api.test/v1/departement?code=85&page=2",
          |"previous":null,
          |"results":[{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0},
          |           {"annee":"2020","dep":"85","libdep":"V","nbtrans_cod111":8.0}]}""".stripMargin,
      s"$base/departement?code=85&page=2" ->
        """{"count":3,"next":null,"previous":null,
          |"results":[{"annee":"2021","dep":"85","libdep":"V","nbtrans_cod111":9.0}]}""".stripMargin)
    val df = spark.read.format("dv3f")
      .option("path", base)
      .option("fetcher", classOf[FakeHttpPageFetcher].getName)
      .option("scopes", "departement:85")
      .load()
    assert(df.limit(2).collect().length == 2)
    // page 1 yields 2 rows >= the pushed limit, so the page chain stops
    // before page 2 — a LIMIT probe must not drain a deep endpoint
    assert(FakeHttpServer.gets == List(s"$base/departement?code=85&page=1"))
    // and the pushed limit is visible in the scan description
    val desc = df.limit(2).queryExecution.executedPlan.toString
    assert(desc.contains("limit=2"), desc)
  }

  test("non-numeric metric fields are skipped, not coerced to 0.0") {
    val dir = Files.createTempDirectory("dv3fsrc_nn").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0,
        |"geo_shape":{"type":"Point"},"note":"not a number"}""".stripMargin)
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val got = df.collect().map(r => (r.getString(4), r.getDouble(5))).toMap
    assert(got == Map("nbtrans_cod111" -> 7.0)) // object + string dropped
  }

  test("fetcher injection: a `next` cycling back to page 1 terminates without re-emitting") {
    FakeHttpServer.reset()
    val base = "http://fake-api.test/v1"
    val page1 = s"$base/departement?code=85&page=1"
    FakeHttpServer.pages = Map(
      page1 -> s"""{"count":1,"next":"$page1","previous":null,
        |"results":[{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0}]}""".stripMargin)
    val df = spark.read.format("dv3f")
      .option("path", base)
      .option("fetcher", classOf[FakeHttpPageFetcher].getName)
      .option("scopes", "departement:85")
      .load()
    // the visited set is seeded with the FETCHER's first-page locator,
    // so the self-referencing URL is dropped: one page, no duplicates
    assert(df.count() == 1)
    assert(FakeHttpServer.gets == List(page1))
  }

  test("null metric values survive as null valeur rows") {
    val dir = Files.createTempDirectory("dv3fsrc3").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0,"pxm2_median_cod111":null}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val vals = df.collect().map(r =>
      (r.getString(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(vals == Map("nbtrans_cod111" -> Some(7.0), "pxm2_median_cod111" -> None))
  }

  test("aggregate pushdown: the scan emits partial aggregates; merge matches the raw scan") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("dv3fagg").toFile
    // explicit null metric: a PRESENT-but-null cell is a long row with
    // null valeur, so COUNT(*) and COUNT(valeur) must diverge
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":2,"next":null,"previous":null,"results":[
        |{"annee":"2019","dep":"85","libdep":"V","a_cod1":2.0,"b_cod1":null,"c_cod1":8.0},
        |{"annee":"2020","dep":"85","libdep":"V","a_cod1":4.0,"b_cod1":null}]}""".stripMargin)
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"P","a_cod1":6.0}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val agg = df.groupBy("annee")
      .agg(count(lit(1)).as("n"), count(col("valeur")).as("nv"),
        min(col("valeur")).as("mn"), max(col("valeur")).as("mx"))
    // the physical scan really aggregated: pushed marker in the scan
    // description and a 5-wide scan output (1 group + 4 aggs), not the
    // 6-wide long schema
    val desc = agg.queryExecution.executedPlan.toString
    assert(desc.contains("agg=["), desc)
    assert(desc.contains("groupBy=[annee]"), desc)
    val got = agg.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got === Map(
      "2019" -> ((4L, 3L, Some(2.0), Some(8.0))),
      "2020" -> ((2L, 1L, Some(4.0), Some(4.0)))))
    // cross-check against the unpushed scan aggregated in Scala
    val raw = df.collect().map(r => (r.getString(2),
      if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    val expect = raw.groupBy(_._1).map { case (annee, rs) =>
      val vs = rs.flatMap(_._2)
      annee -> ((rs.length.toLong, vs.length.toLong,
        vs.minOption, vs.maxOption))
    }
    assert(got === expect)
  }

  test("aggregate pushdown declines what it cannot partial (sum, distinct) and falls back") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("dv3fagg2").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","a_cod1":2.0,"c_cod1":8.0}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val summed = df.groupBy("annee").agg(sum(col("valeur")).as("s"))
    assert(!summed.queryExecution.executedPlan.toString.contains("agg=["))
    assert(summed.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("2019", 10.0)))
    val distinctCount = df.groupBy("annee")
      .agg(countDistinct(col("cod_full")).as("d"))
    assert(!distinctCount.queryExecution.executedPlan.toString.contains("agg=["))
    assert(distinctCount.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2019", 2L)))
  }

  test("runtime filtering narrows planned partitions (scan-level contract)") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val dir = Files.createTempDirectory("dv3frt").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","a_cod1":1.0}""")
    writePayload(dir, "departement", "17",
      """{"annee":"2019","dep":"17","libdep":"C","a_cod1":2.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"P","a_cod1":3.0}""")
    val s1 = scanOf(dir)
    assert(plannedPairs(s1) == Seq(
      ("departement", "17"), ("departement", "85"), ("region", "52")))
    assert(s1.filterAttributes().map(_.describe()).toSet == Set("scope", "code"))
    s1.filter(Array[org.apache.spark.sql.sources.Filter](In("code", Array("85", "52"))))
    assert(plannedPairs(s1) == Seq(("departement", "85"), ("region", "52")))
    // composes: a second runtime filter on scope intersects further
    s1.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("scope", "region")))
    assert(plannedPairs(s1) == Seq(("region", "52")))
    // conservative on unknown predicates: nothing changes
    s1.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("valeur", 0.0)))
    assert(plannedPairs(s1) == Seq(("region", "52")))
  }

  test("runtime filtering e2e: a broadcast dim join only fetches the joined codes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    TalliedFetcher.reset()
    val dir = Files.createTempDirectory("dv3frt2").toFile
    // payload files exist so scan planning finds the partitions; the
    // tallied fetcher serves equivalent content and counts fetches
    for (c <- Seq("85", "17", "52"))
      writePayload(dir, "departement", c,
        s"""{"annee":"2019","dep":"$c","libdep":"L","a_cod1":$c.0}""")
    val df = spark.read.format("dv3f")
      .option("path", dir.getAbsolutePath)
      .option("fetcher", classOf[TalliedFetcher].getName)
      .load()
    // dim must be a real (file-backed) relation with a likely-selective
    // predicate on a NON-join column: a local relation constant-folds
    // away, a filterless build side fails the selectivity heuristic,
    // and a filter on the join key itself propagates as a STATIC
    // constraint (planning-time pushdown — also correct, but then
    // there is nothing left for the runtime path to prove)
    val dimPath = Files.createTempDirectory("dv3fdim").toFile.getAbsolutePath
    Seq(("85", 1), ("17", 0), ("52", 0)).toDF("want_code", "keep")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"keep" === 1).select("want_code")
    val joined = df.join(broadcast(dim), df("code") === dim("want_code"))
      .select(col("code"), col("valeur"))
    // the planner inserted the dynamic-pruning runtime filter on code
    assert(joined.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression(code"),
      joined.queryExecution.executedPlan.toString)
    val rows = joined.collect()
    assert(rows.map(_.getString(0)).toSet == Set("85"))
    val fetched = TalliedFetcher.fetched.asScala.toSet
    assert(fetched.contains("departement:85"))
    // the runtime filter kept the un-joined codes' payloads unfetched
    assert(fetched == Set("departement:85"),
      s"runtime pruning did not engage: fetched $fetched")
  }

  test("golden: source → stage equals the in-memory Reshape.transform pipeline") {
    val viaSource = Dv3fQueries.dv3fSourcePipeline(spark, sf).collect()
      .map(_.toSeq).toSet
    val viaMemory = Dv3fQueries.dv3fPipeline(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(viaSource == viaMemory)
    assert(viaSource.size == 3)
  }

  test("runViaSource: one upsert per table, idempotent on re-run") {
    val dir = Files.createTempDirectory("dv3fsrc7").toFile
    val wh = Files.createTempDirectory("dv3fwh").toFile.getAbsolutePath
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    val r1 = graft.dv3f.IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    assert(r1.forall(_.ok) && r1.map(_.rows).sum == 2)
    val r2 = graft.dv3f.IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    assert(r2.forall(_.ok))
    assert(graft.dv3f.Upsert.read(spark, s"$wh/src_departement").count() == 1)
    assert(graft.dv3f.Upsert.read(spark, s"$wh/src_region").count() == 1)
  }

  test("runViaSource error isolation: a bad scope fails alone, the other table lands") {
    val dir = Files.createTempDirectory("dv3fsrc8").toFile
    val wh = Files.createTempDirectory("dv3fwh8").toFile.getAbsolutePath
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":0,"results":[]}""") // malformed: empty results
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    val reports = graft.dv3f.IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    val byScope = reports.map(r => r.scope -> r).toMap
    assert(!byScope("departement").ok &&
      byScope("departement").error.get.contains("empty or malformed"))
    assert(byScope("region").ok && byScope("region").rows == 1)
    assert(graft.dv3f.Upsert.read(spark, s"$wh/src_region").count() == 1)
    assert(!new File(s"$wh/src_departement").exists())
  }

  test("runViaSource scans each payload once and leaves nothing cached") {
    val dir = Files.createTempDirectory("dv3fsrc10").toFile
    val wh = Files.createTempDirectory("dv3fwh10").toFile.getAbsolutePath
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "departement", "44",
      """{"annee":"2019","dep":"44","libdep":"L-A","nbtrans_cod111":8.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    // the session is shared by every suite: compare with what was
    // persisted before, not with an empty registry
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // the first call creates both tables, the second merges onto them;
    // runViaSource's own body, over a source whose fetcher counts
    for (_ <- 1 to 2) {
      CountingFileFetcher.reset()
      val reports = IngestJob.loadStaging(spark, countingReader(dir), wh)
      assert(reports.forall(_.ok) && reports.map(_.rows).sum == 3)
      // one first-page fetch per payload file, whatever the task count
      assert(CountingFileFetcher.fetchedKeys.sorted ==
        Seq("departement:44", "departement:85", "region:52"))
      assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    }
    // a failing batch is unpersisted too
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":0,"results":[]}""")
    val reports = IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    assert(reports.map(_.ok) == Seq(false, true))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }

  test("a merging loadStaging runs at most 3 Spark jobs per table, scanning the source once") {
    val dir = Files.createTempDirectory("dv3fjobs").toFile
    val wh = Files.createTempDirectory("dv3fwhjobs").toFile.getAbsolutePath
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "departement", "44",
      """{"annee":"2019","dep":"44","libdep":"L-A","nbtrans_cod111":8.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    assert(IngestJob.loadStaging(spark, reader(dir), wh).forall(_.ok)) // creates both tables
    val (reports, counts) = Listened(spark)(IngestJob.loadStaging(spark, reader(dir), wh))
    assert(reports.forall(_.ok), reports)
    // per table: the count that fills the cache, the broadcast of the
    // batch's keys, the write
    assert(counts.jobs <= 3 * Dv3fConfig.staging.size, counts)
    assert(counts.sourceRows == 3, counts)
  }

  test("packing: 119 payload files plan at most defaultParallelism partitions, every pair once") {
    val dir = Files.createTempDirectory("dv3fpack").toFile
    for ((scope, code) <- Dv3fConfig.defaultScopes)
      writePayload(dir, scope, code,
        s"""{"annee":"2019","dep":"$code","reg":"$code","libdep":"L","libreg":"L","a_cod1":1.0}""")
    val cores = spark.sparkContext.defaultParallelism
    val parts = scanOf(dir).planInputPartitions().map(_.asInstanceOf[Dv3fPartition].pairs)
    assert(parts.length == math.min(119, cores))
    // near-equal pair counts, in the sorted payload-file order
    assert(parts.map(_.size).max - parts.map(_.size).min <= 1)
    assert(parts.toSeq.flatten ==
      Dv3fConfig.defaultScopes.sortBy { case (s, c) => s"${s}_$c.json" })
    // and the packed scan reads every payload
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    assert(df.rdd.getNumPartitions == parts.length)
    assert(df.select("scope", "code").distinct().count() == 119)
  }

  test("a multi-pair partition honours a pushed LIMIT and a pushed aggregate") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("dv3fmulti").toFile
    new File(dir, "pages").mkdirs()
    // twice as many pairs as cores: every planned partition holds two
    val cores = spark.sparkContext.defaultParallelism
    val codes = (1 to 2 * cores).map(i => f"$i%02d")
    // per pair: 3 long rows on page 1 (one of them a null valeur), 1 on page 2
    for ((c, i) <- codes.zipWithIndex) {
      Files.writeString(new File(dir, s"departement_$c.json").toPath,
        s"""{"count":3,"next":"pages/departement_${c}_2.json","previous":null,
          |"results":[{"annee":"2019","dep":"$c","libdep":"L","a_cod1":$i.5,"b_cod1":null},
          |           {"annee":"2020","dep":"$c","libdep":"L","a_cod1":${100 + i}.0}]}""".stripMargin)
      Files.writeString(new File(dir, s"pages/departement_${c}_2.json").toPath,
        s"""{"count":3,"next":null,"previous":null,
          |"results":[{"annee":"2021","dep":"$c","libdep":"L","a_cod1":${200 + i}.0}]}""".stripMargin)
    }
    val df = countingSource(dir)
    assert(df.rdd.getNumPartitions == cores)
    val raw = df.collect().map(r => (r.getString(1), r.getString(2),
      if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(raw.size == 4 * codes.size)

    // LIMIT, read through one two-pair partition: each pair keeps its
    // own cap and page chain, and a cap met on page 1 fetches no page 2
    def readPartition(limit: Int): Seq[(String, String)] = {
      val b = new Dv3fScanBuilder(Map("path" -> dir.getAbsolutePath,
        "fetcher" -> classOf[CountingFileFetcher].getName))
      b.pushLimit(limit)
      val reader = b.build().asInstanceOf[Dv3fScan].createReaderFactory()
        .createReader(Dv3fPartition(Seq(("departement", "01"), ("departement", "02"))))
      try Iterator.continually(reader).takeWhile(_.next()).map(_.get())
        .map(r => (r.getUTF8String(1).toString, r.getUTF8String(2).toString)).toSeq
      finally reader.close()
    }
    val unpushed = raw.map { case (c, y, _) => (c, y) }
    for ((limit, nextPages) <- Seq(3 -> 0, 4 -> 2)) {
      CountingFileFetcher.reset()
      assert(readPartition(limit) ==
        Seq("01", "02").flatMap(c => unpushed.filter(_._1 == c).take(limit)))
      val pages = CountingFileFetcher.fetchedKeys
      assert(pages.count(_.startsWith("pages/")) == nextPages, pages)
    }
    val limited = df.limit(5).collect().map(r => (r.getString(1), r.getString(2)))
    assert(limited.length == 5 && limited.forall(unpushed.contains))

    // pushed aggregate: partials over two pairs per task merge to the
    // unpushed answer, whether the grouping spans pairs or splits them
    for (keys <- Seq(Seq("annee"), Seq("code", "annee"))) {
      val agg = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)), count(col("valeur")), min(col("valeur")), max(col("valeur")))
      assert(agg.queryExecution.executedPlan.toString.contains("agg=["))
      val got = agg.collect().map(r => r.toSeq).toSet
      val want = raw.groupBy { case (c, y, _) => if (keys.size == 1) Seq(y) else Seq(c, y) }
        .map { case (k, rs) =>
          val vs = rs.flatMap(_._3)
          k ++ Seq(rs.size.toLong, vs.size.toLong, vs.min, vs.max)
        }.toSet
      assert(got == want)
    }
  }

  test("runViaSource's tables run on threads that carry the caller's local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("dv3fprops").toFile
    val wh = Files.createTempDirectory("dv3fwhprops").toFile.getAbsolutePath
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"Vendée","nbtrans_cod111":7.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    val sc = spark.sparkContext
    val caller = java.util.UUID.randomUUID.toString
    val jobProps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobProps.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(CountingFileFetcher.CallerKey))).getOrElse("-"))
    }
    CountingFileFetcher.reset()
    org.apache.spark.SpecListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(CountingFileFetcher.CallerKey, caller)
    val reports = try {
      val r = IngestJob.loadStaging(spark, countingReader(dir), wh)
      org.apache.spark.SpecListenerBus.drain(sc)
      r
    } finally {
      sc.setLocalProperty(CountingFileFetcher.CallerKey, null)
      sc.removeSparkListener(listener)
    }
    assert(reports.forall(_.ok), reports)
    // every job of both tables carries the property...
    assert(jobProps.size >= 4 && jobProps.asScala.forall(_ == caller), jobProps)
    // ...down to the scan tasks that fetched each table's payload
    assert(CountingFileFetcher.fetched.asScala.toSet ==
      Set(("departement:85", caller), ("region:52", caller)))
  }

  test("the ingest logs its tables in staging order when departement fails late and region lands") {
    val logFile = Files.createTempFile("graft-ingest-order", ".log").toString
    RunLog.toFile(logFile)
    val dir = Files.createTempDirectory("dv3forder").toFile
    val wh = Files.createTempDirectory("dv3fwhorder").toFile.getAbsolutePath
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":0,"results":[]}""") // malformed: empty results
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    // departement's fetch is slowed, so region finishes first
    val slow = spark.read.format("dv3f").option("path", dir.getAbsolutePath)
      .option("fetcher", classOf[SlowDepartementFetcher].getName)
    val reports = IngestJob.loadStaging(spark, slow, wh)
    assert(reports.map(r => (r.scope, r.ok)) == Seq(("departement", false), ("region", true)))
    val lines = scala.io.Source.fromFile(logFile).getLines().filter(_.contains("scope=")).toSeq
    assert(lines.size == 2, lines)
    assert(lines(0).contains("status=error scope=departement"), lines)
    assert(lines(1).contains("status=ok scope=region"), lines)
  }

  test("scope equality filter prunes InputPartitions at planning time") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("dv3fsrc9").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0}""")
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    assert(df.filter(col("scope") === "region").rdd.getNumPartitions == 1)
    assert(df.filter(col("scope") === "region" && col("code") === "99")
      .rdd.getNumPartitions == 0)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("column pruning reaches the reader (pruned schema in the scan)") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("dv3fsrc10").toFile
    writePayload(dir, "departement", "85",
      """{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":7.0}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val pruned = df.select("cod_full", "valeur")
    // physical scan carries only the 2 requested columns
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=[cod_full, valeur]"), scanDesc)
    assert(pruned.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("nbtrans_cod111", 7.0)))
    // pruning composes with partition-filter pushdown
    val both = df.filter(col("scope") === "departement").select("valeur")
    assert(both.collect().map(_.getDouble(0)).toSeq == Seq(7.0))
  }

  test("malformed payload (no results) fails the partition read") {
    val dir = Files.createTempDirectory("dv3fsrc4").toFile
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":0,"results":[]}""")
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    intercept[org.apache.spark.SparkException] { df.count() }
  }

  test("transient 5xx is retried with backoff until the page serves") {
    FlakyFetcher.reset(failuresBeforeSuccess = 2)
    val df = spark.read.format("dv3f")
      .option("path", "unused")
      .option("scopes", "departement:85")
      .option("fetcher", classOf[FlakyFetcher].getName)
      .option("fetchBackoffMs", "0")
      .load()
    // two 503s then success: the read must succeed without surfacing them
    assert(df.count() === 1)
    assert(FlakyFetcher.attempts.get() === 3)
  }

  test("exhausted retries surface the last transient error") {
    FlakyFetcher.reset(failuresBeforeSuccess = 99)
    val df = spark.read.format("dv3f")
      .option("path", "unused")
      .option("scopes", "departement:85")
      .option("fetcher", classOf[FlakyFetcher].getName)
      .option("fetchRetries", "2").option("fetchBackoffMs", "0")
      .load()
    val e = intercept[org.apache.spark.SparkException] { df.count() }
    assert(e.getMessage.contains("HTTP 503") ||
      Option(e.getCause).exists(_.getMessage.contains("HTTP 503")))
    assert(FlakyFetcher.attempts.get() === 3) // initial + 2 retries, no more
  }

  test("permanent 4xx fails its partition immediately; others isolated") {
    FlakyFetcher.reset(failuresBeforeSuccess = 0)
    val df = spark.read.format("dv3f")
      .option("path", "unused")
      .option("scopes", "departement:85,departement:404")
      .option("fetcher", classOf[FlakyFetcher].getName)
      .option("fetchBackoffMs", "0")
      .load()
    // pushed-down pruning: the healthy partition is queryable even
    // though its sibling 404s — per-(scope,code) error isolation
    assert(df.filter(org.apache.spark.sql.functions.col("code") === "85")
      .count() === 1)
    FlakyFetcher.reset(failuresBeforeSuccess = 0)
    val e = intercept[org.apache.spark.SparkException] { df.count() }
    assert(e.getMessage.contains("HTTP 404") ||
      Option(e.getCause).exists(_.getMessage.contains("HTTP 404")))
    // exactly ONE attempt on the 404 target: permanent errors never retry
    assert(FlakyFetcher.notFoundAttempts.get() === 1)
  }

  test("staging both scopes routes columns by table config") {
    val dir = Files.createTempDirectory("dv3fsrc5").toFile
    writePayload(dir, "region", "52",
      """{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0,"valeurfonc_sum_cod111":5.5}""")
    val staged = Dv3fSource.staged(reader(dir), Dv3fConfig.region).collect()
    assert(staged.length == 1)
    val r = staged(0)
    assert(r.getAs[String]("reg") == "52" && r.getAs[String]("libreg") == "PdL" &&
      r.getAs[Long]("nbtrans") == 9L && r.getAs[Double]("valeurfonc_sum") == 5.5)
  }

  test("staging shape equals the long → split → pivot → uid chain, both scopes") {
    val dir = pivotFixture()
    val long = reader(dir).load()
    for (table <- Dv3fConfig.staging) {
      val got = rows(Dv3fSource.staged(reader(dir), table))
      assert(got.sortBy(_.mkString) == rows(oracle(long, table)).sortBy(_.mkString))
    }
    val dep = Dv3fSource.staged(reader(dir), Dv3fConfig.departement)
      .select("annee", "dep", "libdep", "cod", "nbtrans", "pxm2_median", "valeurfonc_sum", "sbati_sum")
      .collect().map(r => r.toSeq.take(4).mkString("|") -> r.toSeq.drop(4)).toMap
    // 85: nothing from the all-null 2022 object or the null-only cod 121
    assert(dep.keySet == Set("2019|85|V|111", "2020|85|V|111", "2020|85|V|9",
      "2020|85|V|", "2020|85|V|12", "2021|85|null|111", "2019|17|C|111", "2019|17|C|121"))
    // the first non-null value in page order: nbtrans from page 2,
    // pxm2_median from page 1; the string and the object are skipped
    assert(dep("2019|85|V|111") == Seq(7L, 1.5, null, null))
    // undeclared metric and '_'-less name form all-null groups
    assert(dep("2020|85|V|9") == Seq(null, null, null, null))
    assert(dep("2020|85|V|") == Seq(null, null, null, null))
    assert(dep("2020|85|V|12") == Seq(6L, null, null, null))
    assert(dep("2021|85|null|111") == Seq(8L, null, null, null))
    val reg = rows(Dv3fSource.staged(reader(dir), Dv3fConfig.region)
      .select("reg", "cod", "nbtrans", "valeurfonc_sum"))
    assert(reg == Seq(Seq("52", "111", 9L, 5.5)))
  }

  test("staging shape under pushed filters, runtime filters and pruned columns") {
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val dir = pivotFixture()
    val dep = Dv3fConfig.departement
    val staged = Dv3fSource.staged(countingReader(dir), dep)
    val want = oracle(reader(dir).load(), dep)
    def same(a: DataFrame, b: DataFrame): Unit =
      assert(rows(a).sortBy(_.mkString) == rows(b).sortBy(_.mkString))

    // pushed scope and code equality: only departement 85 is fetched
    val one = staged.filter(col("dep") === "85")
    val desc = one.queryExecution.executedPlan.toString
    assert(desc.contains("scope=departement") && desc.contains("code=85"), desc)
    CountingFileFetcher.reset()
    same(one, want.filter(col("dep") === "85"))
    assert(CountingFileFetcher.fetchedKeys == Seq("departement:85", "pages/departement_85_2.json"))

    // runtime filter from a broadcast dimension join on the code
    val dimPath = Files.createTempDirectory("dv3fpivotdim").toFile.getAbsolutePath
    Seq(("17", 1), ("85", 0)).toDF("want_code", "keep").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"keep" === 1).select("want_code")
    def joined(df: DataFrame) = df.join(broadcast(dim), df("dep") === dim("want_code")).drop("want_code")
    val j = joined(staged)
    assert(j.queryExecution.executedPlan.toString.contains("dynamicpruningexpression("),
      j.queryExecution.executedPlan.toString)
    CountingFileFetcher.reset()
    same(j, joined(want))
    assert(CountingFileFetcher.fetchedKeys == Seq("departement:17"))

    // pruned metric columns reach the reader and leave the groups alone
    val cols = Seq("uid", "annee", "dep", "cod", "pxm2_median")
    val pruned = staged.select(cols.map(col): _*)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("columns=[scope, code, annee, cod, pxm2_median]"), scan)
    same(pruned, want.select(cols.map(col): _*))
    assert(staged.select("sbati_median").count() == want.count())
    assert(staged.count() == 8)
  }

  test("the staged batch is cached with no exchange below it") {
    val dir = pivotFixture()
    def exchangesBelowCache(df: DataFrame): Int = {
      val cached = df.persist()
      try {
        cached.count()
        collect(cached.queryExecution.executedPlan) {
          case m: InMemoryTableScanExec => collect(m.relation.cachedPlan) { case e: Exchange => e }.size
        }.sum
      } finally cached.unpersist()
    }
    assert(exchangesBelowCache(Dv3fSource.staged(reader(dir), Dv3fConfig.departement)) == 0)
    // the long-row chain it replaces shuffles
    assert(exchangesBelowCache(oracle(reader(dir).load(), Dv3fConfig.departement)) > 0)
  }

  test("the staging shape declines limit and aggregate pushdown") {
    import org.apache.spark.sql.functions.{count, lit}
    val dir = pivotFixture()
    val staged = Dv3fSource.staged(reader(dir), Dv3fConfig.departement)
    val limited = staged.limit(1)
    assert(!limited.queryExecution.executedPlan.toString.contains("limit="))
    assert(limited.collect().length == 1)
    val agg = staged.groupBy("annee").agg(count(lit(1)))
    assert(!agg.queryExecution.executedPlan.toString.contains("agg=["))
    assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("2019" -> 3L, "2020" -> 4L, "2021" -> 1L))
  }

  test("a malformed later page fails only its own table") {
    val dir = pivotFixture()
    val wh = Files.createTempDirectory("dv3fwhpivot").toFile.getAbsolutePath
    Files.writeString(new File(dir, "pages/departement_85_2.json").toPath,
      """{"count":5,"next":null,"results":[]}""")
    val reports = IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    assert(reports.map(r => (r.scope, r.ok)) == Seq(("departement", false), ("region", true)))
    assert(reports.head.error.get.contains("empty or malformed payload for (departement, 85)"))
    assert(graft.dv3f.Upsert.read(spark, s"$wh/src_region").count() == 1)
    assert(!new File(s"$wh/src_departement").exists())
  }

  test("a schema that is neither the long nor the staging shape is refused") {
    val dir = pivotFixture()
    val staging = Dv3fSource.stagingSchema(Dv3fConfig.departement)
    val bad = Seq(
      StructType(staging.fields.filterNot(_.name == "cod")),
      StructType(staging.fields.map(f => if (f.name == "nbtrans") f.copy(dataType = LongType) else f)),
      StructType(staging.fields.take(5).reverse ++ staging.fields.drop(5)),
      staging.add("note", StringType),
      staging.add("nbtrans", DoubleType),
      Dv3fSource.schema.add("extra", DoubleType))
    for (s <- bad) {
      val e = intercept[IllegalArgumentException](reader(dir).schema(s).load())
      assert(e.getMessage.contains("unsupported schema"), e.getMessage)
    }
    // the long shape, given explicitly, reads as with no schema
    assert(reader(dir).schema(Dv3fSource.schema).load().count() == reader(dir).load().count())
  }

  test("a pair named twice in the scopes option is planned and staged once") {
    val dir = pivotFixture()
    val scopes = "departement:85,region:52,departement:85"
    val scan = new Dv3fScanBuilder(Map("path" -> dir.getAbsolutePath, "scopes" -> scopes))
      .build().asInstanceOf[Dv3fScan]
    assert(plannedPairs(scan) == Seq(("departement", "85"), ("region", "52")))
    val staged = Dv3fSource.staged(reader(dir).option("scopes", scopes), Dv3fConfig.departement)
    assert(staged.count() == 6 && staged.select("uid").distinct().count() == 6)
  }
}

/** Flaky fake server for the retry specs: code "404" is permanently
  * missing (FetchException 404); everything else throws 503 for the
  * first `failuresBeforeSuccess` attempts, then serves one row.
  * Reflectively constructed by the source (single-String ctor), counters
  * in the companion (executors share the local JVM).
  */
class FlakyFetcher(path: String) extends PageFetcher {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
  override def firstPage(scope: String, code: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    if (code == "404") {
      FlakyFetcher.notFoundAttempts.incrementAndGet()
      throw new FetchException(404, s"no such code $code")
    }
    val n = FlakyFetcher.attempts.incrementAndGet()
    if (n <= FlakyFetcher.failuresBeforeSuccess.get())
      throw new FetchException(503, "service unavailable")
    mapper.readTree(
      s"""{"count":1,"next":null,"results":[
         |{"annee":"2019","dep":"$code","libdep":"L","nbtrans_cod111":7.0}]}"""
        .stripMargin)
  }
  override def nextPage(locator: String): com.fasterxml.jackson.databind.JsonNode =
    throw new FetchException(500, s"unexpected next $locator")
  override def firstLocator(scope: String, code: String): String =
    s"$scope/$code"
}

/** Serves one row per (scope, code) and tallies every first-page fetch
  * — the witness that runtime partition pruning really skips fetches.
  */
class TalliedFetcher(path: String) extends PageFetcher {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
  override def firstPage(scope: String, code: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    TalliedFetcher.fetched.add(s"$scope:$code")
    mapper.readTree(
      s"""{"count":1,"next":null,"results":[
         |{"annee":"2019","dep":"$code","libdep":"L","a_cod1":$code.0}]}"""
        .stripMargin)
  }
  override def nextPage(locator: String): com.fasterxml.jackson.databind.JsonNode =
    throw new FetchException(500, s"unexpected next $locator")
  override def firstLocator(scope: String, code: String): String =
    s"$scope/$code"
}

object TalliedFetcher {
  val fetched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def reset(): Unit = fetched.clear()
}

object FlakyFetcher {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  val notFoundAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
  val failuresBeforeSuccess = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(failuresBeforeSuccess: Int): Unit = {
    attempts.set(0); notFoundAttempts.set(0)
    this.failuresBeforeSuccess.set(failuresBeforeSuccess)
  }
}

/** The file fetcher, recording every page fetch: first pages as
  * `scope:code`, later pages by locator, each with the
  * [[CountingFileFetcher.CallerKey]] local property of the task that
  * fetched it (`-` outside a task).
  */
class CountingFileFetcher(path: String) extends FilePageFetcher(path) {
  override def firstPage(scope: String, code: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    CountingFileFetcher.record(s"$scope:$code")
    super.firstPage(scope, code)
  }
  override def nextPage(locator: String): com.fasterxml.jackson.databind.JsonNode = {
    CountingFileFetcher.record(locator)
    super.nextPage(locator)
  }
}

object CountingFileFetcher {
  val CallerKey = "graft.spec.caller"
  val fetched = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def record(key: String): Unit = fetched.add((key, Option(org.apache.spark.TaskContext.get())
    .flatMap(t => Option(t.getLocalProperty(CallerKey))).getOrElse("-")))
  def fetchedKeys: Seq[String] = fetched.asScala.toSeq.map(_._1)
  def reset(): Unit = fetched.clear()
}

/** The file fetcher with departement first pages served 500 ms late. */
class SlowDepartementFetcher(path: String) extends FilePageFetcher(path) {
  override def firstPage(scope: String, code: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    if (scope == "departement") Thread.sleep(500)
    super.firstPage(scope, code)
  }
}
