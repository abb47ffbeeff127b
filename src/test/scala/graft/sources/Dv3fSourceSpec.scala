package graft.sources

import java.io.File
import java.nio.file.Files

import scala.collection.JavaConverters._

import graft.{Listened, SparkSpec}
import graft.dv3f.Dv3fConfig
import graft.queries.Dv3fQueries

class Dv3fSourceSpec extends SparkSpec {

  private def writePayload(dir: File, scope: String, code: String,
      results: String): Unit =
    Files.writeString(new File(dir, s"${scope}_$code.json").toPath,
      s"""{"count":1,"next":null,"previous":null,"results":[$results]}""")

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
    def scan() = new Dv3fScanBuilder(Map("path" -> dir.getAbsolutePath))
      .build().asInstanceOf[Dv3fScan]
    val s1 = scan()
    assert(s1.planInputPartitions().length == 3)
    assert(s1.filterAttributes().map(_.describe()).toSet == Set("scope", "code"))
    s1.filter(Array[org.apache.spark.sql.sources.Filter](In("code", Array("85", "52"))))
    assert(s1.planInputPartitions().length == 2)
    // composes: a second runtime filter on scope intersects further
    s1.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("scope", "region")))
    assert(s1.planInputPartitions().length == 1)
    // conservative on unknown predicates: nothing changes
    s1.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("valeur", 0.0)))
    assert(s1.planInputPartitions().length == 1)
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
    // the first call creates both tables, the second merges onto them
    for (_ <- 1 to 2) {
      val (reports, counts) = Listened(spark)(
        graft.dv3f.IngestJob.runViaSource(spark, dir.getAbsolutePath, wh))
      assert(reports.forall(_.ok) && reports.map(_.rows).sum == 3)
      assert(counts.sourceTasks == 3, counts) // one task per payload file
      assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    }
    // a failing batch is unpersisted too
    Files.writeString(new File(dir, "departement_85.json").toPath,
      """{"count":0,"results":[]}""")
    val reports = graft.dv3f.IngestJob.runViaSource(spark, dir.getAbsolutePath, wh)
    assert(reports.map(_.ok) == Seq(false, true))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
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
    val df = spark.read.format("dv3f").option("path", dir.getAbsolutePath).load()
    val staged = Dv3fSource.stage(df, Dv3fConfig.region).collect()
    assert(staged.length == 1)
    val r = staged(0)
    assert(r.getAs[String]("reg") == "52" && r.getAs[String]("libreg") == "PdL" &&
      r.getAs[Long]("nbtrans") == 9L && r.getAs[Double]("valeurfonc_sum") == 5.5)
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
