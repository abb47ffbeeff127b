package graft.dv3f

import java.nio.file.Files

import graft.SparkSpec

class CatalogSpec extends SparkSpec {

  test("ingest → catalog tables → SQL over dev.* end to end") {
    val payloads = Files.createTempDirectory("catsrc").toFile
    val wh = Files.createTempDirectory("catwh").toFile.getAbsolutePath
    Files.writeString(new java.io.File(payloads, "departement_85.json").toPath,
      """{"count":1,"next":null,"previous":null,"results":[
        |{"annee":"2019","dep":"85","libdep":"Vendée",
        |"nbtrans_cod111":7.0,"valeurfonc_sum_cod111":100.5}]}""".stripMargin)
    Files.writeString(new java.io.File(payloads, "region_52.json").toPath,
      """{"count":1,"next":null,"previous":null,"results":[
        |{"annee":"2019","reg":"52","libreg":"PdL","nbtrans_cod111":9.0}]}""".stripMargin)

    val reports = IngestJob.runViaSource(spark, payloads.getAbsolutePath, wh)
    assert(reports.forall(_.ok))

    Catalog.ensureAll(spark, wh)
    Dv3fConfig.staging.foreach(Catalog.refresh(spark, _))
    // K2 idempotence: second call is a no-op, not an error
    Catalog.ensureAll(spark, wh)

    val dep = spark.sql(
      "SELECT annee, dep, cod, nbtrans FROM dev.src_departement").collect()
    assert(dep.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getLong(3))).toSeq == Seq(("2019", "85", "111", 7L)))

    // P1: select * staging views over the catalog tables
    Catalog.registerStagingViews(spark)
    assert(spark.sql("SELECT count(*) FROM src_region_v").collect()(0).getLong(0) == 1)

    // typed schema came from config, not inference
    val fields = spark.table("dev.src_departement").schema.fields
      .map(f => f.name -> f.dataType.simpleString).toMap
    assert(fields("uid") == "string" && fields("nbtrans") == "bigint" &&
      fields("valeurfonc_sum") == "double")
  }

  test("catalog location follows commits: repeated ingest + vacuum never strands dev.*") {
    val payloads = Files.createTempDirectory("catsrc2").toFile
    val wh = Files.createTempDirectory("catwh2").toFile.getAbsolutePath
    def write(nbtrans: Double): Unit =
      Files.writeString(new java.io.File(payloads, "departement_85.json").toPath,
        s"""{"count":1,"next":null,"previous":null,"results":[
           |{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":$nbtrans}]}""".stripMargin)
    write(1.0)
    assert(IngestJob.runViaSource(spark, payloads.getAbsolutePath, wh).forall(_.ok))
    Catalog.ensureAll(spark, wh)
    // three more commits: vacuum (keepCommits=2) deletes the snapshot
    // the table was registered against — the ingest path must have
    // re-pointed the catalog each time, or this query reads a dead dir
    (2 to 4).foreach { i =>
      write(i.toDouble)
      assert(IngestJob.runViaSource(spark, payloads.getAbsolutePath, wh).forall(_.ok))
    }
    val n = spark.sql(
      "SELECT nbtrans FROM dev.src_departement WHERE annee = '2019'")
      .collect()(0).getLong(0)
    assert(n === 4L)
  }

  test("S6 connector parity: csv round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("csvsrc").toString + "/r"
    val region = graft.Tables.load(spark, sf, "region")
    region.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(region.schema).csv(dir)
    assert(back.count() == region.count())
    assert(back.schema == region.schema)
  }

  test("dbt example model graph: views + schema tests pass") {
    val results = Catalog.exampleModelTests(spark)
    assert(results.forall(_._2), results.toString)
    // ephemeral-style inlining: downstream filter over the literal union
    assert(spark.sql("SELECT * FROM my_second_dbt_model").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("a read of dev.<t> after repointIfRegistered sees the new snapshot, cached or not") {
    val payloads = Files.createTempDirectory("catsrc3").toFile
    val wh = Files.createTempDirectory("catwh3").toFile.getAbsolutePath
    val t = Dv3fConfig.departement
    // a commit that does not re-point the catalog by itself
    def commit(nbtrans: Double): Unit = {
      Files.writeString(new java.io.File(payloads, "departement_85.json").toPath,
        s"""{"count":1,"next":null,"previous":null,"results":[
           |{"annee":"2019","dep":"85","libdep":"V","nbtrans_cod111":$nbtrans}]}""".stripMargin)
      Upsert.upsertByName(spark, s"$wh/${t.name}", graft.sources.Dv3fSource.staged(
        spark.read.format("dv3f").option("path", payloads.getAbsolutePath), t), t)
    }
    def read(): Seq[Long] =
      spark.sql(s"SELECT nbtrans FROM dev.${t.name}").collect().map(_.getLong(0)).toSeq
    commit(1.0)
    Catalog.ensureStagingTable(spark, wh, t) // a no-op if an earlier test registered it
    Catalog.repointIfRegistered(spark, wh, t)
    assert(read() == Seq(1L))
    // one SQL statement per re-point: the ALTER refreshes the table itself
    commit(2.0)
    val (_, counts) = graft.Listened(spark)(Catalog.repointIfRegistered(spark, wh, t))
    assert(counts.actions == 1, counts)
    assert(read() == Seq(2L))
    // and a cached table is re-cached from the new snapshot
    spark.catalog.cacheTable(s"dev.${t.name}")
    try {
      assert(read() == Seq(2L))
      commit(3.0)
      assert(read() == Seq(2L)) // the catalog still names the old snapshot
      Catalog.repointIfRegistered(spark, wh, t)
      assert(read() == Seq(3L))
    } finally spark.catalog.uncacheTable(s"dev.${t.name}")
  }
}
