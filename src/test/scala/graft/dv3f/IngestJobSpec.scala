package graft.dv3f

import graft.SparkSpec
import java.nio.file.Files

/** Fan-out + error isolation (SURVEY.md §2 D1-D4): one bad partition never
  * kills the run; good partitions land.
  */
class IngestJobSpec extends SparkSpec {

  private def payload(scope: String, code: String): String = {
    val (k, lk) = if (scope == "region") ("reg", "libreg") else ("dep", "libdep")
    s"""{"count": 1, "results": [
       |  {"annee": "2019", "$k": "$code", "$lk": "Name$code",
       |   "nbtrans_cod111": 100, "valeurfonc_sum_cod111": 5.0e8}
       |]}""".stripMargin
  }

  test("flattenResults explodes the results array") {
    val df = JsonFlatten.flattenResults(spark, payload("departement", "85"))
    assert(df.count() === 1)
    assert(df.columns.contains("dep") && df.columns.contains("nbtrans_cod111"))
  }

  test("flattenResults rejects payloads without results") {
    intercept[IllegalArgumentException] {
      JsonFlatten.flattenResults(spark, """{"count": 0}""")
    }
  }

  test("run isolates failing branches and loads the rest") {
    val wh = Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-ingest").toString
    val fetch: IngestJob.Fetcher = (scope, code) =>
      if (code == "BAD") throw new RuntimeException("HTTP 500")
      else payload(scope, code)
    val reports = IngestJob.run(spark, fetch, wh, Seq(
      ("departement", "85"), ("departement", "BAD"), ("region", "52")))
    assert(reports.map(_.ok) === Seq(true, false, true))
    assert(reports(1).error.exists(_.contains("HTTP 500")))
    assert(Upsert.read(spark, s"$wh/src_departement").count() === 1)
    assert(Upsert.read(spark, s"$wh/src_region").count() === 1)
  }

  test("D6: per-branch structured log lines land in the configured file sink") {
    val logFile = Files.createTempFile("graft-ingest", ".log").toString
    RunLog.toFile(logFile)
    val wh = Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-ingest-log").toString
    val fetch: IngestJob.Fetcher = (scope, code) =>
      if (code == "BAD") throw new RuntimeException("HTTP 503 from api")
      else payload(scope, code)
    IngestJob.run(spark, fetch, wh,
      Seq(("departement", "85"), ("departement", "BAD")))
    val lines = scala.io.Source.fromFile(logFile).getLines().toSeq
    // one success line with the branch key/values, the row count and
    // the per-layer ms...
    assert(lines.exists(l => l.contains("status=ok") &&
      l.contains("scope=departement") && l.contains("code=85") &&
      l.contains("rows=1") && Seq("stage_ms=", "upsert_ms=", "refresh_ms=")
        .forall(l.contains)), lines.mkString("\n"))
    // ...and one error line carrying the branch and the cause
    assert(lines.exists(l => l.contains("status=error") &&
      l.contains("code=BAD") && l.contains("HTTP 503")), lines.mkString("\n"))
  }

  test("config routing matches scope substring over table names") {
    assert(Dv3fConfig.route("departement").name === "src_departement")
    assert(Dv3fConfig.route("region").name === "src_region")
    assert(Dv3fConfig.defaultScopes.size === 119)
  }
}
