package graft.dv3f

import graft.{Listened, SparkSpec}
import org.apache.spark.sql.DataFrame

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls, distincts, min/max per column in one pass") {
    val df = Seq(
      (Some("a"), Some(1)), (Some("b"), None),
      (Some("a"), Some(3)), (None, Some(3))
    ).toDF("s", "i")
    val p = Quality.profile(df, Seq("s", "i")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(p("s") == ((4L, 1L, 2L, "a", "b")))
    assert(p("i") == ((4L, 1L, 2L, "1", "3")))
  }

  test("unique/notNull violations: dbt semantics (NULLs ignored by unique)") {
    val df = Seq(Some(1), Some(1), Some(2), None, None).toDF("id")
    assert(Quality.uniqueViolations(df, "id") == 1) // only value 1 repeats
    assert(Quality.notNullViolations(df, "id") == 2)
  }

  test("maxLength violations: config.yaml's maxLength 4 check (NULLs pass)") {
    val df = Seq(Some("2019"), Some("20199"), Some("x"), None).toDF("annee")
    assert(Quality.maxLengthViolations(df, "annee", 4) == 1)
    // non-string columns are checked on their string form
    val nums = Seq(1234, 12345).toDF("annee")
    assert(Quality.maxLengthViolations(nums, "annee", 4) == 1)
  }

  test("acceptedValues violations: dbt semantics (NULLs pass, set is literal)") {
    val df = Seq(Some("O"), Some("F"), Some("X"), Some("Y"), None).toDF("st")
    assert(Quality.acceptedValuesViolations(df, "st", Seq("O", "F", "P")) == 2)
  }

  test("acceptedValues report: one row per offending value, empty when clean") {
    val df = Seq(Some("O"), Some("F"), Some("X"), Some("Y"), Some("X"), None)
      .toDF("st")
    val rep = Quality.acceptedValuesReport(df, "st", Seq("O", "F", "P"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rep == Seq(("X", 2L), ("Y", 1L)))
    assert(Quality.acceptedValuesReport(df, "st",
      Seq("O", "F", "P", "X", "Y")).count() == 0)
  }

  test("relationship violations: orphan foreign keys, NULL fk passes") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(3L), Some(3L), None).toDF("fk")
    assert(Quality.relationshipViolations(child, "fk", parent, "pk") == 2)
  }

  test("stagingChecks includes the declared maxLength constraints") {
    val table = Dv3fConfig.staging.head
    val df = Seq(("u1", "2019", "85", "Vendée", "u1cod"))
      .toDF("uid", "annee", table.idVars(1), table.idVars(2), "extra")
    val checks = Quality.stagingChecks(Upsert.alignByName(df, table), table)
    val ml = checks.filter(_.check.startsWith("max_length"))
    assert(ml.map(c => (c.column, c.check)) == Seq(("annee", "max_length_4")))
    assert(ml.forall(_.passed))
  }

  test("stagingChecks: one Spark action, the same results as the single checks") {
    import Quality.CheckResult
    val table = Dv3fConfig.departement
    val rows = Seq[(String, String, String, String)](
      ("u1", "2019", "85", "Vendée"),
      ("u1", "2019", "85", "Vendée"), // repeated uid
      ("u2", "20190", "85", "Vendée"), // 5-character annee
      (null, "2020", "44", "Loire-Atlantique"), // NULL uid
      (null, null, null, "Loire-Atlantique"), // NULL uid and id vars
      ("u3", "2021", null, null)) // NULL id vars
    val df = Upsert.alignByName(rows.toDF("uid", "annee", "dep", "libdep"), table)
    def singleChecks(frame: DataFrame): Seq[CheckResult] =
      Seq(CheckResult(table.name, "uid", "unique", Quality.uniqueViolations(frame, "uid")),
        CheckResult(table.name, "uid", "not_null", Quality.notNullViolations(frame, "uid"))) ++
        table.idVars.map(c =>
          CheckResult(table.name, c, "not_null", Quality.notNullViolations(frame, c))) :+
        CheckResult(table.name, "annee", "max_length_4",
          Quality.maxLengthViolations(frame, "annee", 4))
    assert(singleChecks(df).map(_.violations) == Seq(1L, 2L, 1L, 2L, 1L, 1L))
    for (frame <- Seq(df, df.limit(0))) {
      val expected = singleChecks(frame)
      val (got, counts) = Listened(spark)(Quality.stagingChecks(frame, table))
      assert(got == expected)
      assert(counts.actions == 1, counts)
      // the grouping's map and result stages; the fold is observed on them
      if (frame eq df) assert(counts.jobs == 2, counts)
    }
  }
}
