package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The testdata type-drift seam, pinned. The driver regenerates
  * /root/testdata between rounds and has changed column types doing it
  * (round 9: events `ts` int64-nanos → timestamp_ntz); these specs
  * prove (a) every ACCEPTED form of each temporal column loads and
  * normalizes to identical values, and (b) a drift outside the
  * accepted families fails AT LOAD with the drift named — not deep in
  * a query as an opaque cast error.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("tables_spec").toString

  private def writeAs(dir: String, table: String, df: DataFrame): String = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  // one event at a fixed instant, expressible in all three ts forms
  private val microsUtc = 1704067200123456L // 2024-01-01T00:00:00.123456Z

  private def eventsWithTs(tsCol: org.apache.spark.sql.Column): DataFrame =
    Seq((1L, 10L, "click", 1.5, """{"k":1}""")).toDF(
      "event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  test("events.ts: int64-nanos, NTZ and zoned forms all load and normalize identically") {
    val forms = Seq[(String, DataFrame)](
      "int64 nanos" -> eventsWithTs(lit(microsUtc * 1000L)),
      "timestamp_ntz" -> eventsWithTs(
        timestamp_micros(lit(microsUtc)).cast(TimestampNTZType)),
      "zoned timestamp" -> eventsWithTs(timestamp_micros(lit(microsUtc))))
    val got = forms.map { case (label, df) =>
      val dir = writeAs(freshDir(), "events", df)
      val loaded = Tables.loadEvents(spark, dir)
      assert(loaded.schema("ts").dataType === TimestampType, label)
      label -> loaded.select(unix_micros(col("ts"))).head.getLong(0)
    }
    // all three forms land on the same UTC microsecond instant
    got.foreach { case (label, micros) =>
      assert(micros === microsUtc, s"$label: $micros != $microsUtc")
    }
  }

  test("orders.o_orderdate and lineitem.l_shipdate: NTZ and zoned forms both load") {
    val ordersBase = Seq((1L, 2L, "O", 10.0, "1-URGENT")).toDF(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")
    val liBase = Seq((1L, 2L, 3L, 1, 4.0, 5.0, 0.1, 0.2, "N", "O")).toDF(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      c => c, c => c.cast(TimestampNTZType)).zipWithIndex.foreach {
      case (form, i) =>
        val o = writeAs(freshDir(), "orders",
          ordersBase.withColumn("o_orderdate", form(timestamp_micros(lit(microsUtc)))))
        assert(Tables.load(spark, o, "orders").count() === 1, s"orders form $i")
        val l = writeAs(freshDir(), "lineitem",
          liBase.withColumn("l_shipdate", form(timestamp_micros(lit(microsUtc)))))
        assert(Tables.load(spark, l, "lineitem").count() === 1, s"lineitem form $i")
    }
  }

  test("a table rewritten in place with a drifted type fails its next load") {
    val dir = freshDir()
    def docs(id: org.apache.spark.sql.Column): DataFrame =
      Seq((1L, "a b", "en", "s", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("doc_id", id)
    writeAs(dir, "documents", docs(col("doc_id")))
    assert(Tables.load(spark, dir, "documents").count() === 1)
    writeAs(dir, "documents", docs(col("doc_id").cast("string")))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "documents"))
    assert(e.getMessage.contains("testdata drift: documents.doc_id"), e.getMessage)
  }

  test("temporal drift outside the families fails at load, naming the drift") {
    // o_orderdate arriving as DATE would silently change comparison and
    // grouping semantics — must refuse, not absorb
    val dir = writeAs(freshDir(), "orders",
      Seq((1L, 2L, "O", 10.0, "1-URGENT")).toDF(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
        .withColumn("o_orderdate", to_date(timestamp_micros(lit(microsUtc)))))
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "orders")
    }
    assert(e.getMessage.contains("o_orderdate"))
    assert(e.getMessage.contains("date"))
    assert(e.getMessage.contains("testdata drift"))
  }

  test("events.ts drifting to string fails at load") {
    val dir = writeAs(freshDir(), "events",
      eventsWithTs(lit("2024-01-01 00:00:00")))
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("string"))
  }

  test("a lost column fails at load, naming the column") {
    val dir = writeAs(freshDir(), "documents",
      Seq((1L, "t", "en")).toDF("doc_id", "text", "lang")) // no source/n_chars
    val e = intercept[IllegalStateException] {
      Tables.load(spark, dir, "documents")
    }
    assert(e.getMessage.contains("lost column"))
    assert(e.getMessage.contains("source") || e.getMessage.contains("n_chars"))
  }

  test("extra columns are tolerated; the real testdata passes the guard") {
    val dir = writeAs(freshDir(), "documents",
      Seq((1L, "t", "en", "web", 1L, "EXTRA")).toDF(
        "doc_id", "text", "lang", "source", "n_chars", "added_by_driver"))
    assert(Tables.load(spark, dir, "documents").count() === 1)
    // and the actual driver-written tables all pass
    Tables.names.foreach { n =>
      assert(Tables.load(spark, "/root/testdata/sf0.001", n).schema.nonEmpty, n)
    }
  }
}
