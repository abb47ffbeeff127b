package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-provided parquet testdata (see TESTDATA.md).
  * All queries take an `sfDir` so the same code runs at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // ------------------------------------------------- drift assertions

  /** Accepted logical-type families per column. The driver REGENERATES
    * /root/testdata between rounds and has drifted types doing it
    * (round 9: events `ts` went nanosecond-int64 → timestamp[us] NTZ);
    * this map makes the NEXT drift fail AT LOAD with the drift named,
    * instead of deep inside a query as an opaque cast/oracle error.
    * Families are deliberately loose where semantics are unaffected
    * (integral width, NTZ vs zoned under the pinned-UTC session) and
    * strict where a silent change would corrupt semantics (a temporal
    * column arriving as date or string, a metric arriving as decimal
    * string, an embedding arriving as array<double>).
    */
  private sealed abstract class Family(val desc: String,
      val ok: DataType => Boolean)
  private case object Integral extends Family("integral (int8..int64)", {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  })
  private case object Fractional extends Family("fractional (float/double)", {
    case FloatType | DoubleType => true; case _ => false
  })
  private case object Str extends Family("string", _ == StringType)
  private case object Temporal extends Family("timestamp (zoned or NTZ)", {
    case TimestampType | TimestampNTZType => true; case _ => false
  })
  private case object TemporalOrNanos extends Family(
    "timestamp (zoned or NTZ) or int64 epoch-nanos", {
      case TimestampType | TimestampNTZType | LongType => true; case _ => false
    })
  private case object FloatArray extends Family("array<float>", {
    case ArrayType(FloatType, _) => true; case _ => false
  })

  /** Expected columns per table. Extra columns are tolerated (queries
    * select explicitly); a MISSING column or a family violation throws.
    */
  private val expected: Map[String, Seq[(String, Family)]] = Map(
    "region" -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "nation" -> Seq("n_nationkey" -> Integral, "n_name" -> Str,
      "n_regionkey" -> Integral),
    "customer" -> Seq("c_custkey" -> Integral, "c_name" -> Str,
      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
      "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Integral, "s_name" -> Str,
      "s_nationkey" -> Integral, "s_acctbal" -> Fractional),
    "part" -> Seq("p_partkey" -> Integral, "p_name" -> Str,
      "p_brand" -> Str, "p_type" -> Str, "p_size" -> Integral,
      "p_retailprice" -> Fractional),
    "orders" -> Seq("o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
      "o_orderdate" -> Temporal, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
      "l_discount" -> Fractional, "l_tax" -> Fractional,
      "l_returnflag" -> Str, "l_linestatus" -> Str,
      "l_shipdate" -> Temporal),
    "events" -> Seq("event_id" -> Integral, "ts" -> TemporalOrNanos,
      "user_id" -> Integral, "event_type" -> Str, "value" -> Fractional,
      "props" -> Str),
    "documents" -> Seq("doc_id" -> Integral, "text" -> Str,
      "lang" -> Str, "source" -> Str, "n_chars" -> Integral),
    "embeddings" -> Seq("vec_id" -> Integral, "embedding" -> FloatArray,
      "label" -> Integral))

  /** Fail loud, at load, if a regenerated table drifted outside the
    * accepted families — naming table, column, arrived type and the
    * acceptance, with the remediation spelled out.
    */
  private[graft] def assertShape(name: String, schema: StructType): StructType = {
    expected.get(name).foreach { cols =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (c, fam) =>
        byName.get(c) match {
          case None => throw new IllegalStateException(
            s"testdata drift: table '$name' lost column '$c' " +
              s"(present: ${schema.fieldNames.mkString(", ")}). The driver " +
              "regenerated /root/testdata with a new layout; update " +
              "Tables.expected and audit every query touching the column.")
          case Some(dt) if !fam.ok(dt) => throw new IllegalStateException(
            s"testdata drift: $name.$c arrived as ${dt.simpleString}, " +
              s"accepted: ${fam.desc}. The driver regenerated /root/testdata " +
              "with a new type (precedent: round 9 turned events.ts from " +
              "int64 nanos into timestamp_ntz). If the new form is benign, " +
              "extend the family in Tables.expected; if it needs " +
              "normalization, add a loader shim like Tables.loadEvents.")
          case _ => ()
        }
      }
    }
    schema
  }

  /** The schema is memoized per content version of the table's path
    * ([[graft.ops.StageOnce.memo]]), playing the metastore's role: no
    * footer inference per query, and a table regenerated in place is
    * re-inferred and re-asserted on its next load. All graft sessions
    * share EngineSession's read conf, so the key leaves the conf out.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = graft.ops.StageOnce.memo("schema", path)(
      assertShape(name, spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  /** Events table with `ts` as a proper TimestampType. The driver writes
    * nanosecond parquet timestamps, which Spark only reads via
    * `spark.sql.legacy.parquet.nanosAsLong` (set in our session
    * builders) — convert with integral division, NOT `/` (a double
    * can't hold 2024-epoch nanos; `div` keeps it exact and floors like
    * DuckDB's TIMESTAMP_NS→TIMESTAMP cast).
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // regenerated testdata writes naive micros (timestamp[us], no
        // zone) which Spark reads as TIMESTAMP_NTZ. Normalize to the
        // session-UTC TimestampType every query was written against:
        // value-identical under the UTC session (EngineSession pins it),
        // and NTZ notably cannot cast to BIGINT for epoch binning.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already a (zoned) timestamp
    }
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
