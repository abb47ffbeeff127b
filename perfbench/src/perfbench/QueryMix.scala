package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dv3f.Dv3fConfig

/** One analyst issuing read queries in a seeded order: every cycle is a
  * fresh seeded permutation of the mix, so each query runs about equally
  * often. Staged indexes and artifacts built by the first use of a query
  * are reused by later ones, as in an interactive session.
  *
  * Every answer is materialized completely (collected) and checked: the
  * first answer of each SparkEntry query is dumped for the DuckDB oracle
  * (`SparkEntry.oracleSql`, checked by the host script), the DV3F
  * aggregates are checked against the generator's own answers, and every
  * later answer must match the first one's canonical digest.
  */
final class QueryMix(spark: SparkSession, runDir: File, seed: Long) extends Workload {
  import QueryMix._

  private val tables = new File(runDir, "tables").getPath
  private val answers = new File(runDir, "answers")
  private val root = new File(runDir, "dv3f")
  private val payload = new File(root, "payload")
  private val warehouse = new File(root, "warehouse")
  private var gen: Dv3fGen = _
  private val reference = mutable.Map.empty[String, (Int, Int)]
  private var order: Seq[String] = Nil
  private val firstMs = mutable.LinkedHashMap.empty[String, Double]

  private val dep = Dv3fConfig.departement
  private val reg = Dv3fConfig.region

  /** Evidence-page aggregates over the DV3F staging tables, read
    * through `Upsert.read`, with the generator's expected rows.
    */
  private val dv3fQueries: Map[String, (() => DataFrame, () => Seq[Seq[Any]])] = Map(
    "dv3f_year_totals" -> (
      () => Dv3fIngest.read(spark, warehouse, dep).groupBy(col("annee"))
        .agg(count(lit(1)).as("n_rows"), sum(col("nbtrans")).as("nbtrans")),
      () => gen.byYear(dep).toSeq.map { case (y, (n, s)) => Seq(y, n, s) }),
    "dv3f_region_typology" -> (
      () => Dv3fIngest.read(spark, warehouse, reg).groupBy(col("cod"))
        .agg(count(lit(1)).as("n_rows"), sum(col("nbtrans")).as("nbtrans"),
          max(col("pxm2_median")).as("pxm2_median_max")),
      () => gen.byTypology(reg).toSeq.map { case (c, (n, s, m)) => Seq(c, n, s, m.getOrElse(null)) }),
    "dv3f_top_departements" -> (
      () => Dv3fIngest.read(spark, warehouse, dep)
        .filter(col("annee") === gen.yearNames.last)
        .groupBy(col("dep")).agg(sum(col("nbtrans")).as("nbtrans"))
        .orderBy(col("nbtrans").desc, col("dep")).limit(10),
      () => gen.topCodes(dep, 10).map { case (c, n) => Seq(c, n) }))

  private val all: Seq[(String, String)] = Classes.toSeq.flatMap { case (c, qs) => qs.map(_ -> c) }
  private val classOf = all.toMap

  /** The query tables come from the host script; this builds the DV3F
    * warehouse.
    */
  def prepare(): Unit = {
    Main.deleteTree(root)
    gen = new Dv3fGen(seed, Years, Typologies, PageRows, NullShare, 0.0)
    gen.write(payload)
    Dv3fIngest.ingest(spark, payload, warehouse)
    Dv3fIngest.verify(spark, gen, warehouse)
  }

  def warmup(): Unit = {
    answers.mkdirs()
    all.foreach { case (q, _) =>
      val t = System.nanoTime()
      val df = build(q)
      val rows = df.collect()
      firstMs(q) = (System.nanoTime() - t) / 1e6
      graft.ops.CacheBin.releaseAll()
      reference(q) = digest(rows)
      dv3fQueries.get(q) match {
        case Some((_, expected)) =>
          val want = expected().map(canon).sorted
          val got = rows.toSeq.map(r => canon(r.toSeq)).sorted
          if (got != want) throw new IllegalStateException(
            s"$q: answer differs from the generator's (${got.take(3)} vs ${want.take(3)})")
        case None =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(new File(answers, q).getPath)
      }
    }
  }

  private def build(q: String): DataFrame = dv3fQueries.get(q) match {
    case Some((f, _)) => f()
    case None => SparkEntry.queries(q)(spark, tables)
  }

  override def cycle: Int = all.size
  /** Two passes: the medians then rest on every query twice. */
  override def minOps: Int = 2 * cycle

  def op(i: Int): OpResult = {
    if (i % cycle == 0) order = new scala.util.Random(seed + i / cycle).shuffle(all.map(_._1))
    val q = order(i % cycle)
    val cls = classOf(q)
    val t = System.nanoTime()
    val rows = Trace.span(s"queries.$q", cls) {
      val df = Trace.span("queries.construction", cls)(build(q))
      Trace.span("queries.execute", cls)(df.collect())
    }
    val ns = System.nanoTime() - t
    graft.ops.CacheBin.releaseAll()
    val d = digest(rows)
    if (d != reference(q))
      throw new IllegalStateException(s"$q: answer digest $d != first answer ${reference(q)}")
    OpResult(ns, 1, if (dv3fQueries.contains(q)) "dv3f" else cls)
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val lat = ops.map(_.ns / 1e6)
    val (tailP, _) = Main.tailPercentile(lat.size)
    def p50(cls: String) = Main.median(ops.filter(_.cls == cls).map(_.ns / 1e6))
    Seq(
      ("query_p50_ms", Main.median(lat), "ms"),
      ("query_tail_ms", Main.percentile(lat, tailP), "ms"),
      ("queries_per_s", Main.itemsPerS(ops), "1/s"),
      ("query_dv3f_p50_ms", p50("dv3f"), "ms"),
      ("query_search_p50_ms", p50("search"), "ms"),
      ("query_curation_p50_ms", p50("curation"), "ms"))
  }

  def layers(tracedOps: Int): Map[String, Double] = {
    val staged = Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[File]).filter(_.getName.startsWith("graft_"))
    Classes.keys.flatMap(c => classLayers(c)).toMap ++
      Layers.perCall("dv3f.Upsert.read", Seq("driver_ms")) +
      ("ops.StageOnce.artifact_bytes" -> staged.map(Main.du).sum.toDouble)
  }

  override def report: Map[String, Any] =
    Map("first_answer_ms" -> firstMs, "oracle" -> all.map(_._1).filterNot(dv3fQueries.contains)
      .map(q => q -> SparkEntry.oracleSql(q)).toMap)
}

object QueryMix {
  val Years = 6
  val Typologies = 8
  val PageRows = 4
  val NullShare = 0.1

  val Classes: Map[String, Seq[String]] = Map(
    "evidence" -> Seq("q_orders_by_month", "q_like_groupall", "q_sql_params",
      "q_quality_unique", "q_quality_relationship", "dv3f_year_totals",
      "dv3f_region_typology", "dv3f_top_departements"),
    "analytics" -> Seq("q_join_5way", "q_window_topk"),
    "search" -> Seq("q_embed_topk", "q_embed_ann_ivf_indexed", "q_phrase_search"),
    "curation" -> Seq("q_ingest_gate_e2e", "q_dedup_survivors", "q_prepare_corpus",
      "q_quality_gopher", "q_pack_sequences_sharded", "q_shard_manifest"))

  /** Per-class means over traced queries, by layer. */
  def classLayers(cls: String): Map[String, Double] = {
    val qs = Trace.spans.filter(s => s.tag == cls && s.name.startsWith("queries.") &&
      s.name != "queries.construction" && s.name != "queries.execute")
    val cons = Trace.spans.filter(s => s.tag == cls && s.name == "queries.construction")
    def mean(ss: Seq[Span], f: String) =
      if (ss.isEmpty) 0.0 else ss.map(s => Trace.totals(s).getOrElse(f, 0.0)).sum / ss.size
    val q = qs.toSeq
    Map(
      s"queries.wall_ms.$cls" -> mean(q, "wall_ms"),
      s"queries.driver_ms.$cls" -> mean(q, "driver_ms"),
      s"queries.construction_ms.$cls" -> mean(cons.toSeq, "wall_ms"),
      s"queries.construction_jobs.$cls" -> mean(cons.toSeq, "jobs"),
      s"spark.catalyst.analysis_ms.$cls" -> mean(q, "analysis_ms"),
      s"spark.catalyst.optimization_ms.$cls" -> mean(q, "optimization_ms"),
      s"spark.catalyst.planning_ms.$cls" -> mean(q, "planning_ms"),
      s"spark.plan.exchanges.$cls" -> mean(q, "exchanges"),
      s"spark.scheduler.jobs.$cls" -> mean(q, "jobs"),
      s"spark.scheduler.stages.$cls" -> mean(q, "stages"),
      s"spark.scheduler.tasks.$cls" -> mean(q, "tasks"),
      s"spark.exec.task_ms.$cls" -> mean(q, "task_ms"),
      s"spark.exec.task_cpu_ms.$cls" -> mean(q, "task_cpu_ms"),
      s"spark.exec.gc_ms.$cls" -> mean(q, "gc_ms"),
      s"spark.shuffle.write_bytes.$cls" -> mean(q, "shuffle_write_bytes"))
  }

  /** Canonical text of a value: doubles to ten significant digits (the
    * oracle's tolerance), maps and arrays element-wise.
    */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else "%.10g".format(d)
    case f: Float => canon(f.toDouble)
    case r: Row => canon(r.toSeq)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent digest of a collected answer: (rows, hash). */
  def digest(rows: Array[Row]): (Int, Int) =
    (rows.length, MurmurHash3.unorderedHash(rows.toSeq.map(r => canon(r))))
}
