package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dv3f.{Catalog, Dv3fConfig, IngestJob, Quality, StagingTable, Upsert}

/** The reference pipeline at its fan-out: every round re-fetches all
  * 119 partitions through the `dv3f` source, upserts both staging
  * tables (`IngestJob.runViaSource`) and runs the dbt-style checks
  * (`Quality.stagingChecks`) on each. A seeded share of partitions
  * carries revised values each round; no keys appear, so rounds stay
  * comparable.
  */
final class Dv3fIngest(spark: SparkSession, runDir: File, seed: Long) extends Workload {
  import Dv3fIngest._

  private val root = new File(runDir, "dv3f")
  private val payload = new File(root, "payload")
  private val warehouse = new File(root, "warehouse")
  private var gen: Dv3fGen = _
  private var round = 0
  private var backfillMs = 0.0
  private val written = ArrayBuffer.empty[(Long, Long)] // (bytes written, changed rows)

  override def minOps: Int = 4

  def prepare(): Unit = {
    Main.deleteTree(root)
    gen = new Dv3fGen(seed, Years, Typologies, PageRows, NullShare, ReviseShare)
    gen.write(payload)
    val t = System.nanoTime()
    ingest(spark, payload, warehouse)
    backfillMs = (System.nanoTime() - t) / 1e6
    Catalog.ensureAll(spark, warehouse.getPath)
    verify(spark, gen, warehouse)
    round = 0
  }

  /** Four rounds: with the backfill, round times keep falling (JIT) over
    * the first six ingests and level off after; timed rounds start there.
    */
  def warmup(): Unit = (1 to 4).foreach(_ => op(0))

  def op(i: Int): OpResult = {
    round += 1
    val revised = gen.revise(round)
    gen.write(payload, revised)
    val before = dataDirs(warehouse)
    val t = System.nanoTime()
    Trace.span("dv3f.round") {
      Trace.span("dv3f.IngestJob.runViaSource")(ingest(spark, payload, warehouse))
      Dv3fConfig.staging.foreach(t => check(spark, warehouse, t))
    }
    val ns = System.nanoTime() - t
    val bytes = dataDirs(warehouse).filterNot(before.contains).toSeq.map(Main.du).sum
    written += ((bytes, gen.changedRows(revised)))
    verify(spark, gen, warehouse)
    OpResult(ns, gen.cells, "round")
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val lat = ops.map(_.ns / 1e9)
    val (tailP, _) = Main.tailPercentile(lat.size)
    Seq(
      ("ingest_backfill_s", backfillMs / 1000, "s"),
      ("ingest_round_p50_s", Main.median(lat), "s"),
      ("ingest_round_tail_s", Main.percentile(lat, tailP), "s"),
      ("ingest_cells_per_s", Main.itemsPerS(ops), "1/s"),
      ("storage_bytes_per_live_byte", storageRatio(spark, warehouse), "ratio"))
  }

  def layers(tracedOps: Int): Map[String, Double] = {
    val live = liveBytesPerRow(spark, warehouse)
    val tail = written.takeRight(tracedOps)
    val bytes = tail.map(_._1).sum.toDouble
    val changed = tail.map(_._2).sum * live
    val ingestSpans = Trace.spans.filter(_.name == "dv3f.IngestJob.runViaSource")
    val scanRows = ingestSpans.map(Trace.totals(_)("dv3f_scan_rows")).sum
    Layers.perOp("dv3f.IngestJob.runViaSource", tracedOps) ++
      Layers.perOp("dv3f.Quality.stagingChecks", tracedOps) ++
      Layers.perCall("dv3f.Upsert.read", Seq("driver_ms")) ++ Map(
        "sources.dv3f.reads_per_cell" -> scanRows / (gen.cells.toDouble * tracedOps),
        "dv3f.Upsert.bytes_written_per_round" -> bytes / tracedOps,
        "dv3f.Upsert.write_amp" -> (if (changed > 0) bytes / changed else 0.0))
  }
}

object Dv3fIngest {
  // 119 partitions × 5 years × 8 typologies × 10 indicators = 47 600
  // long cells per round, in 2 pages per partition.
  val Years = 5
  val Typologies = 8
  val PageRows = 3
  val NullShare = 0.1
  val ReviseShare = 0.15

  def ingest(spark: SparkSession, payload: File, warehouse: File): Unit = {
    val reports = IngestJob.runViaSource(spark, payload.getPath, warehouse.getPath)
    val bad = reports.filterNot(_.ok)
    if (bad.nonEmpty)
      throw new IllegalStateException(s"ingest failed: ${bad.mkString("; ")}")
  }

  def tablePath(warehouse: File, t: StagingTable): String = s"${warehouse.getPath}/${t.name}"

  def read(spark: SparkSession, warehouse: File, t: StagingTable): DataFrame =
    Trace.span("dv3f.Upsert.read", t.name)(Upsert.read(spark, tablePath(warehouse, t)))

  /** The dbt-style checks on one table; throws if any fails. */
  def check(spark: SparkSession, warehouse: File, t: StagingTable): Unit =
    Trace.span("dv3f.Quality.stagingChecks", t.name) {
      val failed = Quality.stagingChecks(read(spark, warehouse, t), t).filterNot(_.passed)
      if (failed.nonEmpty)
        throw new IllegalStateException(s"staging checks failed: ${failed.mkString("; ")}")
    }

  /** Compare each table's live snapshot with the generator's rows. */
  def verify(spark: SparkSession, gen: Dv3fGen, warehouse: File): Unit =
    Dv3fConfig.staging.foreach { t =>
      val h = xxhash64(t.schema.fieldNames.toSeq.map(col): _*)
      val r = Upsert.read(spark, tablePath(warehouse, t))
        .agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
        .head()
      val got = Digest(r.getLong(0), r.getLong(1), r.getLong(2))
      val want = gen.expectedDigest(t)
      if (got != want)
        throw new IllegalStateException(s"${t.name}: warehouse digest $got != expected $want")
    }

  /** Commit data dirs currently on disk, over both tables. */
  def dataDirs(warehouse: File): Set[File] =
    Dv3fConfig.staging.flatMap { t =>
      Option(new File(warehouse, t.name).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith("_v_"))
    }.toSet

  private def liveDirs(spark: SparkSession, warehouse: File): Seq[File] =
    Dv3fConfig.staging.flatMap { t =>
      Upsert.currentSnapshot(spark, tablePath(warehouse, t)).toSeq
        .flatMap(_.values).map(new File(_))
    }

  def storageRatio(spark: SparkSession, warehouse: File): Double =
    Main.du(warehouse).toDouble / liveDirs(spark, warehouse).map(Main.du).sum

  def liveBytesPerRow(spark: SparkSession, warehouse: File): Double = {
    val rows = Dv3fConfig.staging.map(t =>
      Upsert.read(spark, tablePath(warehouse, t)).count()).sum
    liveDirs(spark, warehouse).map(Main.du).sum.toDouble / rows
  }
}

/** Per-layer figures derived from the span tree. */
object Layers {
  val Fields = Seq("wall_ms", "driver_ms", "jobs", "tasks", "task_ms", "task_cpu_ms",
    "shuffle_write_bytes", "spill_bytes", "gc_ms", "output_bytes")

  /** Sum over spans named `name`, per traced operation. */
  def perOp(name: String, ops: Int): Map[String, Double] = {
    val ts = Trace.spans.filter(_.name == name).map(Trace.totals)
    Fields.map(f => s"$name.$f" ->
      (if (ops == 0) 0.0 else ts.map(_.getOrElse(f, 0.0)).sum / ops)).toMap
  }

  /** Mean over spans named `name`, per call (0 when never called). */
  def perCall(name: String, fields: Seq[String]): Map[String, Double] = {
    val ts = Trace.spans.filter(_.name == name).map(Trace.totals)
    fields.map(f => s"$name.$f" ->
      (if (ts.isEmpty) 0.0 else ts.map(_.getOrElse(f, 0.0)).sum / ts.size)).toMap
  }
}
