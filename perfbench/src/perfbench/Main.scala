package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.EngineSession

/** Outcome of one timed operation: its latency, the work items it
  * completed (cells, queries, documents) and its class (query class,
  * or the workload name).
  */
final case class OpResult(ns: Long, items: Long, cls: String)

/** A closed-loop workload: one client issues the next operation only
  * after the previous answer came back and was checked.
  */
trait Workload {
  /** Operations in one pass over the workload's input; a timed loop
    * only stops at the end of a pass.
    */
  def cycle: Int = 1
  /** Fewest operations a timed loop makes. */
  def minOps: Int
  /** The set-up: fresh inputs, staged the way the timed loop expects. */
  def prepare(): Unit
  /** The untimed first operation (JIT, per-JVM caches). */
  def warmup(): Unit
  /** The `i`-th timed operation of a loop (from 0); throws if the answer
    * is wrong. Both loops of a traced run issue the same sequence.
    */
  def op(i: Int): OpResult
  /** Workload-specific end-to-end figures, by the names users read. */
  def named(ops: Seq[OpResult]): Seq[(String, Double, String)]
  /** Per-layer figures from the traced operations' spans. */
  def layers(tracedOps: Int): Map[String, Double]
  /** Extra record entries, for the host-side checks and evidence. */
  def report: Map[String, Any] = Map.empty
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val runDir = new File(opts("run-dir")).getAbsoluteFile
    val cores = opts("cores").toInt
    val out = new File(opts("record"))

    val loadBefore = loadavg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = EngineSession.builder(cores)
      .config("spark.sql.warehouse.dir", new File(runDir, "catalog").toURI.toString)
      .getOrCreate()
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val readyMs = System.currentTimeMillis() - jvmStartMs
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new SpanListener
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(new PlanListener)
    Trace.install(spark.sparkContext)

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores, "loadavg_before" -> loadBefore,
      "jvm_ready_ms" -> readyMs, "session_start_ms" -> sessionMs)
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    try {
      val wl: Workload = workload match {
        case "dv3f_ingest" => new Dv3fIngest(spark, runDir, seed)
        case "query_mix" => new QueryMix(spark, runDir, seed)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val prepMs = timeMs(wl.prepare())
      val warmMs = timeMs(wl.warmup())
      rec ++= Seq("prepare_ms" -> prepMs, "warmup_ms" -> warmMs)

      val cpuBefore = tasks.taskCpuNs
      def loop(budgetS: Double, traced: Boolean, minOps: Int): (Seq[OpResult], Double) = {
        Trace.enabled = traced
        val ops = ArrayBuffer.empty[OpResult]
        val start = System.nanoTime()
        val end = start + (budgetS * 1e9).toLong
        var i = 0
        while (System.nanoTime() < end || i % wl.cycle != 0 || i < minOps) {
          attempted += 1
          try ops += wl.op(i)
          catch {
            case NonFatal(e) =>
              failed += 1
              if (errors.size < 5) errors += s"op $i: ${e.toString.take(400)}"
          }
          i += 1
        }
        Trace.enabled = false
        (ops.toSeq, (System.nanoTime() - start) / 1e9)
      }
      val (ops, timedS, traced) =
        if (!trace) {
          val (o, s) = loop(seconds, traced = false, wl.minOps)
          (o, s, Seq.empty[OpResult])
        } else {
          // each half makes half the operations, so a traced run costs
          // about as much as an untraced one
          val half = (wl.minOps + 1) / 2
          val (plain, s1) = loop(seconds / 2, traced = false, half)
          val (tr, s2) = loop(seconds / 2, traced = true, half)
          (plain ++ tr, s1 + s2, tr)
        }
      rec ++= Seq("task_cpu_s_timed" -> (tasks.taskCpuNs - cpuBefore) / 1e9,
        "timed_s" -> timedS)

      val lat = ops.map(_.ns / 1e6)
      val (tailP, tailN) = tailPercentile(lat.size)
      val setupS = (readyMs + prepMs + warmMs) / 1000.0
      rec("metrics") = mutable.LinkedHashMap[String, Any](
        "setup_s" -> metric(setupS, "s"),
        "op_p50_ms" -> metric(percentile(lat, 50), "ms"),
        "items_per_s" -> metric(itemsPerS(ops), "1/s"),
        "peak_rss_mb" -> metric(peakRssMb(), "MB"))
      rec("tail") = Map("percentile" -> tailP, "n" -> tailN,
        "ms" -> percentile(lat, tailP))
      rec("named") = wl.named(ops).map { case (n, v, u) => n -> metric(v, u) }.toMap
      rec("op_ms") = lat
      rec("ops_by_class") = ops.groupBy(_.cls).map { case (c, os) =>
        c -> Map("n" -> os.size, "p50_ms" -> percentile(os.map(_.ns / 1e6), 50))
      }
      if (trace) {
        // both loops issue the same operation sequence: compare the
        // common prefix, operation for operation
        val plain = ops.take(ops.size - traced.size)
        val k = math.min(plain.size, traced.size)
        val layers = mutable.LinkedHashMap[String, Double]()
        layers("EngineSession.start_ms") = sessionMs
        layers("trace.overhead_pct") =
          100.0 * (traced.take(k).map(_.ns).sum.toDouble / plain.take(k).map(_.ns).sum - 1)
        layers ++= wl.layers(traced.size)
        rec("layers") = layers
        rec("spans") = Trace.spans.map { s =>
          mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "tag" -> s.tag) ++ Trace.totals(s)
        }
      }
      rec ++= wl.report
    } catch {
      case NonFatal(e) =>
        failed += 1
        attempted = math.max(attempted, 1)
        errors += s"setup: ${e.toString.take(600)}"
        e.printStackTrace()
    }
    rec ++= Seq("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "task_cpu_s" -> tasks.taskCpuNs / 1e9, "tasks" -> tasks.taskCount,
      "loadavg_after" -> loadavg())
    Files.write(out.toPath, Json(rec).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  def timeMs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Work items per second of time spent inside timed operations. */
  def itemsPerS(ops: Seq[OpResult]): Double = ops.map(_.items).sum / (ops.map(_.ns).sum / 1e9)

  /** Linear-interpolated percentile (the `statistics.quantiles`
    * inclusive method).
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * but never below the median: with fewer than twenty samples the tail
    * is the median. Returns (percentile, n).
    */
  def tailPercentile(n: Int): (Double, Int) =
    (math.max(50.0, (100.0 * (n - 10) / n).floor), n)

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath))
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Seq.empty }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(new File("/proc/self/status").toPath)
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => Double.NaN }

  /** Bytes of all regular files under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
