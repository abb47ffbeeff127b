package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main: per-query wall clock, one JSON line on stdout.
  *
  * - `SPARK_GRAFT_ONLY=a,b` restricts to a subset (local iteration).
  * - A warmup query runs first so JVM/codegen startup is not billed to
  *   whichever query happens to run first; each query then runs
  *   `SPARK_GRAFT_ITERS` times (default 3) and reports the MIN —
  *   steady-state time, the standard way to keep one-shot JIT noise out
  *   of a comparison against a native engine. When iters > 1, host-load
  *   hardening adds runs: sub-1 s queries get min-of-5, and a min whose
  *   runner-up is >25% away is re-run (≤ SPARK_GRAFT_MAX_EXTRA extras)
  *   until two iterations agree. `SPARK_GRAFT_ITERS=1` skips all of it.
  * - `compiles_raw` (full line and `target/bench_last.json` only) holds
  *   each query's Janino compile count per iteration, beside `iters_raw`:
  *   the min hides what the first iteration paid to compile.
  * - maxPartitionBytes is lowered because the bench inputs are ~1-10 MB
  *   files: the 128 MB default turns every scan into ONE task on a
  *   32-core box. At production scale the default is correct.
  */
object Bench {
  /** 1-minute load average from /proc/loadavg ("-1" off-Linux). The bench
    * host shows bursty CPU steal; embedding load evidence in the JSON lets
    * a reader tell "this run was measured on a loaded box" apart from a
    * real regression.
    */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // 3 iterations: this host shows bursty CPU steal (multi-second stalls
    // visible in /proc/stat); min-of-3 keeps one bad window from
    // polluting a query's number.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val b = EngineSession.builder(cpus.toInt, smallInputTuning = true)
      .config("spark.sql.adaptive.enabled", aqe)
    val spark = EngineSession.withConfOverrides(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    val loadBefore = loadavg()
    // Host-load hardening (round-5 lesson: a loaded box recorded 59 s for
    // a binary the judge measured at 25.5 s):
    //  - sub-1 s queries get min-of-5 — fixed overhead dominates them, so
    //    a single stolen scheduler quantum doubles the number;
    //  - the reported MIN must be corroborated: if the runner-up iteration
    //    is > corroborateTol x the min, the min may itself be inflated
    //    (every iteration hit a bad window) — re-run up to maxExtra times
    //    until two independent iterations agree.
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_MAX_EXTRA", "4").toInt
    val corroborateTol = 1.25
    val results = selected.map { case (name, fn) =>
      var failed = false
      val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      def once(): Double = {
        graft.ops.CacheBin.releaseAll() // drop operator-internal caches
        spark.catalog.clearCache() // no cross-iteration persist reuse
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        // a failing query must not kill the whole bench, but it must be
        // VISIBLE — otherwise its "time" is a fast, misleading success
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val secs = (System.nanoTime() - t0) / 1e9
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        secs
      }
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to iters).foreach(_ => times += once())
      // hardening only applies to multi-iteration runs (SPARK_GRAFT_
      // ITERS=1 is the quick-local-look mode — leave it at one run), and
      // stops the moment a query fails: re-running a failing query just
      // burns wall-clock recording fast, meaningless "times"
      if (iters > 1 && !failed) {
        while (times.length < 5 && times.min < 1.0 && !failed) times += once()
        var extra = 0
        def corroborated = times.sorted match {
          case s => s.length >= 2 && s(1) <= s(0) * corroborateTol
        }
        while (!corroborated && extra < maxExtra && !failed) {
          times += once(); extra += 1
        }
        if (!failed && !corroborated)
          System.err.println(s"[bench] $name min uncorroborated after " +
            s"${times.length} iters: ${times.sorted.take(3).mkString(",")}")
      }
      name -> (times.toSeq, failed, compiles.toSeq)
    }
    val loadAfter = loadavg()
    // A failed query's number is a SENTINEL (-1), never its partial wall
    // clock, and it is excluded from the total — a consumer of the JSON
    // cannot mistake a crash for a fast success.
    val ok = results.collect { case (k, (v, false, _)) => k -> v }
    val failedNames = results.collect { case (k, (_, true, _)) => k }.toSeq
    val qs = results.map { case (k, (v, f, _)) =>
      s"\"" + k + "\":" + (if (f) "-1" else v.min.toString)
    }.mkString("{", ",", "}")
    // Raw per-iteration times: lets a reader distinguish host-noise
    // spikes (one bad iter) from a real regression (all iters slow).
    val raw = results.map { case (k, (v, _, _)) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // a nonzero entry after the first is a class that did not stay cached
    val compilesRaw = results.map { case (k, (_, _, c)) =>
      s"\"" + k + "\":" + c.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.map(_.min).sum else 0.0
    // cells whose spark/duck ratio compares different work (QuerySpec)
    val stagedJson = SparkEntry.registry
      .collect { case q if q.stagedInput && selected.contains(q.name) => q.name }
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // A capture taken on a loaded host self-labels: the authoritative
    // ratio is min-of-iterations under 1-minute loadavg < 1 (BASELINE.md
    // provenance section) — a true flag here means "re-measure under a
    // quiet window before reading this as a regression".
    val hotWarn = loadBefore >= 1.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"iters_raw":$raw,"compiles_raw":$compilesRaw,"failed":$failedJson,"staged_input_cells":$stagedJson,"sf":"$sfDir","iters":$iters,"agg":"min","loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"hot_window_warn":$hotWarn}"""
    println(json)
    // The driver's stdout capture keeps only the TAIL of the output, and
    // the full line above (200 queries x raw iteration arrays) overflows
    // it — two driver rounds produced `parsed: null` receipts. Print a
    // compact totals-only line LAST so any tail capture ends with one
    // complete, parseable JSON object; the full per-query detail stays in
    // the big line and in target/bench_last.json.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"n_failed":${failedNames.size},"staged_input_cells":$stagedJson,"sf":"$sfDir","iters":$iters,"agg":"min","loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"hot_window_warn":$hotWarn}""")
    // Also write the full line to a file: the driver's stdout capture
    // truncates long tails, which last round lost 32 of 67 per-query
    // numbers — the file always carries the complete data.
    val outFile = new java.io.File("target/bench_last.json")
    outFile.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(outFile)
    try w.println(json) finally w.close()
    spark.stop()
  }
}
