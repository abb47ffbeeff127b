package graft

import org.apache.spark.sql.SparkSession

/** The library's session factory — one place for every config the engine
  * needs (used by Bench/Verify/AuditPlan and recommended for users):
  *
  *  - `spark.sql.extensions=graft.GraftExtensions` (SQL access to the
  *    custom expressions);
  *  - nanosecond-parquet compatibility for the events table;
  *  - shuffle partitions sized to the core count for local runs — on a
  *    real cluster leave the default / AQE coalescing in charge;
  *  - UTC session timezone (determinism across hosts);
  *  - a codegen cache that holds a whole interactive session, so a
  *    repeated query compiles nothing. A query caches about 13 classes
  *    (3658 over one pass of all 282 at sf0.01; a whole-stage class is
  *    cached twice, once per class loader: driver and executor), and one
  *    `query_mix` pass, artifact staging included, needs 329. 1000
  *    entries hold three such passes; Spark's 100 held under a third of
  *    one, so every pass recompiled what the last evicted (427 compiles
  *    per 38 timed queries, 0 at 1000). Past 1000 Guava evicts the
  *    least recently used class, which the next use recompiles.
  *    Whole-stage class names carry no stage id, so a stage whose id
  *    moved between runs reuses its class.
  *
  * `smallInputTuning` shrinks file-split sizes so MB-scale inputs still
  * parallelize across all cores; production 128 MB+ splits are correct
  * for TB-scale inputs, so it is opt-in.
  */
object EngineSession {

  /** Applies `SPARK_GRAFT_CONF="spark.x=1;spark.y=2"`, the ad-hoc conf
    * overrides of a tuning experiment, to `b`.
    */
  def withConfOverrides(b: SparkSession.Builder): SparkSession.Builder =
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foldLeft(b) { case (b, (k, v)) => b.config(k, v) }

  /** `k=v;k=v` (a value may contain `=`); an entry without `=` throws. */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map(kv => kv.split("=", 2) match {
      case Array(k, v) => k -> v
      case _ => throw new IllegalArgumentException(s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
    })

  def builder(cores: Int = Runtime.getRuntime.availableProcessors,
      smallInputTuning: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate guards explode(f(x)) with
      // (size(f(x)) > 0 AND isnotnull(f(x))) — with the GENERATOR
      // EXPRESSION INLINED, so every non-attribute generator child runs
      // 3× per input row. For this engine's generator children — the
      // tokenize/shingle/winnow kernels, where the child IS the scan's
      // dominant cost — the guard costs far more than the empty-array
      // short-circuit it buys (measured: the ngram posting scan stage
      // dropped 1.0 s → 0.6 s at sf0.1 with the guard gone). The rule
      // only ever skips work for empty/null arrays, which the kernels
      // emit rarely and generators handle correctly anyway — excluding
      // it is semantics-free.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // Static: CodeGenerator's cache reads it once, at the JVM's first
      // compile, so it can only be set here, before any query runs.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // The whole-stage class name embeds its codegen stage id, which AQE
      // assigns in the order concurrent shuffle stages finish; the same
      // stage then compiles anew under a new name on a later run.
      .config("spark.sql.codegen.useIdInClassName", "false")
    if (smallInputTuning)
      b.config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "65536")
        // MB-scale shuffles never profit from one partition per core:
        // halving the initial count halves the mapper bucket/commit and
        // reducer-wave bookkeeping that dominates sub-second queries
        // (measured −13% on a 20-query floor-bound subset), while AQE's
        // size-based coalescing still rules the final plan. Production
        // keeps the core-count default above.
        .config("spark.sql.shuffle.partitions", math.max(8, cores / 2).toString)
        // single-host executor: every task is process-local, a >0 wait
        // only delays dispatch
        .config("spark.locality.wait", "0")
        // For MB-scale inputs, coalesce post-shuffle partitions by SIZE
        // rather than keeping one per core: sub-MB shuffles collapse to
        // a handful of partitions and the per-task overhead of dozens of
        // near-empty tasks disappears (measured: 21.5s → 20.0s over the
        // 67-query bench at sf0.1; AQE itself is worth 9s — 30.8s with
        // it off — so it stays on everywhere). At TB scale the
        // parallelism-first default is correct, so this too is opt-in.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        // 1m (was 8m in r6-r9): 8m coalesced the inverted-index dedup
        // family's post-aggregation stages to 1-2 tasks right where the
        // row count EXPLODES (posting lists → pair streams), serializing
        // 0.4+ s of row-expanding work per query. Quiet-window A/B over
        // all 138 queries (r10): median per-query ratio 1.003, worst
        // regression +0.07 s, total −1.4 s, q_dedup_ngram_jaccard
        // −0.63 s. At TB scale shuffles exceed either advisory and AQE
        // keeps full parallelism — this knob only shapes the MB regime.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        // Spark's ObjectHashAggregate falls back to SORT-based
        // aggregation after 128 distinct groups per partition — sized
        // for unbounded per-group state (collect_list of arbitrary
        // rows), absurd for this engine's bounded-state aggregates
        // (BoundedPostings caps at ~16 KB, TopK at O(k), bucket
        // collect_lists at the banding width). 4M keeps the dedup
        // family's posting aggregations in hash mode at bench scale.
        // Production MUST keep Spark's default: per-group state being
        // bounded does not bound the hash map's TOTAL population —
        // measured at x100, hash mode OOMs the default-memory JVM in
        // the posting partial agg (SCALE_r10.md §4); the sort-based
        // fallback is the valve that keeps the family alive at scale.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
          "4194304")
    else b
  }
}
