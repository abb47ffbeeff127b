package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-source BFS hop distance over an undirected edge list — the
  * contamination-radius primitive on the near-dup graph: given a seed
  * set (docs matched against a benchmark, flagged by an auditor, named
  * in a takedown), "how many hops of near-duplication separate every
  * other doc from the seed set" is the question a quarantine policy
  * answers with ("drop everything within 2 hops, review 3").
  * Completes the graph family: [[ConnectedComponents]] (reachability),
  * [[KCore]] (density), [[LabelPropagation]] (communities),
  * [[Triangles]] (closure) — BFS adds DISTANCE.
  *
  * Synchronous Bellman-Ford-style relaxation, `rounds` fixed sweeps
  * (the [[KCore]]/[[LabelPropagation]] bounded-sweep convention — the
  * oracle unrolls the identical rounds as materialized CTEs, so the
  * fold is checked round-for-round): round r's frontier table holds
  * min(dist) per vertex computed from the full round-(r−1) table.
  * Vertices beyond `rounds` hops stay NULL — reported, not guessed.
  *
  * Scale shape: each round is ONE dst-keyed join of the self-loop-
  * augmented edge relation against the |V|-sized distance table and
  * one src-keyed min with map-side combine — keyed exchanges on
  * graph-sized relations (the near-dup graph is cluster-sized, ∝
  * duplicated docs, not corpus-sized), no driver loop. The weight-0
  * self-loop makes `min(dist_r(v), min_nbr(dist_r(u)+1))` a single
  * `min(dist + w)` over one relation, so each round references the
  * previous round's table exactly ONCE and the whole sweep chains
  * lazily as one plan: no per-round persist, no per-round driver
  * action (the r15 convergence probe paid one graph aggregate + one
  * job barrier per round; identity rounds of the lazy chain are
  * cheaper than the probe that skipped them — measured r17). For
  * high-diameter graphs the pointer-doubling variant
  * ([[ConnectedComponents]]) bounds rounds at O(log d); hop-exact
  * distance wants the literal sweeps, and quarantine radii are small
  * constants.
  */
object Bfs {

  /** `rounds` synchronous relaxations; returns (v, dist) with dist
    * NULL where the seed set is farther than `rounds` hops. Edges must
    * be the canonical (doc_a < doc_b) pair relation; `isSeed` is
    * evaluated against the vertex id column.
    *
    * Contract: an UNPINNED lazy plan `rounds` joins deep, for ONE
    * consumer and a small `rounds` (radii 2-4): every action re-runs
    * every round (pin it before acting twice), and every round adds
    * optimizer time and runs even once nothing changes (no early stop).
    */
  def run(edges: DataFrame, isSeed: Column => Column, rounds: Int): DataFrame = {
    val und = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // OPTIMIZATION r17: weight-0 self-loops fold the old "previous
    // distances UNION neighbor candidates" two-reference round into one
    // join + one min over a SINGLE relation:
    //   dist_{r+1}(v) = min over (u -> v, w) of dist_r(u) + w
    // with w = 0 on the loop (v -> v) and w = 1 on real edges — exactly
    // min(dist_r(v), min_nbr(dist_r(u)+1)), the value the oracle's
    // unrolled (min-aggregate + left-join + least) CTEs compute.
    // Because dist_r is referenced once, the rounds chain as ONE lazy
    // plan: the r15 per-round CacheBin.pin (needed when the union read
    // dist twice and AQE defeated ReusedExchange) and the per-round
    // convergence probe (one aggregate + one job barrier each) are both
    // gone. NULL dist rides the arithmetic: unreached u contributes
    // NULL + w = NULL, min() skips NULLs, and the self-loop guarantees
    // every vertex keeps its row (an all-NULL group stays NULL).
    val hop = CacheBin.pin(
      und.withColumn("w", lit(1L)).unionByName(
        und.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst"))
          .withColumn("w", lit(0L))))
    var dist = hop.filter(col("w") === 0L)
      .select(col("src").as("v"),
        when(isSeed(col("src")), 0L).otherwise(lit(null).cast(LongType))
          .as("dist"))
    for (_ <- 1 to rounds) {
      dist = hop.join(dist.withColumnRenamed("v", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("dist") + col("w")).as("dist"))
        .select(col("src").as("v"), col("dist"))
    }
    dist
  }
}
