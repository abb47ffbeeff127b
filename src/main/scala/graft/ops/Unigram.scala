package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Unigram-LM subword tokenizer (Kudo, "Subword Regularization", ACL
  * 2018 — the model SentencePiece trains by default): pieces carry
  * corpus probabilities and a word's segmentation is the Viterbi
  * minimum of Σ −log p(piece) over the segmentation lattice. The third
  * member of the engine's tokenizer-training triad, completing BPE
  * ([[Bpe]] — merge-rule replay) and WordPiece ([[WordPiece]] — greedy
  * longest-match): Unigram's encode is MODEL-driven — the probabilities
  * themselves pick the split, so a rare long piece loses to two common
  * short ones even when the long match exists, which neither sibling
  * can express.
  *
  * Training is hard-EM (Viterbi counts), the deterministic variant of
  * SentencePiece's E-step: seed every substring occurrence (length ≤
  * [[maxPieceLen]]) of the corpus vocabulary weighted by word count,
  * keep the top-[[seedSize]] multi-char candidates plus every domain
  * single character, then iterate [[emIters]] rounds of {cost ←
  * −log p under current counts; counts ← add-one-smoothed Viterbi
  * usage}. Finally prune to the top-[[vocabSize]] multi-char pieces
  * (singles always survive — the coverage floor, the same rule as
  * WordPiece's a-z union).
  *
  * EVERY number in the fit is an exact int64 — the engine-wide
  * hash-equal-oracle rule, one algorithm up from `q_bpe_merges`'
  * argmax determinism: probabilities never exist as floats. Costs are
  * fixed-point base-2 logs from [[log2fp]] (truncating
  * square-and-normalize, 16 fractional bits, bit-identical in Scala
  * BigInt and the oracle's DuckDB HUGEINT — no libm call on either
  * side), and the Viterbi DP orders segmentations by the single
  * integer key cost·1024 + pieceCount, so "least cost, then fewest
  * pieces, then longest-first" is a plain int64 min both engines
  * replay exactly.
  *
  * The trained/encoded domain is FUSED ADJACENT WORD PAIRS (the
  * [[WordPiece.minEncodeStats]] compound stress): this corpus's plain
  * words are all short enough to be whole vocabulary entries, which
  * would make every face degenerate (one piece per word, EM at a
  * fixed point after round 1 — probed before building); compounds are
  * 6-16 chars against 4-char pieces, so boundary placement is a real
  * cost decision and the EM rounds measurably move counts.
  *
  * Scale shape: ONE corpus-sized exchange total (the (source, word)
  * compound aggregate, map-side combined, Heaps-sublinear output) —
  * the seed candidate explode runs over DISTINCT compounds
  * (vocabulary-sized), each EM round is one map-only Viterbi kernel
  * pass over the pinned distinct-compound table plus a
  * vocabulary-sized usage aggregate collected to the driver (the
  * parameter-sized-collect class: ≤ seedSize+|chars| rows), and the
  * encode faces apply the codegen'd DP kernel map-side with the fitted
  * vocabulary riding the plan as a reference object. No join anywhere.
  * Tiered like [[Bpe.trainMerges]]: a driver-sized vocabulary trains
  * locally through the IDENTICAL Java kernel (`localThreshold = 0`
  * forces the distributed rounds; the spec pins both tiers equal).
  */
object Unigram {

  /** Longest candidate piece. DELIBERATELY below the corpus word
    * lengths (words run 3-8 chars): with whole words in the
    * vocabulary, every segmentation question is trivial and EM fixes
    * immediately — probed, not assumed. 4 keeps the mid-word boundary
    * decisions alive.
    */
  val maxPieceLen = 4

  /** Multi-char seed candidates kept for EM. */
  val seedSize = 256

  /** Multi-char pieces surviving the final prune. */
  val vocabSize = 128

  /** Hard-EM rounds. Fixed and unrolled in the oracle like
    * [[Bpe]]'s merge rounds.
    */
  val emIters = 2

  /** Fractional bits of the fixed-point log. */
  val logFracBits = 16

  /** floor-with-truncation-drift of 2^16·log2(x) computed by
    * square-and-normalize: F rounds of (square the [1,2) mantissa as a
    * 126-bit integer, shift back to 63 bits, emit the carry bit). The
    * per-round truncation makes this NOT the exactly-rounded log — and
    * that is the point: both engines perform the identical truncation
    * (BigInt here, HUGEINT `//` in DuckDB), so the result is
    * bit-identical by construction, with no dependence on either
    * side's libm. Monotone in x, exact on powers of two.
    */
  def log2fp(x: Long): Long = {
    require(x >= 1, s"log2fp needs a positive count, got $x")
    val n = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = BigInt(x) << (62 - n)
    var r = n.toLong
    val thr = BigInt(1) << 125
    var i = 0
    while (i < logFracBits) {
      val sq = m * m
      if (sq >= thr) { m = sq >> 63; r = 2 * r + 1 }
      else { m = sq >> 62; r = 2 * r }
      i += 1
    }
    r
  }

  /** The fitted model: pieces aligned with their final (smoothed)
    * Viterbi usage counts.
    */
  final case class Fit(pieces: IndexedSeq[String], counts: IndexedSeq[Long]) {
    /** −log2 p as fixed-point ints: log2fp(T) − log2fp(c). */
    lazy val costs: IndexedSeq[Long] = {
      val lT = log2fp(counts.sum)
      counts.map(c => lT - log2fp(c))
    }
    /** Pre-scaled for the DP key arithmetic. */
    lazy val costs1024: IndexedSeq[Long] = costs.map(_ * 1024)
  }

  /** The compound domain: adjacent in-domain word pairs fused, with
    * per-(source, compound) occurrence counts — ONE corpus-sized
    * exchange, everything downstream is vocabulary-sized.
    */
  private[ops] def compoundCounts(spark: SparkSession, dir: String): DataFrame = {
    val inDomain = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[a-z]+$") && length(w) >= 2)
    val fusedPairs = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat(element_at(col("t"), i), element_at(col("t"), i + 1))))
      .otherwise(typedLit(Seq.empty[String]))
    Tables.load(spark, dir, "documents")
      .select(col("source"), inDomain.as("t"))
      .select(col("source"), explode(fusedPairs).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
  }

  /** Seed candidates over an explicit (w, c) vocabulary: every
    * substring occurrence position, length 1..[[maxPieceLen]],
    * weighted by the word's count — vocabulary-sized input and output
    * (the [[WordPiece]] candidate shape, single-half).
    */
  private def candidates(wcw: DataFrame): DataFrame =
    wcw.select(col("c"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
          l => col("w").substr(i, l)))))
      .as("sub"))
      .groupBy(col("sub")).agg(sum(col("c")).as("weight"))

  /** One hard-EM E-step over the distinct-compound table: Viterbi
    * usage per piece index. Distributed tier — one map-only kernel
    * pass, a vocabulary-sized aggregate, a parameter-sized collect.
    */
  private def usageDistributed(wcw: DataFrame, pieces: IndexedSeq[String],
      costs1024: IndexedSeq[Long]): Map[Int, Long] =
    wcw.select(explode(graft.functions.GraftFunctions
        .unigramSegPieces(col("w"), pieces, costs1024)).as("t"), col("c"))
      .groupBy(col("t")).agg(sum(col("c")).as("used"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Local tier: the IDENTICAL Java kernel on driver arrays. */
  private def usageLocal(words: Array[(String, Long)],
      pieces: IndexedSeq[String], costs1024: IndexedSeq[Long]): Map[Int, Long] = {
    val pb = pieces.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val ca = costs1024.toArray
    val usage = new scala.collection.mutable.HashMap[Int, Long]()
    words.foreach { case (w, c) =>
      val seg = graft.functions.GraftStrings.unigramSegPieces(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), pb, ca)
      require(seg != null, s"uncoverable compound '$w' — singles missing?")
      var i = 0
      while (i < seg.numElements()) {
        val t = seg.getInt(i)
        usage.update(t, usage.getOrElse(t, 0L) + c)
        i += 1
      }
    }
    usage.toMap
  }

  /** Train: seed → [[emIters]] hard-EM rounds → prune. The
    * distinct-compound table is persisted across the rounds (seed pass
    * + one kernel pass per round read it) and dropped before return.
    */
  def train(spark: SparkSession, dir: String,
      localThreshold: Int = 1 << 18): Fit = {
    val wcw = compoundCounts(spark, dir)
      .groupBy(col("w")).agg(sum(col("n")).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = candidates(wcw)
      val multi = cand.filter(length(col("sub")) >= 2)
        .orderBy(col("weight").desc, col("sub")).limit(seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val singles = cand.filter(length(col("sub")) === 1)
        .orderBy(col("sub"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val pieces = (multi ++ singles).map(_._1).toIndexedSeq
      var counts = (multi ++ singles).map(_._2).toIndexedSeq

      // local tier probe: Bpe's take(n+1) shape — the one corpus pass
      // happened above either way; over threshold the probe cost is
      // bounded by the threshold itself
      val local: Option[Array[(String, Long)]] =
        if (localThreshold > 0) {
          val probe = wcw.select(col("w"), col("c")).take(localThreshold + 1)
          if (probe.length <= localThreshold)
            Some(probe.map(r => (r.getString(0), r.getLong(1))))
          else None
        } else None

      (1 to emIters).foreach { _ =>
        val f = Fit(pieces, counts)
        val usage = local match {
          case Some(words) => usageLocal(words, pieces, f.costs1024)
          case None => usageDistributed(wcw, pieces, f.costs1024)
        }
        // add-one smoothing keeps unused pieces alive with a floor
        // count (their cost becomes maximal, so they only ever match
        // when nothing better covers the position)
        counts = pieces.indices.map(i => usage.getOrElse(i, 0L) + 1L)
      }

      val byPiece = pieces.zip(counts)
      val keptMulti = byPiece.filter(_._1.length >= 2)
        .sortBy { case (p, c) => (-c, p) }.take(vocabSize)
      val keptSingle = byPiece.filter(_._1.length == 1)
      val kept = (keptMulti ++ keptSingle).toIndexedSeq
      Fit(kept.map(_._1), kept.map(_._2))
    } finally wcw.unpersist(blocking = false)
  }

  // memoized like Bpe's: the fit is a pure function of the corpus
  // version, and all three faces need it
  def cachedFit(spark: SparkSession, dir: String): Fit =
    StageOnce.memo(fitKind, dir)(train(spark, dir))
  val fitKind = "unigram_fit" // the StageOnce.memo kind of `cachedFit`

  /** The q_unigram_fit face: the pruned vocabulary with final usage
    * counts — the model artifact a tokenizer would persist (top-k
    * prefix; the probabilities are counts / Σcounts).
    */
  def fitQuery(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import spark.implicits._
    val f = cachedFit(spark, dir)
    f.pieces.zip(f.counts).sortBy { case (p, c) => (-c, p) }.take(k)
      .toDF("piece", "cnt")
  }

  /** The q_unigram_encode face: per-source Viterbi tokenizer load over
    * the compound domain — words, model-chosen piece count, chars,
    * chars-per-piece. Directly comparable to [[Bpe.encodeStats]] /
    * [[WordPiece.encodeStats]] columns: the tokenizer-triad bake-off
    * rows. ONE exchange (the compound aggregate); the DP kernel is
    * map-side with the model riding the plan.
    */
  def encodeStats(spark: SparkSession, dir: String): DataFrame = {
    val f = cachedFit(spark, dir)
    val key = graft.functions.GraftFunctions
      .unigramDpKey(col("w"), f.pieces, f.costs1024)
    compoundCounts(spark, dir)
      .select(col("source"), col("n"),
        length(col("w")).cast("long").as("chars"),
        (key % 1024).as("pieces"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pieces")).as("pieces"),
        sum(col("n") * col("chars")).as("chars"))
      .select(col("source"), col("words"), col("pieces"), col("chars"),
        round(col("chars").cast("double") / col("pieces").cast("double"), 6)
          .as("cpp"))
      .orderBy(col("source"))
  }

  /** The q_unigram_bakeoff face: Viterbi (model-optimal) vs greedy
    * longest-match under the SAME fitted vocabulary, per source — the
    * PathPiece framing one objective up from
    * [[WordPiece.minEncodeStats]]: here the objective is model COST,
    * not piece count, and Viterbi may spend MORE pieces to buy a
    * cheaper segmentation (frequent shorts beating a rare long) —
    * `cost_saved` ≥ 0 always (Viterbi is cost-optimal; the spec pins
    * it per compound), while `pieces_viterbi` vs `pieces_greedy` can
    * go either way.
    */
  def bakeoff(spark: SparkSession, dir: String): DataFrame = {
    val f = cachedFit(spark, dir)
    val key = graft.functions.GraftFunctions
      .unigramDpKey(col("w"), f.pieces, f.costs1024)
    // greedy longest-match reuses the WordPiece kernels with both
    // halves = the flat unigram vocabulary (unigram pieces are
    // position-independent); the id walk feeds the per-piece cost
    // lookup from a plan-time literal array
    val triples = f.pieces.zipWithIndex.flatMap { case (p, i) =>
      Seq((false, p, i), (true, p, i)) }
    val gIds = graft.functions.GraftFunctions.wordpieceIds(col("w"), triples)
    val costLit = array(f.costs.map(lit): _*)
    compoundCounts(spark, dir)
      .select(col("source"), col("n"), col("w"),
        (key % 1024).as("pv"), (key.cast("long") / 1024).cast("long").as("cv"),
        gIds.as("gids"))
      .select(col("source"), col("n"), col("pv"), col("cv"),
        size(col("gids")).cast("long").as("pg"),
        aggregate(transform(col("gids"), i => element_at(costLit, i + 1)),
          lit(0L), (acc, x) => acc + x).as("cg"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pg")).as("pieces_greedy"),
        sum(col("n") * col("pv")).as("pieces_viterbi"),
        sum(col("n") * col("cg")).as("cost_greedy"),
        sum(col("n") * col("cv")).as("cost_viterbi"),
        sum(col("n") * (col("cg") - col("cv"))).as("cost_saved"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------ oracles

  /** The fixed-point log recursion over a (sub, x) relation — the SQL
    * mirror of [[log2fp]], HUGEINT squaring with the identical
    * truncation. Emits (sub, lg).
    */
  private def logCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
       |  WITH RECURSIVE it AS (
       |    SELECT sub, x, 0 AS i,
       |      CAST(x AS HUGEINT) * CAST(1::BIGINT << (62 - (len(bin(x)) - 1)) AS HUGEINT) AS m,
       |      CAST(len(bin(x)) - 1 AS BIGINT) AS r
       |    FROM $src
       |    UNION ALL
       |    SELECT sub, x, i + 1,
       |      CASE WHEN m * m >= '42535295865117307932921825928971026432'::HUGEINT
       |           THEN (m * m) // '9223372036854775808'::HUGEINT
       |           ELSE (m * m) // '4611686018427387904'::HUGEINT END,
       |      CASE WHEN m * m >= '42535295865117307932921825928971026432'::HUGEINT
       |           THEN 2 * r + 1 ELSE 2 * r END
       |    FROM it WHERE i < $logFracBits)
       |  SELECT sub, r AS lg FROM it WHERE i = $logFracBits)""".stripMargin

  /** costs from a (sub, c) counts relation: the '' row carries the
    * total so one log recursion covers T and every piece.
    */
  private def costCtes(k: Int, prev: String): String =
    s"""lx$k AS MATERIALIZED (
       |  SELECT sub, c AS x FROM $prev
       |  UNION ALL
       |  SELECT '', CAST(sum(c) AS BIGINT) FROM $prev),
       |${logCte(s"lg$k", s"lx$k")},
       |cost$k AS MATERIALIZED (
       |  SELECT p.sub, (t.lg - p.lg) * 1024 AS c1024
       |  FROM lg$k p, (SELECT lg FROM lg$k WHERE sub = '') t
       |  WHERE p.sub <> '')""".stripMargin

  private def matchCols: String = (1 to maxPieceLen).map(l =>
    s"max(CASE WHEN len(v.sub) = $l THEN v.c1024 END) AS m$l").mkString(",\n    ")

  private def leastArgs: String = (1 to maxPieceLen).map(l =>
    s"m.m$l + s.arr[$l] + 1").mkString(", ")

  private def comboList: String = (1 to maxPieceLen).map(l =>
    s"(m.m$l + d.arr[m.pos + $l] + 1) * 16 + ${maxPieceLen - l}").mkString(",\n           ")

  /** Per-(compound, position) match costs + the backward Viterbi
    * recursion carrying the dp array (arr[1] = dp at this position;
    * key = cost·1024 + pieces, the kernel's encoding). least() ignores
    * NULL terms (no match at that length / out of range), so dpnew is
    * exactly the kernel's min.
    */
  private def dpCtes(k: Int): String =
    s"""mc$k AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos,
       |    $matchCols
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN cost$k v ON substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |dp$k AS MATERIALIZED (
       |  WITH RECURSIVE st AS (
       |    SELECT w, CAST(len(w) + 1 AS INT) AS pos, [CAST(0 AS BIGINT)] AS arr FROM words
       |    UNION ALL
       |    SELECT s.w, s.pos - 1,
       |      list_prepend(least($leastArgs), s.arr)
       |    FROM st s JOIN mc$k m ON m.w = s.w AND m.pos = s.pos - 1
       |    WHERE s.pos > 1)
       |  SELECT w, arr FROM st WHERE pos = 1)""".stripMargin

  /** Choice + forward walk: per position the argmin transition (combo
    * embeds the longest-piece tie-break in the low 4 bits — the
    * kernel's rule), then the [[WordPiece]] `step` walk emitting the
    * chosen piece per visited position.
    */
  private def walkCtes(k: Int): String =
    s"""ch$k AS MATERIALIZED (
       |  SELECT m.w, m.pos,
       |    CAST(list_position(cb, list_min(list_filter(cb, x -> x IS NOT NULL))) AS INT) AS l
       |  FROM (SELECT m.w, m.pos,
       |          [$comboList] AS cb
       |        FROM mc$k m JOIN dp$k d ON d.w = m.w) m),
       |wk$k AS MATERIALIZED (
       |  WITH RECURSIVE st AS (
       |    SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM words
       |    UNION ALL
       |    SELECT s.w, s.pos + c.l, substr(s.w, s.pos, c.l)
       |    FROM st s JOIN ch$k c ON c.w = s.w AND c.pos = s.pos
       |    WHERE s.pos <= len(s.w))
       |  SELECT w, piece FROM st WHERE piece IS NOT NULL)""".stripMargin

  /** One unrolled hard-EM round: costs, DP, walk, usage, smoothed
    * next counts.
    */
  private def emRound(k: Int, prev: String): String =
    s"""${costCtes(k, prev)},
       |${dpCtes(k)},
       |${walkCtes(k)},
       |c$k AS MATERIALIZED (
       |  SELECT p.sub, CAST(coalesce(u.used, 0) + 1 AS BIGINT) AS c
       |  FROM $prev p LEFT JOIN (
       |    SELECT k.piece AS sub, CAST(sum(wc.c) AS BIGINT) AS used
       |    FROM wk$k k JOIN wcw wc USING (w) GROUP BY 1) u USING (sub))""".stripMargin

  /** The shared chain: compound domain, seed, the unrolled EM rounds,
    * the prune, and the final costs + DP under the pruned model
    * (cost${emIters+1} / dp${emIters+1}).
    */
  private def fitChainCtes: String = {
    val rounds = (1 to emIters)
      .map(k => emRound(k, if (k == 1) "c0" else s"c${k - 1}"))
      .mkString(",\n")
    s"""swc AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT source, t[CAST(i AS INT)] || t[CAST(i AS INT) + 1] AS w
       |    FROM (SELECT source, list_filter(string_split_regex(trim(text), '\\s+'),
       |            x -> regexp_matches(x, '^[a-z]+$$') AND len(x) >= 2) AS t
       |          FROM documents),
       |         unnest(range(1, len(t))) z(i))
       |  GROUP BY 1, 2),
       |wcw AS MATERIALIZED (SELECT w, CAST(sum(n) AS BIGINT) AS c FROM swc GROUP BY 1),
       |words AS MATERIALIZED (SELECT w FROM wcw),
       |cand AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS sub,
       |         CAST(sum(c) AS BIGINT) AS weight
       |  FROM wcw,
       |       unnest(range(1, len(w) + 1)) t(i),
       |       unnest(range(1, least($maxPieceLen, len(w) - i + 1) + 1)) u(l)
       |  GROUP BY 1),
       |c0 AS MATERIALIZED (
       |  SELECT sub, weight AS c FROM (
       |    SELECT sub, weight FROM cand WHERE len(sub) >= 2
       |    ORDER BY weight DESC, sub LIMIT $seedSize)
       |  UNION ALL
       |  SELECT sub, weight FROM cand WHERE len(sub) = 1),
       |$rounds,
       |pruned AS MATERIALIZED (
       |  SELECT sub, c FROM (
       |    SELECT sub, c FROM c$emIters WHERE len(sub) >= 2
       |    ORDER BY c DESC, sub LIMIT $vocabSize)
       |  UNION ALL
       |  SELECT sub, c FROM c$emIters WHERE len(sub) = 1),
       |${costCtes(emIters + 1, "pruned")},
       |${dpCtes(emIters + 1)}""".stripMargin
  }

  /** DuckDB replay of the fit face. */
  def fitSql(k: Int = 50): String =
    s"""WITH ${fitChainCtes}
       |SELECT sub AS piece, c AS cnt FROM pruned
       |ORDER BY cnt DESC, piece LIMIT $k""".stripMargin

  /** DuckDB replay of the encode face: dp key → pieces = key mod 1024. */
  def encodeSql: String = {
    val f = emIters + 1
    s"""WITH ${fitChainCtes}
       |SELECT s.source, CAST(sum(s.n) AS BIGINT) AS words,
       |  CAST(sum(s.n * (d.arr[1] % 1024)) AS BIGINT) AS pieces,
       |  CAST(sum(s.n * len(s.w)) AS BIGINT) AS chars,
       |  round(CAST(sum(s.n * len(s.w)) AS DOUBLE) /
       |        CAST(sum(s.n * (d.arr[1] % 1024)) AS DOUBLE), 6) AS cpp
       |FROM swc s JOIN dp$f d USING (w) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of the bake-off: the greedy longest-match walk
    * (WordPiece's `best`/`step` recursion, flat vocabulary) beside the
    * Viterbi dp key, costs in log units (c1024 // 1024).
    */
  def bakeoffSql: String = {
    val f = emIters + 1
    s"""WITH ${fitChainCtes},
       |gb AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos, max(len(v.sub)) AS bl
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN cost$f v ON substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |gw AS MATERIALIZED (
       |  WITH RECURSIVE st AS (
       |    SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM words
       |    UNION ALL
       |    SELECT s.w, s.pos + CAST(b.bl AS INT), substr(s.w, s.pos, CAST(b.bl AS INT))
       |    FROM st s JOIN gb b ON b.w = s.w AND b.pos = s.pos
       |    WHERE s.pos <= len(s.w))
       |  SELECT w, piece FROM st WHERE piece IS NOT NULL),
       |gstat AS MATERIALIZED (
       |  SELECT g.w, CAST(count(*) AS BIGINT) AS gp,
       |         CAST(sum(v.c1024 // 1024) AS BIGINT) AS gc
       |  FROM gw g JOIN cost$f v ON v.sub = g.piece GROUP BY 1)
       |SELECT s.source, CAST(sum(s.n) AS BIGINT) AS words,
       |  CAST(sum(s.n * g.gp) AS BIGINT) AS pieces_greedy,
       |  CAST(sum(s.n * (d.arr[1] % 1024)) AS BIGINT) AS pieces_viterbi,
       |  CAST(sum(s.n * g.gc) AS BIGINT) AS cost_greedy,
       |  CAST(sum(s.n * (d.arr[1] // 1024)) AS BIGINT) AS cost_viterbi,
       |  CAST(sum(s.n * (g.gc - d.arr[1] // 1024)) AS BIGINT) AS cost_saved
       |FROM swc s JOIN dp$f d USING (w) JOIN gstat g USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
