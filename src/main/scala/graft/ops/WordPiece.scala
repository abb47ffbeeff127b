package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** WordPiece-family subword tokenizer (Schuster & Nakajima, "Japanese
  * and Korean Voice Search", ICASSP 2012 — the BERT tokenizer): the
  * GREEDY LONGEST-MATCH-FIRST encode rule over a learned vocabulary of
  * word-start pieces and "##"-marked continuation pieces. The third
  * member of the engine's tokenizer-training family, next to BPE
  * ([[Bpe]] — merge-rule-based, encode = replay the merges) and the
  * raw-statistic faces (`q_vocab_topk`, `q_bpe_pairs`): WordPiece's
  * encode is VOCABULARY-driven (one greedy scan per word, no merge
  * replay), which is why production tokenizers ship it — encoding cost
  * is independent of how the vocabulary was learned.
  *
  * Vocabulary selection here is frequency-based: every substring of
  * every vocabulary word (length 2..[[maxPieceLen]], word-start
  * substrings as plain pieces, interior ones as continuations, each
  * occurrence position counted once, weighted by the word's corpus
  * count) scored by total weight, top-V kept with the total order
  * (weight DESC, piece ASC — piece includes its ## marker, so the
  * order is engine-portable ASCII). The original paper selects by
  * likelihood gain; the published BERT vocabularies' exact recipe is
  * unreleased, and frequency selection keeps every number an exact
  * int64 so the DuckDB oracle replays the fit bit-for-bit — the
  * engine-wide hash-equal-oracle rule. Coverage is guaranteed by
  * always unioning all 26 single characters into BOTH vocab halves
  * (the trained domain is `^[a-z]+$` words, [[Bpe.wordCounts]]), so
  * greedy matching never strands and no UNK path is needed.
  *
  * Scale shape, fit: ONE corpus-sized exchange (the word-count
  * aggregate, map-side combined, Heaps-sublinear output) — the
  * candidate explode (≤ len·(maxPieceLen-1) rows per DISTINCT word)
  * and its (cont, sub) aggregate are vocabulary-sized, and the top-V
  * is a parameter-sized TakeOrdered to the driver (the same
  * parameter-sized-collect class as the IVF/PQ codebooks and k-means
  * centroids). Encode: ONE corpus-sized exchange (the (source, word)
  * aggregate) — the greedy segmentation is the codegen'd
  * `wordpiece_pieces` kernel applied map-side to distinct rows with
  * the vocabulary riding the plan as a reference object, then a
  * parameter-sized per-source rollup. No join in either face.
  */
object WordPiece {

  /** One learned piece: `piece` carries the ## marker; `sub` is the
    * matchable content.
    */
  final case class Piece(cont: Boolean, sub: String, weight: Long) {
    def display: String = if (cont) "##" + sub else sub
  }

  /** Longest candidate piece considered. Bounds the candidate explode
    * at len·(maxPieceLen-1) rows per distinct word; real WordPiece
    * vocabularies are dominated by short pieces (BERT's mean piece
    * length is ~6 chars), so the cap costs coverage nothing.
    */
  val maxPieceLen = 8

  /** The candidate table: (cont, sub, weight) for every substring
    * occurrence position of every vocabulary word. Vocabulary-sized
    * input and output; the corpus was already collapsed by
    * [[Bpe.wordCounts]]'s one exchange.
    */
  private def candidates(wc: DataFrame): DataFrame =
    wc.select(col("c"), explode(flatten(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => transform(
          sequence(lit(2), least(lit(maxPieceLen), length(col("w")) - i + 1)),
          l => struct((i > lit(1)).as("cont"), col("w").substr(i, l).as("sub"))))))
      .as("p"))
      .groupBy(col("p.cont").as("cont"), col("p.sub").as("sub"))
      .agg(sum(col("c")).as("weight"))

  /** Fit: top-`vocabSize` multi-char pieces by (weight DESC, piece ASC).
    * Parameter-sized result (collected like a codebook); memoized per
    * (corpus version, vocabSize) because both faces need the same fit.
    */
  def fit(spark: SparkSession, dir: String, vocabSize: Int): Seq[Piece] =
    StageOnce.memo(fitKind, dir, vocabSize)(
      candidates(Bpe.wordCounts(spark, dir))
        .withColumn("piece",
          when(col("cont"), concat(lit("##"), col("sub"))).otherwise(col("sub")))
        .orderBy(col("weight").desc, col("piece"))
        .limit(vocabSize)
        .collect()
        .map(r => Piece(r.getBoolean(0), r.getString(1), r.getLong(2)))
        .toSeq)
  val fitKind = "wordpiece_fit" // the StageOnce.memo kind of `fit`

  /** The q_wordpiece_vocab face: the top-k learned multi-char pieces
    * with their selection weights — the artifact a tokenizer would
    * persist (single chars are implicit; they are always in the encode
    * vocabulary). k ≤ vocabSize, so the face is a prefix of the fit.
    */
  def vocabQuery(spark: SparkSession, dir: String, vocabSize: Int = 256,
      k: Int = 50): DataFrame = {
    import spark.implicits._
    fit(spark, dir, vocabSize).take(k).map(p => (p.display, p.weight))
      .toDF("piece", "weight")
  }

  /** Encode face: greedy longest-match segmentation of the corpus
    * under the fitted vocabulary (+ the a-z singles in both halves),
    * reported as per-source tokenizer load — word occurrences, piece
    * count, char count, chars-per-piece. Directly comparable to
    * [[Bpe.encodeStats]]'s columns: the two tokenizers' compression on
    * the same corpus, the bake-off a tokenizer choice is made on.
    */
  def encodeStats(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    val pieces = fit(spark, dir, vocabSize)
    val singles = ('a' to 'z').map(_.toString)
    val plain = (pieces.filter(!_.cont).map(_.sub) ++ singles).distinct
    val cont = (pieces.filter(_.cont).map(_.sub) ++ singles).distinct
    val swc = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    swc
      .select(col("source"), col("n"),
        length(col("w")).cast("long").as("chars"),
        graft.functions.GraftFunctions.wordpiecePieces(col("w"), plain, cont)
          .cast("long").as("pieces"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pieces")).as("pieces"),
        sum(col("n") * col("chars")).as("chars"))
      .select(col("source"), col("words"), col("pieces"), col("chars"),
        round(col("chars").cast("double") / col("pieces").cast("double"), 6)
          .as("cpp"))
      .orderBy(col("source"))
  }

  /** The optimal-vs-greedy segmentation BAKE-OFF face: greedy
    * longest-match (WordPiece's rule) vs the minimum-token
    * shortest-path DP (the PathPiece objective — Schmidt et al.,
    * "Tokenization Is More Than Compression", EMNLP 2024, which showed
    * greedy's token overhead is a real training-cost lever: training
    * FLOPs scale with tokens). `saved` is the token count greedy
    * wastes vs the optimum, per source.
    *
    * Two deliberate choices make the comparison NON-degenerate, both
    * theory-forced:
    *  - The frequency fit is FACTOR-CLOSED up to boundary ties (every
    *    substring of a kept piece has ≥ its weight, and at equal
    *    weight the shorter piece sorts first), and greedy
    *    longest-match is provably optimal over a factor-closed
    *    dictionary — so the bake-off inventory drops pieces shorter
    *    than `minPieceLen` (keeping the a-z singles for coverage): the
    *    sparse long-piece-plus-singles inventory real BPE vocabularies
    *    approximate, where mid-length factors are absent and greedy
    *    can strand after a long match.
    *  - The encode domain is FUSED ADJACENT WORD PAIRS (the
    *    compound-word stress): this corpus's plain words are all
    *    whole-vocabulary entries (both rules emit 1 piece), but a
    *    compound's seam forces segmentation decisions — exactly where
    *    production tokenizers meet compounds, URLs and typos.
    *
    * pieces_min ≤ pieces_greedy per word by construction (greedy's
    * walk is one path through the DP lattice; `WordPieceSpec`
    * brute-force-verifies the DP against exhaustive segmentation
    * enumeration and pins a diverging example).
    *
    * Scale shape: identical to [[encodeStats]] — ONE corpus-sized
    * exchange (the (source, compound) aggregate; the pair fan-out is
    * map-side, ≤ tokens-1 per doc), both kernels applied map-side to
    * distinct rows with the vocabulary riding the plan,
    * parameter-sized per-source rollup, no joins.
    */
  def minEncodeStats(spark: SparkSession, dir: String,
      vocabSize: Int = 256, minPieceLen: Int = 3): DataFrame = {
    val pieces = fit(spark, dir, vocabSize).filter(_.sub.length >= minPieceLen)
    val singles = ('a' to 'z').map(_.toString)
    val plain = (pieces.filter(!_.cont).map(_.sub) ++ singles).distinct
    val cont = (pieces.filter(_.cont).map(_.sub) ++ singles).distinct
    val inDomain = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[a-z]+$") && length(w) >= 2)
    val fusedPairs = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat(element_at(col("t"), i), element_at(col("t"), i + 1))))
      .otherwise(typedLit(Seq.empty[String]))
    val swc = Tables.load(spark, dir, "documents")
      .select(col("source"), inDomain.as("t"))
      .select(col("source"), explode(fusedPairs).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    swc
      .select(col("source"), col("n"),
        length(col("w")).cast("long").as("chars"),
        graft.functions.GraftFunctions.wordpiecePieces(col("w"), plain, cont)
          .cast("long").as("pg"),
        graft.functions.GraftFunctions.minPieces(col("w"), plain, cont)
          .cast("long").as("pm"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("chars")).as("chars"),
        sum(col("n") * col("pg")).as("pieces_greedy"),
        sum(col("n") * col("pm")).as("pieces_min"),
        sum(col("n") * (col("pg") - col("pm"))).as("saved"))
      .select(col("source"), col("words"), col("chars"),
        col("pieces_greedy"), col("pieces_min"), col("saved"),
        round(col("chars").cast("double") / col("pieces_min").cast("double"), 6)
          .as("cpp_min"))
      .orderBy(col("source"))
  }

  /** The full encode vocabulary with DETERMINISTIC IDS: fitted
    * multi-char pieces ∪ the a-z singles in both halves, id = rank in
    * the (cont, sub) sort — a pure function of the fit, mirrored by
    * the oracle's row_number over the same order.
    */
  def vocabWithIds(spark: SparkSession, dir: String,
      vocabSize: Int): Seq[(Boolean, String, Int)] = {
    val singles = ('a' to 'z').map(_.toString)
    val entries = (fit(spark, dir, vocabSize).map(p => (p.cont, p.sub)) ++
      singles.map((false, _)) ++ singles.map((true, _))).distinct
    entries.sortBy(e => (e._1, e._2)).zipWithIndex
      .map { case ((c, s), i) => (c, s, i) }
  }

  /** The q_wordpiece_ids face — the tokenizer family's terminal
    * product: every document's text as MODEL-READY SUBWORD IDS (the
    * in-domain `^[a-z]+$` words, in order, each greedy-segmented under
    * the fitted vocabulary; ids are the deterministic (cont, sub)
    * ranks). Output is (doc_id, n_ids, space-joined id string) — one
    * row per document, docs with no in-domain words included with an
    * empty encoding.
    *
    * Scale shape: MAP-ONLY — zero exchanges at any corpus size. The
    * vocabulary rides the plan as a reference object inside the
    * codegen'd `wordpiece_ids` kernel (one call per word occurrence,
    * O(|vocab|·|word|), no joins, no per-position tables), and the
    * output is doc-keyed with no aggregation. This is the shape that
    * matters at 100 TB: tokenization parallelizes embarrassingly, and
    * any formulation that shuffles (a vocab join, a piece explode +
    * reassembly window) pays a corpus-sized exchange for nothing.
    */
  def idsQuery(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    val withIds = vocabWithIds(spark, dir, vocabSize)
    val inDomain = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[a-z]+$") && length(w) >= 2)
    val ids = flatten(transform(inDomain,
      w => graft.functions.GraftFunctions.wordpieceIds(w, withIds)))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), ids.as("ids"))
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        array_join(transform(col("ids"), _.cast("string")), " ").as("ids_str"))
  }

  /** The q_token_blocks face — the LAST step of the training-data
    * pipeline: the corpus's subword-id stream packed into FIXED-SIZE
    * training blocks (GPT-style pre-training batches). Per shard
    * (doc_id % nShards — each shard is one writer's block stream),
    * documents concatenate in doc_id order as ids ++ [EOD] (EOD id =
    * |vocab|, one past the last piece id), and the stream slices into
    * `blockLen`-id blocks — documents SPLIT across block boundaries,
    * exactly like GPT pre-training packing (unlike [[graft.queries
    * .Curation.packSequences]]'s doc-granular bins). Output per block:
    * (block_id, n_ids, md5 of the space-joined ids) — the hash
    * verifies every id and its position without shipping the blocks.
    *
    * Scale shape: the tokenize is the map-only ids kernel; the
    * per-shard running offset is one doc-keyed window (shard-
    * partitioned — the packSequencesSharded argument: shards scale
    * with the cluster, no single-reducer window); the block assembly
    * is ONE token-keyed exchange (posexplode → groupBy(block)), which
    * is the honest cost of materializing training batches — linear in
    * tokens, the write itself at 100 TB.
    */
  /** Shared preamble of [[blocksQuery]] and [[blockProvenance]]: every
    * document's (shard, running shard offset, id array). Two scale
    * disciplines live here:
    *  - the encoded docs are CacheBin-pinned because BOTH the offset
    *    leg and the payload leg consume them — unpinned, the
    *    O(|vocab|·|word|) wordpiece_ids kernel would re-encode the
    *    corpus per leg;
    *  - the per-shard running offset is computed over a NARROW
    *    (doc_id, shard, n_ids) projection and joined back by doc_id,
    *    so the shard window's sort ships O(docs)·24-byte rows instead
    *    of dragging the full id arrays (O(tokens)) through the shard
    *    exchange — the de-payloaded window shape. The join-back is
    *    doc-keyed and the offsets side is the narrow one; at bench
    *    scale AQE broadcasts it, at 100 TB it is a narrow shuffle
    *    join, either way the id payload crosses the wire only at the
    *    block-assembly exchange it must cross anyway.
    */
  private def idsWithOffsets(spark: SparkSession, dir: String,
      vocabSize: Int, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withIds = vocabWithIds(spark, dir, vocabSize)
    val eodId = withIds.size
    val inDomain = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[a-z]+$") && length(w) >= 2)
    val ids = concat(
      flatten(transform(inDomain,
        w => graft.functions.GraftFunctions.wordpieceIds(w, withIds))),
      array(lit(eodId)))
    val docs = CacheBin.pin(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
        ids.as("ids")))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs
      .select(col("doc_id"), col("shard"), size(col("ids")).cast("long").as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
      .select(col("doc_id"), col("off"))
    docs.join(offsets, Seq("doc_id"))
  }

  /** block index/slot from a shard-local position: integer arithmetic
    * end to end (DIV, not `/` — Spark's `/` on longs is DOUBLE division,
    * exact only below 2^53, a silent-wrong-block cliff at 100 TB
    * offsets; DIV mirrors the oracle's `//`).
    */
  private def blockId(blockLen: Int) =
    col("shard") * lit(1L << 40) +
      expr(s"(off + i) DIV $blockLen")

  def blocksQuery(spark: SparkSession, dir: String, vocabSize: Int = 256,
      blockLen: Int = 128, nShards: Int = 8): DataFrame =
    idsWithOffsets(spark, dir, vocabSize, nShards)
      .select(col("shard"), col("off"), posexplode(col("ids")).as(Seq("i", "id")))
      .select(blockId(blockLen).as("block_id"),
        ((col("off") + col("i")) % blockLen).as("slot"), col("id"))
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_ids"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("slot"), col("id")))),
          s => s.getField("id").cast("string")), " ")).as("ids_md5"))
      .orderBy(col("block_id"))

  /** The q_block_provenance face — the GOVERNANCE inverse of
    * [[blocksQuery]]: which documents contributed ids to which
    * training blocks. Because packing splits documents across block
    * boundaries, a doc can span several blocks and a block holds
    * several docs — this map is what a right-to-be-forgotten /
    * machine-unlearning request resolves against ("locate every
    * training block touching doc X" → retrain or drop exactly those),
    * and what contamination forensics walks backwards ("which docs
    * fed the block that memorized"). One row per (block, doc)
    * membership with the contributed id count; the same single
    * token-keyed exchange as the blocks face (grouped by (block, doc)
    * instead of block), so provenance costs nothing extra to derive.
    * Conservation laws pinned in `WordPieceSpec`: per-doc id totals
    * and per-block id totals both reproduce the sibling faces'.
    */
  def blockProvenance(spark: SparkSession, dir: String, vocabSize: Int = 256,
      blockLen: Int = 128, nShards: Int = 8): DataFrame =
    idsWithOffsets(spark, dir, vocabSize, nShards)
      .select(col("doc_id"), col("shard"), col("off"),
        posexplode(col("ids")).as(Seq("i", "id")))
      .select(col("doc_id"), blockId(blockLen).as("block_id"))
      .groupBy(col("block_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_ids"))
      .orderBy(col("block_id"), col("doc_id"))

  /** The q_block_decontam face — the composed governance action:
    * decontamination flags documents sharing eval-set 8-grams
    * (`LlmOps.decontaminate`), provenance maps documents to training
    * blocks ([[blockProvenance]]), and this query joins the two into
    * the REBUILD LIST — every block whose id stream contains
    * contaminated-document content, with how many docs/ids in that
    * block are tainted. This is the operational output: blocks to drop
    * or repack before the training run, resolved without rereading any
    * text (flags join the provenance map, both id-keyed).
    */
  def blockDecontam(spark: SparkSession, dir: String): DataFrame = {
    val flagged = graft.queries.LlmOps.decontaminate(spark, dir)
      .select(col("doc_id"))
    blockProvenance(spark, dir)
      .join(flagged, Seq("doc_id"), "left_semi")
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_tainted_docs"),
        sum(col("n_ids")).as("n_tainted_ids"))
      .orderBy(col("block_id"))
  }

  /** DuckDB replay: [[blockProvenanceSql]] ∩ the decontamination flags,
    * rolled up per block.
    */
  def blockDecontamSql: String =
    s"""WITH prov AS MATERIALIZED (${blockProvenanceSql()}),
       |flagged AS MATERIALIZED (${graft.queries.LlmOps.decontaminateSql})
       |SELECT p.block_id, CAST(count(*) AS BIGINT) AS n_tainted_docs,
       |  CAST(sum(p.n_ids) AS BIGINT) AS n_tainted_ids
       |FROM prov p JOIN (SELECT DISTINCT doc_id FROM flagged) f
       |  USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ oracles

  /** The shared fit chain: word counts → substring candidates → top-V.
    * The lateral `unnest(range(...))` pair enumerates exactly the
    * engine's (start, length) grid; `range` is end-exclusive, so
    * range(1, len(w)) is starts 1..len-1 and range(2, maxLen+1) is
    * lengths 2..maxLen.
    */
  private def fitCtes(vocabSize: Int): String =
    s"""wc AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2
       |  GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT (i > 1) AS cont, substr(w, CAST(i AS INT), CAST(l AS INT)) AS sub,
       |         CAST(sum(c) AS BIGINT) AS weight
       |  FROM wc,
       |       unnest(range(1, len(w))) t(i),
       |       unnest(range(2, least($maxPieceLen, len(w) - i + 1) + 1)) u(l)
       |  GROUP BY 1, 2),
       |vocab_mc AS MATERIALIZED (
       |  SELECT cont, sub, weight,
       |         CASE WHEN cont THEN '##' || sub ELSE sub END AS piece
       |  FROM cand ORDER BY weight DESC, piece LIMIT $vocabSize)""".stripMargin

  /** DuckDB replay of the vocab face: the fit chain, top-k prefix. */
  def vocabSql(vocabSize: Int = 256, k: Int = 50): String =
    s"""WITH ${fitCtes(vocabSize)}
       |SELECT piece, weight FROM vocab_mc
       |ORDER BY weight DESC, piece LIMIT $k""".stripMargin

  /** DuckDB replay of the encode: the fit chain, then greedy
    * longest-match as a RECURSIVE walk — per (word, position) the best
    * match length is a plain vocabulary aggregate (ties impossible:
    * equal-length matching pieces would be the same substring), and
    * the recursion just chases positions, advancing ≥ 1 char per step,
    * so it terminates at the word length. The engine runs the same
    * greedy rule as one O(|vocab|·|word|) kernel call per distinct
    * word instead — no per-position table, no iteration in the plan.
    */
  def encodeSql(vocabSize: Int = 256): String =
    s"""WITH RECURSIVE ${fitCtes(vocabSize)},
       |vocab AS MATERIALIZED (
       |  SELECT cont, sub FROM vocab_mc
       |  UNION
       |  SELECT b AS cont, chr(96 + CAST(i AS INT)) AS sub
       |  FROM range(1, 27) t(i), (VALUES (TRUE), (FALSE)) v(b)),
       |swc AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2
       |  GROUP BY 1, 2),
       |words AS MATERIALIZED (SELECT DISTINCT w FROM swc),
       |best AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos, max(len(v.sub)) AS bl
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN vocab v ON v.cont = (z.i > 1)
       |              AND substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |step AS (
       |  SELECT w, 1 AS pos, 0 AS pieces FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + CAST(b.bl AS INT), s.pieces + 1
       |  FROM step s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos <= len(s.w)),
       |done AS MATERIALIZED (SELECT w, pieces FROM step WHERE pos > len(w))
       |SELECT s.source, CAST(sum(s.n) AS BIGINT) AS words,
       |  CAST(sum(s.n * d.pieces) AS BIGINT) AS pieces,
       |  CAST(sum(s.n * len(s.w)) AS BIGINT) AS chars,
       |  round(CAST(sum(s.n * len(s.w)) AS DOUBLE) /
       |        CAST(sum(s.n * d.pieces) AS DOUBLE), 6) AS cpp
       |FROM swc s JOIN done d USING (w) GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB replay of the bake-off: the fit chain (pieces under
    * `minPieceLen` dropped, singles unioned in), the fused-pair
    * domain, the greedy recursion of [[encodeSql]], and the
    * minimum-token DP as a REACHABLE-STATE recursion — a state is
    * (word, position, pieces so far), seeded at (w, 1, 0), expanded by
    * EVERY matching vocabulary piece (not just the longest),
    * deduplicated by the recursive UNION; the minimum piece count is
    * the min over terminal states. State space is ≤ |w|²/2 per
    * distinct compound (positions × counts), so the recursion is
    * word-table-sized — the engine runs the same lattice as one
    * O(|vocab|·|word|) DP kernel call per distinct compound instead.
    */
  def minEncodeSql(vocabSize: Int = 256, minPieceLen: Int = 3): String =
    s"""WITH RECURSIVE ${fitCtes(vocabSize)},
       |vocab AS MATERIALIZED (
       |  SELECT cont, sub FROM vocab_mc WHERE len(sub) >= $minPieceLen
       |  UNION
       |  SELECT b AS cont, chr(96 + CAST(i AS INT)) AS sub
       |  FROM range(1, 27) t(i), (VALUES (TRUE), (FALSE)) v(b)),
       |swc AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT source, t[CAST(i AS INT)] || t[CAST(i AS INT) + 1] AS w
       |    FROM (SELECT source,
       |            list_filter(string_split_regex(trim(text), '\\s+'),
       |              x -> regexp_matches(x, '^[a-z]+$$') AND len(x) >= 2) AS t
       |          FROM documents),
       |         unnest(range(1, len(t))) z(i))
       |  GROUP BY 1, 2),
       |words AS MATERIALIZED (SELECT DISTINCT w FROM swc),
       |best AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos, max(len(v.sub)) AS bl
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN vocab v ON v.cont = (z.i > 1)
       |              AND substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |gstep AS (
       |  SELECT w, 1 AS pos, 0 AS pieces FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + CAST(b.bl AS INT), s.pieces + 1
       |  FROM gstep s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos <= len(s.w)),
       |gdone AS MATERIALIZED (SELECT w, pieces FROM gstep WHERE pos > len(w)),
       |states AS (
       |  SELECT w, 1 AS pos, 0 AS cnt FROM words
       |  UNION
       |  SELECT s.w, s.pos + CAST(len(v.sub) AS INT), s.cnt + 1
       |  FROM states s JOIN vocab v ON v.cont = (s.pos > 1)
       |                AND substr(s.w, s.pos, len(v.sub)) = v.sub
       |  WHERE s.pos <= len(s.w)),
       |mdone AS MATERIALIZED (
       |  SELECT w, min(cnt) AS pieces FROM states
       |  WHERE pos = len(w) + 1 GROUP BY 1)
       |SELECT s.source, CAST(sum(s.n) AS BIGINT) AS words,
       |  CAST(sum(s.n * len(s.w)) AS BIGINT) AS chars,
       |  CAST(sum(s.n * g.pieces) AS BIGINT) AS pieces_greedy,
       |  CAST(sum(s.n * m.pieces) AS BIGINT) AS pieces_min,
       |  CAST(sum(s.n * (g.pieces - m.pieces)) AS BIGINT) AS saved,
       |  round(CAST(sum(s.n * len(s.w)) AS DOUBLE) /
       |        CAST(sum(s.n * m.pieces) AS DOUBLE), 6) AS cpp_min
       |FROM swc s JOIN gdone g USING (w) JOIN mdone m USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The CTE chain shared by [[blocksSql]] and [[blockProvenanceSql]]:
    * the ids chain of [[idsSql]] (fit, deterministic ids, greedy-walk
    * recursion, per-doc ordered id lists), then EOD append and the
    * per-shard running offset window — everything up to and including
    * the `off` relation. Factored (the fitCtes pattern) so each face
    * appends its own final SELECT instead of substring surgery on the
    * other's SQL.
    */
  private def idsChainCtes(vocabSize: Int, nShards: Int): String =
    s"""${fitCtes(vocabSize)},
       |vocab AS MATERIALIZED (
       |  SELECT cont, sub FROM vocab_mc
       |  UNION
       |  SELECT b AS cont, chr(96 + CAST(i AS INT)) AS sub
       |  FROM range(1, 27) t(i), (VALUES (TRUE), (FALSE)) v(b)),
       |vids AS MATERIALIZED (
       |  SELECT cont, sub,
       |    CAST(row_number() OVER (ORDER BY cont, sub) - 1 AS INT) AS id
       |  FROM vocab),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |u AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS INT) AS wpos, t[CAST(i AS INT)] AS w
       |  FROM toks, unnest(range(1, len(t) + 1)) z(i)
       |  WHERE regexp_matches(t[CAST(i AS INT)], '^[a-z]+$$')
       |    AND len(t[CAST(i AS INT)]) >= 2),
       |words AS MATERIALIZED (SELECT DISTINCT w FROM u),
       |best AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos, max(len(v.sub)) AS bl
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN vids v ON v.cont = (z.i > 1)
       |              AND substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |step AS (
       |  SELECT w, 1 AS pos, 0 AS idx FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + CAST(b.bl AS INT), s.idx + 1
       |  FROM step s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos <= len(s.w)),
       |wp AS MATERIALIZED (
       |  SELECT s.w, s.idx, v.id
       |  FROM step s
       |  JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  JOIN vids v ON v.cont = (s.pos > 1)
       |             AND v.sub = substr(s.w, s.pos, CAST(b.bl AS INT))
       |  WHERE s.pos <= len(s.w)),
       |dl AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    list_append(coalesce(e.l, []),
       |      (SELECT CAST(count(*) AS INT) FROM vids)) AS l
       |  FROM documents d LEFT JOIN (
       |    SELECT u.doc_id, list(wp.id ORDER BY u.wpos, wp.idx) AS l
       |    FROM u JOIN wp USING (w) GROUP BY 1) e USING (doc_id)),
       |off AS MATERIALIZED (
       |  SELECT doc_id, doc_id % $nShards AS shard, l,
       |    coalesce(CAST(sum(len(l)) OVER (PARTITION BY doc_id % $nShards
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
       |  FROM dl)""".stripMargin

  /** DuckDB replay of the blocks face: [[idsChainCtes]], then the
    * position explode and the block aggregation with the same
    * md5-of-joined-ids digest. Integer `//` at the block boundary,
    * mirroring the engine's DIV.
    */
  def blocksSql(vocabSize: Int = 256, blockLen: Int = 128,
      nShards: Int = 8): String =
    s"""WITH RECURSIVE ${idsChainCtes(vocabSize, nShards)},
       |stream AS (
       |  SELECT shard * ${1L << 40} + ((off + i - 1) // $blockLen) AS block_id,
       |    (off + i - 1) % $blockLen AS slot, l[CAST(i AS INT)] AS id
       |  FROM off, unnest(range(1, len(l) + 1)) z(i))
       |SELECT block_id, CAST(count(*) AS BIGINT) AS n_ids,
       |  md5(string_agg(id::VARCHAR, ' ' ORDER BY slot)) AS ids_md5
       |FROM stream GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB replay of the provenance face: [[idsChainCtes]] with the
    * final aggregation keyed (block, doc) instead of block.
    */
  def blockProvenanceSql(vocabSize: Int = 256, blockLen: Int = 128,
      nShards: Int = 8): String =
    s"""WITH RECURSIVE ${idsChainCtes(vocabSize, nShards)}
       |SELECT block_id, doc_id, CAST(count(*) AS BIGINT) AS n_ids
       |FROM (SELECT o.doc_id,
       |    shard * ${1L << 40} + ((off + i - 1) // $blockLen) AS block_id
       |  FROM off o, unnest(range(1, len(l) + 1)) z(i))
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB replay of the ids face: the fit chain + id assignment by
    * row_number over (cont, sub); the greedy walk is the same
    * best-match-length recursion as [[encodeSql]] but keeps each
    * visited position WITH its step index, so a word's piece ids
    * replay in order; documents reassemble by (word position, step).
    * Docs with no in-domain words come back via LEFT JOIN with an
    * empty encoding — the engine emits every doc_id unconditionally.
    */
  def idsSql(vocabSize: Int = 256): String =
    s"""WITH RECURSIVE ${fitCtes(vocabSize)},
       |vocab AS MATERIALIZED (
       |  SELECT cont, sub FROM vocab_mc
       |  UNION
       |  SELECT b AS cont, chr(96 + CAST(i AS INT)) AS sub
       |  FROM range(1, 27) t(i), (VALUES (TRUE), (FALSE)) v(b)),
       |vids AS MATERIALIZED (
       |  SELECT cont, sub,
       |    CAST(row_number() OVER (ORDER BY cont, sub) - 1 AS INT) AS id
       |  FROM vocab),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |u AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS INT) AS wpos, t[CAST(i AS INT)] AS w
       |  FROM toks, unnest(range(1, len(t) + 1)) z(i)
       |  WHERE regexp_matches(t[CAST(i AS INT)], '^[a-z]+$$')
       |    AND len(t[CAST(i AS INT)]) >= 2),
       |words AS MATERIALIZED (SELECT DISTINCT w FROM u),
       |best AS MATERIALIZED (
       |  SELECT z.w, z.i AS pos, max(len(v.sub)) AS bl
       |  FROM (SELECT w, CAST(i AS INT) AS i
       |        FROM words, unnest(range(1, len(w) + 1)) t(i)) z
       |  JOIN vids v ON v.cont = (z.i > 1)
       |              AND substr(z.w, z.i, len(v.sub)) = v.sub
       |  GROUP BY 1, 2),
       |step AS (
       |  SELECT w, 1 AS pos, 0 AS idx FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + CAST(b.bl AS INT), s.idx + 1
       |  FROM step s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos <= len(s.w)),
       |wp AS MATERIALIZED (
       |  SELECT s.w, s.idx, v.id
       |  FROM step s
       |  JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  JOIN vids v ON v.cont = (s.pos > 1)
       |             AND v.sub = substr(s.w, s.pos, CAST(b.bl AS INT))
       |  WHERE s.pos <= len(s.w)),
       |enc AS (
       |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_ids,
       |    string_agg(wp.id::VARCHAR, ' ' ORDER BY u.wpos, wp.idx) AS ids_str
       |  FROM u JOIN wp USING (w) GROUP BY 1)
       |SELECT d.doc_id, coalesce(e.n_ids, 0) AS n_ids,
       |  coalesce(e.ids_str, '') AS ids_str
       |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin
}
