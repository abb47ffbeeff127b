package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al., ACL 2016:
  * "Neural Machine Translation of Rare Words with Subword Units") as a
  * first-class corpus operator, plus the encode face that applies the
  * learned merges back to the corpus.
  *
  * The whole algorithm runs over the WORD-COUNT table, never the
  * running text: one corpus-sized aggregation collapses 100 TB of
  * tokens to the distinct vocabulary (Heaps' law: ~sublinear in corpus
  * size, with map-side combine so the shuffle carries per-partition
  * distinct words), and every merge round after that touches only
  * vocabulary rows. This is the same two-regime shape as the
  * reference-side tokenizer statistics (`LlmOps.bpePairCounts` is
  * exactly round 1's pair table).
  *
  * Merge-round determinism is the load-bearing property: each round
  * picks argmax by (count DESC, left ASC, right ASC) — a total order —
  * and applies the merge leftmost-non-overlapping within each word.
  * Both are replayed bit-identically by the local tier, the
  * distributed tier, and the DuckDB oracle. The string formulations
  * encode a symbol sequence as `|a||b||c|` — every symbol wrapped in
  * its OWN delimiters, none shared — so the literal replace
  * `|a||b|` → `|ab|` consumes exactly the two merged symbols and
  * nothing else: leftmost-non-overlapping string replace is then
  * step-for-step identical to the reference symbol scan, INCLUDING
  * adjacent repeats (`aaaa` merges to `aa aa`, not `aa a a` — a
  * space-separated encoding gets this wrong because the match eats
  * the separator the next pair needs). Symbols are built from [a-z]
  * so `|` can never occur inside one and matches are always
  * boundary-aligned.
  *
  * Tiered like `ConnectedComponents.run`: a vocabulary that fits on
  * the driver (≤ `localThreshold` rows — the common case even for
  * large corpora, and always the case for the sf testdata) is trained
  * with a local loop in microseconds after the ONE corpus pass; the
  * distributed path runs the identical rounds as vocabulary-sized
  * Spark jobs (pair aggregate whose shuffle carries map-side-combined
  * pair partials, a 1-row TakeOrdered argmax, then a map-only
  * `replace`), caching each round's symbol table and unpersisting the
  * previous — the 100 TB-vocabulary story. Pass `localThreshold = 0`
  * to force the distributed path (the spec does, so both tiers stay
  * covered and pinned equal).
  */
object Bpe {

  /** One learned merge: rank is 1-based round number. */
  final case class Merge(rank: Int, a: String, b: String, cnt: Long)

  /** Lowercase-alpha words of length ≥ 2 — the trained domain. The
    * [a-z]-only filter keeps per-character semantics trivially
    * identical across JVM regex / RE2 / DuckDB (no combining marks, no
    * astral planes) so the oracle replays the fit bit-for-bit.
    */
  private[ops] def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** `|a||b||c|` — every symbol wrapped in its own delimiter pair, so
    * the `|a||b|` → `|ab|` literal replace consumes exactly the two
    * merged symbols (see object doc: shared separators break adjacent
    * repeats).
    */
  private def barredChars(w: Column): Column =
    regexp_replace(w, "(.)", "|$1|")

  /** The symbol list back out of the barred encoding. */
  private def barredSyms(seq: Column): Column =
    split(trim(seq, "|"), "\\|\\|")

  /** Train `merges` BPE merge rounds over the corpus vocabulary.
    * Returns (rank INT, a STRING, b STRING, cnt BIGINT) ordered by
    * rank — the merge table a tokenizer would persist. Parameter-sized
    * output (k rows) regardless of corpus size.
    */
  def train(spark: SparkSession, dir: String, merges: Int = 8,
      localThreshold: Int = 1 << 18): DataFrame = {
    val fit = trainMerges(wordCounts(spark, dir), merges, localThreshold)
    import spark.implicits._
    fit.toDF("rank", "a", "b", "cnt")
  }

  /** The fit itself, over an explicit (w, c) word-count relation —
    * the spec's entry point for synthetic vocabularies. Fits are
    * memoized per corpus version by [[cachedFit]], not here.
    */
  def trainMerges(wc: DataFrame, merges: Int,
      localThreshold: Int): Seq[Merge] = {
    if (localThreshold > 0) {
      // take(n+1) answers "does it fit" and "give me the rows" in one
      // execution (same probe shape as ConnectedComponents.run): the
      // ONE corpus-sized pass happens either way; over-threshold the
      // probe cost is bounded by the threshold itself.
      val probe = wc.select(col("w").cast("string"), col("c").cast("long"))
        .take(localThreshold + 1)
      if (probe.length <= localThreshold)
        return trainLocal(probe.map(r => (r.getString(0), r.getLong(1))), merges)
    }
    trainDistributed(wc, merges)
  }

  /** Local tier: the identical argmax/merge rounds on driver arrays.
    * Leftmost-non-overlapping merge via an index scan — the in-memory
    * mirror of the string `replace` the other two formulations use.
    */
  private def trainLocal(words: Array[(String, Long)], merges: Int): Seq[Merge] =
    trainLocalSeqs(
      words.map { case (w, c) => (w.toCharArray.map(_.toString), c) }, merges)

  private def trainLocalSeqs(init: Array[(Array[String], Long)],
      merges: Int): Seq[Merge] = {
    var seqs: Array[(Array[String], Long)] = init
    val out = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val counts = new mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += Merge(r, a, b, cnt)
        val ab = a + b
        seqs = seqs.map { case (s, c) =>
          if (s.length < 2) (s, c)
          else {
            val buf = new mutable.ArrayBuffer[String](s.length)
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
                buf += ab; i += 2 // leftmost match consumes both symbols
              } else { buf += s(i); i += 1 }
            }
            (buf.toArray, c)
          }
        }
        r += 1
      }
    }
    out.result()
  }

  /** Distributed tier: per round ONE vocabulary-sized pair aggregate
    * (map-side combine; the shuffle carries per-partition pair
    * partials, never corpus rows), a 1-row TakeOrdered argmax to the
    * driver, and a map-only literal `replace`. Each round's symbol
    * table is cached and the previous unpersisted, so round r+1 reads
    * round r's materialization instead of replaying the chain.
    */
  private def trainDistributed(wc: DataFrame, merges: Int): Seq[Merge] =
    trainDistributedSeqs(
      wc.select(barredChars(col("w")).as("seq"), col("c").cast("long").as("c")),
      merges)

  private def trainDistributedSeqs(seqs0: DataFrame, merges: Int): Seq[Merge] = {
    var seqs = seqs0.persist(StorageLevel.MEMORY_AND_DISK)
    val out = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val syms = barredSyms(col("seq"))
      val top = seqs
        .select(syms.as("sym"), col("c"))
        .filter(size(col("sym")) >= 2) // sequence(1,0) would DESCEND
        .select(explode(transform(sequence(lit(1), size(col("sym")) - 1),
          i => struct(element_at(col("sym"), i).as("a"),
            element_at(col("sym"), i + 1).as("b")))).as("p"), col("c"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // 1 row: parameter-sized argmax
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += Merge(r, a, b, cnt)
        val next = seqs.select(
          call_function("replace", col("seq"),
            lit(s"|$a||$b|"), lit(s"|$a$b|")).as("seq"), col("c"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent
        seqs.unpersist(blocking = false)
        seqs = next
        r += 1
      }
    }
    seqs.unpersist(blocking = false)
    out.result()
  }

  // memoized like the IVF codebook: the fit is a pure function of
  // (corpus version, merge count), so recomputing it per query
  // (q_bpe_merges AND q_bpe_encode both need it) would redo the corpus
  // pass for an identical k-row answer
  def cachedFit(spark: SparkSession, dir: String, merges: Int): Seq[Merge] =
    StageOnce.memo("bpe_fit", dir, merges)(
      trainMerges(wordCounts(spark, dir), merges, 1 << 18))

  /** The q_bpe_merges face: the trained merge table. */
  def mergesQuery(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import spark.implicits._
    cachedFit(spark, dir, merges).toDF("rank", "a", "b", "cnt")
  }

  // ---------------------------------------------------- byte-level BPE

  /** BYTE-level BPE (the GPT-2 production variant: Radford et al. 2019
    * §2.2 — merges over the UTF-8 BYTE alphabet, so ANY string
    * tokenizes with zero OOV and no charset filter). Where GPT-2 maps
    * bytes through a printable byte-to-unicode table purely for
    * readability, this implementation writes each byte as its 2-digit
    * uppercase hex code — the same bijection role with a property the
    * cross-engine oracle needs: Spark's `hex(encode(w))` and DuckDB's
    * `hex(encode(w))` emit IDENTICAL text, so both engines derive the
    * same initial symbols with no byte-table to keep in sync. The
    * barred `|sym|` machinery then runs unchanged — symbols are
    * [0-9A-F]+ so `|` stays boundary-aligned — and every char-face
    * assumption that breaks on multi-byte text (é is TWO symbols here,
    * an emoji four) is gone by construction; the spec pins the
    * round-trip `unhex(concat(pieces)) == word` on a non-ASCII
    * vocabulary the [a-z] char face cannot even see.
    */
  private[ops] def barredHex(w: Column): Column =
    regexp_replace(hex(encode(w, "UTF-8")), "(..)", "|$1|")

  /** Byte-face training domain: EVERY whitespace token of ≥ 2 bytes —
    * no charset filter (that is the point of byte BPE). Same one
    * corpus-sized, map-side-combined aggregate as [[wordCounts]].
    */
  private[graft] def byteWordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(octet_length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Byte-level fit over an explicit (w, c) relation — same tiering,
    * argmax order, and leftmost-non-overlapping merge as
    * [[trainMerges]]; only the initial symbolization differs.
    */
  def trainMergesBytes(wc: DataFrame, merges: Int,
      localThreshold: Int): Seq[Merge] = {
    if (localThreshold > 0) {
      val probe = wc.select(col("w").cast("string"), col("c").cast("long"))
        .take(localThreshold + 1)
      if (probe.length <= localThreshold)
        return trainLocalSeqs(probe.map { r =>
          (r.getString(0).getBytes("UTF-8").map(b => f"${b & 0xff}%02X"),
            r.getLong(1))
        }, merges)
    }
    trainDistributedSeqs(
      wc.select(barredHex(col("w")).as("seq"), col("c").cast("long").as("c")),
      merges)
  }

  def cachedFitBytes(spark: SparkSession, dir: String, merges: Int): Seq[Merge] =
    StageOnce.memo("bpe_bytes_fit", dir, merges)(
      trainMergesBytes(byteWordCounts(spark, dir), merges, 1 << 18))

  /** The q_bpe_bytes face: the trained byte-level merge table —
    * (rank, a, b, cnt) with a/b hex-coded byte sequences.
    */
  def bytesQuery(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    import spark.implicits._
    cachedFitBytes(spark, dir, merges).toDF("rank", "a", "b", "cnt")
  }

  /** Byte-level ENCODE face: the trained byte merges applied back to
    * the corpus, per-source tokenizer load — word occurrences,
    * post-BPE piece count, BYTE count, and bytes-per-piece (the
    * compression the byte merges bought — directly comparable to the
    * char face's chars-per-piece since on ASCII text bytes == chars).
    * Same ONE-exchange shape as [[encodeStats]]: a (source, word)
    * map-side-combined aggregate over the FULL ≥ 2-byte token domain
    * (no charset filter — byte BPE's zero-OOV property is the point),
    * k plan-literal replaces applied map-side, a parameter-sized
    * per-source rollup.
    */
  def encodeStatsBytes(spark: SparkSession, dir: String,
      merges: Int = 8): DataFrame = {
    val fit = cachedFitBytes(spark, dir, merges)
    val swc = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(octet_length(col("w")) >= 2)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val seqK = fit.foldLeft(barredHex(col("w"))) { (seq, m) =>
      call_function("replace", seq, lit(s"|${m.a}||${m.b}|"), lit(s"|${m.a}${m.b}|"))
    }
    swc
      .select(col("source"), col("n"),
        octet_length(col("w")).cast("long").as("bytes"),
        size(barredSyms(seqK)).cast("long").as("pieces"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pieces")).as("pieces"),
        sum(col("n") * col("bytes")).as("bytes"))
      .select(col("source"), col("words"), col("pieces"), col("bytes"),
        round(col("bytes").cast("double") / col("pieces").cast("double"), 6)
          .as("bpp"))
      .orderBy(col("source"))
  }

  /** Encode face: apply the trained merges to the corpus and report
    * per-source tokenizer load — word occurrences, post-BPE piece
    * count, character count, and chars-per-piece (the compression the
    * merges bought). ONE exchange at any scale: the (source, word)
    * aggregate (map-side combined, Heaps-sublinear output) — the k
    * merge replaces are plan-time literal expressions applied
    * map-side to the distinct rows, and pieces ride the final
    * parameter-sized per-source rollup. No join: broadcasting a
    * vocab→pieces table would cap the vocabulary at broadcast size for
    * no exchange saving.
    */
  def encodeStats(spark: SparkSession, dir: String, merges: Int = 8): DataFrame = {
    val fit = cachedFit(spark, dir, merges)
    val swc = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val seqK = fit.foldLeft(barredChars(col("w"))) { (seq, m) =>
      call_function("replace", seq, lit(s"|${m.a}||${m.b}|"), lit(s"|${m.a}${m.b}|"))
    }
    swc
      .select(col("source"), col("n"),
        length(col("w")).cast("long").as("chars"),
        size(barredSyms(seqK)).cast("long").as("pieces"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pieces")).as("pieces"),
        sum(col("n") * col("chars")).as("chars"))
      .select(col("source"), col("words"), col("pieces"), col("chars"),
        round(col("chars").cast("double") / col("pieces").cast("double"), 6)
          .as("cpp"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------ oracles

  private def roundCtes(r: Int, prev: String): String =
    s"""p$r AS MATERIALIZED (
       |  SELECT sym[i] AS a, sym[i+1] AS b, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(trim(seq, '|'), '||') AS sym, c FROM $prev) z,
       |       unnest([x for x in range(1, len(sym))]) t(i)
       |  GROUP BY 1, 2),
       |m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |s$r AS MATERIALIZED (
       |  SELECT w, replace(seq, '|'||m.a||'||'||m.b||'|', '|'||m.a||m.b||'|') AS seq, c
       |  FROM $prev, m$r m)""".stripMargin

  private val charHeadCtes: String =
    """wc AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
      |  GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT w, regexp_replace(w, '(.)', '|\1|', 'g') AS seq, c FROM wc)""".stripMargin

  /** Byte-face head: every ≥ 2-byte token, symbolized as hex byte
    * codes — hex(encode(w)) is textually identical in both engines.
    */
  private val byteHeadCtes: String =
    """wc AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
      |  WHERE octet_length(encode(w)) >= 2
      |  GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT w, regexp_replace(hex(encode(w)), '(..)', '|\1|', 'g') AS seq, c
      |  FROM wc)""".stripMargin

  private def trainingCtes(merges: Int, head: String = charHeadCtes): String =
    (head +: (1 to merges).map(r => roundCtes(r, s"s${r - 1}"))).mkString(",\n")

  /** DuckDB replay of the fit: the unrolled k-round argmax/merge
    * chain. `AS MATERIALIZED` is load-bearing — each round references
    * its predecessor 2-3×, and DuckDB's default CTE inlining would
    * re-evaluate the chain multiplicatively.
    */
  def mergesSql(merges: Int = 8): String = {
    val union = (1 to merges)
      .map(r => s"SELECT CAST($r AS INT) AS rank, a, b, cnt FROM m$r")
      .mkString("\nUNION ALL ")
    s"WITH ${trainingCtes(merges)}\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** DuckDB replay of the byte-level fit: the identical unrolled
    * round chain over the hex-byte head.
    */
  def mergesBytesSql(merges: Int = 8): String = {
    val union = (1 to merges)
      .map(r => s"SELECT CAST($r AS INT) AS rank, a, b, cnt FROM m$r")
      .mkString("\nUNION ALL ")
    s"WITH ${trainingCtes(merges, byteHeadCtes)}\n" +
      s"SELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** DuckDB replay of the encode: the shared training chain, then the
    * same k replaces applied to the (source, word) aggregate. Each
    * round LEFT JOINs its single-row merge CTE and COALESCEs back to
    * the unchanged seq — a plain cross join would empty the whole
    * e-chain (and the oracle) if the vocabulary exhausted its pairs
    * before `merges` rounds, while the Spark side (a fold over the
    * ≤ merges fitted rules) would still return per-source stats.
    */
  def encodeSql(merges: Int = 8): String = {
    val enc = (1 to merges).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT source, n, chars,
         |    COALESCE(replace(seq, '|'||m.a||'||'||m.b||'|', '|'||m.a||m.b||'|'),
         |             seq) AS seq
         |  FROM e${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${trainingCtes(merges)},
       |swc AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2
       |  GROUP BY 1, 2),
       |e0 AS (SELECT source, n, CAST(len(w) AS BIGINT) AS chars,
       |       regexp_replace(w, '(.)', '|\\1|', 'g') AS seq FROM swc),
       |$enc
       |SELECT source, CAST(sum(n) AS BIGINT) AS words,
       |  CAST(sum(n * len(string_split(trim(seq, '|'), '||'))) AS BIGINT) AS pieces,
       |  CAST(sum(n * chars) AS BIGINT) AS chars,
       |  round(CAST(sum(n * chars) AS DOUBLE) /
       |        CAST(sum(n * len(string_split(trim(seq, '|'), '||'))) AS DOUBLE), 6) AS cpp
       |FROM e$merges GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of the byte-level encode: the byte training chain,
    * then the same k replaces over the (source, word) aggregate of the
    * full ≥ 2-byte token domain, with the hex-barred initial
    * symbolization and byte counts.
    */
  def encodeBytesSql(merges: Int = 8): String = {
    val enc = (1 to merges).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT source, n, bytes,
         |    COALESCE(replace(seq, '|'||m.a||'||'||m.b||'|', '|'||m.a||m.b||'|'),
         |             seq) AS seq
         |  FROM e${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${trainingCtes(merges, byteHeadCtes)},
       |swc AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE octet_length(encode(w)) >= 2
       |  GROUP BY 1, 2),
       |e0 AS (SELECT source, n,
       |       CAST(octet_length(encode(w)) AS BIGINT) AS bytes,
       |       regexp_replace(hex(encode(w)), '(..)', '|\\1|', 'g') AS seq
       |       FROM swc),
       |$enc
       |SELECT source, CAST(sum(n) AS BIGINT) AS words,
       |  CAST(sum(n * len(string_split(trim(seq, '|'), '||'))) AS BIGINT) AS pieces,
       |  CAST(sum(n * bytes) AS BIGINT) AS bytes,
       |  round(CAST(sum(n * bytes) AS DOUBLE) /
       |        CAST(sum(n * len(string_split(trim(seq, '|'), '||'))) AS DOUBLE), 6) AS bpp
       |FROM e$merges GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
