package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

/** WordPiece: the greedy longest-match kernel against a driver-side
  * reimplementation and hand examples, candidate-weight semantics, and
  * the encode face's invariants (coverage, bounds, compression vs a
  * chars-only vocabulary).
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side greedy reference: same rule, plain Scala strings. */
  private def greedyPieces(w: String, plain: Set[String],
      cont: Set[String]): Int = {
    var pos = 0
    var n = 0
    while (pos < w.length) {
      val vocab = if (pos == 0) plain else cont
      val best = (1 to (w.length - pos))
        .filter(l => vocab.contains(w.substring(pos, pos + l)))
        .sorted.lastOption.getOrElse(return -1)
      pos += best
      n += 1
    }
    n
  }

  private def kernel(w: String, plain: Seq[String], cont: Seq[String]): Any = {
    val rows = Seq(w).toDF("w")
      .select(GraftFunctions.wordpiecePieces(col("w"), plain, cont))
      .collect()
    if (rows.head.isNullAt(0)) null else rows.head.getInt(0)
  }

  test("BERT hand example: unaffable -> un ##aff ##able") {
    val plain = Seq("un", "a", "u", "n", "f", "b", "l", "e")
    val cont = Seq("aff", "able", "a", "u", "n", "f", "b", "l", "e")
    assert(kernel("unaffable", plain, cont) == 3)
  }

  test("longest match wins over an earlier shorter match") {
    // plain has both "a" and "ab"; greedy must take "ab" then "##cd",
    // not "a" + 3 singles
    val plain = Seq("a", "ab")
    val cont = Seq("cd", "a", "b", "c", "d")
    assert(kernel("abcd", plain, cont) == 2)
  }

  test("adjacent repeats: aaaa under {aa, ##aa} is 2 pieces, not 3") {
    assert(kernel("aaaa", Seq("aa", "a"), Seq("aa", "a")) == 2)
  }

  test("uncoverable word returns NULL, not a wrong count") {
    assert(kernel("axe", Seq("a"), Seq("x")) == null) // no 'e' continuation
  }

  test("kernel equals the driver-side greedy on the real fitted vocabulary") {
    val pieces = WordPiece.fit(spark, sf, 256)
    val singles = ('a' to 'z').map(_.toString)
    val plain = (pieces.filter(!_.cont).map(_.sub) ++ singles).distinct
    val cont = (pieces.filter(_.cont).map(_.sub) ++ singles).distinct
    val words = Bpe.wordCounts(spark, sf).select("w").limit(500)
      .collect().map(_.getString(0))
    val got = words.toSeq.toDF("w")
      .select(col("w"), GraftFunctions.wordpiecePieces(col("w"), plain, cont))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    words.foreach { w =>
      val want = greedyPieces(w, plain.toSet, cont.toSet)
      assert(got(w) == want, s"word '$w': kernel ${got(w)} vs reference $want")
    }
  }

  test("candidate weights: every substring occurrence position counts once") {
    // "banana": cont candidate "an" occurs at starts 2 and 4 -> weight
    // 2·c; plain "ban" once -> c. Check through the public fit on a
    // corpus narrow enough to enumerate.
    val dir = java.nio.file.Files.createTempDirectory("wp_spec").toString
    // full driver documents shape: Tables.load asserts it
    Seq((1L, "banana banana", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fit = WordPiece.fit(spark, dir, 1000)
    val byPiece = fit.map(p => p.display -> p.weight).toMap
    assert(byPiece("##an") == 4L, s"##an at starts 2,4 x 2 docs: $byPiece")
    assert(byPiece("ban") == 2L)
    assert(byPiece("##anana") == 2L) // maxPieceLen 8 admits it
    assert(!byPiece.contains("an")) // interior substring is never plain
  }

  test("encode face: coverage is total and bounds hold per source") {
    val stats = WordPiece.encodeStats(spark, sf).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (words, pieces, chars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pieces >= words, s"a word is >= 1 piece: $r")
      assert(pieces <= chars, s"a piece is >= 1 char: $r")
    }
    // no NULL pieces ever reached the rollup: sums would go NULL
    assert(stats.forall(!_.isNullAt(2)))
  }

  test("ids face: decoding the ids reproduces the in-domain token stream verbatim") {
    val withIds = WordPiece.vocabWithIds(spark, sf, 256)
    val byId = withIds.map { case (c, s, i) => i -> (c, s) }.toMap
    val rows = WordPiece.idsQuery(spark, sf).limit(300).collect()
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (docId, nIds, idsStr) = (r.getLong(0), r.getLong(1), r.getString(2))
      val ids = if (idsStr.isEmpty) Array.empty[Int]
        else idsStr.split(" ").map(_.toInt)
      assert(ids.length == nIds)
      // splice: word-start pieces open a new word, continuations append
      val words = Seq.newBuilder[String]
      val cur = new StringBuilder
      ids.foreach { id =>
        val (c, s) = byId(id)
        if (!c) { if (cur.nonEmpty) words += cur.toString; cur.clear() }
        cur ++= s
      }
      if (cur.nonEmpty) words += cur.toString
      val expected = docs(docId).trim.split("\\s+", -1)
        .filter(w => w.matches("^[a-z]+$") && w.length >= 2).toSeq
      assert(words.result() == expected,
        s"doc $docId: decoded ${words.result().take(5)}… != ${expected.take(5)}…")
    }
  }

  test("ids face: wordpiece ids per word agree with the piece COUNT kernel") {
    val withIds = WordPiece.vocabWithIds(spark, sf, 256)
    val plain = withIds.filter(!_._1).map(_._2)
    val cont = withIds.filter(_._1).map(_._2)
    val words = Bpe.wordCounts(spark, sf).select("w").limit(300)
      .collect().map(_.getString(0)).toSeq
    val got = words.toDF("w").select(
      graft.functions.GraftFunctions.wordpiecePieces(col("w"), plain, cont),
      graft.functions.GraftFunctions.wordpieceIds(col("w"), withIds))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getSeq[Int](1).length,
        s"piece count != |ids| for some word: $r")
    }
  }

  test("property: kernel ≡ driver greedy on 20 seeded random (word, vocab) samples") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abcd" // small alphabet makes matches dense
    (1 to 20).foreach { i =>
      val word = Seq.fill(2 + rnd.nextInt(14))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      def randPieces(n: Int) = (1 to n).map { _ =>
        Seq.fill(2 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val singles = alphabet.map(_.toString)
      val plain = (randPieces(6) ++ singles).distinct
      val cont = (randPieces(6) ++ singles).distinct
      val got = kernel(word, plain, cont)
      val want = greedyPieces(word, plain.toSet, cont.toSet)
      assert(got == want, s"sample $i: word '$word' plain=$plain cont=$cont")
      // and ids agree with the count under a deterministic id map
      val withIds = (plain.map((false, _)) ++ cont.map((true, _)))
        .sortBy(e => (e._1, e._2)).zipWithIndex
        .map { case ((c, s), id) => (c, s, id) }
      val ids = Seq(word).toDF("w")
        .select(GraftFunctions.wordpieceIds(col("w"), withIds))
        .collect().head.getSeq[Int](0)
      assert(ids.length == want, s"sample $i: |ids| ${ids.length} != count $want")
      // decode: splice the pieces back into the word
      val byId = withIds.map { case (c, s, id) => id -> s }.toMap
      assert(ids.map(byId).mkString == word, s"sample $i: decode mismatch")
    }
  }

  /** Driver-side EXHAUSTIVE minimum-segmentation reference: enumerate
    * every segmentation recursively (words in specs are short). -1
    * when uncoverable.
    */
  private def bruteMinPieces(w: String, plain: Set[String],
      cont: Set[String]): Int = {
    def go(pos: Int): Int = {
      if (pos == w.length) return 0
      val vocab = if (pos == 0) plain else cont
      val opts = (1 to (w.length - pos))
        .filter(l => vocab.contains(w.substring(pos, pos + l)))
        .map(l => go(pos + l)).filter(_ >= 0)
      if (opts.isEmpty) -1 else 1 + opts.min
    }
    go(0)
  }

  private def minKernel(w: String, plain: Seq[String], cont: Seq[String]): Any = {
    val rows = Seq(w).toDF("w")
      .select(GraftFunctions.minPieces(col("w"), plain, cont))
      .collect()
    if (rows.head.isNullAt(0)) null else rows.head.getInt(0)
  }

  test("minPieces: pinned diverging example — greedy strands, DP routes") {
    // on "abcd": greedy takes the longest plain prefix "ab" and is left
    // with singles (ab|##c|##d = 3); the DP sacrifices the first match
    // to reach the long continuation (a|##bcd = 2)
    val plain = Seq("ab", "a")
    val cont = Seq("bcd", "b", "c", "d")
    assert(kernel("abcd", plain, cont) == 3, "greedy takes ab then singles")
    assert(minKernel("abcd", plain, cont) == 2, "DP routes a|bcd")
  }

  test("minPieces: uncoverable word returns NULL like the greedy kernel") {
    assert(minKernel("axe", Seq("a"), Seq("x")) == null)
  }

  test("property: minPieces ≡ exhaustive enumeration and ≤ greedy on 40 seeded samples") {
    val rnd = new scala.util.Random(20260816L)
    val alphabet = "abcd"
    (1 to 40).foreach { i =>
      val word = Seq.fill(2 + rnd.nextInt(10))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      def randPieces(n: Int) = (1 to n).map { _ =>
        Seq.fill(2 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      // deliberately NO singles in half the samples: uncoverable words
      // must agree (both NULL / -1) too
      val withSingles = i % 2 == 0
      val singles = if (withSingles) alphabet.map(_.toString) else Seq.empty
      val plain = (randPieces(5) ++ singles).distinct
      val cont = (randPieces(5) ++ singles).distinct
      val want = bruteMinPieces(word, plain.toSet, cont.toSet)
      val got = minKernel(word, plain, cont)
      assert(got == (if (want < 0) null else want),
        s"sample $i: word '$word' plain=$plain cont=$cont: $got vs $want")
      val g = greedyPieces(word, plain.toSet, cont.toSet)
      if (want >= 0 && g >= 0)
        assert(want <= g, s"sample $i: DP $want must be <= greedy $g")
    }
  }

  test("bake-off face: per-source invariants and real divergence on this corpus") {
    val stats = WordPiece.minEncodeStats(spark, sf).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (words, chars) = (r.getLong(1), r.getLong(2))
      val (pg, pm, saved) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(pm <= pg, s"optimal can never need more pieces: $r")
      assert(saved == pg - pm, s"saved is the exact difference: $r")
      assert(pm >= words && pm <= chars, s"per-compound bounds: $r")
    }
    // the sparse long-piece inventory makes greedy genuinely suboptimal
    // on this corpus — the face is not a constant-zero column
    assert(stats.map(_.getLong(5)).sum > 0,
      "expected greedy to waste tokens under the non-factor-closed inventory")
  }

  test("token blocks: id conservation, block sizing, and shard-bounded partials") {
    val blocks = WordPiece.blocksQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(blocks.nonEmpty)
    // conservation: every subword id plus one EOD per document lands in
    // exactly one block — nothing dropped, nothing duplicated
    val idsTotal = WordPiece.idsQuery(spark, sf).agg(
      org.apache.spark.sql.functions.sum(col("n_ids"))).collect()(0).getLong(0)
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    assert(blocks.map(_._2).sum == idsTotal + nDocs,
      s"block ids ${blocks.map(_._2).sum} != corpus ids $idsTotal + $nDocs EODs")
    // sizing: every block is exactly blockLen except at most one
    // partial per shard (the stream tail)
    val partials = blocks.filter(_._2 != 128L)
    assert(partials.length <= 8, s"${partials.length} partial blocks > nShards")
    val byShard = partials.groupBy(_._1 >> 40)
    byShard.foreach { case (shard, ps) =>
      assert(ps.length == 1, s"shard $shard has ${ps.length} partial blocks")
    }
    // within a shard, the partial is the LAST block
    byShard.foreach { case (shard, ps) =>
      val shardBlocks = blocks.filter(b => (b._1 >> 40) == shard)
      assert(ps.head._1 == shardBlocks.map(_._1).max,
        s"shard $shard partial block is not the tail")
    }
    // digests are well-formed and unique-per-content is plausible
    assert(blocks.forall(_._3.matches("[0-9a-f]{32}")))
  }

  test("block provenance: both marginals reproduce the sibling faces exactly") {
    val prov = WordPiece.blockProvenance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(prov.nonEmpty)
    // per-block marginal == the blocks face's n_ids
    val blocks = WordPiece.blocksQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    prov.groupBy(_._1).foreach { case (blk, rows) =>
      assert(rows.map(_._3).sum == blocks(blk),
        s"block $blk: provenance ${rows.map(_._3).sum} != blocks face ${blocks(blk)}")
    }
    // per-doc marginal == the ids face's count + its EOD
    val ids = WordPiece.idsQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    prov.groupBy(_._2).foreach { case (doc, rows) =>
      assert(rows.map(_._3).sum == ids(doc) + 1,
        s"doc $doc: provenance ${rows.map(_._3).sum} != ids ${ids(doc)} + EOD")
    }
    // packing genuinely splits: some doc spans more than one block
    assert(prov.groupBy(_._2).values.exists(_.size > 1),
      "no document spans a block boundary — packing semantics broken")
  }

  test("block decontam: the rebuild list is exactly provenance ∩ flags") {
    val flagged = graft.queries.LlmOps.decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "the decontamination face flags nothing — gate dead")
    val prov = WordPiece.blockProvenance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = prov.filter(p => flagged(p._2)).groupBy(_._1)
      .map { case (b, rs) => (b, rs.size.toLong, rs.map(_._3).sum) }
      .toSeq.sortBy(_._1)
    val got = WordPiece.blockDecontam(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"rebuild list: got $got, want $want")
  }

  test("the fitted vocabulary compresses strictly better than chars alone") {
    val singles = ('a' to 'z').map(_.toString)
    val words = Bpe.wordCounts(spark, sf).limit(500).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val pieces = WordPiece.fit(spark, sf, 256)
    val plain = (pieces.filter(!_.cont).map(_.sub) ++ singles).distinct.toSet
    val cont = (pieces.filter(_.cont).map(_.sub) ++ singles).distinct.toSet
    val fitted = words.map { case (w, c) => c * greedyPieces(w, plain, cont) }.sum
    val bare = words.map { case (w, c) => c * w.length }.sum // chars-only: 1 piece/char
    assert(fitted < bare,
      s"256 learned pieces must beat the chars-only segmentation: $fitted vs $bare")
  }
}
