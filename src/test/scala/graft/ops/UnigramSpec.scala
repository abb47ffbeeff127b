package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece) tokenizer: the fixed-point log contract,
  * local/distributed tier equality, kernel self-consistency (seg ↔ dp
  * key), per-compound Viterbi cost-optimality vs greedy, EM
  * non-degeneracy, and the encode face's arithmetic invariants.
  */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("log2fp is exact on powers of two and monotone elsewhere") {
    // 2^16 fractional bits: log2fp(2^k) = k << 16 exactly
    (0 to 40).foreach { k =>
      assert(Unigram.log2fp(1L << k) === (k.toLong << 16))
    }
    // monotone (non-strict: truncation can tie near-equal inputs)
    val xs = (1L to 2000L) ++ Seq(Long.MaxValue / 2, Long.MaxValue)
    xs.sliding(2).foreach { case Seq(a, b) =>
      assert(Unigram.log2fp(a) <= Unigram.log2fp(b), s"log2fp($a) > log2fp($b)")
    }
    // truncating floor: within one ulp below the real log
    val real = math.log(12345.0) / math.log(2.0) * 65536.0
    val got = Unigram.log2fp(12345L)
    assert(got <= real && got > real - Unigram.logFracBits - 1)
  }

  test("local and distributed EM tiers produce the identical fit") {
    val local = Unigram.train(spark, sf)
    val dist = Unigram.train(spark, sf, localThreshold = 0)
    assert(local.pieces === dist.pieces)
    assert(local.counts === dist.counts)
    assert(local.pieces.count(_.length >= 2) === Unigram.vocabSize)
    // coverage floor: every domain single char survives the prune
    assert(local.pieces.count(_.length == 1) >= 20)
  }

  test("EM is non-degenerate: the fitted counts move off the seed weights") {
    val f = Unigram.cachedFit(spark, sf)
    // if EM were at a fixed point from round 0, every multi-char piece
    // would keep its raw substring weight; Viterbi attribution instead
    // concentrates counts on the winning pieces and starves the rest —
    // at least one surviving piece must sit at the add-one floor while
    // the max count is well above it
    val multi = f.pieces.zip(f.counts).filter(_._1.length >= 2)
    assert(multi.exists(_._2 == 1L),
      "no starved piece — EM never reassigned usage")
    assert(multi.map(_._2).max > 100L, "no concentrated piece — EM degenerate")
  }

  test("seg kernel is self-consistent with the dp key and cost-optimal vs greedy per compound") {
    val f = Unigram.cachedFit(spark, sf)
    val pb = f.pieces.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val ca = f.costs1024.toArray
    val words = Unigram.compoundCounts(spark, sf)
      .select("w").distinct().as[String].collect()
    assert(words.length > 50)
    words.foreach { w =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(w)
      val key = graft.functions.GraftStrings.unigramDpKey(u, pb, ca)
      assert(key >= 0, s"uncoverable compound '$w'")
      val seg = graft.functions.GraftStrings.unigramSegPieces(u, pb, ca)
      assert(seg != null)
      val idx = (0 until seg.numElements()).map(seg.getInt)
      // the walked pieces tile the word exactly
      assert(idx.map(f.pieces(_)).mkString === w)
      // key = Σcost·1024 + |pieces|
      assert(key === idx.map(ca(_)).sum + idx.length,
        s"dp key mismatch on '$w'")
      // greedy longest-match under the same vocab never beats Viterbi cost
      val greedyCost = {
        var pos = 0; var cost = 0L
        while (pos < w.length) {
          val l = (1 to Unigram.maxPieceLen).filter(l => pos + l <= w.length &&
            f.pieces.contains(w.substring(pos, pos + l))).max
          cost += f.costs(f.pieces.indexOf(w.substring(pos, pos + l)))
          pos += l
        }
        cost
      }
      assert(idx.map(f.costs(_)).sum <= greedyCost, s"Viterbi beaten on '$w'")
    }
  }

  test("uncoverable word yields null, not a crash or a wrong key") {
    val df = Seq("ab").toDF("w").select(
      GraftFunctions.unigramDpKey(col("w"), Seq("a"), Seq(1024L)).as("k"),
      GraftFunctions.unigramSegPieces(col("w"), Seq("a"), Seq(1024L)).as("s"))
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("encode face: pieces bounded by words and chars; bake-off saves cost with Viterbi never losing") {
    val enc = Unigram.encodeStats(spark, sf).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val (words, pieces, chars) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pieces >= words && pieces <= chars)
    }
    val bo = Unigram.bakeoff(spark, sf).collect()
    assert(bo.map(_.getString(0)).toSeq === enc.map(_.getString(0)).toSeq)
    bo.foreach { r =>
      val saved = r.getLong(6)
      assert(saved >= 0L, s"greedy beat Viterbi on ${r.getString(0)}")
    }
    // the face is non-degenerate: somewhere the model-driven split wins
    assert(bo.map(_.getLong(6)).sum > 0L, "bake-off degenerate: greedy ≡ Viterbi")
    // and encode's pieces column agrees with the bake-off's Viterbi column
    val encP = enc.map(r => r.getString(0) -> r.getLong(2)).toMap
    bo.foreach(r => assert(r.getLong(3) === encP(r.getString(0))))
  }
}
