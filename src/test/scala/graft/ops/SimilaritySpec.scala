package graft.ops

import graft.SparkSpec
import graft.queries.LlmOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of known vectors") {
    val got = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 2.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK: self is rank 1 with cos 1.0, k rows returned") {
    val q = LlmOps.queryVector(spark, sf)
    val top = Similarity.bruteForceTopK(
      graft.Tables.load(spark, sf, "embeddings"),
      col("vec_id"), col("embedding"), q, k = 5).collect()
    assert(top.length === 5)
    assert(top(0).getLong(0) === 0L)
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-9)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("lshBucket: identical vectors share a bucket") {
    val planes = Similarity.hyperplanes(8, 4)
    val got = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0)), (2L, Seq(1.0, 2.0, 3.0, 4.0)),
      (3L, Seq(-1.0, -2.0, -3.0, -4.0)))
      .toDF("vec_id", "e")
      .select(col("vec_id"), Similarity.lshBucket(col("e"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === got(2L))
    assert(got(1L) !== got(3L)) // antipodal vectors flip every sign bit
  }

  test("ivf: assignment picks the nearest centroid; search finds the query itself") {
    val centroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val corpus = Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.1, 0.9))).toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(corpus, col("vec_id"), col("embedding"), centroids)
    val byId = assigned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(byId(10L) === 0 && byId(11L) === 1)
    val hits = Similarity.ivfSearch(assigned, centroids, Seq(0.9, 0.1), k = 1, nProbe = 1)
      .collect()
    assert(hits(0).getLong(0) === 10L)
  }

  test("ivf index on disk: probe-limited search is a partition-pruned scan") {
    val centroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0), 2 -> Seq(-1.0, 0.0))
    val corpus = Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.1, 0.9)),
      (12L, Seq(-0.9, 0.05))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    Similarity.ivfWriteIndex(
      Similarity.ivfAssign(corpus, col("vec_id"), col("embedding"), centroids), path)

    val hits = Similarity.ivfSearchIndexed(spark, path, centroids,
      queryVec = Seq(0.9, 0.1), k = 2, nProbe = 1)
    // the centroid probe reaches the scan as a PARTITION filter (pruned
    // before any file is opened), not a post-scan predicate
    val plan = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters.*centroid.*"), plan)
    assert(hits.collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("ivf search recall@10 vs brute force is usable on real embeddings") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val q = emb.filter(col("vec_id") === 17)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect()(0).getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 10)
      .collect().map(_.getLong(0)).toSet
    val assigned = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), centroids)
    val approx = Similarity.ivfSearch(assigned, centroids, q, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall")
    // more probes can only improve recall (monotone in nProbe)
    val all = Similarity.ivfSearch(assigned, centroids, q, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(all == exact, "probing every list IS brute force")
  }

  test("banded sign-LSH: bucket occupancy bounded, banding only adds recall") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = emb.count()
    val (bands, p) = (LlmOps.lshBands, LlmOps.lshPlanesPerBand)
    val planes = Similarity.hyperplanes(bands * p, 64)
    // per-band occupancy: ≈ n/2^p expected for isotropic data; assert no
    // bucket degenerates toward the quadratic-join regime
    val occ = emb.select(col("vec_id"),
        posexplode(array((0 until bands).map { b =>
          Similarity.lshBucket(col("embedding").cast(ArrayType(DoubleType)),
            planes.slice(b * p, (b + 1) * p))
        }: _*)).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").count()
    val maxOcc = occ.agg(max("count")).collect()(0).getLong(0)
    val expected = n.toDouble / (1 << p)
    assert(maxOcc <= math.max(8 * expected, 32),
      s"max bucket occupancy $maxOcc vs expected ~$expected")

    // OR over bands can only ADD candidate pairs vs any single band:
    // the banded pair set must contain the pairs found by band 0 alone
    val banded = Similarity.cosineNearDupPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.2, bands = bands, planesPerBand = p)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.cosineNearDupPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.2, bands = 1, planesPerBand = p)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(banded), "banding lost a band-0 pair")
    assert(banded.size >= single.size)
  }

  test("kmeansFit is deterministic and trained centroids hit recall@10 >= 0.9") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // sf0.01: the fit needs enough vectors per cluster to move the
    // centroids off their seeds; sf0.001 has too few
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val fit = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), seeds, iters = 3)
    val fit2 = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), seeds, iters = 3)
    assert(fit === fit2, "fit must be deterministic")
    assert(fit.map(_._1) === fit.map(_._1).sorted)
    assert(fit.forall(_._2.length == 64))

    val assigned = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), fit)
      .persist()
    val recalls = Seq(0L, 17L, 101L, 263L, 444L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").cast(ArrayType(DoubleType)))
        .collect()(0).getSeq[Double](0)
      val exact = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 10)
        .collect().map(_.getLong(0)).toSet
      Seq(2, 6).map { nProbe =>
        val approx = Similarity.ivfSearch(assigned, fit, q, 10, nProbe = nProbe)
          .collect().map(_.getLong(0)).toSet
        (exact intersect approx).size / 10.0
      }
    }
    assigned.unpersist()
    val meanAt = recalls.transpose.map(rs => rs.sum / rs.size)
    println(s"kmeansFit recall@10: nProbe=2 -> ${meanAt(0)}, nProbe=6 -> ${meanAt(1)}")
    // The synthetic embeddings are ISOTROPIC (near-uniform on the
    // sphere), the hardest case for a coarse quantizer: true neighbours
    // scatter across lists, so high recall needs a high probe fraction
    // (6 of 8 lists here). On real, clustered embedding distributions
    // the same index reaches 0.9 at far lower nProbe — the gate pins
    // the worst case.
    assert(meanAt(1) >= 0.9,
      s"mean recall@10 at nProbe=6 over ${recalls.size} queries = ${meanAt(1)}")
    assert(meanAt(1) >= meanAt(0), "recall is monotone in nProbe")
  }

  test("fittedCentroids: a corpus rewritten in place is refit, not served the old fit") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val dir = java.nio.file.Files.createTempDirectory("ivf_refit").toString
    val path = s"$dir/embeddings.parquet"
    def write(seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      (0L until 64L).map(i => (i, Seq.fill(4)(rnd.nextGaussian().toFloat), 0L))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    def freshFit(): Seq[(Int, Seq[Double])] = {
      val emb = spark.read.parquet(path)
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq.sortBy(_._1)
      Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), seeds,
        LlmOps.ivfFitIters)
    }
    write(1L)
    val first = LlmOps.fittedCentroids(spark, dir)
    assert(first === freshFit())
    write(2L)
    val second = LlmOps.fittedCentroids(spark, dir)
    assert(second !== first, "the two generations must fit differently")
    assert(second === freshFit(), "stale centroids served for a rewritten corpus")
  }

  test("multi-probe budget: prefix-nested probe sets, recall monotone in budget, exact at budget=N") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val centroids = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")
          .cast("array<double>")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).sortBy(_._1).toSeq,
      iters = 3)
    val assigned = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
      centroids)
    val sizes = assigned.groupBy(col("centroid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val budgets = Seq(32L, 8L, 2L, 1L).map(d => (total + d - 1) / d)
    val sets = budgets.map(b =>
      Similarity.probeCidsBudget(centroids, sizes, qv, b))
    // margin-ranked PREFIX property: each budget's probe list is a
    // prefix of the next larger budget's
    sets.sliding(2).foreach { case Seq(small, large) =>
      assert(large.take(small.length) === small,
        s"probe sets are not prefix-nested: $small vs $large")
    }
    assert(sets.last.toSet === centroids.map(_._1).toSet,
      "budget = N must probe every list")
    // recall curve via the registered face: monotone per query, exact
    // at the full budget, and strictly below 1 somewhere at the
    // smallest budget (so the knob genuinely trades recall for scans)
    val rows = LlmOps.embedRecallBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val byQuery = rows.groupBy(_._2).values
    byQuery.foreach { qRows =>
      val curve = qRows.sortBy(_._1).map(_._3)
      assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
        s"recall not monotone in budget: ${curve.toSeq}")
      assert(curve.last === 1.0, "full budget must equal brute force")
    }
    val smallest = rows.filter(_._1 == rows.map(_._1).min).map(_._3)
    assert(smallest.exists(_ < 1.0),
      "smallest budget already at recall 1 — the ladder exercises nothing")
  }

  test("kmeansStep: centroid means land between member min/max per dimension") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val stepped = Similarity.kmeansStep(emb, col("vec_id"), col("embedding"), centroids)
    // 4 clusters × 64 dims, every dimension present exactly once
    assert(stepped.count() == 4 * 64)
    assert(stepped.groupBy("centroid", "pos").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("hyperplanes are deterministic for a fixed seed") {
    assert(Similarity.hyperplanes(2, 3).flatten.toSeq ===
      Similarity.hyperplanes(2, 3).flatten.toSeq)
  }

  test("ivf-pq: probe prunes the corpus; surviving scores equal the unpruned ADC") {
    val full = LlmOps.embedPqTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = LlmOps.embedIvfPq(spark, sf).collect()
    assert(got.length == 10)
    // the query lives in its own nearest list, so it survives the probe;
    // its ADC self-distance is the per-subspace quantization error of
    // the trained codebook (0 only when it IS a codeword)
    assert(got.exists(_.getLong(0) == 0L))
    // ADC distances are the SAME function — any vec also in the
    // unpruned top-10 must carry an identical distance
    got.foreach { r =>
      full.get(r.getLong(0)).foreach(d => assert(d == r.getLong(1)))
    }
    val dists = got.map(_.getLong(1))
    assert(dists.sameElements(dists.sorted))
  }

  test("pq: seed vectors encode to their own codeword; ADC self-distance 0") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val cb = Similarity.pqSeedCodebook(emb, col("vec_id"), col("embedding"))
    assert(cb.length == 8 && cb(0).length == 16 && cb(0)(0).length == 8)
    val enc = Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cb)
    // every seed vector IS codeword k in every subspace (distance 0, no
    // closer codeword can beat the k-tie-break unless exactly equal)
    val seeds = enc.filter(col("vec_id") < 16).collect()
    seeds.foreach { r =>
      val id = r.getLong(0).toInt
      val codes = r.getSeq[Int](1)
      (0 until 8).foreach { ms =>
        val code = codes(ms)
        val d = (0 until 8).map { j =>
          val e = cb(ms)(id)(j) - cb(ms)(code)(j); e * e
        }.sum
        assert(d == 0L, s"vec $id subspace $ms coded $code at dist $d")
      }
    }
    // the registered face trains the codebook, so vec 0's self-distance
    // is its (small) quantization error, and the list stays sorted
    val top = LlmOps.embedPqTopK(spark, sf).collect()
    assert(top.length == 10)
    assert(top.exists(_.getLong(0) == 0L))
    val dists = top.map(_.getLong(1))
    assert(dists.sameElements(dists.sorted))
  }

  test("PQ re-rank: exact re-ranking of the ADC top-100 repairs recall") {
    val sf01 = "/root/testdata/sf0.01"
    val brute = LlmOps.embedTopK(spark, sf01).collect().map(_.getLong(0)).toSet
    val pq = LlmOps.embedPqTopK(spark, sf01).collect().map(_.getLong(0)).toSet
    val rr = LlmOps.embedPqRerank(spark, sf01).collect().map(_.getLong(0)).toSet
    val rPq = (brute intersect pq).size
    val rRr = (brute intersect rr).size
    // the ADC top-10 ORDERING is quantization-noisy (measured 2/10 on
    // this corpus) but the top-100 candidate SET contains the true
    // neighbors — exact re-rank recovers them (measured 10/10)
    assert(rRr > rPq, s"re-rank recall $rRr not above PQ-alone $rPq")
    assert(rRr >= 8, s"re-rank recall@10 = $rRr — candidate set lost true neighbors")
  }

  test("recall eval: probing every list recovers ground truth exactly") {
    // with nProbe = |centroids| the ANN candidate set IS the corpus, so
    // recall@10 must read 1.0 for every panel query — the
    // self-consistency gate on the whole eval plumbing (panel, probe
    // rule, sentinel filter, intersection)
    val all = LlmOps.embedRecallEval(spark, sf, k = 10, nProbe = 8).collect()
    assert(all.length > 0)
    all.foreach { r =>
      assert(r.getDouble(2) == 1.0, s"full-probe recall must be 1.0: $r")
      assert(r.getLong(1) == 10L, s"full-probe n_hit must be k: $r")
    }
  }

  test("recall eval: per-query n_hit is monotone in nProbe") {
    // probing more lists only ADDS candidates: each query's ANN top-k
    // can only improve toward ground truth
    def hits(p: Int) = LlmOps.embedRecallEval(spark, sf, k = 10, nProbe = p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (h1, h2, h4) = (hits(1), hits(2), hits(4))
    h1.keys.foreach { q =>
      assert(h1(q) <= h2(q) && h2(q) <= h4(q),
        s"query $q: n_hit must be monotone in nProbe: ${h1(q)}, ${h2(q)}, ${h4(q)}")
    }
    // and the 2-probe default is a real approximation on this corpus,
    // not accidentally exhaustive
    assert(h2.values.sum < h2.size * 10L,
      "2-probe recall should be < 1.0 somewhere, or the eval measures nothing")
  }

  test("ivf-sq8: codes-only index, pruned scan, search ≡ in-memory quantized probe") {
    val sf01 = "/root/testdata/sf0.01"
    val got = LlmOps.embedIvfSq8(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 1. the persisted index carries NO float vector column at all —
    // the 4×-narrower claim is a property of the files, not the plan
    val idx = graft.ops.StageOnce.tmp("ivf_sq8_index", sf01)
    val idxSchema = spark.read.parquet(idx).schema
    assert(idxSchema.fieldNames.toSet == Set("vec_id", "q_i8", "centroid"),
      s"index schema leaked extra columns: $idxSchema")
    assert(!idxSchema.exists(_.dataType.simpleString.contains("float")),
      s"index stores floats: $idxSchema")
    // 2. the probe reaches the scan as a PARTITION filter (pruned
    // before any file opens), not a post-scan predicate
    val emb = graft.Tables.load(spark, sf01, "embeddings")
    val centroids = LlmOps.fittedCentroids(spark, sf01)
    val probed = Similarity.probeCids(centroids,
      LlmOps.queryVector(spark, sf01), nProbe = 2).toSet
    val plan = LlmOps.embedIvfSq8(spark, sf01).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*PartitionFilters.*centroid.*"), plan)
    // 3. composition equality: the indexed search must equal the
    // in-memory quantized search restricted to the probed lists
    val want = Similarity.quantizedTopK(
      Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), centroids)
        .filter(col("centroid").isin(probed.toSeq: _*))
        .withColumnRenamed("e", "embedding"),
      col("vec_id"), col("embedding"),
      Similarity.quantizeI8(emb.filter(col("vec_id") === 0), col("embedding"))
        .select(col("q_i8")).collect()(0).getSeq[Byte](0), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq, s"indexed ${got.toSeq} != in-memory ${want.toSeq}")
  }

  test("mmr: λ=1 degenerates to pure relevance; λ<1 actually diversifies") {
    val sf01 = "/root/testdata/sf0.01"
    // λ=1, μ=0: the greedy loop must reproduce the plain relevance
    // ranking (rel desc, id) of the candidate pool exactly
    val pure = LlmOps.embedMmr(spark, sf01, lambda = 1.0, mu = 0.0).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val relRank = pure.map(_._2)
    assert(relRank.sameElements(relRank.sortBy(-_)),
      "λ=1 selection must be relevance-sorted")
    val emb = graft.Tables.load(spark, sf01, "embeddings")
    val q = org.apache.spark.sql.functions.array(
      LlmOps.queryVector(spark, sf01).map(lit): _*)
    val want = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), q), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0))
    assert(pure.map(_._1).sameElements(want),
      s"λ=1 ids ${pure.map(_._1).toSeq} != top-10 ${want.toSeq}")
    // the default λ=0.7 must pick a DIFFERENT set or order — otherwise
    // the redundancy term is dead on this corpus and the op tests nothing
    val mmr = LlmOps.embedMmr(spark, sf01).collect().map(_.getLong(1))
    assert(mmr.length == 10 && mmr.distinct.length == 10, "no duplicate picks")
    assert(!mmr.sameElements(want), "diversification changed nothing")
    assert(mmr.head == want.head, "rank 1 has no penalty term: must be the top hit")
  }

  test("drift monitor: occupancy conserves the assignment and drift is a valid cosine") {
    val drift = LlmOps.embedDrift(spark, sf).collect()
    assert(drift.nonEmpty)
    // occupancies must reproduce the raw assignment counts exactly
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val fitAssign = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
        LlmOps.fittedCentroids(spark, sf))
      .groupBy(col("centroid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    drift.foreach { r =>
      val (cid, nOld, nNew) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(nOld + nNew == fitAssign(cid),
        s"centroid $cid: cohorts ${nOld}+${nNew} != assigned ${fitAssign(cid)}")
      if (!r.isNullAt(3)) {
        val c = r.getDouble(3)
        assert(c >= -1.0 && c <= 1.0, s"centroid $cid: drift $c not a cosine")
      } else assert(nOld == 0 || nNew == 0,
        s"centroid $cid: NULL drift only when a cohort is empty")
    }
    // the monitor measures something: cohorts are NOT identical, so
    // drift must be strictly below 1 somewhere
    assert(drift.exists(r => !r.isNullAt(3) && r.getDouble(3) < 0.999))
  }

  test("trained PQ codebook: recall@10 strictly above the seed codebook's") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // train on the sf0.01 corpus (500 vecs; sf0.001 shares the same
    // 500, so this is the spec-scale fit the queries use)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val seed = Similarity.pqSeedCodebook(emb, col("vec_id"), col("embedding"))
    val trained = Similarity.pqTrainCodebook(emb, col("vec_id"), col("embedding"),
      iters = LlmOps.pqFitIters)
    // recall math runs driver-side over the collected corpus (500×64 —
    // parameter-sized): exact mirrors of quantizeI8 / encode / ADC, so
    // the comparison isolates the CODEBOOK, with ground truth = exact
    // float cosine top-10 (bruteForceTopK's ordering)
    val vecs = emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def q8(v: Array[Double]): Array[Long] = {
      val maxAbs = v.map(math.abs).max
      val scale = if (maxAbs == 0.0) 0.0 else 127.0 / maxAbs
      v.map(x => math.floor(x * scale + 0.5).toLong)
    }
    val codesOf = vecs.map { case (id, v) => id -> q8(v) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    def encode(cb: Array[Array[Array[Long]]], q: Array[Long]): Array[Int] =
      Array.tabulate(8) { ms =>
        (0 until 16).minBy { kk =>
          ((0 until 8).map { j =>
            val e = q(ms * 8 + j) - cb(ms)(kk)(j); e * e
          }.sum, kk)
        }
      }
    def recallAt10(cb: Array[Array[Array[Long]]]): Double = {
      val all = vecs.map { case (id, _) => id -> encode(cb, codesOf(id)) }
      val rs = (0L until 20L).map { qid =>
        val qv = vecs.find(_._1 == qid).get._2
        val truth = vecs.map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        val qc = codesOf(qid)
        val dt = Array.tabulate(8, 16) { (ms, kk) =>
          (0 until 8).map { j =>
            val e = qc(ms * 8 + j) - cb(ms)(kk)(j); e * e
          }.sum
        }
        val got = all.map { case (id, codes) =>
          (id, (0 until 8).map(ms => dt(ms)(codes(ms))).sum)
        }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
        (truth & got).size / 10.0
      }
      rs.sum / rs.size
    }
    val rSeed = recallAt10(seed)
    val rTrained = recallAt10(trained)
    assert(rTrained > rSeed,
      s"training did not improve recall: trained=$rTrained seed=$rSeed")
  }

  test("ivfAppendIndex: append ≡ rebuild, base partition files untouched") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val fit = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), seeds, iters = 1)

    val full = java.nio.file.Files.createTempDirectory("ivf_full").toString
    val inc = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    Similarity.ivfWriteIndex(
      Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), fit), full)
    Similarity.ivfWriteIndex(
      Similarity.ivfAssign(emb.filter(col("vec_id") % 10 =!= 7),
        col("vec_id"), col("embedding"), fit), inc)
    val baseFiles = spark.read.parquet(inc).inputFiles.toSet
    Similarity.ivfAppendIndex(
      Similarity.ivfAssign(emb.filter(col("vec_id") % 10 === 7),
        col("vec_id"), col("embedding"), fit), inc)
    val afterFiles = spark.read.parquet(inc).inputFiles.toSet

    // delta-proportional maintenance: every base file survives verbatim;
    // only new files appear
    assert(baseFiles.subsetOf(afterFiles), "append rewrote or removed base files")
    assert(afterFiles.size > baseFiles.size, "append added no files")

    // the appended index holds the identical row set as a full rebuild...
    val a = spark.read.parquet(inc).select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val f = spark.read.parquet(full).select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(a.sameElements(f))

    // ...so any probe returns identical results
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect()(0).getSeq[Double](0)
    val ra = Similarity.ivfSearchIndexed(spark, inc, fit, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val rf = Similarity.ivfSearchIndexed(spark, full, fit, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ra.sameElements(rf))

    // --- compaction: the small-file follow-up. Append left the hot
    // partitions with base+delta files; compacting ONE partition must
    // collapse it to a single file, leave every other partition's files
    // byte-identical, and change no search result.
    val centroids = spark.read.parquet(inc).select("centroid")
      .distinct().collect().map(_.getInt(0)).sorted
    val target = centroids.head
    def filesOf(c: Int) = new java.io.File(s"$inc/centroid=$c")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val othersBefore = centroids.tail.map(c => c -> filesOf(c)).toMap
    val (before, after) = Similarity.ivfCompactPartition(spark, inc, target)
    assert(after == 1 && before >= 1, s"$before -> $after files")
    centroids.tail.foreach(c =>
      assert(filesOf(c) === othersBefore(c), s"partition $c was touched"))
    val rc = Similarity.ivfSearchIndexed(spark, inc, fit, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rc.sameElements(rf), "compaction changed search results")
  }

  test("quantized-tier append+compact: SQ8/PQ faces ≡ their rebuild faces, codes-only artifacts, compacted probe list") {
    val sf01 = "/root/testdata/sf0.01"
    // 1. dataflow equality: append+compact ≡ rebuild for both tiers
    val sq8A = LlmOps.embedIvfSq8Append(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sq8F = LlmOps.embedIvfSq8(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sq8A.sameElements(sq8F), "sq8 append+compact diverged from rebuild")
    val pqA = LlmOps.embedIvfPqAppend(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pqF = LlmOps.embedIvfPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pqA.sameElements(pqF), "pq append+compact diverged from in-flight ADC")
    // 2. both staged artifacts are CODES-ONLY (no float column) and the
    // compacted (first-probed) partition sits at exactly one file
    val centroids = LlmOps.fittedCentroids(spark, sf01)
    val probedHead = Similarity.probeCids(centroids,
      LlmOps.queryVector(spark, sf01), nProbe = 2).head
    def checkIdx(name: String, cols: Set[String]): Unit = {
      val idx = graft.ops.StageOnce.tmp(name, sf01)
      val schema = spark.read.parquet(idx).schema
      assert(schema.fieldNames.toSet == cols, s"$name schema: $schema")
      assert(!schema.exists(_.dataType.simpleString.contains("float")),
        s"$name stores floats: $schema")
      val files = new java.io.File(s"$idx/centroid=$probedHead")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"$name probed partition not compacted: ${files.length} files")
      assert(files.head.getName.startsWith("compact-"),
        s"$name compaction did not publish: ${files.head.getName}")
    }
    checkIdx("ivf_sq8_index_appended", Set("vec_id", "q_i8", "centroid"))
    checkIdx("ivf_pq_index_appended", Set("vec_id", "codes", "centroid"))
    // 3. codes-layout append leaves base files untouched (the delta-
    // proportional contract on the QUANTIZED row set)
    val emb = graft.Tables.load(spark, sf01, "embeddings")
    def sq8Rows(part: org.apache.spark.sql.DataFrame) =
      Similarity.quantizeI8(
          Similarity.ivfAssign(part, col("vec_id"), col("embedding"), centroids),
          col("e"))
        .select(col("vec_id"), col("q_i8"), col("centroid"))
    val inc = java.nio.file.Files.createTempDirectory("sq8_inc").toString
    Similarity.ivfWriteIndex(sq8Rows(emb.filter(col("vec_id") % 10 =!= 7)), inc)
    val baseFiles = spark.read.parquet(inc).inputFiles.toSet
    Similarity.ivfAppendIndex(sq8Rows(emb.filter(col("vec_id") % 10 === 7)), inc)
    val afterFiles = spark.read.parquet(inc).inputFiles.toSet
    assert(baseFiles.subsetOf(afterFiles), "sq8 append rewrote base files")
    assert(afterFiles.size > baseFiles.size, "sq8 append added no files")
    val a = spark.read.parquet(inc).select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val f = sq8Rows(emb).select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(a.sameElements(f), "sq8 appended row set != rebuild row set")
  }
}
