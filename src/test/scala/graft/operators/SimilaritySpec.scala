package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {

  test("marginMining ≡ driver-side reference; hubs deflate") {
    import spark.implicits._
    // deterministic pseudo-random 4-d vectors, two "languages"; vector
    // b0 is a HUB (close to everything on side A)
    def vec(seed: Int): Seq[Float] =
      (0 until 4).map(d => (((seed * 2654435761L + d * 40503L) % 1000L)
        / 500.0f - 1.0f))
    val aSide = (0 until 8).map(i => (i.toLong, vec(i * 7 + 1)))
    val hub = (100L, Seq(0.01f, 0.02f, 0.015f, 0.01f)) // tiny norm ≈ everything
    val bSide = hub +: (1 until 8).map(i => (100L + i, vec(i * 13 + 5)))
    val a = aSide.toDF("vec_id", "embedding")
    val b = bSide.toDF("vec_id", "embedding")
    val got = Similarity.marginMining(a, b, k = 3, thresholdPpm = 0L)
      .collect().map(r => (r.getAs[Long]("id_a"),
        (r.getAs[Long]("id_b"), r.getAs[Long]("cos_u"),
         r.getAs[Long]("margin_ppm")))).toMap

    // driver-side reference of the identical integer algebra
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val nx = math.sqrt(x.map(p => p.toDouble * p.toDouble).sum)
      val ny = math.sqrt(y.map(p => p.toDouble * p.toDouble).sum)
      d / (nx * ny)
    }
    val cosU = (for ((ia, va) <- aSide; (ib, vb) <- bSide)
      yield (ia, ib) -> math.round(cos(va, vb) * 1000000)).toMap
    val aIds = aSide.map(_._1); val bIds = bSide.map(_._1)
    // count-normalized reference: margin = 2·cos·na·nb/(ka·nb + kb·na);
    // here every neighborhood has the full k=3 terms so it reduces to
    // the classic 2·cos·k/(ka+kb) — the deficient-neighborhood case is
    // exercised separately below
    val ka = aIds.map(ia => ia -> bIds.map(ib => (cosU((ia, ib)), ib))
      .sortBy(t => (-t._1, t._2)).take(3).map(_._1).sum).toMap
    val kb = bIds.map(ib => ib -> aIds.map(ia => (cosU((ia, ib)), ia))
      .sortBy(t => (-t._1, t._2)).take(3).map(_._1).sum).toMap
    val want = aIds.flatMap { ia =>
      val cands = bIds.filter(ib => cosU((ia, ib)) > 0)
        .filter(ib => ka(ia) + kb(ib) > 0)
        .map { ib =>
          val m = 2L * cosU((ia, ib)) * 3L * 3L * 1000000L /
            (ka(ia) * 3L + kb(ib) * 3L)
          (ib, cosU((ia, ib)), m)
        }
      if (cands.isEmpty) None
      else Some(ia -> cands.maxBy(t => (t._3, -t._1)))
    }.toMap
    assert(got == want)

    // pluggable candidate generator: the all-pairs candidate frame
    // must reproduce the default brute exactly (the LSH swap-in
    // contract — a banded generator restricts this same frame)
    val allPairs = aSide.flatMap { case (ia, _) =>
      bSide.map { case (ib, _) => (ia, ib) } }.toDF("id_a", "id_b")
    val gotC = Similarity.marginMining(a, b, k = 3, thresholdPpm = 0L,
        candidates = Some(allPairs))
      .collect().map(r => (r.getAs[Long]("id_a"),
        (r.getAs[Long]("id_b"), r.getAs[Long]("cos_u"),
         r.getAs[Long]("margin_ppm")))).toMap
    assert(gotC == want)

    // deficient neighborhoods: a RESTRICTED candidate set can leave a
    // side with fewer than k candidates; margins must normalize by the
    // ACTUAL term counts (ka/na + kb/nb), not assume k terms — the
    // k-assuming formula would inflate margins for starved sides
    val thin = Seq((0L, 100L), (0L, 101L), (1L, 100L))
      .toDF("id_a", "id_b")
    val gotThin = Similarity.marginMining(a, b, k = 3, thresholdPpm = 0L,
        candidates = Some(thin))
      .collect().map(r => (r.getAs[Long]("id_a"),
        (r.getAs[Long]("id_b"), r.getAs[Long]("margin_ppm")))).toMap
    val thinPairs = Seq((0L, 100L), (0L, 101L), (1L, 100L))
    val kaT = thinPairs.groupBy(_._1).map { case (ia, ps) =>
      val top = ps.map { case (_, ib) => (cosU((ia, ib)), ib) }
        .sortBy(t => (-t._1, t._2)).take(3)
      ia -> (top.map(_._1).sum, top.size.toLong)
    }
    val kbT = thinPairs.groupBy(_._2).map { case (ib, ps) =>
      val top = ps.map { case (ia, _) => (cosU((ia, ib)), ia) }
        .sortBy(t => (-t._1, t._2)).take(3)
      ib -> (top.map(_._1).sum, top.size.toLong)
    }
    val wantThin = thinPairs.groupBy(_._1).flatMap { case (ia, ps) =>
      val cands = ps.map(_._2).filter(ib => cosU((ia, ib)) > 0)
        .flatMap { ib =>
          val (kaS, na) = kaT(ia); val (kbS, nb) = kbT(ib)
          val den = kaS * nb + kbS * na
          if (den <= 0) None
          else Some((ib, 2L * cosU((ia, ib)) * na * nb * 1000000L / den))
        }
      if (cands.isEmpty) None
      else Some(ia -> cands.maxBy(t => (t._2, -t._1)))
    }
    assert(gotThin == wantThin)
  }

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine: self-similarity is 1") {
    val one = emb.limit(5)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(one.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, k = 3)
    val rows = out.collect()
    assert(rows.length == 8 * 3)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L)))
    // cos non-increasing with rank
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hardNegatives: different-label only, under the ceiling, the hardest admissible") {
    val queries = emb.filter(col("vec_id") < 8)
    val out = Similarity.hardNegatives(queries, emb, k = 3, ceiling = 0.35)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n, cos) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      assert(labels(q) != labels(n), s"same-label pair $q-$n leaked")
      assert(math.rint(cos * 1e6) / 1e6 <= 0.35, s"above-ceiling $cos")
    }
    // the hardest admissible: each query's rank-1 equals the driver-side
    // argmax over admissible candidates (reference recomputed from the
    // raw vectors)
    val vecs = emb.collect().map(r => r.getLong(0) ->
      (r.getSeq[Float](1).toArray, r.getInt(2))).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = rows.filter(_.getLong(2) == 1L)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    top1.foreach { case (q, got) =>
      val (qv, ql) = vecs(q)
      val best = vecs.toSeq
        .filter { case (id, (_, l)) => l != ql && id != q }
        .map { case (id, (v, _)) => (id, math.rint(cos(qv, v) * 1e6) / 1e6) }
        .filter(_._2 <= 0.35)
        .maxBy { case (id, c) => (c, -id) }
      assert(got == best._1, s"query $q: got $got want ${best._1}")
    }
  }

  test("maxSimTopK: late-interaction score is the sum of per-query-token maxes") {
    import spark.implicits._
    // doc 0 (query): unit x + unit y; doc 1 matches only x (score 1);
    // doc 2 matches both (score 2); doc 3 is diagonal:
    // cos = 1/sqrt(2) against each token -> score 2/sqrt(2) ~ 1.414214
    val t = Seq(
      (0L, 0L, Array(1f, 0f)), (0L, 1L, Array(0f, 1f)),
      (1L, 10L, Array(1f, 0f)), (1L, 11L, Array(1f, 0f)),
      (2L, 20L, Array(1f, 0f)), (2L, 21L, Array(0f, 1f)),
      (3L, 30L, Array(1f, 1f))
    ).toDF("d", "vec_id", "embedding")
    val out = Similarity.maxSimTopK(t.filter(col("d") === 0), t, k = 3,
      docCol = "d")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((2L, 1L, 2.0), (3L, 2L, 1.414214), (1L, 3L, 1.0)))
  }

  /** (mean recall, per-query min recall) of `approx` vs `exact` on
    * (query_id, neighbor_id) edges. */
  private def recallOf(exact: Set[(Long, Long)],
                       approx: Set[(Long, Long)]): (Double, Double) = {
    val mean = exact.intersect(approx).size.toDouble / exact.size
    val perQ = exact.groupBy(_._1).map { case (_, es) =>
      es.intersect(approx).size.toDouble / es.size }
    (mean, perQ.min)
  }

  test("sq8TopK: recall@5, exact cos on results, full-refine degenerates to exact") {
    val q = emb.filter(col("vec_id") < 32)
    val exactDf = Similarity.bruteForceTopK(q, emb, 5)
    val exact = exactDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxRows = Similarity.sq8TopK(q, emb, 5, refine = 32).collect()
    val approx = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val (mean, min) = recallOf(exact, approx)
    info(f"SQ8 recall@5 (refine=32) mean=$mean%.3f min=$min%.3f")
    assert(mean > 0.8, f"SQ8 mean recall $mean%.3f") // 8-bit/dim is a mild quantizer
    assert(min >= 0.4, f"a query fell to $min%.3f recall")
    // returned cosines are the EXACT rescore — every (q,n,cos) triple
    // must appear identically in the brute-force all-pairs scoring
    val exactCos = Similarity.bruteForceTopK(q, emb, 1 << 20).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    approxRows.foreach { r =>
      assert(exactCos((r.getLong(0), r.getLong(1))) == r.getDouble(3))
    }
    // refine covering the whole corpus → identical to the exact top-k
    val full = Similarity.sq8TopK(q, emb, 5, refine = 1 << 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fullExact = exactDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == fullExact)
  }

  test("lshTopK recall@5 against exact top-5 (default + tuned gate params)") {
    val q = emb.filter(col("vec_id") < 32)
    val exact = Similarity.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, emb, 5, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"sign-LSH recall@5 (32/8 default) = $recall%.3f")
    // 32 bits / 8 bands: measured 0.72 both fixtures (RecallProbe)
    assert(recall > 0.5)
    // 64 bits / 16 bands — the q42 certified-gate setting: measured
    // 0.900-0.913; floor 0.6 mean, and no query comes back empty-handed
    val tuned = Similarity.lshTopK(q, emb, 5, dim = 64,
      bits = 64, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (mean, min) = recallOf(exact, tuned)
    info(f"sign-LSH recall@5 (64/16 tuned) mean=$mean%.3f min=$min%.3f")
    assert(mean > 0.6)
    assert(min >= 0.2, f"a query fell to $min%.3f recall")
  }

  test("ivfTopK recall@5 against exact top-5") {
    val q = emb.filter(col("vec_id") < 32)
    val exact = Similarity.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"IVF recall@5 (nprobe=4/16) = $recall%.3f")
    // measured 0.72-0.76 across fixtures (RecallProbe)
    assert(recall > 0.5)
    // nprobe=6 — the q43 certified-gate setting: measured 0.825-0.875
    val (mean, min) = recallOf(exact,
      Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"IVF recall@5 (nprobe=6/16) mean=$mean%.3f min=$min%.3f")
    assert(mean > 0.6)
    assert(min >= 0.2, f"a query fell to $min%.3f recall")
    // every query still gets exactly k results
    val perQuery = approx.groupBy(_._1).map(_._2.size)
    assert(perQuery.forall(_ == 5))
  }

  test("knnGraphIvf: edge recall vs the exact graph; exact cos on shared edges") {
    val exactRows = Similarity.bruteForceTopK(emb, emb, 5).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos = exactRows.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val approxRows = Similarity.knnGraphIvf(emb, 5, nlist = 16, nprobe = 4)
      .collect()
    val approx = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"kNN-graph IVF edge recall@5 (nprobe=4/16) = $recall%.3f")
    // measured 0.56 both fixtures (RecallProbe)
    assert(recall > 0.4)
    // nprobe=8 — the q166 certified-gate setting: measured 0.795-0.807
    val tuned = Similarity.knnGraphIvf(emb, 5, nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val meanTuned = exact.intersect(tuned).size.toDouble / exact.size
    info(f"kNN-graph IVF edge recall@5 (nprobe=8/16) = $meanTuned%.3f")
    assert(meanTuned > 0.6)
    // every corpus vector is a query and gets at most k edges; scores
    // on shared edges are the EXACT cosine (blocking only prunes
    // candidates, never perturbs scores)
    val perQuery = approxRows.groupBy(_.getLong(0))
    assert(perQuery.size == emb.count())
    assert(perQuery.values.forall(_.length <= 5))
    approxRows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactCos.get(key).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
  }

  test("pqTopK recall@5 against exact top-5; exact scores on the shortlist") {
    val q = emb.filter(col("vec_id") < 32)
    val exactRows = Similarity.bruteForceTopK(q, emb, 5).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos = exactRows.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val approxRows = Similarity.pqTopK(q, emb, 5, dim = 64).collect()
    val approx = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"PQ ADC recall@5 (m=8, ksub=16, refine=4) = $recall%.3f")
    // measured 0.50-0.56 across fixtures (RecallProbe)
    assert(recall > 0.4)
    // refine=16 — the q122 certified-gate setting: measured 0.800-0.831
    val (meanT, minT) = recallOf(exact,
      Similarity.pqTopK(q, emb, 5, dim = 64, refine = 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"PQ ADC recall@5 (refine=16 tuned) mean=$meanT%.3f min=$minT%.3f")
    assert(meanT > 0.6)
    assert(minT >= 0.2, f"a query fell to $minT%.3f recall")
    // every query gets exactly k ranked results
    assert(approxRows.groupBy(_.getLong(0)).values.forall(
      _.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
    // reported scores are the EXACT cosine (the refine step rescores):
    // any (q, n) the exact run also ranked must carry the same cos
    approxRows.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach(c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // determinism: codebook seeding + Lloyd are RNG-free
    val again = Similarity.pqTopK(q, emb, 5, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == approx)
  }

  test("ivfPqTopK: cell-pruned ADC recall, equi-join plan (no cross join), exact scores") {
    val q = emb.filter(col("vec_id") < 32)
    val exactRows = Similarity.bruteForceTopK(q, emb, 5).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos = exactRows.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val out = Similarity.ivfPqTopK(q, emb, 5, dim = 64)
    val rows = out.collect()
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"IVFADC recall@5 (nprobe=4/16, m=8) = $recall%.3f")
    // nprobe/nlist caps recall near ivfTopK's; ADC shortlist trims a
    // little more. Measured 0.59-0.61 across fixtures (RecallProbe)
    assert(recall > 0.45)
    // nprobe=8 / refine=8 — the q123 certified-gate setting: 0.763-0.794
    val tuned = Similarity.ivfPqTopK(q, emb, 5, dim = 64,
      nprobe = 8, refine = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val meanTuned = exact.intersect(tuned).size.toDouble / exact.size
    info(f"IVFADC recall@5 (nprobe=8, refine=8 tuned) = $meanTuned%.3f")
    assert(meanTuned > 0.6)
    // the candidate scan is an equi-join on cell id — NEVER a cross
    // join / nested loop (the whole point of composing IVF in front)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // exact rescoring: any (q, n) the exact run also ranked carries the
    // identical cosine
    rows.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach(c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
  }

  test("ivfTopK ships no corpus-sized collect to the driver") {
    // sf0.01 corpus: 500 x 64-float vectors = 128 KB raw. The IVF
    // build may collect seeds (nlist vectors) and the refined centroid
    // aggregates (nlist x dim rows) — NOT the corpus. Sum every task's
    // driver-bound resultSize across the whole build+query and assert
    // it stays far below the corpus size: a collect of the vectors
    // (the round-2 Lloyd refinement bug) trips this immediately.
    val big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpusBytes = big.count() * 64 * 4
    val (n, run) = graft.core.Metrics.measure(spark) {
      Similarity
        .ivfTopK(big.filter(col("vec_id") < 32), big, 5, nlist = 16, nprobe = 4)
        .count()
    }
    assert(n == 32 * 5)
    val bytes = run.resultSize
    info(s"driver-bound task-result bytes: $bytes (corpus ≈ $corpusBytes)")
    // observed healthy value ≈ 54 KB; the round-2 bug (collecting every
    // vector as a Row of doubles) ships ≥ 2x the raw corpus bytes, so
    // < corpusBytes cleanly separates the two while tolerating
    // scheduler-overhead noise
    assert(bytes < corpusBytes,
      s"driver received $bytes B — corpus-sized collect suspected")
  }

  test("cosineNearDupPairs is symmetric-free (a<b) and thresholded") {
    val pairs = Similarity.cosineNearDupPairs(emb, 0.4).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.4))
  }

  test("cosineNearDupPairsLSH: subset of exact with measured recall") {
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupPairsLSH(emb, 0.4, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction: every candidate is exact-verified
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    val recall = lsh.size.toDouble / exact.size
    info(f"sign-LSH near-dup recall = $recall%.3f (${lsh.size}/${exact.size})")
    // 32 bits / 8 bands: P(≥1 shared band) ≈ 0.75 AT the 0.4 threshold,
    // higher above it. Measured 0.75-0.85 across fixtures (RecallProbe)
    assert(recall > 0.6)
    // 64 bits / 16 bands — the q83 certified-gate setting: 0.949-0.970
    val tuned = Similarity.cosineNearDupPairsLSH(emb, 0.4, dim = 64,
      bits = 64, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuned.subsetOf(exact), s"false positives: ${tuned.diff(exact)}")
    val recallTuned = tuned.size.toDouble / exact.size
    info(f"sign-LSH near-dup recall (64/16 tuned) = $recallTuned%.3f")
    assert(recallTuned > 0.75)
  }

  test("semanticDedupSurvivors over LSH pairs: coarsening of the exact clustering, measured agreement") {
    // the q119 composition — the 100 TB form of SemDeDup end-to-end
    def survivors(pairs: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.semanticDedupSurvivors(emb, 0.4, pairs = pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = survivors(None)
    val lsh = survivors(Some(Similarity.cosineNearDupPairsLSH(emb, 0.4, dim = 64)))
    // LSH edges ⊆ exact edges (precision 1), so LSH components only ever
    // SPLIT exact components: every LSH survivor's id is an exact
    // component representative or a member that lost its linking edge —
    // and every exact survivor must still survive under fewer edges
    assert(exact.keySet.subsetOf(lsh.keySet),
      s"exact survivors lost: ${exact.keySet.diff(lsh.keySet)}")
    // total mass is conserved: every vector is in exactly one cluster
    assert(lsh.values.sum == exact.values.sum)
    // agreement: identical survivor sets unless recall dropped edges
    val agreement = exact.size.toDouble / lsh.size
    info(f"SemDeDup LSH/exact survivor agreement = $agreement%.3f " +
      s"(${exact.size}/${lsh.size})")
    // default 32/8 banding: measured 0.971-0.982 (RecallProbe); the
    // q119 gate runs 64/16 (0.993-0.995, floor 0.9 there)
    assert(agreement > 0.9, s"LSH split too many clusters: $agreement")
  }
}
