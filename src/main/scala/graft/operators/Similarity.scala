package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Dot products / norms are computed in DOUBLE via `zip_with` +
  * `aggregate` — codegen'd builtin higher-order functions, no UDF.
  *
  * Scale paths:
  *  - `bruteForceTopK`: queries × corpus via broadcast of the (small)
  *    query set — exact, embarrassingly parallel over corpus partitions;
  *    the per-query top-k is a partitioned window, never a global sort.
  *    Right answer up to ~10⁵ queries × any corpus size.
  *  - `lshTopK`: random-hyperplane signatures bucket the corpus
  *    (`nearDupPairsLSH` / sign-LSH); only same-bucket (or
  *    neighboring-band) candidates are scored — the 100 TB path where
  *    scoring every vector is off the table.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Codegen'd cosine from pre-normed sides: dot via the native
    * DotProduct expression (graft.plans), norms computed once per
    * vector, not once per pair. */
  private[operators] def fastCos(av: Column, an: Column, bv: Column, bn: Column): Column =
    graft.plans.VectorExpressions.dotProduct(av, bv) / (an * bn)

  private[operators] def withNorm(df: DataFrame, vec: String, norm: String): DataFrame = {
    df.withColumn(norm,
      sqrt(graft.plans.VectorExpressions.dotProduct(col(vec), col(vec))))
  }

  /** Exact top-`k` cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, cos). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     wide: Boolean = false): DataFrame = {
    val q = withNorm(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "qv", "qn")
    // wide = corpus-sized query set (the kNN-graph shape): the
    // |corpus|·|queries| dot products run in the corpus scan stage —
    // single-task on a single-file corpus (guide §2.5) — so fan the
    // streamed side out. Deliberately opt-in: for human-sized query
    // sets the scoring is light and the repartition's fixed 32-task
    // stage overhead measurably LOSES (~+0.3 s per query on the
    // q40/q42/q122 family, mid-round bench) — no-op at scale either
    // way (FanOut never repartitions an already-parallel input).
    val c0 = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val c = withNorm(if (wide) graft.core.FanOut.fanOutWide(c0) else c0, "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Hard-negative mining for retrieval/embedding training (the
    * DPR/SimCSE recipe): for each query vector, the top-`k` most
    * similar corpus vectors that (a) belong to a DIFFERENT positive
    * group (`groupCol` — same-group candidates are positives, not
    * negatives) and (b) score at or below `ceiling` cosine (6-dp
    * rounded) — candidates above the ceiling are likely unlabeled
    * positives/near-dups, the classic false-negative trap. The hardest
    * admissible negatives are exactly what contrastive training wants.
    *
    * Same distributed shape as [[bruteForceTopK]]: query side
    * broadcast, corpus streams through map-local scoring, one window
    * top-k per query. The group predicate and ceiling prune BEFORE the
    * window, so the shuffled candidate set only shrinks. Output:
    * (query_id, neighbor_id, rank, cos). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    ceiling: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    groupCol: String = "label"): DataFrame = {
    val q = withNorm(queries.select(col(idCol).as("query_id"),
      col(groupCol).as("__qg"), col(vecCol).as("qv")), "qv", "qn")
    val c = withNorm(corpus.select(col(idCol).as("neighbor_id"),
      col(groupCol).as("__cg"), col(vecCol).as("cv")), "cv", "cn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("__qg") =!= col("__cg"))
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
      .filter(round(col("cos"), 6) <= ceiling)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval over MULTI-VECTOR
    * documents: each document is a BAG of token vectors, and
    * score(q, d) = Σ over q's tokens of the max cosine against d's
    * tokens. Inputs are token-level frames (docCol, idCol, vecCol);
    * output (query_doc, neighbor_doc, rank, score), top `k` per query
    * doc.
    *
    * Distributed shape: the token-level score join broadcasts the query
    * tokens (query sets are human-sized; the corpus side streams), then
    * BOTH reductions — max per (query doc, corpus doc, query token) and
    * the sum over query tokens — are combine-able hash aggregates with
    * map-side partials; no corpus collect, no shuffle of raw vectors
    * beyond the aggregate rows. Cosines are rounded to 6 dp and summed
    * as DECIMAL so the score is bit-identical regardless of aggregation
    * order (the DuckDB-oracle contract). */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 docCol: String = "doc_id", idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries.select(col(docCol).as("query_doc"),
      col(idCol).as("qt"), col(vecCol).as("qv")), "qv", "qn")
    val c = withNorm(corpus.select(col(docCol).as("neighbor_doc"),
      col(vecCol).as("cv")), "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_doc") =!= col("neighbor_doc"))
      .withColumn("__cos", round(fastCos(col("qv"), col("qn"),
        col("cv"), col("cn")), 6).cast(DecimalType(9, 6)))
    val perToken = scored
      .groupBy(col("query_doc"), col("neighbor_doc"), col("qt"))
      .agg(max(col("__cos")).as("__m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("neighbor_doc"))
    perToken
      .groupBy(col("query_doc"), col("neighbor_doc"))
      .agg(sum(col("__m")).cast(DecimalType(18, 6)).as("score"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_doc"), col("neighbor_doc"), col("rank"),
        col("score").cast(DoubleType).as("score"))
  }

  /** Fixed random hyperplanes (seeded → stable across runs). */
  private def hyperplanes(bits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Sign-LSH signature: one bit per hyperplane (sign of the dot
    * product), emitted as `bands` integer bucket keys of bits/bands
    * bits each. */
  def signLshBands(vec: Column, bits: Int, bands: Int, dim: Int): Column = {
    require(bits % bands == 0)
    val perBand = bits / bands
    val planes = hyperplanes(bits, dim)
    val bandKeys = (0 until bands).map { b =>
      (0 until perBand).map { i =>
        val plane = lit(planes(b * perBand + i).map(v => v: java.lang.Double))
        when(graft.plans.VectorExpressions.dotProduct(vec, plane) >= 0, 1L << i)
          .otherwise(0L)
      }.reduce(_ + _)
    }
    array(bandKeys.map(_.cast(LongType)): _*)
  }

  /** Approximate top-`k`: score only candidates that share at least one
    * sign-LSH band bucket with the query. Same output schema as
    * `bruteForceTopK`; recall < 1 by construction (tested, not assumed).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              bits: Int = 32, bands: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    def banded(df: DataFrame, id: String, vec: String, norm: String) =
      withNorm(df.select(col(idCol).as(id), col(vecCol).as(vec)), vec, norm)
        .select(col(id), col(vec), col(norm),
          posexplode(signLshBands(col(vec), bits, bands, dim)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val qb = banded(queries, "query_id", "qv", "qn")
    val cb = banded(corpus, "neighbor_id", "cv", "cn")
    // candidate pairs dedup on the ID pair only — a distinct over the
    // full vector columns hashes 64 floats per row per side (it was
    // ~40% of the query); vectors are re-attached afterwards from the
    // (small, broadcast) query set and the corpus
    val candidates = cb.select(col("neighbor_id"), col("band"), col("band_key"))
      .join(broadcast(qb.select(col("query_id"), col("band"), col("band_key"))),
        Seq("band", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qSide = withNorm(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "qv", "qn")
    val cSide = withNorm(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "cv", "cn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates
      .join(cSide, Seq("neighbor_id"))
      .join(broadcast(qSide), Seq("query_id"))
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Cell id of the centroid most cosine-similar to `vec` — the shared
    * IVF assignment rule (deterministic, map-local; the codebook rides
    * INSIDE one native expression as a field, so plan size is O(1) in
    * nlist — the literal-array formulation this replaced generated
    * nlist·dim-literal code that janino compiled pathologically slowly
    * near nlist≈64 and not at all past the method-size limit; see
    * graft.plans.IvfProbeCells). */
  private[operators] def nearestCentroid(vec: Column,
                                         centroids: Array[Array[Double]]): Column =
    graft.plans.IvfExpressions.nearestCell(vec, centroids)

  /** Deterministic IVF centroid training shared by [[ivfTopK]],
    * [[knnGraphIvf]] and [[IvfIndex.build]]: the `nlist` lowest-id
    * vectors seed the cells, one distributed fixed-point Lloyd pass
    * refines them — only nlist·dim aggregate rows reach the driver. */
  private[operators] def trainCentroids(corpus: DataFrame, nlist: Int,
                                        idCol: String,
                                        vecCol: String): Array[Array[Double]] = {
    val seeds = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val assigned0 = corpus.withColumn("__cell", nearestCentroid(col(vecCol), seeds))
    refineCentroids(assigned0, vecCol, seeds)
  }

  /** One distributed Lloyd pass: per-(cell, component) mean via
    * posexplode + hash agg — the q63 fixed-point pattern (quantize each
    * component to micro units so the sum is an exact, associative,
    * plan-invariant BIGINT). Only ncells × dim aggregate rows reach the
    * driver; the corpus vectors themselves never do (a
    * collect_list(embedding).collect() here would ship the whole corpus
    * to the driver — fatal at 100 TB). `assigned` must carry a `__cell`
    * int column; a cell that attracted no vectors keeps its seed. */
  private[operators] def refineCentroids(assigned: DataFrame, vecCol: String,
                              seeds: Array[Array[Double]]): Array[Array[Double]] = {
    val compMeans = assigned
      .select(col("__cell"), posexplode(col(vecCol)))
      .select(col("__cell"), col("pos"),
        floor(col("col").cast(DoubleType) * 1000000L).cast(LongType).as("q"))
      .groupBy(col("__cell"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect()
    val dim = seeds.head.length
    val meanByCell = Array.fill(seeds.length)(null: Array[Double])
    compMeans.foreach { r =>
      val cell = r.getInt(0)
      if (meanByCell(cell) == null) meanByCell(cell) = new Array[Double](dim)
      meanByCell(cell)(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3) / 1e6
    }
    seeds.indices.map(i => Option(meanByCell(i)).getOrElse(seeds(i))).toArray
  }

  /** The `nprobe` cell ids nearest (cosine) to the query vector, as an
    * array column — map-local, codebook inside one native expression
    * (see [[nearestCentroid]]'s plan-size note). */
  private[operators] def probeCells(qv: Column, centroids: Array[Array[Double]],
                                    nprobe: Int): Column =
    graft.plans.IvfExpressions.probeCells(qv, centroids, nprobe)

  /** IVF (inverted-file) approximate top-k — the k-means-family ANN
    * scale path: partition the corpus into `nlist` cells around
    * centroids, search only the `nprobe` cells nearest each query.
    *
    * Centroid selection is deterministic (the `nlist` lowest-id
    * vectors seed the cells — one Lloyd refinement pass over the corpus
    * sharpens them without any RNG). At 100 TB the cell assignment is a
    * one-off write-side job (cluster the table by cell id — see
    * Lake.writeClustered) and each query touches nprobe/nlist of the
    * data.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    import graft.plans.VectorExpressions.dotProduct

    // deterministic seeds → one averaging pass → refined centroids
    val refined = trainCentroids(corpus, nlist, idCol, vecCol)

    // no persist: the assignment subtree feeds exactly one join below,
    // so caching it would only leak a CacheManager entry the caller can
    // never unpersist. (No fanOut here: the per-row cell assignment is
    // light and the mid-round bench showed the repartition's fixed
    // stage overhead losing ~+0.5 s on the ivf family.)
    val assigned = corpus
      .withColumn("__cell", nearestCentroid(col(vecCol), refined))
      .withColumn("__cn",
        sqrt(dotProduct(col(vecCol), col(vecCol))))

    // each query probes its nprobe nearest cells
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", sqrt(dotProduct(col("qv"), col("qv"))))
      .withColumn("__cell", explode(probeCells(col("qv"), refined, nprobe)))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    assigned
      .join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cos",
        dotProduct(col("qv"), col(vecCol)) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w).cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("rank"),
        col("cos"))
  }

  /** Approximate k-nearest-neighbor GRAPH over the whole corpus
    * (corpus-vs-corpus top-k, every vector a query) — the substrate for
    * embedding-space curation: feed the edges to label propagation
    * (q160) for clustering, to connected components for SemDeDup-style
    * group pruning, or keep them as the retrieval graph.
    *
    * [[bruteForceTopK]] cannot play this role at scale: it broadcasts
    * the query side, and here the query side IS the corpus. Instead
    * both sides get IVF cell ids map-locally (centroids ride as
    * literals — same deterministic seeding + one Lloyd pass as
    * [[ivfTopK]]) and candidates materialize through ONE hash equi-join
    * on the cell id: the stored side keeps its home cell, the probing
    * side explodes to its `nprobe` nearest cells. No broadcast of
    * anything corpus-sized, no cross join — shuffle volume is
    * nprobe·|corpus| rows and per-cell candidate work is
    * (n/nlist)·nprobe per vector, the standard IVF recall/cost dial
    * (size nlist ≈ √n so a cell fits an executor's hash partition).
    * Neighbors are exact-cosine-scored and window-ranked per query;
    * recall vs the brute graph is measured in SimilaritySpec, never
    * assumed. Output: (query_id, neighbor_id, rank, cos). */
  def knnGraphIvf(corpus: DataFrame, k: Int,
                  nlist: Int = 16, nprobe: Int = 4,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import graft.plans.VectorExpressions.dotProduct

    val refined = trainCentroids(corpus, nlist, idCol, vecCol)

    // fanOutWide the STORED side: the planner broadcasts the exploded
    // probing side (nprobe·n rows but narrow), so the per-candidate
    // scoring runs in stored's scan stage — single-task on a
    // single-file corpus, with per-row work ∝ nprobe·(n/nlist) (the
    // q165 wide-BNLJ argument; guide §2.5). Fanning the PROBING side
    // instead was measured 2.98 → 5.27 s this round: it parallelized
    // the broadcast build, not the scoring.
    val stored = graft.core.FanOut.fanOutWide(corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
      .withColumn("__cell", nearestCentroid(col("cv"), refined))
      .withColumn("__cn", sqrt(dotProduct(col("cv"), col("cv"))))
    val probing = corpus
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", sqrt(dotProduct(col("qv"), col("qv"))))
      .withColumn("__cell", explode(probeCells(col("qv"), refined, nprobe)))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    stored.join(probing, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dotProduct(col("qv"), col("cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w).cast(org.apache.spark.sql.types.LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Product-quantization approximate top-k (IVFADC's scoring half,
    * Jégou et al. 2011) — the ANN MEMORY-compression scale path: the
    * corpus is L2-normalized and encoded as `m` sub-space centroid ids
    * (64 floats → `m` small ints, ~32× smaller), queries precompute one
    * m×ksub lookup table each, and scanning a candidate costs m table
    * adds instead of dim multiplies ([[graft.plans.PqAdcScore]],
    * codegen'd). The `refine`-deep ADC shortlist is re-scored with the
    * exact cosine, so reported scores are exact; ranks are approximate
    * (recall measured in SimilaritySpec, never assumed).
    *
    * Codebook training is deterministic and distributed: the ksub
    * lowest-id vectors seed each subspace, one Lloyd pass refines them
    * via the same fixed-point (µ-quantized BIGINT) component means as
    * [[ivfTopK]] — m·ksub·dsub aggregate rows reach the driver, never
    * corpus vectors. At 100 TB the encode is a one-off write-side job
    * (codes live next to the table like any derived column) and this
    * composes with [[ivfTopK]]'s cell pruning: restrict the scan to the
    * probed cells, score survivors by ADC — classic IVFADC. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
             m: Int = 8, ksub: Int = 16, refine: Int = 4,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    import graft.plans.{PqExpressions => PQ}

    // normalized corpus: ADC then approximates q·x̂, so cos ≈ adc/|q|
    // with no per-row corpus norm in the hot path
    val cNorm = withNorm(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cvn", transform(col("cv"),
        x => x.cast(DoubleType) / col("cn")))

    val refinedBook = trainPqCodebook(cNorm, "cvn", "neighbor_id", m, ksub, dsub)

    val encoded = cNorm
      .withColumn("__code", PQ.encode(col("cvn"), refinedBook))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("__code"))
    val q = withNorm(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", "qn")
      .withColumn("__lut", PQ.lut(col("qv"), refinedBook))

    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    encoded.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", PQ.adcScore(col("__code"), col("__lut"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= k * refine) // ADC shortlist
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Deterministic PQ codebook over `vecs.vecCol` (array<double>): the
    * ksub lowest-`orderCol` vectors seed each subspace (ksub rows to
    * the driver — dim-sized), then ONE distributed Lloyd pass refines
    * via per-(subspace, code, component) fixed-point means — only
    * m·ksub·dsub aggregate rows reach the driver. A code no vector
    * chose keeps its seed centroid. Shared by [[pqTopK]] (raw
    * normalized vectors) and [[ivfPqTopK]] (cell residuals). */
  private[operators] def trainPqCodebook(vecs: DataFrame, vecCol: String,
                              orderCol: String, m: Int, ksub: Int,
                              dsub: Int): Array[Array[Array[Double]]] = {
    import graft.plans.{PqExpressions => PQ}
    val seedRows = vecs.orderBy(col(orderCol)).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.length == ksub,
      s"PQ codebook needs ≥ $ksub vectors to seed, got ${seedRows.length}")
    val seedBook: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((j, c) => seedRows(c).slice(j * dsub, (j + 1) * dsub))
    val j = (col("pos") / dsub).cast(IntegerType)
    val stats = vecs
      .withColumn("__code", PQ.encode(col(vecCol), seedBook))
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")), col("__code"))
      .select(j.as("j"), (col("pos") % dsub).as("p"),
        element_at(col("__code"), j + 1).as("c"),
        floor(col("x") * 1000000L).cast(LongType).as("q"))
      .groupBy(col("j"), col("c"), col("p"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect()
    val refined = seedBook.map(_.map(_.clone()))
    stats.foreach { r =>
      refined(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
        r.getLong(3).toDouble / r.getLong(4) / 1e6
    }
    refined
  }

  /** IVFADC end-to-end (Jégou et al. 2011, §IV): [[ivfTopK]]'s cell
    * pruning composed with [[pqTopK]]'s ADC scoring — the complete
    * 100 TB ANN query shape. The normalized corpus is clustered into
    * `nlist` cells; each vector stores its cell id plus the PQ code of
    * its RESIDUAL (x̂ − centroid, the distribution PQ quantizes best);
    * each query probes `nprobe` cells and scores only their members via
    * q·x̂ ≈ q·c_cell + Σ_j lut[j][code_j] — the per-(query, cell) base
    * term is computed once in the (tiny) probe table, and candidates
    * come from an EQUI-JOIN on cell id, never a cross join. The
    * `refine`-deep shortlist is exact-rescored, so scores are true
    * cosines. Scan cost: nprobe/nlist of the corpus × m table adds per
    * row, over codes ~32× smaller than the vectors. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
                ksub: Int = 16, refine: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    import graft.plans.VectorExpressions.dotProduct
    import graft.plans.{PqExpressions => PQ}

    val cNorm = withNorm(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cvn", transform(col("cv"),
        x => x.cast(DoubleType) / col("cn")))
    // IVF centroids over the NORMALIZED corpus (deterministic seeds +
    // one distributed Lloyd pass, as ivfTopK)
    val seeds = cNorm.orderBy(col("neighbor_id")).limit(nlist)
      .select(col("cvn")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == nlist,
      s"ivfPqTopK needs ≥ $nlist corpus vectors to seed the cells")
    val centroids = refineCentroids(
      cNorm.withColumn("__cell", nearestCentroid(col("cvn"), seeds)),
      "cvn", seeds)
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    def residual(vec: Column, cell: Column): Column =
      zip_with(vec, element_at(centLit, cell + 1), (x, c) => x - c)

    val assigned = cNorm
      .withColumn("__cell", nearestCentroid(col("cvn"), centroids))
      .withColumn("__res", residual(col("cvn"), col("__cell")))
    val book = trainPqCodebook(assigned, "__res", "neighbor_id", m, ksub, dsub)
    val encoded = assigned
      .withColumn("__code", PQ.encode(col("__res"), book))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("__cell"),
        col("__code"))

    // probe table: nprobe rows per query, each carrying the
    // per-(query, cell) base term q·c_cell and the (cell-independent)
    // residual LUT
    val q = withNorm(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", "qn")
      .withColumn("__lut", PQ.lut(col("qv"), book))
      .withColumn("__cell", explode(probeCells(col("qv"), centroids, nprobe)))
      .withColumn("__base",
        dotProduct(col("qv"), element_at(centLit, col("__cell") + 1)))

    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    encoded.join(broadcast(q), Seq("__cell")) // pruned scan: equi-join on cell
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc",
        col("__base") + PQ.adcScore(col("__code"), col("__lut"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= k * refine)
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** SQ8 scalar-quantized top-k — the third compression point on the
    * ANN memory ladder (floats 256 B → SQ8 64 B → PQ 8 B per vector):
    * each dimension is affinely quantized to an unsigned byte against
    * the corpus' per-dimension [min, max] (the faiss
    * ScalarQuantizer recipe), candidates are ranked by the SYMMETRIC
    * integer dot of range-centered codes (2c−255 ∈ [−255, 255] — the
    * centering removes the quantizer's additive offset, which would
    * otherwise bias the ranking toward large-component-sum vectors),
    * and the `refine`-deep shortlist is rescored with the exact
    * cosine.
    *
    * Unlike LSH/IVF/PQ this path is FULLY deterministic in
    * SQL-replayable arithmetic — per-dim min/max, the affine map, the
    * clamp, and an all-integer score — so its gate query carries a
    * complete hash oracle, no Certify flags (the one approximate-ANN
    * family member where the oracle can replay the approximation
    * itself).
    *
    * Scale shape: stats are ONE dim-sized agg (collected: `dim` rows,
    * never vectors); codes are map-local; scoring reuses
    * [[bruteForceTopK]]'s broadcast-queries scan but reads 4× fewer
    * bytes per vector at rest (byte codes vs floats) — the win is
    * bandwidth, not candidates; compose with IVF cells for pruning. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              refine: Int = 64, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)))
      .select(col("pos"), col("col").cast(DoubleType).as("v"))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect() // dim rows — bounded, documented
    val dim = stats.length
    val mins = new Array[Double](dim)
    val spans = new Array[Double](dim)
    stats.foreach { r =>
      val p = r.getInt(0)
      mins(p) = r.getDouble(1)
      spans(p) = r.getDouble(2) - r.getDouble(1)
    }
    // centered code 2·clamp(⌊(v−min)·255/span⌋, 0, 255) − 255, as a
    // double-typed array (values are exact small integers; DotProduct's
    // double accumulation is exact for them)
    def centered(vec: Column): Column =
      transform(vec, (x, i) => {
        val m = element_at(lit(mins), i + 1)
        val s = element_at(lit(spans), i + 1)
        val code = when(s === 0.0, lit(0.0)).otherwise(
          greatest(least(floor((x.cast(DoubleType) - m) * 255.0 / s),
            lit(255.0)), lit(0.0)))
        code * 2.0 - 255.0
      })
    val q = withNorm(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", "qn")
      .withColumn("qc", centered(col("qv")))
    val c = withNorm(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cc", centered(col("cv")))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__iscore").desc, col("neighbor_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__iscore", graft.plans.VectorExpressions
        .dotProduct(col("qc"), col("cc")).cast(LongType))
      .withColumn("__srank", row_number().over(wShort))
      .filter(col("__srank") <= refine)
      .withColumn("cos", fastCos(col("qv"), col("qn"), col("cv"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** All pairs (a < b) with cosine ≥ `threshold` — embedding-space
    * near-duplicate detection. Exact variant (self cross join pruned by
    * AQE-sized shuffle): for corpora where n² is affordable; the scale
    * path is `cosineNearDupPairsLSH` below. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    // fanOut the STREAMED side: the n² pair scoring runs in its scan
    // stage (see bruteForceTopK); the build side is broadcast anyway
    // (this is the documented dev-scale n² variant — LSH is the scale
    // path), so pin the BNLJ build side deliberately (guide §3.1)
    val a = withNorm(graft.core.FanOut.fanOut(
      corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))), "va", "na")
    val b = withNorm(corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "vb", "nb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", fastCos(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Embedding near-dup pairs at scale: candidates from sign-LSH band
    * buckets (an equi-join on (band, key) — never all-pairs), verified
    * with the exact cosine. Output ⊆ `cosineNearDupPairs`, precision 1
    * by construction; recall < 1 (a pair must share ≥ 1 of `bands` band
    * buckets — with 4-bit bands and cos ≥ 0.4 that's ≈ 0.75, rising
    * steeply with similarity; SimilaritySpec measures it). At 100 TB
    * cost is Σ bucket² per band, governed by bits/bands exactly like
    * the MinHash banding knobs. */
  def cosineNearDupPairsLSH(corpus: DataFrame, threshold: Double, dim: Int,
                            bits: Int = 32, bands: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    // eagerly checkpointed: both sides of the bucket self-join and the
    // verify re-attach reference this subtree (see SetSimJoin note).
    // fanOut: the norm map, the band projection and the verify scoring
    // all read these blocks — a single-file corpus would pin them all
    // to one task (guide §2.5; bytes-derived width)
    val sides = withNorm(
      graft.core.FanOut.fanOut(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v"))), "v", "nrm")
      .localCheckpoint(true)
    // eagerly checkpointed: both self-join sides reference this
    // subtree, and the materialized LogicalRDD's exact size feeds the
    // join planner (an optimization-round experiment dropped this
    // checkpoint — re-deriving the explode is map-local — and the
    // self-join consistently got ~1.2 s SLOWER from the lost size
    // information; measured, reverted)
    val banded = sides
      .select(col("id"), posexplode(signLshBands(col("v"), bits, bands, dim)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
      .localCheckpoint(true)
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    candidates
      .join(sides.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(sides.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", fastCos(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication: treat cos ≥ `threshold` as
    * "same meaning", group transitively (large-star/small-star
    * connected components — O(log n) rounds), keep ONE representative
    * per cluster (the minimum id: deterministic, and already the
    * component label so no extra selection pass), and report how many
    * members it replaced. Output: (idCol, group_size), one row per
    * surviving vector (singletons keep group_size 1).
    *
    * `pairs` overrides the pair generator: default is the exact
    * all-pairs variant (oracle-checkable; n² — dev scale); pass
    * `cosineNearDupPairsLSH(...)` for the 100 TB path (bucketed
    * candidates, recall < 1 by construction). */
  def semanticDedupSurvivors(corpus: DataFrame, threshold: Double,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs
      .getOrElse(cosineNearDupPairs(corpus, threshold, idCol, vecCol))
    Dedup.connectedComponentsStar(
      p.select(col("id_a"), col("id_b")), corpus.select(col(idCol)))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"))
      .select(col("component").as(idCol), col("group_size"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Massively
    * multilingual sentence embeddings..." §3: ratio margin): mine
    * aligned pairs across two embedding spaces by scoring each
    * candidate not by raw cosine — which hub vectors inflate — but by
    * its RATIO to the mean of both endpoints' top-`k` neighborhoods:
    *
    *   margin(x, y) = 2·cos(x,y) / (avgₖ cos(x, NNₖ(x)) + avgₖ cos(y, NNₖ(y)))
    *
    * Emitted pair = each x's best-margin y with margin ≥ threshold —
    * the parallel-corpus mining stage of a translation-data pipeline.
    *
    * Determinism contract: cosines are 6-dp-quantized to exact BIGINT
    * micros FIRST, so the k-neighborhood sums (and hence the margin
    * ratio, an integer ppm via `div`) are order-free — a double AVG
    * over k values would depend on summation order across engines.
    * Ties break to the smaller candidate id at both the top-k and the
    * argmax.
    *
    * Scale shape: gate-scale uses the exact broadcast cross (the q40
    * brute, allowlisted); at corpus scale swap the candidate generator
    * for the banded sign-LSH equi-join (`cosineNearDupPairsLSH`) —
    * margins only ever evaluate on candidates, and the top-k sums are
    * per-id hash aggregations either way. */
  def marginMining(a: DataFrame, b: DataFrame, k: Int,
                   thresholdPpm: Long,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   candidates: Option[DataFrame] = None): DataFrame = {
    val av = withNorm(a.select(col(idCol).as("id_a"), col(vecCol).as("va")),
      "va", "na")
    val bv = withNorm(b.select(col(idCol).as("id_b"), col(vecCol).as("vb")),
      "vb", "nb")
    // candidate generation: default exact brute (gate scale); pass an
    // (id_a, id_b) frame — e.g. banded sign-LSH buckets — to restrict
    // scoring at corpus scale. Margins and k-neighborhoods are then
    // computed WITHIN the candidate set (exactly what LSH-based
    // mining pipelines do: the neighborhood that normalizes a score
    // is the retrieved neighborhood).
    val rawPairs = candidates match {
      case None => bv.crossJoin(broadcast(av))
      case Some(c) => c.select(col("id_a"), col("id_b"))
        .join(av, "id_a").join(bv, "id_b")
    }
    val scored = rawPairs
      .withColumn("cos_u",
        round(fastCos(col("va"), col("na"), col("vb"), col("nb")) * 1000000)
          .cast(LongType))
      .select(col("id_a"), col("id_b"), col("cos_u"))
      .localCheckpoint(true) // reused by both k-sums and the candidates
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("cos_u").desc, col("id_b"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_b")).orderBy(col("cos_u").desc, col("id_a"))
    // the top-k sums carry their ACTUAL term counts: a side with fewer
    // than k candidates (small corpus, or an LSH-restricted candidate
    // set) sums fewer cosines, and normalizing by k instead of the
    // real neighborhood size would inflate its margins above the
    // Artetxe–Schwenk ratio definition
    val sumA = scored.withColumn("r", row_number().over(wA))
      .filter(col("r") <= k)
      .groupBy(col("id_a")).agg(sum(col("cos_u")).as("ka"),
        count(lit(1)).as("na_k"))
    val sumB = scored.withColumn("r", row_number().over(wB))
      .filter(col("r") <= k)
      .groupBy(col("id_b")).agg(sum(col("cos_u")).as("kb"),
        count(lit(1)).as("nb_k"))
    // margin = 2·cos / (ka/na + kb/nb) = 2·cos·na·nb / (ka·nb + kb·na);
    // positive-cosine candidates with positive neighborhood mass only:
    // keeps every integer division on non-negative operands, where
    // Spark's truncating `div` and DuckDB's flooring `//` agree (a
    // mined pair needs positive similarity anyway). BIGINT audit:
    // |cos_u| ≤ 10⁶, na·nb ≤ k², so the numerator is ≤ 2·10¹²·k² —
    // safe through k ≈ 10³.
    val margins = scored.filter(col("cos_u") > 0)
      .join(sumA, "id_a").join(sumB, "id_b")
      .filter(col("ka") * col("nb_k") + col("kb") * col("na_k") > 0)
      .withColumn("margin_ppm",
        expr("2 * cos_u * na_k * nb_k * 1000000 div " +
          "(ka * nb_k + kb * na_k)"))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"))
      .orderBy(col("margin_ppm").desc, col("id_b"))
    margins.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1 && col("margin_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("cos_u"), col("margin_ppm"))
  }
}
