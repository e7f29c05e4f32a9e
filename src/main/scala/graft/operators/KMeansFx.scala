package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact fixed-point k-means (Lloyd's algorithm) over an embedding
  * column — the clustering stage of cluster-balanced data curation
  * (SemDeDup-style pipelines first k-means the corpus, then dedup /
  * sample within clusters). Unlike the float k-means buried inside
  * the IVF index builder (`Similarity`, spec-bound because float
  * means aren't engine-portable), every step here is EXACT INTEGER
  * arithmetic, so the full T-iteration trajectory is reproducible
  * bit-for-bit by any engine — the first oracle-checkable clustering
  * in the repo.
  *
  * Protocol (all deterministic):
  *  - vectors quantize per-dim to `floor(x · 1e6)` longs;
  *  - seed centroids are the k smallest-id vectors (cluster c = rank
  *    of its seed id);
  *  - assignment: L2² in exact longs, argmin with ties to the
  *    smallest cluster id;
  *  - update: per-dim truncated integer mean `sum div n` (Spark div,
  *    DuckDB //, and Java long division all truncate toward zero —
  *    verified; a cluster that attracts no vectors keeps its previous
  *    centroid);
  *  - `iters` (assign → update) rounds, then one final assignment.
  *
  * Scale shape: per iteration ONE map-local assignment pass (the k×d
  * centroid table rides in the plan as literals — no join, no
  * shuffle) and ONE combinable (cluster, dim) agg; only k·d aggregate
  * rows ever reach the driver (the corpus never does — the
  * `refineCentroids` discipline). Overflow headroom: |q| ≤ 1e6·|x|,
  * diffs² ≤ 4e12·max|x|², so d ≤ 64, |x| ≤ 1 keeps distances under
  * 3e14; per-(cluster,dim) sums stay exact up to ~9e12 vectors.
  *
  * Reference anchor: beyond-reference (the reference pipeline has no
  * clustering operator); algorithm from Lloyd 1982 / the SemDeDup
  * pipeline shape (Abbas et al. 2023).
  */
object KMeansFx {

  private val Scale = 1000000L

  private def quantize(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast(DoubleType) * Scale).cast(LongType))

  /** Map-local argmin-L2² cluster id for a quantized vector column,
    * ties to the smallest cluster id — one native expression with the
    * k×d centroid table as a field ([[graft.plans.KMeansAssign]]; the
    * aggregate/zip_with formulation it replaced ran interpreted and
    * was the bench outlier at ~8 s for a 500-row corpus). */
  private def assignExpr(qv: Column, centroids: Array[Array[Long]]): Column =
    graft.plans.KMeansExpressions.assign(qv, centroids)

  /** Cluster assignments `(idCol, cluster)` for `vecs` (id column
    * first, vector column second) after `iters` exact Lloyd rounds. */
  def assignments(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val idCol = vecs.columns(0); val vecCol = vecs.columns(1)
    val q = vecs
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__qv"))
      .localCheckpoint(true)
    // seeds: k smallest ids, cluster = rank — a k×d driver-side array
    val seedRows = q.orderBy(col("__id")).limit(k).collect()
    require(seedRows.length == k,
      s"kmeans: need at least k=$k vectors, got ${seedRows.length}")
    var centroids: Array[Array[Long]] =
      seedRows.map(_.getSeq[Long](1).toArray)
    var it = 0
    while (it < iters) {
      // one combinable (cluster, dim) agg; k·d rows to the driver
      val parts = q
        .select(assignExpr(col("__qv"), centroids).as("__cl"),
          posexplode(col("__qv")))
        .groupBy(col("__cl"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      parts.foreach { r =>
        // truncated mean — identical to DuckDB's // on either sign
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      centroids = next
      it += 1
    }
    q.select(col("__id").as(idCol),
      assignExpr(col("__qv"), centroids).cast(LongType).as("cluster"))
  }
}
