package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.VersionedTable

/** Persisted IVF ANN index — the vector sibling of [[LshIndex]] and
  * [[PqIndex]], completing the persisted-index family: instead of
  * re-training centroids and re-assigning the whole corpus on every
  * query batch (the [[Similarity.ivfTopK]] shape), the trained
  * centroids and the CELL-CLUSTERED vectors are committed once and
  * queries seek straight into their probe cells.
  *
  * Layout under `root`:
  *  - `centroids.v{v}.txt` — nlist lines of dim doubles, VERSION-PINNED
  *    to the cells version they govern ([[IndexModelFiles]]: staged
  *    before the table commit, resolved at the reader's pinned
  *    version — so a re-train can never serve mixed state;
  *    `java.lang.Double.toString` round-trips exactly, so stored
  *    centroids reproduce in-memory training bit-for-bit);
  *  - `cells/` — VersionedTable of (id, cell, norm, vec),
  *    RANGE-CLUSTERED by cell at build (repartitionByRange → each file
  *    covers a narrow cell band) with per-file [min, max] cell stats in
  *    the manifest — so a probe reads its cells through
  *    a `cell IN (...)` [[VersionedTable.scan]], FILE-SKIPPING from the listing
  *    alone, the IVF-list seek realized as manifest pruning. At 100 TB
  *    the cells table is the one clustered copy of the vectors; a
  *    query batch opens nprobe/nlist of its files.
  *
  * `append` assigns new vectors with the STORED centroids (O(batch)
  * map-local) — cell semantics never drift from the build; re-training
  * is an explicit re-`build`, exactly the Delta OPTIMIZE-style
  * rewrite. Search equals [[Similarity.ivfTopK]] output bit-for-bit on
  * the same corpus/params (IvfIndexSpec pins it): same centroids, same
  * assignment rule, same exact-cosine window — persistence changes
  * WHERE the cells come from, never the math.
  *
  * Reference anchor: beyond-reference (IVF from Sivic & Zisserman
  * 2003 / Jégou et al. 2011; persistence layout is this repo's
  * manifest-log table format).
  */
object IvfIndex {

  private def cellsRoot(root: String) = new File(root, "cells").getPath
  private def buildRowsFile(root: String) = new File(root, "build_rows.txt")

  private def writeBuildRows(root: String, rows: Long): Unit =
    Files.write(buildRowsFile(root).toPath,
      rows.toString.getBytes(StandardCharsets.UTF_8))

  /** Rows at the last (re)build — falls back to the version-0 manifest
    * count for indexes built before the sidecar existed; `None` (drift
    * = 100%, a self-healing re-train) once vacuum expired that
    * manifest. */
  private def readBuildRows(root: String): Option[Long] = {
    val f = buildRowsFile(root)
    if (f.exists())
      Some(new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).trim.toLong)
    else {
      val cr = cellsRoot(root)
      if (VersionedTable.versions(cr).contains(0L))
        VersionedTable.countRows(cr, Some(0L))
      else None
    }
  }

  /** Does a committed index live at `root`? (The streaming door's
    * build-or-append branch.) */
  def exists(root: String): Boolean =
    VersionedTable.latestVersion(cellsRoot(root)).nonEmpty

  /** Stage the centroids governing cells version `v` — BEFORE that
    * version commits ([[IndexModelFiles]]'s pin-then-resolve
    * protocol, so serving never pairs new centroids with old cell
    * assignments or vice versa). */
  private def writeCentroidsFor(root: String, v: Long,
                                cs: Array[Array[Double]]): Unit =
    IndexModelFiles.write(root, "centroids", v,
      cs.map(_.map(java.lang.Double.toString).mkString(" ")).mkString("\n"))

  /** The centroids governing cells version `v`. */
  private def readCentroidsAt(root: String, v: Long): Array[Array[Double]] =
    IndexModelFiles.readAt(root, "centroids", v)
      .split("\n").map(_.trim).filter(_.nonEmpty)
      .map(_.split(" ").map(java.lang.Double.parseDouble))

  private def pinnedVersion(root: String): Long =
    VersionedTable.latestVersion(cellsRoot(root))
      .getOrElse(sys.error(s"no committed index at $root"))

  private def cellRowsOf(vecs: DataFrame, centroids: Array[Array[Double]],
                         idCol: String, vecCol: String): DataFrame = {
    import graft.plans.VectorExpressions.dotProduct
    vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        Similarity.nearestCentroid(col("vec"), centroids).cast(LongType))
      .withColumn("norm", sqrt(dotProduct(col("vec"), col("vec"))))
  }

  /** Train centroids on `corpus` (the shared deterministic seeds +
    * one-Lloyd-pass rule), commit the cell-clustered vectors as
    * version 0 with cell stats. `txn` ≥ 0 stamps (`appId`, txn) into
    * the same atomic commit — the exactly-once bootstrap a streaming
    * door's first micro-batch needs (a replayed build no-ops). */
  def build(corpus: DataFrame, root: String, nlist: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding",
            numFiles: Int = 0, appId: String = "ann_ingest",
            txn: Long = -1L): Long = {
    new File(root).mkdirs()
    if (txn >= 0 &&
        VersionedTable.latestTxn(cellsRoot(root), appId).exists(_ >= txn))
      return VersionedTable.latestVersion(cellsRoot(root)).getOrElse(-1L)
    val centroids = Similarity.trainCentroids(corpus, nlist, idCol, vecCol)
    // stage the model for the version this build WILL commit (single
    // maintenance writer — the streaming door serializes build/append/
    // recluster); a crash before the commit leaves an orphan stage no
    // reader resolves
    writeCentroidsFor(root,
      VersionedTable.latestVersion(cellsRoot(root)).map(_ + 1).getOrElse(0L),
      centroids)
    // explicit file count (default ~2 cells/file): an adaptive
    // coalesce would happily pack a small build into ONE file and
    // erase the per-file cell bands the scan prunes on
    val files = if (numFiles > 0) numFiles else math.max(nlist / 2, 1)
    val rows = cellRowsOf(corpus, centroids, idCol, vecCol)
      .repartitionByRange(files, col("cell"), col("id"))
    val v =
      VersionedTable.overwrite(rows, cellsRoot(root), VersionedTable.Write(
        stats = Some(Seq("cell")),
        txn = if (txn >= 0) Some(appId -> txn) else None))
    VersionedTable.countRows(cellsRoot(root), Some(v))
      .foreach(writeBuildRows(root, _))
    v
  }

  /** Assign a NEW batch with the STORED centroids and append its cell
    * rows — O(batch); the build's files are inherited untouched.
    * `txn` ≥ 0 makes the append exactly-once per (`appId`, txn) — the
    * `VersionedTable.Write.txn` protocol for the streaming
    * door: a replayed micro-batch no-ops instead of double-adding. */
  def append(batch: DataFrame, root: String,
             idCol: String = "vec_id", vecCol: String = "embedding",
             numFiles: Int = 1, appId: String = "ann_ingest",
             txn: Long = -1L): Long = {
    val pin = pinnedVersion(root)
    // a crashed re-train may have staged a model above the committed
    // head; this append's commit will REACH that version number, so
    // the orphan must go or readers would pair the new model with
    // rows assigned under the old one
    IndexModelFiles.dropAbove(root, "centroids", pin)
    val centroids = readCentroidsAt(root, pin)
    val rows = cellRowsOf(batch, centroids, idCol, vecCol)
      .repartitionByRange(math.max(numFiles, 1), col("cell"), col("id"))
    VersionedTable.append(rows, cellsRoot(root), VersionedTable.Write(
      stats = Some(Seq("cell")),
      txn = if (txn >= 0) Some(appId -> txn) else None))
  }

  /** RE-CLUSTER ON DRIFT — the maintenance dial [[append]] deliberately
    * lacks: appends assign with the STORED centroids forever, so a
    * drifted corpus (new batches from a different distribution)
    * degrades cell balance and recall silently. When the mass appended
    * since the last (re)build reaches `threshold` of the table, this
    * retrains the centroids on the CURRENT stored vectors (the cells
    * table carries them — no external corpus needed; same
    * deterministic lowest-id seeds + one-Lloyd-pass rule as [[build]],
    * so the result is bit-identical to a fresh build over the same
    * (id, vec) set — IvfIndexSpec pins it) and rewrites the
    * cell-clustered table as one new version (the Delta OPTIMIZE-style
    * rewrite; history and time travel keep working). O(table) — the
    * point of the threshold: amortize one rewrite over `threshold`
    * worth of O(batch) appends. Returns true iff a recluster ran. */
  def reclusterIfDrifted(spark: SparkSession, root: String,
                         threshold: Double = 0.5,
                         numFiles: Int = 0): Boolean = {
    val cr = cellsRoot(root)
    val total = VersionedTable.countRows(cr)
      .getOrElse(VersionedTable.read(spark, cr).count())
    if (total == 0) return false
    val atBuild = readBuildRows(root).getOrElse(0L)
    if ((total - atBuild).toDouble / total < threshold) return false
    val vOld = pinnedVersion(root)
    val nlist = readCentroidsAt(root, vOld).length
    val stored = VersionedTable.readVersion(spark, cr, vOld)
      .select(col("id"), col("vec"))
    val centroids = Similarity.trainCentroids(stored, nlist, "id", "vec")
    // stage the new model for the version the rewrite WILL commit;
    // until that commit lands, every reader still resolves the OLD
    // (centroids, cells) pair — a query can never pair new centroids
    // with old assignments. A crash after the commit but before
    // writeBuildRows re-triggers the (deterministic) retrain next
    // batch — an extra rewrite, never a wrong answer.
    writeCentroidsFor(root, vOld + 1, centroids)
    val files = if (numFiles > 0) numFiles else math.max(nlist / 2, 1)
    VersionedTable.overwrite(
      cellRowsOf(stored, centroids, "id", "vec")
        .repartitionByRange(files, col("cell"), col("id")),
      cr, VersionedTable.Write.stats("cell"))
    writeBuildRows(root, total)
    true
  }

  /** Approximate top-`k` cosine neighbors from the index: each query
    * probes its `nprobe` nearest stored centroids, the probed cells
    * are read with manifest file-skipping, candidates score with the
    * exact cosine and window-rank per query — byte-identical results
    * to [[Similarity.ivfTopK]] on the same corpus/params. Output:
    * (query_id, neighbor_id, rank, cos). */
  def topK(spark: SparkSession, queries: DataFrame, root: String, k: Int,
           nprobe: Int = 4, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    import graft.plans.VectorExpressions.dotProduct
    // pin the cells version FIRST, then resolve the model that
    // produced it — a concurrent recluster between the two reads can
    // never mix new centroids with old assignments (or vice versa)
    val pin = pinnedVersion(root)
    val centroids = readCentroidsAt(root, pin)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", sqrt(dotProduct(col("qv"), col("qv"))))
      .withColumn("cell",
        explode(Similarity.probeCells(col("qv"), centroids, nprobe)))
      .withColumn("cell", col("cell").cast(LongType))
    // the union of probed cells decides which index FILES open at all
    // (query batches are human-sized; the collect is nprobe·|queries|
    // ints). The per-row cell equi-join then narrows to each query's
    // own probes.
    val probed = q.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = VersionedTable.scan(spark, cellsRoot(root), Some(pin))
      .filter(col("cell").isin(probed: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("id"))
    cells.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cos",
        dotProduct(col("qv"), col("vec")) / (col("__qn") * col("norm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("cos"))
  }
}
