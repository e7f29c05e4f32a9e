package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.VersionedTable

/** Persisted IVF+PQ composite index (IVFADC on lake storage — Jégou
  * et al. 2011, §IV): [[Similarity.ivfPqTopK]]'s one-shot in-memory
  * pipeline split into durable build/append/search artifacts — the
  * form a 100 TB embedding corpus actually serves. Combines what the
  * single-axis indexes each prove alone: [[IvfIndex]]'s CELL-CLUSTERED
  * table with manifest-pruned probes (open nprobe/nlist of the files)
  * and [[PqIndex]]'s ~32×-compressed scan rows (codes, not vectors).
  *
  * Layout under `root`:
  *  - `centroids.v{v}.txt` — nlist lines of dim doubles: the IVF
  *    centroids over the NORMALIZED corpus, VERSION-PINNED to the
  *    codes version they govern ([[IndexModelFiles]]: staged before
  *    the table commit, resolved at the reader's pinned version —
  *    a re-train never serves mixed state; `Double.toString`
  *    round-trips exactly, so stored centroids reproduce in-memory
  *    training bit-for-bit);
  *  - `codebook.v{v}.txt` — the PQ codebook trained on cell RESIDUALS
  *    (x̂ − centroid — the distribution PQ quantizes best), header
  *    `m ksub dsub` then one line per (subspace, code); same
  *    version-pinning;
  *  - `codes/` — VersionedTable of (id, cell, code array<int>),
  *    RANGE-CLUSTERED by cell with per-file [min, max] cell stats, so
  *    a probe opens only its cells' files via
  *    a `cell IN (...)` [[VersionedTable.scan]] — the IVF-list seek realized as
  *    manifest pruning, over rows ~32× smaller than the vectors.
  *    Full-precision vectors stay in the CORPUS table; search re-reads
  *    only the shortlist rows for the exact rescore (equi-join by id),
  *    so the raw data is never duplicated into the index.
  *
  * `append` assigns + encodes a new batch with the STORED centroids
  * and codebook — O(batch), no retrain, no rewrite; a periodic
  * re-`build` is the re-train path (a new version, not a new table).
  * On a same-corpus build, `search` equals [[Similarity.ivfPqTopK]]
  * row-for-row (IvfPqIndexSpec pins it): same centroid training, same
  * residual codebook, same ADC shortlist and exact rescore —
  * persistence changes WHERE the cells and codes come from, never the
  * math. */
object IvfPqIndex {

  private def codesRoot(root: String) = new File(root, "codes").getPath
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
      val cr = codesRoot(root)
      if (VersionedTable.versions(cr).contains(0L))
        VersionedTable.countRows(cr, Some(0L))
      else None
    }
  }

  private def pinnedVersion(root: String): Long =
    VersionedTable.latestVersion(codesRoot(root))
      .getOrElse(sys.error(s"no committed index at $root"))

  /** Does a committed index live at `root`? (The streaming door's
    * build-or-append branch.) */
  def exists(root: String): Boolean =
    VersionedTable.latestVersion(codesRoot(root)).nonEmpty

  /** Stage centroids + codebook governing codes version `v` — BEFORE
    * that version commits ([[IndexModelFiles]]'s pin-then-resolve
    * protocol: serving never mixes a new model with old code rows). */
  private def writeModelFor(root: String, v: Long,
                            cs: Array[Array[Double]],
                            book: Array[Array[Array[Double]]]): Unit = {
    IndexModelFiles.write(root, "centroids", v,
      cs.map(_.map(java.lang.Double.toString).mkString(" ")).mkString("\n"))
    val m = book.length; val ksub = book(0).length; val dsub = book(0)(0).length
    val lines = s"$m $ksub $dsub" +:
      book.flatMap(_.map(_.mkString(" "))).toSeq
    IndexModelFiles.write(root, "codebook", v, lines.mkString("\n"))
  }

  private def readCentroidsAt(root: String, v: Long): Array[Array[Double]] =
    IndexModelFiles.readAt(root, "centroids", v)
      .split("\n").map(_.trim).filter(_.nonEmpty)
      .map(_.split(" ").map(java.lang.Double.parseDouble))

  private def readCodebookAt(root: String,
                             v: Long): Array[Array[Array[Double]]] = {
    val lines = IndexModelFiles.readAt(root, "codebook", v)
      .linesIterator.toSeq
    val Array(m, ksub, dsub) = lines.head.trim.split(" ").map(_.toInt)
    val flat = lines.tail.map(_.trim.split(" ").map(_.toDouble))
    require(flat.length == m * ksub && flat.forall(_.length == dsub),
      s"corrupt codebook at $root")
    Array.tabulate(m, ksub)((j, c) => flat(j * ksub + c))
  }

  private def residual(centroids: Array[Array[Double]])
                      (vec: Column, cell: Column): Column = {
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    zip_with(vec, element_at(centLit, cell + 1), (x, c) => x - c)
  }

  /** (id, cell, code) rows for `vecs` under the given model. */
  private def codeRowsOf(vecs: DataFrame, centroids: Array[Array[Double]],
                         book: Array[Array[Array[Double]]],
                         idCol: String, vecCol: String): DataFrame = {
    import graft.plans.{PqExpressions => PQ}
    graft.plans.VectorExpressions.register(vecs.sparkSession)
    Similarity.withNorm(
      vecs.select(col(idCol).as("id"), col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cvn", transform(col("cv"),
        x => x.cast(DoubleType) / col("cn")))
      .withColumn("__c", Similarity.nearestCentroid(col("cvn"), centroids))
      .withColumn("code",
        PQ.encode(residual(centroids)(col("cvn"), col("__c")), book))
      .select(col("id"), col("__c").cast(LongType).as("cell"), col("code"))
  }

  /** Train centroids (normalized corpus; [[Similarity.ivfPqTopK]]'s
    * deterministic seeds + one Lloyd pass) and the residual PQ
    * codebook, then commit the cell-clustered code rows as version 0
    * with cell stats. `numFiles` defaults to ~2 cells/file so the
    * per-file cell bands survive for manifest pruning. */
  def build(corpus: DataFrame, root: String, dim: Int, nlist: Int = 16,
            m: Int = 8, ksub: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding",
            numFiles: Int = 0, appId: String = "ivfpq_ingest",
            txn: Long = -1L): Long = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m
    new File(root).mkdirs()
    // exactly-once bootstrap for a streaming door's first micro-batch:
    // a replayed build no-ops (the IvfIndex.build protocol)
    if (txn >= 0 &&
        VersionedTable.latestTxn(codesRoot(root), appId).exists(_ >= txn))
      return VersionedTable.latestVersion(codesRoot(root)).getOrElse(-1L)
    graft.plans.VectorExpressions.register(corpus.sparkSession)
    val cNorm = Similarity.withNorm(
      corpus.select(col(idCol).as("id"), col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cvn", transform(col("cv"),
        x => x.cast(DoubleType) / col("cn")))
    val seeds = cNorm.orderBy(col("id")).limit(nlist)
      .select(col("cvn")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == nlist,
      s"IvfPqIndex needs >= $nlist corpus vectors to seed the cells")
    val centroids = Similarity.refineCentroids(
      cNorm.withColumn("__cell",
        Similarity.nearestCentroid(col("cvn"), seeds)), "cvn", seeds)
    val assigned = cNorm
      .withColumn("__cell", Similarity.nearestCentroid(col("cvn"), centroids))
      .withColumn("__res", residual(centroids)(col("cvn"), col("__cell")))
    val book = Similarity.trainPqCodebook(assigned, "__res", "id", m, ksub, dsub)
    // stage BOTH model files for the version this build WILL commit
    // (single maintenance writer); until that commit lands, readers
    // resolve the previous (model, codes) pair — never mixed state
    writeModelFor(root,
      VersionedTable.latestVersion(codesRoot(root)).map(_ + 1).getOrElse(0L),
      centroids, book)
    val files = if (numFiles > 0) numFiles else math.max(nlist / 2, 1)
    val rows = codeRowsOf(corpus, centroids, book, idCol, vecCol)
      .repartitionByRange(files, col("cell"), col("id"))
    val v =
      VersionedTable.overwrite(rows, codesRoot(root), VersionedTable.Write(
        stats = Some(Seq("cell")),
        txn = if (txn >= 0) Some(appId -> txn) else None))
    VersionedTable.countRows(codesRoot(root), Some(v))
      .foreach(writeBuildRows(root, _))
    v
  }

  /** RE-CLUSTER ON DRIFT ([[IvfIndex.reclusterIfDrifted]]'s composite
    * twin): [[append]] assigns + encodes with the STORED model forever,
    * so a drifted corpus degrades cell balance, residual fit, and
    * recall silently. When the mass appended since the last (re)build
    * reaches `threshold` of the codes table, retrain the WHOLE model —
    * centroids AND residual codebook — via [[build]] over the current
    * `corpus` (the full-precision vectors live there, never in the
    * index; model shape nlist/m/ksub is re-read from the stored
    * artifacts, so the caller only supplies the data). One new
    * cell-clustered version; history keeps working. Returns true iff
    * the retrain ran. */
  def reclusterIfDrifted(corpus: DataFrame, root: String,
                         threshold: Double = 0.5,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         numFiles: Int = 0): Boolean = {
    val cr = codesRoot(root)
    val total = VersionedTable.countRows(cr).getOrElse(
      VersionedTable.read(corpus.sparkSession, cr).count())
    if (total == 0) return false
    val atBuild = readBuildRows(root).getOrElse(0L)
    if ((total - atBuild).toDouble / total < threshold) return false
    val pin = pinnedVersion(root)
    val nlist = readCentroidsAt(root, pin).length
    val book = readCodebookAt(root, pin)
    val (m, ksub, dsub) = (book.length, book(0).length, book(0)(0).length)
    build(corpus, root, dim = m * dsub, nlist = nlist, m = m, ksub = ksub,
      idCol = idCol, vecCol = vecCol, numFiles = numFiles)
    true
  }

  /** Assign + encode a NEW batch with the STORED model and append its
    * code rows — O(batch); existing files are inherited untouched. */
  def append(batch: DataFrame, root: String,
             idCol: String = "vec_id", vecCol: String = "embedding",
             numFiles: Int = 1, appId: String = "ivfpq_ingest",
             txn: Long = -1L): Long = {
    val pin = pinnedVersion(root)
    // drop orphan stages from a crashed re-train (see IvfIndex.append)
    IndexModelFiles.dropAbove(root, "centroids", pin)
    IndexModelFiles.dropAbove(root, "codebook", pin)
    val rows = codeRowsOf(batch, readCentroidsAt(root, pin),
      readCodebookAt(root, pin), idCol, vecCol)
      .repartitionByRange(math.max(numFiles, 1), col("cell"), col("id"))
    VersionedTable.append(rows, codesRoot(root), VersionedTable.Write(
      stats = Some(Seq("cell")),
      txn = if (txn >= 0) Some(appId -> txn) else None))
  }

  /** IVFADC search against the persisted index: each query probes its
    * `nprobe` nearest stored centroids; ONLY the probed cells' code
    * files open (manifest pruning); candidates score by
    * q·x̂ ≈ q·c_cell + Σ_j lut[j][code_j]; the `refine`-deep ADC
    * shortlist is exact-rescored against the full-precision CORPUS
    * rows (equi-join on id — shortlist-sized). Output:
    * (query_id, neighbor_id, rank, cos) with true cosines. */
  def search(queries: DataFrame, corpus: DataFrame, root: String, k: Int,
             nprobe: Int = 4, refine: Int = 4,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    graft.plans.VectorExpressions.register(spark)
    import graft.plans.VectorExpressions.dotProduct
    import graft.plans.{PqExpressions => PQ}
    // pin the codes version FIRST, then resolve the model that
    // produced it — a concurrent re-train can never serve mixed state
    val pin = pinnedVersion(root)
    val centroids = readCentroidsAt(root, pin)
    val book = readCodebookAt(root, pin)
    val ksub = book(0).length
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    val q = Similarity.withNorm(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", "qn")
      .withColumn("__lut", PQ.lut(col("qv"), book))
      .withColumn("__c",
        explode(Similarity.probeCells(col("qv"), centroids, nprobe)))
      .withColumn("__base",
        dotProduct(col("qv"), element_at(centLit, col("__c") + 1)))
      .withColumn("cell", col("__c").cast(LongType))
      .drop("__c")
    // the union of probed cells decides which code FILES open at all
    // (nprobe·|queries| ints — query batches are human-sized); the
    // per-row cell equi-join then narrows to each query's own probes
    val probed = q.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = VersionedTable.scan(spark, codesRoot(root), Some(pin))
      .filter(col("cell").isin(probed: _*))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("id"))
    val shortlist = codes.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("__adc",
        col("__base") + PQ.adcScore(col("code"), col("__lut"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= k * refine)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("qv"), col("qn"))
    val cSide = Similarity.withNorm(corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "cv", "cn")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(cSide, Seq("neighbor_id")) // shortlist-sized
      .withColumn("cos", Similarity.fastCos(col("qv"), col("qn"),
        col("cv"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
