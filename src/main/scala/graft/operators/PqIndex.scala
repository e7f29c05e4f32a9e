package graft.operators

import java.io.File



import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.VersionedTable

/** Persisted PQ index — [[Similarity.pqTopK]]'s "one-off write-side
  * encode job" made concrete: the codebook and the per-vector codes are
  * durable artifacts, so queries reuse them instead of retraining, and
  * daily ingestion APPENDS codes for new vectors encoded with the
  * STORED codebook (no retrain, no rewrite — the codes table is a
  * [[graft.sources.VersionedTable]], so commits are atomic, snapshots
  * isolated, and a compaction or re-train lands as just another
  * version).
  *
  * Layout under `root`:
  *  - `codebook.v{v}.txt` — header `m ksub dsub`, then one line of
  *    dsub doubles per (subspace, code) — `Double.toString`
  *    round-trips exactly; VERSION-PINNED to the codes version it
  *    governs ([[IndexModelFiles]]: staged before the table commit,
  *    resolved at the reader's pinned version — a periodic re-train
  *    never serves mixed codebook/codes state; legacy unversioned
  *    `codebook.txt` resolves through the fallback);
  *  - `codes/` — VersionedTable of (id, cn, code array<int>): the
  *    ~32×-compressed scan side. Exact vectors stay in the CORPUS
  *    table; search re-reads only the shortlist rows for the exact
  *    rescore (semi-join by id), so the full-precision data is never
  *    duplicated into the index.
  */
object PqIndex {

  private def codesRoot(root: String) = new File(root, "codes").getPath

  private def pinnedVersion(root: String): Long =
    VersionedTable.latestVersion(codesRoot(root))
      .getOrElse(sys.error(s"no committed index at $root"))

  /** Stage the codebook governing codes version `v` — BEFORE that
    * version commits ([[IndexModelFiles]]'s pin-then-resolve
    * protocol). */
  private def writeCodebookFor(root: String, v: Long,
                               book: Array[Array[Array[Double]]]): Unit = {
    val m = book.length; val ksub = book(0).length; val dsub = book(0)(0).length
    val lines = s"$m $ksub $dsub" +:
      book.flatMap(_.map(_.mkString(" "))).toSeq
    IndexModelFiles.write(root, "codebook", v, lines.mkString("\n"))
  }

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

  /** The codebook governing the CURRENT codes version. */
  private[operators] def readCodebook(root: String): Array[Array[Array[Double]]] =
    readCodebookAt(root, pinnedVersion(root))

  /** Normalized vectors + norm, the encode-side shape. */
  private def normalized(corpus: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    Similarity.withNorm(corpus.select(col(idCol).as("id"),
      col(vecCol).as("cv")), "cv", "cn")
      .withColumn("cvn", transform(col("cv"),
        x => x.cast(DoubleType) / col("cn")))

  private def encode(norm: DataFrame,
                     book: Array[Array[Array[Double]]]): DataFrame =
    norm.withColumn("code",
      graft.plans.PqExpressions.encode(col("cvn"), book))
      .select(col("id"), col("cn"), col("code"))

  /** Train the codebook on `corpus` (deterministic — seeds + one
    * distributed Lloyd pass, as [[Similarity.pqTopK]]) and commit
    * codebook + encoded codes as version 0 of the index. */
  def build(corpus: DataFrame, root: String, dim: Int,
            m: Int = 8, ksub: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    new File(root).mkdirs()
    val norm = normalized(corpus, idCol, vecCol)
    val book = Similarity.trainPqCodebook(norm, "cvn", "id", m, ksub, dim / m)
    // stage for the version this build WILL commit (single maintenance
    // writer): readers resolve the previous (codebook, codes) pair
    // until the overwrite lands — never mixed state on a re-train
    writeCodebookFor(root,
      VersionedTable.latestVersion(codesRoot(root)).map(_ + 1).getOrElse(0L),
      book)
    VersionedTable.overwrite(encode(norm, book), codesRoot(root))
  }

  /** Encode a NEW batch with the stored codebook and append its codes —
    * the daily-ingestion path: O(batch) work, the existing codes are
    * inherited untouched. (Codebook drift over months is handled by a
    * periodic [[build]] — a new version, not a new table.) */
  def append(batch: DataFrame, root: String,
             idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val pin = pinnedVersion(root)
    // drop orphan stages from a crashed re-train (see IvfIndex.append)
    IndexModelFiles.dropAbove(root, "codebook", pin)
    val book = readCodebookAt(root, pin)
    VersionedTable.append(
      encode(normalized(batch, idCol, vecCol), book), codesRoot(root))
  }

  /** ADC top-k over the STORED codes (latest snapshot), exact-rescored
    * against `corpus` on the shortlist only: the shortlist ids
    * (|queries| · k · refine rows) broadcast into a semi-join of the
    * corpus, so full-precision vectors are read for a sliver of the
    * table. With the same corpus the codebook was built on, this equals
    * [[Similarity.pqTopK]] row-for-row (PqIndexSpec pins it). */
  def search(queries: DataFrame, corpus: DataFrame, root: String, k: Int,
             refine: Int = 4, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import graft.plans.{PqExpressions => PQ}
    // pin the codes version FIRST, then resolve the codebook that
    // produced it — a concurrent re-train can never serve mixed state
    val pin = pinnedVersion(root)
    val book = readCodebookAt(root, pin)
    val ksub = book(0).length
    val codes = VersionedTable.readVersion(spark, codesRoot(root), pin)
      .select(col("id").as("neighbor_id"), col("code"))
    val q = Similarity.withNorm(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), "qv", "qn")
      .withColumn("__lut", PQ.lut(col("qv"), book))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("neighbor_id"))
    val shortlist = codes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", PQ.adcScore(col("code"), col("__lut"), ksub))
      .withColumn("__arank", row_number().over(wAdc))
      .filter(col("__arank") <= k * refine)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qn"))
    val cSide = Similarity.withNorm(corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "cv", "cn")
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(cSide, Seq("neighbor_id")) // shortlist-sized: broadcast side
      .withColumn("cos", Similarity.fastCos(col("qv"), col("qn"),
        col("cv"), col("cn")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
