package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** IvfPqIndex: the persisted IVFADC composite — search ≡ in-memory
  * ivfPqTopK on a same-corpus build, manifest-pruned file opens, and
  * stored-model appends. */
class IvfPqIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_ivfpq_index").resolve("ix").toString

  test("index search equals the in-memory ivfPqTopK row-for-row") {
    val root = tmpRoot()
    IvfPqIndex.build(emb, root, dim = 64, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    val fromIndex = IvfPqIndex.search(q, emb, root, k = 5,
      nprobe = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val inMemory = Similarity.ivfPqTopK(q, emb, k = 5, dim = 64,
      nlist = 16, nprobe = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(fromIndex == inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("probe reads skip files: only the probed cells' CODE files open") {
    val root = tmpRoot()
    IvfPqIndex.build(emb, root, dim = 64, nlist = 16)
    val allFiles = graft.sources.VersionedTable
      .read(spark, new java.io.File(root, "codes").getPath).inputFiles.length
    val one = emb.filter(col("vec_id") === 0)
    val opened = org.apache.spark.sql.graft.GraftScan.filesRead(
      IvfPqIndex.search(one, emb, root, k = 5, nprobe = 2), under = "/codes/")
    info(s"opened $opened of $allFiles code files for one query (nprobe=2)")
    assert(opened < allFiles)
    assert(opened > 0)
  }

  test("append encodes with the STORED centroids + codebook; new " +
    "vectors are searchable at exact-rescore fidelity") {
    val root = tmpRoot()
    val base = emb.filter(col("vec_id") < 400)
    IvfPqIndex.build(base, root, dim = 64, nlist = 8)
    // append an identical twin of vector 0 under a new id: same cell
    // and same code by construction (stored model), and the exact
    // rescore must put it at rank 1 with cos == 1
    val extra = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
    IvfPqIndex.append(extra, root)
    val corpus = base.unionByName(extra)
    val got = IvfPqIndex.search(emb.filter(col("vec_id") === 0), corpus,
      root, k = 3, nprobe = 2).collect()
    assert(got.head.getLong(1) == 100000L)
    assert(math.abs(got.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("streaming IVFADC door: corpus + index maintained together, " +
    "drift retrain fires, re-run is a no-op, search == fresh build") {
    val root = tmpRoot()
    val flat = Files.createTempDirectory("graft_ivfpq_flat")
      .resolve("p").toString
    emb.filter(col("vec_id") < 250).select("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(flat)
    emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
      .repartition(1).write.mode("append").parquet(flat)
    graft.streaming.StreamingJobs.runIvfPqIngestAvailableNow(
      spark, flat, root, dim = 64, nlist = 16, driftThreshold = 0.5)
    val corpusRoot = new java.io.File(root, "corpus").getPath
    val indexRoot = new java.io.File(root, "index").getPath
    val codes = new java.io.File(indexRoot, "codes").getPath
    assert(graft.sources.VersionedTable.read(spark, corpusRoot)
      .count() == emb.count(), "corpus table must hold every vector once")
    val vs = graft.sources.VersionedTable.versions(codes)
    // a full re-run replays every batchId: both tables must move NOTHING
    graft.streaming.StreamingJobs.runIvfPqIngestAvailableNow(
      spark, flat, root, dim = 64, nlist = 16, driftThreshold = 0.5)
    assert(graft.sources.VersionedTable.versions(codes) == vs)
    assert(graft.sources.VersionedTable.read(spark, corpusRoot)
      .count() == emb.count())
    // the 50% appended mass tripped the drift dial → the served index
    // equals a fresh full-corpus build (deterministic retrain)
    val fresh = tmpRoot()
    IvfPqIndex.build(emb, fresh, dim = 64, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    val corpus = graft.sources.VersionedTable.read(spark, corpusRoot)
    def res(r: String, c: org.apache.spark.sql.DataFrame) =
      IvfPqIndex.search(q, c, r, k = 5, nprobe = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getDouble(3))).toSet
    assert(res(indexRoot, corpus) == res(fresh, emb))
    assert(res(indexRoot, corpus).nonEmpty)
  }

  test("reclusterIfDrifted: threshold gates the retrain; post-recluster " +
    "search equals a fresh full-corpus build bit-for-bit") {
    val codes = (root: String) => new java.io.File(root, "codes").getPath
    val root = tmpRoot()
    IvfPqIndex.build(emb.filter(col("vec_id") < 250), root, dim = 64,
      nlist = 16)
    IvfPqIndex.append(emb.filter(col("vec_id").between(250, 374)), root)
    val vBefore = graft.sources.VersionedTable.versions(codes(root)).size
    // 125/375 = 0.33 < 0.5 → refused
    assert(!IvfPqIndex.reclusterIfDrifted(
      emb.filter(col("vec_id") < 375), root, threshold = 0.5))
    assert(graft.sources.VersionedTable.versions(codes(root)).size == vBefore)
    // 250/500 = 0.5 ≥ 0.5 → the whole model (centroids AND residual
    // codebook) retrains via build over the current corpus
    IvfPqIndex.append(emb.filter(col("vec_id") >= 375), root)
    assert(IvfPqIndex.reclusterIfDrifted(emb, root, threshold = 0.5))
    assert(graft.sources.VersionedTable.versions(codes(root)).size ==
      vBefore + 2)
    assert(!IvfPqIndex.reclusterIfDrifted(emb, root, threshold = 0.5))
    val fresh = tmpRoot()
    IvfPqIndex.build(emb, fresh, dim = 64, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    def res(r: String) = IvfPqIndex.search(q, emb, r, k = 5, nprobe = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSet
    val reclustered = res(root)
    assert(reclustered == res(fresh))
    assert(reclustered.nonEmpty)
  }
}
