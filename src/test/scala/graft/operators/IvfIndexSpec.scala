package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class IvfIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_ivf_index").resolve("ix").toString

  test("index search equals the in-memory ivfTopK bit-for-bit") {
    val root = tmpRoot()
    IvfIndex.build(emb, root, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    val fromIndex = IvfIndex.topK(spark, q, root, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val inMemory = Similarity.ivfTopK(q, emb, k = 5, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(fromIndex == inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("probe reads skip files: only the probed cell band opens") {
    val root = tmpRoot()
    IvfIndex.build(emb, root, nlist = 16)
    val allFiles = graft.sources.VersionedTable
      .read(spark, new java.io.File(root, "cells").getPath).inputFiles.length
    val one = emb.filter(col("vec_id") === 0)
    val opened = org.apache.spark.sql.graft.GraftScan.filesRead(
      IvfIndex.topK(spark, one, root, k = 5, nprobe = 2), under = "/cells/")
    info(s"opened $opened of $allFiles index files for one query (nprobe=2)")
    assert(opened < allFiles)
    assert(opened > 0)
  }

  test("append assigns with STORED centroids; new vectors are searchable") {
    val root = tmpRoot()
    val base = emb.filter(col("vec_id") < 400)
    IvfIndex.build(base, root, nlist = 8)
    // append a shifted copy of vector 0 — identical embedding, new id
    val extra = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
    IvfIndex.append(extra, root)
    // searching with vector 0 must now surface its twin at rank 1 with
    // cos == 1 (same cell by construction: same stored centroids)
    val got = IvfIndex.topK(spark, emb.filter(col("vec_id") === 0), root,
      k = 3, nprobe = 2).collect()
    assert(got.head.getLong(1) == 100000L)
    assert(math.abs(got.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("streaming ANN door: build-then-append-then-recluster lifecycle, " +
    "job re-run is a no-op, search == fresh full-corpus build") {
    val root = tmpRoot()
    // two drop files = two micro-batches: one builds, the other
    // appends (50% appended mass → the drift dial fires and retrains;
    // either batch order converges to the same retrained state)
    val flat = Files.createTempDirectory("graft_ann_flat").resolve("p").toString
    emb.filter(col("vec_id") < 250).select("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(flat)
    emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
      .repartition(1).write.mode("append").parquet(flat)
    graft.streaming.StreamingJobs.runAnnIngestAvailableNow(
      spark, flat, root, nlist = 16, driftThreshold = 0.5)
    val cells = new java.io.File(root, "cells").getPath
    val vs = graft.sources.VersionedTable.versions(cells)
    // re-run replays batchIds from 0: build no-ops (txn recorded),
    // appends no-op, drift is 0 after the recluster → nothing moves
    graft.streaming.StreamingJobs.runAnnIngestAvailableNow(
      spark, flat, root, nlist = 16, driftThreshold = 0.5)
    assert(graft.sources.VersionedTable.versions(cells) == vs)
    val fresh = tmpRoot()
    IvfIndex.build(emb, fresh, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    def res(r: String) = IvfIndex.topK(spark, q, r, k = 5, nprobe = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSet
    assert(res(root) == res(fresh))
    assert(res(root).nonEmpty)
  }

  test("an orphan model staged by a crashed re-train is dropped by the " +
    "next append — readers never pair it with old assignments") {
    val root = tmpRoot()
    IvfIndex.build(emb.filter(col("vec_id") < 400), root, nlist = 16)
    val pin = graft.sources.VersionedTable
      .latestVersion(new java.io.File(root, "cells").getPath).get
    // crashed retrain: a staged model ABOVE the committed head whose
    // table rewrite never landed (garbage content — if anything ever
    // resolved it, parsing or search would detectably break)
    val orphan = new java.io.File(root, s"centroids.v${pin + 1}.txt")
    java.nio.file.Files.write(orphan.toPath, "9.9 9.9".getBytes("UTF-8"))
    // the next append reaches that version number — the orphan must go
    IvfIndex.append(emb.filter(col("vec_id") >= 400), root)
    assert(!orphan.exists(), "append must drop the crashed stage")
    val fresh = tmpRoot()
    IvfIndex.build(emb.filter(col("vec_id") < 400), fresh, nlist = 16)
    IvfIndex.append(emb.filter(col("vec_id") >= 400), fresh)
    val q = emb.filter(col("vec_id") < 16)
    def res(r: String) = IvfIndex.topK(spark, q, r, k = 3, nprobe = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(res(root) == res(fresh) && res(root).nonEmpty)
  }

  test("reclusterIfDrifted: threshold gates the retrain; post-recluster " +
    "search equals a fresh full-corpus build bit-for-bit") {
    val cells = (root: String) => new java.io.File(root, "cells").getPath
    val root = tmpRoot()
    IvfIndex.build(emb.filter(col("vec_id") < 250), root, nlist = 16)
    // 125/375 appended = 0.33 < 0.5 → refused, no new version
    IvfIndex.append(emb.filter(col("vec_id").between(250, 374)), root)
    val vBefore = graft.sources.VersionedTable.versions(cells(root)).size
    assert(!IvfIndex.reclusterIfDrifted(spark, root, threshold = 0.5))
    assert(graft.sources.VersionedTable.versions(cells(root)).size == vBefore)
    // 250/500 = 0.5 ≥ 0.5 → retrain runs, ONE new version
    IvfIndex.append(emb.filter(col("vec_id") >= 375), root)
    assert(IvfIndex.reclusterIfDrifted(spark, root, threshold = 0.5))
    assert(graft.sources.VersionedTable.versions(cells(root)).size ==
      vBefore + 2) // the second append + the recluster rewrite
    // a second probe right after: appended mass reset to 0 → refused
    assert(!IvfIndex.reclusterIfDrifted(spark, root, threshold = 0.5))
    // deterministic retrain: search ≡ a fresh build over the full corpus
    val fresh = tmpRoot()
    IvfIndex.build(emb, fresh, nlist = 16)
    val q = emb.filter(col("vec_id") < 32)
    def res(r: String) = IvfIndex.topK(spark, q, r, k = 5, nprobe = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSet
    val reclustered = res(root)
    assert(reclustered == res(fresh))
    assert(reclustered.nonEmpty)
  }
}
