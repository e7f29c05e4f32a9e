package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** BlobStore lifecycle beyond the q288 round-trip: the exactly-once
  * streaming door, the pointer-is-the-publish-point crash window, and
  * GDPR takedown with orphan-chunk reclaim. */
class BlobStoreSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_blob_spec").resolve("b").toString

  private def asset(id: Long, n: Int, seed: Int): (Long, String, Array[Byte]) = {
    val rnd = new scala.util.Random(seed)
    val b = new Array[Byte](n); rnd.nextBytes(b)
    (id, s"kind$id", b)
  }

  test("streaming ingest door == batch write; job re-run is a no-op " +
    "(txn-stamped two-table commit)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_blob_in").resolve("p").toString
    val root = tmpRoot()
    val assets = Seq(asset(0L, 1, 1), asset(1L, 250, 2), asset(2L, 777, 3),
      asset(3L, 100, 4))
    assets.toDF("media_id", "kind", "payload")
      .repartition(3).write.mode("overwrite").parquet(in)
    graft.streaming.StreamingJobs.runMediaIngestAvailableNow(
      spark, in, root, chunkBytes = 100)
    def intactMap() = BlobStore.readAssembled(spark, root).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Array[Byte]]("payload"), r.getAs[Boolean]("intact"))).toMap
    val got = intactMap()
    assets.foreach { case (id, _, b) =>
      assert(got(id)._2, s"asset $id must verify")
      assert(java.util.Arrays.equals(got(id)._1, b))
    }
    val chunkVs = VersionedTable.versions(s"$root/chunks")
    val ptrVs = VersionedTable.versions(s"$root/pointer")
    // a fresh run over the same input replays batchIds from 0 — both
    // tables must swallow the replay instead of double-storing
    graft.streaming.StreamingJobs.runMediaIngestAvailableNow(
      spark, in, root, chunkBytes = 100)
    assert(VersionedTable.versions(s"$root/chunks") == chunkVs)
    assert(VersionedTable.versions(s"$root/pointer") == ptrVs)
    assert(intactMap()(2L)._2)
  }

  test("pointer is the publish point: pointer-less chunks are invisible " +
    "to every read path; the replayed batch completes the pointer only") {
    import spark.implicits._
    val root = tmpRoot()
    val base = Seq(asset(0L, 150, 10))
    BlobStore.write(base.toDF("media_id", "kind", "payload"), root,
      chunkBytes = 100, numFiles = 1)
    // simulate the crash window: batch txn=7's CHUNKS committed, the
    // pointer commit never ran (appendTxn commits chunks first)
    val stranded = Seq(asset(9L, 250, 11))
    val chunks9 = {
      val df = stranded.toDF("media_id", "kind", "payload")
      // same column math as the store (chunkBytes=100)
      val n = greatest(expr("(cast(length(payload) as bigint) + 99) div 100"),
        lit(1L))
      df.select(col("media_id"), col("payload"),
          explode(sequence(lit(0L), n - 1)).as("chunk_idx"))
        .select(col("media_id"), col("chunk_idx"),
          (col("chunk_idx") * 100).as("offset"),
          expr("substring(payload, chunk_idx * 100 + 1, 100)").as("chunk"))
        .withColumn("n_bytes", length(col("chunk")).cast("long"))
        .select(col("media_id"), col("chunk_idx"), col("offset"),
          col("n_bytes"), col("chunk"))
    }
    VersionedTable.append(chunks9, s"$root/chunks",
      Write(stats = Some(Seq("media_id")), txn = Some("media_ingest" -> 7L)))
    // no reader resolves the stranded asset
    assert(BlobStore.readAssembled(spark, root).filter(col("media_id") === 9L)
      .isEmpty)
    assert(BlobStore.readRange(spark, root, 9L, 0L, 10L).isEmpty)
    // a maintenance reclaim in the crash window must NOT touch the
    // stranded chunks: reclaim acts only on explicit takedown intent,
    // never inferred pointer absence — otherwise the replay below
    // would no-op the chunk append (txn recorded) and publish a
    // pointer to deleted bytes, corrupting the asset forever
    assert(BlobStore.reclaimOrphans(spark, root) == 0L,
      "in-flight/crashed batches must not look like orphans")
    assert(VersionedTable.read(spark, s"$root/chunks")
      .filter(col("media_id") === 9L).count() > 0,
      "stranded chunks must survive reclaim until their replay")
    // the replay: chunk append no-ops (txn recorded), pointer completes
    val chunkVs = VersionedTable.versions(s"$root/chunks")
    BlobStore.appendTxn(stranded.toDF("media_id", "kind", "payload"), root,
      chunkBytes = 100, appId = "media_ingest", txn = 7L)
    assert(VersionedTable.versions(s"$root/chunks") == chunkVs,
      "replay must not double-append chunks")
    val got = BlobStore.readAssembled(spark, root)
      .filter(col("media_id") === 9L).collect()
    assert(got.length == 1 && got.head.getAs[Boolean]("intact"))
    assert(java.util.Arrays.equals(got.head.getAs[Array[Byte]]("payload"),
      stranded.head._3))
  }

  test("auto-compaction bounds the chunk-file count under a trickle of " +
    "micro-batches; assets stay byte-identical") {
    import spark.implicits._
    val root = tmpRoot()
    val assets = (0L until 8L).map(i => asset(i, 150 * (i.toInt + 1), 40 + i.toInt))
    assets.zipWithIndex.foreach { case (a, i) =>
      BlobStore.appendTxn(Seq(a).toDF("media_id", "kind", "payload"), root,
        chunkBytes = 100, appId = "trickle", txn = i.toLong,
        autoCompactFiles = 4)
    }
    val files = VersionedTable.read(spark, s"$root/chunks").inputFiles.length
    info(s"chunk files after 8 one-file batches with autoCompactFiles=4: $files")
    assert(files < 8, "compaction must fold the per-batch files")
    val got = BlobStore.readAssembled(spark, root).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Array[Byte]]("payload"), r.getAs[Boolean]("intact"))).toMap
    assets.foreach { case (id, _, b) =>
      assert(got(id)._2 && java.util.Arrays.equals(got(id)._1, b))
    }
    // txn progress survives the compaction commits: a replay still no-ops
    val vs = VersionedTable.versions(s"$root/chunks")
    BlobStore.appendTxn(Seq(assets.head).toDF("media_id", "kind", "payload"),
      root, chunkBytes = 100, appId = "trickle", txn = 0L)
    assert(VersionedTable.versions(s"$root/chunks") == vs)
  }

  test("takedown kills every read path immediately; reclaimOrphans " +
    "drops the chunks file-pruned; untouched assets carry over") {
    import spark.implicits._
    val root = tmpRoot()
    val assets = (0L until 6L).map(i => asset(i, 100 * (i.toInt + 1), 20 + i.toInt))
    BlobStore.write(assets.toDF("media_id", "kind", "payload"), root,
      chunkBytes = 100, numFiles = 6)
    // takedown two assets: pointer rows die, so BOTH read paths lose
    // them at once — chunks still on disk awaiting reclaim
    BlobStore.takedown(spark, root, Seq(1L, 4L))
    assert(BlobStore.readAssembled(spark, root).select("media_id")
      .as[Long].collect().toSet == Set(0L, 2L, 3L, 5L))
    assert(BlobStore.readRange(spark, root, 4L, 0L, 50L).isEmpty)
    val chunksBefore = VersionedTable.read(spark, s"$root/chunks")
    assert(chunksBefore.filter(col("media_id").isin(1L, 4L)).count() > 0,
      "chunks must survive until reclaim")
    val filesBefore = chunksBefore.inputFiles.toSet
    // reclaim: exactly the two orphan assets, file-pruned rewrite
    assert(BlobStore.reclaimOrphans(spark, root) == 2L)
    val after = VersionedTable.read(spark, s"$root/chunks")
    assert(after.filter(col("media_id").isin(1L, 4L)).count() == 0)
    // files not holding an orphan carried over manifest-only
    assert(after.inputFiles.toSet.intersect(filesBefore).nonEmpty,
      "untouched chunk files must carry over, not rewrite")
    // survivors still reassemble intact
    val got = BlobStore.readAssembled(spark, root).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Boolean]("intact")).toMap
    assert(got.keySet == Set(0L, 2L, 3L, 5L) && got.values.forall(identity))
    // idempotent: nothing left to reclaim
    assert(BlobStore.reclaimOrphans(spark, root) == 0L)
    // a CRASHED takedown (intent logged, pointer delete never ran):
    // reclaim skips the still-live id but KEEPS the intent; retrying
    // the takedown completes the cut and the next reclaim collects it
    VersionedTable.append(Seq(0L).toDF("media_id"), s"$root/takedowns")
    assert(BlobStore.reclaimOrphans(spark, root) == 0L,
      "an id with a live pointer must be skipped, not reclaimed")
    assert(BlobStore.readAssembled(spark, root)
      .filter(col("media_id") === 0L).count() == 1,
      "the asset must keep serving until its takedown completes")
    BlobStore.takedown(spark, root, Seq(0L))
    assert(BlobStore.reclaimOrphans(spark, root) == 1L)
    assert(VersionedTable.read(spark, s"$root/chunks")
      .filter(col("media_id") === 0L).count() == 0)
  }

  test("logUnreferencedChunks bridges pre-log takedowns: explicit " +
    "backfill, then reclaim collects them") {
    import spark.implicits._
    val root = tmpRoot()
    val assets = (0L until 3L).map(i => asset(i, 120, 70 + i.toInt))
    BlobStore.write(assets.toDF("media_id", "kind", "payload"), root,
      chunkBytes = 100, numFiles = 3)
    // OLD-code takedown: pointer rows deleted directly, nothing logged
    VersionedTable.delete(spark, s"$root/pointer", col("media_id") === 1L)
    // the automatic path must NOT infer (reclaim acts on intent only)
    assert(BlobStore.reclaimOrphans(spark, root) == 0L)
    assert(VersionedTable.read(spark, s"$root/chunks")
      .filter(col("media_id") === 1L).count() > 0)
    // the explicit quiescent-store backfill logs it; reclaim collects
    assert(BlobStore.logUnreferencedChunks(spark, root) == 1L)
    assert(BlobStore.reclaimOrphans(spark, root) == 1L)
    assert(VersionedTable.read(spark, s"$root/chunks")
      .filter(col("media_id") === 1L).count() == 0)
    // survivors intact
    assert(BlobStore.readAssembled(spark, root).count() == 2L)
  }
}
