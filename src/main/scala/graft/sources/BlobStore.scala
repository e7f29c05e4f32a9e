package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Chunk-manifest blob storage for oversized media payloads — the
  * missing piece between [[graft.operators.MultiModal]]'s typed rows
  * and a 100 TB media lake: a single multi-GB asset stored as ONE
  * binary cell breaks row/page limits (parquet pages, shuffle blocks,
  * and the JVM's 2 GB array ceiling all bound a cell), so each payload
  * is split into fixed-size RANGED CHUNKS with a pointer row holding
  * the envelope (total bytes, chunk count, md5) — the
  * content-addressed-manifest layout every large-object store uses,
  * realized on the engine's own versioned-table format.
  *
  * Layout under `root`:
  *  - `pointer/` — VersionedTable (media_id, kind, total_bytes,
  *    n_chunks, digest): one row per asset; the digest is md5 of the
  *    WHOLE payload, written at ingest, re-checked on reassembly.
  *  - `chunks/` — VersionedTable (media_id, chunk_idx, offset,
  *    n_bytes, chunk), RANGE-CLUSTERED by media_id with per-file
  *    [min, max] media_id stats, so a point/range read opens only the
  *    files holding the asset's chunks ([[VersionedTable.scan]]
  *    manifest pruning) — never the media lake.
  *
  * The chunk split and reassembly are PURE COLUMN MATH (sequence +
  * binary substring; concat fold) — codegen-friendly, no UDF, no
  * driver bytes. Scale notes: `chunkBytes` bounds every cell and
  * shuffle row; [[readRange]] reads O(requested bytes / chunkBytes)
  * chunk rows (a frame sample touches its chunk, not the asset);
  * [[readAssembled]] is for consumers that genuinely need whole
  * payloads and inherits their size — at 2 GB+ per asset, stream
  * ranges instead. */
object BlobStore {

  private def pointerRoot(root: String) = s"$root/pointer"
  private def chunksRoot(root: String) = s"$root/chunks"
  private def takedownsRoot(root: String) = s"$root/takedowns"

  /** (pointer rows, chunk rows) for a media batch — the pure column
    * math shared by [[write]] and [[appendTxn]]. */
  private def splitRows(media: DataFrame,
                        chunkBytes: Int): (DataFrame, DataFrame) = {
    require(chunkBytes > 0, s"chunkBytes must be positive, got $chunkBytes")
    // exact integer chunk count — no float ceil anywhere near lengths;
    // length() is INT and a ~2 GB payload would overflow the `+`, so
    // the arithmetic runs in BIGINT
    val nChunksCol =
      greatest(expr(s"(cast(length(payload) as bigint) " +
          s"+ ${chunkBytes - 1}L) div ${chunkBytes}L"),
        lit(1L))
    val ptr = media.select(col("media_id"), col("kind"),
      length(col("payload")).cast(LongType).as("total_bytes"),
      nChunksCol.as("n_chunks"),
      md5(col("payload")).as("digest"))
    val chunks = media.select(col("media_id"), col("payload"),
        explode(sequence(lit(0L), nChunksCol - 1)).as("chunk_idx"))
      .select(col("media_id"), col("chunk_idx"),
        (col("chunk_idx") * chunkBytes).as("offset"),
        expr(s"substring(payload, chunk_idx * $chunkBytes + 1, $chunkBytes)")
          .as("chunk"))
      .withColumn("n_bytes", length(col("chunk")).cast(LongType))
      .select(col("media_id"), col("chunk_idx"), col("offset"),
        col("n_bytes"), col("chunk"))
    (ptr, chunks)
  }

  /** Ingest (media_id, kind, payload) rows: split each payload into
    * `chunkBytes`-sized ranged chunks and commit chunks (clustered +
    * stats on media_id) and pointers. Zero-length payloads keep one
    * empty chunk so every asset reassembles. `numFiles` > 0 pins the
    * chunk-file count (default ~1 file per 64 chunks). */
  def write(media: DataFrame, root: String, chunkBytes: Int,
            numFiles: Int = 0): Unit = {
    val (ptr, chunks) = splitRows(media, chunkBytes)
    val files =
      if (numFiles > 0) numFiles
      else {
        // one cheap pass for the default file count: sum of per-asset
        // chunk counts, column-pruned to lengths — never a second
        // execution of the explode/substring chunk-split job
        val n = ptr.agg(sum(col("n_chunks"))).collect().head
        math.max(1, (if (n.isNullAt(0)) 0L else n.getLong(0)) / 64).toInt
      }
    VersionedTable.overwrite(
      chunks.repartitionByRange(files, col("media_id"), col("chunk_idx")),
      chunksRoot(root), VersionedTable.Write.stats("media_id"))
    VersionedTable.overwrite(
      ptr.repartitionByRange(math.max(1, files / 8), col("media_id")),
      pointerRoot(root), VersionedTable.Write.stats("media_id"))
    ()
  }

  /** EXACTLY-ONCE streaming append — the incremental door media
    * actually arrives through ([[graft.streaming.StreamingJobs
    * .runMediaIngestAvailableNow]] wraps it in foreachBatch). Both
    * tables commit txn-stamped (`VersionedTable.Write.txn`:
    * data, stats, and marker in ONE atomic manifest commit), chunks
    * FIRST, pointer LAST — the pointer commit is the publish point, so
    * a crash between the two leaves orphan chunks no reader resolves
    * (reassembly and range reads both start from the pointer), and the
    * replayed batch no-ops the chunk append and completes the pointer.
    * A batch id at or below either table's recorded txn no-ops that
    * table. */
  def appendTxn(media: DataFrame, root: String, chunkBytes: Int,
                appId: String, txn: Long, numFiles: Int = 1,
                autoCompactFiles: Int = 0,
                autoCompactTargetBytes: Long = 128L << 20): Unit = {
    if (VersionedTable.latestTxn(pointerRoot(root), appId).exists(_ >= txn))
      return
    val (ptr, chunks) = splitRows(media, chunkBytes)
    val w = VersionedTable.Write(stats = Some(Seq("media_id")),
      txn = Some(appId -> txn))
    VersionedTable.append(
      chunks.repartitionByRange(math.max(1, numFiles),
        col("media_id"), col("chunk_idx")),
      chunksRoot(root), w)
    VersionedTable.append(ptr.coalesce(1), pointerRoot(root), w)
    // auto-compaction (the TextIndex auto-OPTIMIZE policy at the
    // media layer): one chunk file per micro-batch accumulates into
    // the small-files problem and erodes the media_id bands the range
    // reads prune on; past the threshold, bin-pack the chunk table
    // (rows unchanged, stats re-derived) on the spot
    if (autoCompactFiles > 0) {
      // O(manifest) fragmentation probe — no relation build / footer
      // reads on the per-batch hot path
      if (VersionedTable.fileCount(chunksRoot(root)) >= autoCompactFiles)
        VersionedTable.compact(media.sparkSession, chunksRoot(root),
          targetBytes = autoCompactTargetBytes,
          statsCols = Seq("media_id"))
    }
    ()
  }

  /** GDPR TAKEDOWN, phase 1 of 2: record the ids in the takedown LOG,
    * then delete the POINTER rows for `mediaIds` — O(pointer files
    * touched), the visibility cut: both [[readAssembled]] and
    * [[readRange]] resolve through the pointer, so the assets
    * disappear from every read path immediately while the (large)
    * chunk bytes wait for [[reclaimOrphans]] on the retention
    * cadence — delete the pointer, reclaim the chunks. Log-first
    * ordering: a crash between the two leaves a logged id whose
    * pointer is still live, which reclaim skips — re-running the
    * takedown completes the cut; no ordering loses the intent. */
  def takedown(spark: SparkSession, root: String,
               mediaIds: Seq[Long]): Unit = {
    require(mediaIds.nonEmpty, "takedown needs at least one media_id")
    import spark.implicits._
    VersionedTable.append(mediaIds.toDF("media_id"), takedownsRoot(root))
    VersionedTable.delete(spark, pointerRoot(root),
      col("media_id").isin(mediaIds: _*))
    ()
  }

  /** GDPR takedown, phase 2: physically drop the chunks of every
    * LOGGED takedown whose pointer is gone (file-pruned
    * [[VersionedTable.delete]] — untouched chunk files carry over
    * manifest-only). Reclaim acts ONLY on explicit [[takedown]]
    * intent, never on inferred pointer absence: [[appendTxn]] commits
    * chunks before the pointer, so a crashed or in-flight batch looks
    * exactly like an orphan until its replay completes the pointer —
    * inferring would delete bytes the replayed batch then publishes a
    * pointer to (the chunk-table txn no-op makes that corruption
    * permanent). The log collect is bounded by takedowns since the
    * last reclaim, never corpus size — an offline maintenance pass,
    * like vacuum. Returns the number of assets reclaimed. Old
    * versions still time-travel to the bytes until
    * [[VersionedTable.vacuum]] expires them — run both for physical
    * erasure. */
  def reclaimOrphans(spark: SparkSession, root: String): Long = {
    if (VersionedTable.latestVersion(takedownsRoot(root)).isEmpty) return 0L
    val logged = VersionedTable.read(spark, takedownsRoot(root))
      .select(col("media_id")).distinct()
    val live = VersionedTable.read(spark, pointerRoot(root))
      .select(col("media_id"))
    val gone = logged.join(live, Seq("media_id"), "left_anti")
      .collect().map(_.getLong(0))
    if (gone.nonEmpty) {
      VersionedTable.delete(spark, chunksRoot(root),
        col("media_id").isin(gone.toSeq: _*))
      // fold the log by DELETING exactly the processed ids — never by
      // overwriting with a snapshot, which would erase the intent of
      // any takedown that landed concurrently (its chunks would then
      // NEVER be reclaimed). Unprocessed intents (ids whose pointer is
      // still live — a half-done takedown) stay logged. delete() is
      // optimistic-retry, so it composes with concurrent log appends.
      VersionedTable.delete(spark, takedownsRoot(root),
        col("media_id").isin(gone.toSeq: _*))
    }
    gone.length.toLong
  }

  /** MIGRATION/ADMIN: append every chunk asset with NO pointer to the
    * takedown log as explicit intent — the bridge for stores whose
    * takedowns ran under the pre-log code (pointer already deleted,
    * chunks still waiting) and would otherwise never be reclaimed.
    * Run ONLY on a QUIESCENT store: inference cannot distinguish a
    * completed old-code takedown from a crashed ingest batch whose
    * replay will complete the pointer — which is exactly why the
    * automatic path no longer infers. Returns the assets logged. */
  def logUnreferencedChunks(spark: SparkSession, root: String): Long = {
    if (VersionedTable.latestVersion(chunksRoot(root)).isEmpty) return 0L
    val all = VersionedTable.read(spark, chunksRoot(root))
      .select(col("media_id")).distinct()
    val orphans = (if (VersionedTable.latestVersion(pointerRoot(root)).isEmpty)
      all
    else all.join(VersionedTable.read(spark, pointerRoot(root))
      .select(col("media_id")), Seq("media_id"), "left_anti"))
      .localCheckpoint(true)
    val n = orphans.count()
    if (n > 0) VersionedTable.append(orphans, takedownsRoot(root))
    n
  }

  /** Reassemble every asset with CHECKSUM VERIFICATION: chunks sort by
    * index and concat-fold back into the payload; `intact` is true iff
    * the reassembled bytes match the pointer's recorded length AND
    * md5 — a lost, truncated, or corrupted chunk flips it (serve-side
    * integrity, the manifest-digest contract). */
  def readAssembled(spark: SparkSession, root: String): DataFrame = {
    val ptr = VersionedTable.read(spark, pointerRoot(root))
    val asm = VersionedTable.read(spark, chunksRoot(root))
      .groupBy(col("media_id"))
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x)).as("payload"))
    ptr.join(asm, Seq("media_id"), "left")
      .select(col("media_id"), col("kind"), col("payload"),
        (col("payload").isNotNull &&
          length(col("payload")).cast(LongType) === col("total_bytes") &&
          md5(col("payload")) === col("digest")).as("intact"))
  }

  /** Ranged read: the byte slice `[offset, offset + nBytes)` of one
    * asset, touching ONLY the chunk rows that intersect the range —
    * and, via the manifest's media_id stats, only the FILES holding
    * that asset. Output: one row (media_id, payload) with the slice
    * (shorter if the range passes the asset's end). */
  def readRange(spark: SparkSession, root: String, mediaId: Long,
                offset: Long, nBytes: Long): DataFrame = {
    require(offset >= 0 && nBytes > 0, "range must be non-negative/positive")
    val lo = lit(offset); val hi = lit(offset + nBytes)
    // resolve through the POINTER (manifest-pruned to the files that
    // could hold this id): a taken-down asset must stop serving the
    // moment its pointer row dies, not when reclaim catches up
    val live = VersionedTable.scan(spark, pointerRoot(root))
      .filter(col("media_id") === mediaId).select(col("media_id"))
    VersionedTable.scan(spark, chunksRoot(root))
      .filter(col("media_id") === mediaId)
      .join(broadcast(live), Seq("media_id"), "left_semi")
      .filter(col("offset") + col("n_bytes") > lo && col("offset") < hi)
      // intersection of [offset, offset+n_bytes) with the request:
      // 1-based start inside the chunk + intersection length
      .withColumn("__pos",
        (greatest(lo, col("offset")) - col("offset") + 1).cast("int"))
      .withColumn("__len",
        (least(hi, col("offset") + col("n_bytes")) -
          greatest(lo, col("offset"))).cast("int"))
      .withColumn("piece", expr("substring(chunk, __pos, __len)"))
      .groupBy(col("media_id"))
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("piece")))),
          s => s.getField("piece")),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x)).as("payload"))
  }
}
