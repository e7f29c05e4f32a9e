package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.sources.VersionedTable.Write

/** Structured Streaming jobs over the events table — the engine's
  * incremental-ingestion story (SURVEY.md §2.10: the reference's
  * Airflow-cron micro-batching, upgraded to the idiomatic
  * `Trigger.AvailableNow` + watermark pattern).
  */
object StreamingJobs {

  /** Events schema with `ts` as the given type — the fixture has
    * shipped ts both as nanos int64 (TIMESTAMP(NANOS), readable only as
    * raw long) and as plain TIMESTAMP(MICROS) ntz; see
    * graft.core.Tables. */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Nanos-int64 layout — what the sentinel writers below produce. */
  private val nanosSchema = rawSchema(LongType)

  /** Streaming source over the events parquet. A streaming source needs
    * a declared schema, so the batch reader's footer inference (one
    * driver-side metadata read) decides which ts layout this lake
    * shipped; both normalize to TimestampType in the UTC session zone. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    val stream = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (tsType == LongType)
      stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else stream.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Tumbling 1-hour windowed aggregation with a watermark; returns the
    * transformation (caller picks sink/trigger). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("val_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n"), col("val_sum"))

  /** Run the hourly aggregation as a synchronous AvailableNow batch —
    * processes everything currently in the source, then stops. This is
    * the reference's "daily append" protocol done right: restartable,
    * checkpointable, exactly-once into the sink. */
  def runHourlyAvailableNow(spark: SparkSession, dir: String,
                            queryName: String): DataFrame = {
    val q = hourlyAgg(readEvents(spark, dir))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Sliding-window aggregation (2-hour windows every hour): each event
    * lands in two overlapping windows — the smoothing shape for rate
    * monitoring. Same watermark/state mechanics as the tumbling case;
    * state is 2× (one open window per slide), still bounded. */
  def runSlidingAvailableNow(spark: SparkSession, dir: String,
                             queryName: String): DataFrame = {
    val q = readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("val_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"), col("val_sum"))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Exactly-once over an at-least-once source: the input stream is the
    * events file source unioned with itself (every record delivered
    * twice — the replay/retry shape), deduplicated on event_id within
    * the watermark, then aggregated. The batch oracle is the plain
    * single-copy aggregate — equality proves the dedup. */
  def runDedupAvailableNow(spark: SparkSession, dir: String,
                           queryName: String): DataFrame = {
    val once = readEvents(spark, dir)
    val atLeastOnce = once.union(readEvents(spark, dir))
    val q = atLeastOnce
      .withWatermark("ts", "24 hours")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("val_sum"))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** [[runDedupAvailableNow]] with BOUNDED state:
    * `dropDuplicatesWithinWatermark` evicts a key's dedup state once
    * the watermark passes its event time + delay, so state is
    * O(events inside the watermark horizon) instead of O(every key
    * ever seen) — the shape that survives an unbounded keyspace at
    * 100 TB/day. Correct whenever duplicates arrive within the delay
    * of each other (true for replay/retry duplication: the copies
    * carry the SAME event time); the plain dropDuplicates variant is
    * for keys that may recur arbitrarily late. Oracle: the
    * single-copy batch aggregate, same as q52. */
  def runDedupWithinWatermarkAvailableNow(spark: SparkSession, dir: String,
                                          queryName: String): DataFrame = {
    val once = readEvents(spark, dir)
    val atLeastOnce = once.union(readEvents(spark, dir))
    val q = atLeastOnce
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("val_sum"))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** STREAMING retrieval-index maintenance — the
    * [[graft.operators.TextIndex]] ingest door as a real streaming
    * sink: each micro-batch of documents is tokenized and appended to
    * the persisted inverted index (postings + doclen + stats, all
    * O(batch)), so the index trails the document stream and serving
    * ([[graft.operators.TextIndex.searchBm25]]) never re-reads the
    * corpus. Exactly-once via the txn-stamped pointer
    * (`TextIndex.append(..., txn = batchId)`): the batch id moves WITH
    * the index's atomic commit pointer, so a replayed micro-batch
    * (failed-batch re-run) no-ops instead of double-appending — and a
    * crash mid-append leaves only orphan versions serving never
    * sees. */
  def runTextIndexIngestAvailableNow(spark: SparkSession, inputDir: String,
                                     indexRoot: String): Unit = {
    new java.io.File(indexRoot).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.operators.TextIndex.append(batch.toDF(), indexRoot,
          txn = batchId)
      }
      // persisted checkpoint: batchIds stay stable across restarts, so
      // the txn replay guard sees the SAME file-to-batch assignment a
      // crashed run recorded — a temp checkpoint would re-enumerate
      // from scratch and can silently skip a shifted batch
      .option("checkpointLocation",
        new java.io.File(indexRoot, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** [[graft.sources.BlobStore]] ingest door: media assets arrive
    * incrementally (a crawl drop directory), each micro-batch is
    * chunk-split and appended to the blob store through
    * [[graft.sources.BlobStore.appendTxn]] — chunks commit first,
    * pointer last, both txn-stamped, so a replayed micro-batch no-ops
    * instead of double-storing and a crash between the two commits
    * leaves only pointer-less chunks no reader resolves (the pointer
    * commit is the publish point; the replay completes it). */
  def runMediaIngestAvailableNow(spark: SparkSession, inputDir: String,
                                 root: String, chunkBytes: Int,
                                 autoCompactFiles: Int = 0): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        graft.sources.BlobStore.appendTxn(batch.toDF(), root, chunkBytes,
          appId = "media_ingest", txn = batchId,
          autoCompactFiles = autoCompactFiles)
      }
      // stable batchIds across restarts (see runTextIndexIngest note)
      .option("checkpointLocation",
        new java.io.File(root, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** [[graft.operators.IvfIndex]] ingest door — the full ANN lifecycle
    * through streaming: the first micro-batch BUILDS the index (train
    * + cell-clustered commit, txn-stamped so a replayed build no-ops),
    * later batches assign with the stored centroids and append
    * exactly-once, and after every batch [[graft.operators.IvfIndex
    * .reclusterIfDrifted]] checks the drift dial — when appended mass
    * reaches `driftThreshold` the centroids retrain on the stored
    * vectors and the table rewrites cell-clustered, so recall never
    * silently decays under a drifting stream. */
  /** The (vec_id, embedding) drop-file schema BOTH ANN ingest doors
    * read — one definition, or the doors could silently diverge. */
  private val embeddingStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  def runAnnIngestAvailableNow(spark: SparkSession, inputDir: String,
                               indexRoot: String, nlist: Int = 16,
                               driftThreshold: Double = 0.5): Unit = {
    new java.io.File(indexRoot).mkdirs()
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(embeddingStreamSchema)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val ix = graft.operators.IvfIndex
        if (!ix.exists(indexRoot))
          ix.build(batch.toDF(), indexRoot, nlist, txn = batchId)
        else
          ix.append(batch.toDF(), indexRoot, txn = batchId)
        ix.reclusterIfDrifted(spark, indexRoot, driftThreshold)
        ()
      }
      // stable batchIds across restarts (see runTextIndexIngest note)
      .option("checkpointLocation",
        new java.io.File(indexRoot, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** [[graft.operators.IvfPqIndex]] ingest door — the COMPOSITE-index
    * lifecycle through streaming, maintaining corpus AND index
    * together exactly-once: each micro-batch appends the
    * full-precision vectors to the `corpus/` VersionedTable
    * (txn-stamped; [[graft.operators.IvfPqIndex.search]]'s exact
    * rescore reads it) and encodes the batch into the `index/` codes
    * (first batch BUILDS centroids + residual codebook, later batches
    * assign + encode with the stored model, all txn-stamped so
    * replays no-op on BOTH tables). After every append the drift dial
    * checks appended mass and retrains the WHOLE model over the
    * current corpus past `driftThreshold` — recall never silently
    * decays under a drifting stream. First batch must carry ≥ `nlist`
    * vectors (the build's seeding floor). */
  def runIvfPqIngestAvailableNow(spark: SparkSession, inputDir: String,
                                 root: String, dim: Int, nlist: Int = 16,
                                 m: Int = 8, ksub: Int = 16,
                                 driftThreshold: Double = 0.5): Unit = {
    import graft.sources.VersionedTable
    val corpusRoot = new java.io.File(root, "corpus").getPath
    val indexRoot = new java.io.File(root, "index").getPath
    new java.io.File(indexRoot).mkdirs()
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(embeddingStreamSchema)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val ix = graft.operators.IvfPqIndex
        // corpus first: the index's exact rescore resolves ids here; a
        // crash between the two commits leaves corpus-only rows the
        // replay completes into the index (both appends txn-guarded)
        VersionedTable.append(batch.toDF(), corpusRoot,
          Write(stats = Some(Seq("vec_id")), txn = Some("ivfpq_ingest" -> batchId)))
        if (!ix.exists(indexRoot))
          ix.build(VersionedTable.read(spark, corpusRoot), indexRoot,
            dim, nlist, m, ksub, txn = batchId)
        else {
          ix.append(batch.toDF(), indexRoot, txn = batchId)
          ix.reclusterIfDrifted(VersionedTable.read(spark, corpusRoot),
            indexRoot, driftThreshold)
        }
        ()
      }
      // stable batchIds across restarts (see runTextIndexIngest note)
      .option("checkpointLocation",
        new java.io.File(root, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Z-ORDERED ingest door — incremental clustered ingestion: each
    * micro-batch lands as a `Write.zorder` append,
    * k-dim clustered with BATCH-LOCAL boundaries (exact per-file
    * [min, max] regardless; a box read prunes across all batches) and
    * txn-stamped exactly-once. Inter-batch box overlap accumulates
    * with every batch-local clustering, so past `autoCompactFiles` the
    * whole table refolds via [[graft.sources.VersionedTable
    * .compactZOrderedK]] into `compactTargetFiles` tight files — the
    * ingestion shape a 100 TB fact table actually takes: O(batch)
    * landings, amortized O(table) re-clustering on a fragmentation
    * dial, manifest-pruned reads throughout. */
  def runZOrderIngestAvailableNow(spark: SparkSession, inputDir: String,
                                  root: String, cols: Seq[String],
                                  schema: org.apache.spark.sql.types.StructType,
                                  numFiles: Int = 4,
                                  autoCompactFiles: Int = 0,
                                  compactTargetFiles: Int = 16): Unit = {
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        import graft.sources.VersionedTable
        VersionedTable.append(batch.toDF(), root,
          Write(zorder = Some(Write.ZOrder(cols, numFiles)),
            txn = Some("zorder_ingest" -> batchId)))
        // O(manifest) fragmentation probe — no relation build / footer
        // reads on the per-batch hot path
        if (autoCompactFiles > 0 &&
            VersionedTable.fileCount(root) >= autoCompactFiles)
          VersionedTable.compactZOrderedK(spark, root, cols,
            compactTargetFiles)
        ()
      }
      // stable batchIds across restarts (see runTextIndexIngest note)
      .option("checkpointLocation",
        new java.io.File(root, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming upsert sink: foreachBatch → VersionedTable.merge — the
    * idiomatic upgrade of the reference's blind daily appends
    * (SURVEY.md §2.10: "foreachBatch upsert via DeltaTable.merge"),
    * realized on the engine's own manifest-log table format. Each
    * micro-batch is deduplicated on the key and MERGEd, so an
    * at-least-once source (here: the events file source unioned with
    * itself, every record delivered twice) still lands exactly once,
    * and every batch is an atomic, time-travelable table version. */
  def runUpsertAvailableNow(spark: SparkSession, dir: String,
                            tableRoot: String): DataFrame = {
    import graft.sources.VersionedTable
    val atLeastOnce = readEvents(spark, dir).union(readEvents(spark, dir))
    val q = atLeastOnce.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        val deduped = batch.dropDuplicates("event_id")
        if (VersionedTable.latestVersion(tableRoot).isEmpty)
          VersionedTable.overwrite(deduped, tableRoot)
        else
          VersionedTable.merge(spark, tableRoot, deduped, Seq("event_id"))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, tableRoot)
  }

  /** Streaming MATERIALIZED VIEW: each micro-batch lands as a
    * versioned-table append AND the additive aggregate view refreshes
    * from the table's changes feed — the full incremental story
    * composed end to end (ingest → durable versioned source → IVM),
    * replacing the reference's recompute-the-gold-layer-per-day loop.
    * Per batch: one O(batch) append commit + one O(batch)-read
    * refresh against the GROUP-sized view state (ScaleProbe `mv`:
    * flat across a 10× source). Returns the refreshed view. */
  def runViewMaintenanceAvailableNow(spark: SparkSession, dir: String,
                                     srcRoot: String,
                                     viewRoot: String): DataFrame = {
    import graft.sources.{MaterializedView, VersionedTable}
    // foreachBatch is at-least-once: Structured Streaming RE-RUNS a
    // failed micro-batch with the SAME batchId, and a blind append
    // would land its rows twice (and the additive view would absorb
    // them twice). Exactly-once via a `Write.txn` append: the batchId
    // is stamped INSIDE the same atomic manifest commit as the data
    // files, so a crash anywhere leaves
    // either no trace of the batch or the complete (data + marker)
    // commit — a replayed batchId is a no-op append. The txn log and
    // the stream's checkpoint share srcRoot's lifetime, so batchIds
    // stay monotonic per table — a fresh table starts both at zero.
    new java.io.File(srcRoot).mkdirs()
    val q = readEvents(spark, dir)
      .withColumn("hour_start",
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        VersionedTable.append(batch, srcRoot,
          Write(txn = Some("view_ingest" -> batchId)))
        // refresh is idempotent per source version, so
        // running it on a replayed batch is a no-op, never a re-apply
        MaterializedView.refreshAdditive(spark, srcRoot, viewRoot,
          Seq("hour_start", "event_type"), "value")
        ()
      }
      .option("checkpointLocation",
        new java.io.File(srcRoot, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, viewRoot)
  }

  /** STREAMING CDC apply — the Delta Live Tables
    * `apply_changes` ingestion loop: each micro-batch of the event
    * stream is interpreted as an ordered change feed (key = user_id,
    * sequence = event_id, op derived from the event type: `error`
    * tombstones the user, everything else upserts their latest
    * activity row) and folded into the target table via ONE atomic
    * [[graft.sources.VersionedTable.applyChangesGuarded]] commit per
    * batch. The applied sequence PERSISTS in the table (`seq`
    * column), so a later micro-batch carrying an OLDER sequence for a
    * key — an out-of-order multi-file feed — cannot regress newer
    * state: ordering holds ACROSS batches, not just within one (the
    * Delta/DLT apply_changes contract). A pre-existing target must
    * carry the `seq` column.
    *
    * Exactly-once: foreachBatch is at-least-once; guarded apply is
    * replay-idempotent BY CONSTRUCTION (a replayed feed's sequences
    * tie the stored ones and fold to identical state), and the
    * batchId replay guard additionally skips the whole job.
    *
    * Scale: per batch one copy-on-write commit touching only files
    * holding affected keys; the net-effect window runs on the BATCH,
    * never the table. */
  def runCdcApplyAvailableNow(spark: SparkSession, dir: String,
                              tableRoot: String): DataFrame = {
    import graft.sources.VersionedTable
    new java.io.File(tableRoot).mkdirs()
    val q = readEvents(spark, dir)
      .select(col("user_id"), col("event_id").as("seq"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"),
        col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (VersionedTable.latestVersion(tableRoot).isEmpty) {
          // bootstrap: the first batch's net upserts ARE version 0,
          // sequence kept — later feeds guard against it
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("seq").desc, col("op").desc)
          VersionedTable.append(
            batch.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1 && col("op") =!= "D")
              .drop("__rn", "op"),
            tableRoot, Write(txn = Some("cdc" -> batchId)))
        } else
          // the batchId stamp rides INSIDE the apply's atomic commit;
          // a replayed batch returns before any write
          VersionedTable.applyChangesGuarded(spark, tableRoot, batch,
            Seq("user_id"), "seq", "op", txnAppId = "cdc", txn = batchId)
        ()
      }
      .option("checkpointLocation",
        new java.io.File(tableRoot, "_cdc_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, tableRoot)
  }

  /** STREAMING drift monitor: every ingested micro-batch's `value`
    * distribution is KS-compared (exact, [[graft.operators.Drift]])
    * against a FIXED reference sample, and one
    * (batch_id, n_a, n_b, d_num, d_ppm, at_value) row appends to a
    * versioned monitor table — the corpus-quality tripwire wired into
    * ingestion itself: a drifting crawl alarms on the batch that
    * drifted, not at the next offline audit. Exactly-once via the same
    * txn-stamped commit protocol as [[runViewMaintenanceAvailableNow]]
    * (a replayed batch neither re-appends nor re-scores).
    *
    * `reference` must be a single LONG column `x` (the accepted
    * corpus' signal sample — lengths, scores, bucketed values). It is
    * re-evaluated per batch; pin it (small: collect to a local frame,
    * large: a parquet snapshot) if the underlying source moves.
    *
    * Scale: the KS stat is one histogram agg over reference ∪ batch
    * then dim-sized CDF windows (Drift's shape); the monitor table
    * grows one row per batch. */
  def runDriftMonitorAvailableNow(spark: SparkSession, dir: String,
                                  reference: DataFrame,
                                  monitorRoot: String): DataFrame = {
    import graft.sources.VersionedTable
    new java.io.File(monitorRoot).mkdirs()
    val ref = reference.select(col("x").cast("long").as("v"),
      lit(1).as("side"))
    val q = readEvents(spark, dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // replay guard BEFORE scoring: a replayed batch neither
        // re-appends (the txn append would no-op anyway) nor re-runs the KS
        // job — the txn probe is a manifest read, the KS stat a job
        if (!VersionedTable.latestTxn(monitorRoot, "drift").exists(_ >= batchId)) {
          val stat = graft.operators.Drift.ksStat(
            ref.unionByName(batch
              .select(col("value").cast("long").as("v"), lit(0).as("side"))),
            valueCol = col("v"), isA = col("side") === 1)
            .withColumn("batch_id", lit(batchId))
            .select(col("batch_id"), col("n_a"), col("n_b"),
              col("d_num"), col("d_ppm"), col("at_value"))
          VersionedTable.append(stat, monitorRoot,
            Write(txn = Some("drift" -> batchId)))
        }
        ()
      }
      .option("checkpointLocation",
        new java.io.File(monitorRoot, "_monitor_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, monitorRoot).orderBy("batch_id")
  }

  /** STREAMING QUARANTINE INGEST: the [[graft.sources.Lake
    * .readJsonWithQuarantine]] split wired into continuous ingestion —
    * each micro-batch of raw JSONL lines routes parseable rows to the
    * durable data table and malformed raw lines to the durable
    * quarantine table, both [[graft.sources.VersionedTable]]s.
    * Exactly-once per TABLE via per-table txn-stamped commits
    * (`VersionedTable.Write.txn`): the two appends
    * can't be made atomic together, but each batchId lands in the
    * same atomic manifest commit as its table's data — a crash
    * between them replays the batch, no-ops on the already-stamped
    * table and lands only the missing one. Scale: the split is
    * map-local from_json; each commit is O(batch). */
  def runQuarantineIngestAvailableNow(spark: SparkSession, inputDir: String,
                                      schema: org.apache.spark.sql.types.StructType,
                                      goodRoot: String,
                                      badRoot: String): (DataFrame, DataFrame) = {
    import graft.sources.VersionedTable
    new java.io.File(goodRoot).mkdirs()
    new java.io.File(badRoot).mkdirs()
    val corrupt = "_corrupt_record"
    val full = schema.add(
      org.apache.spark.sql.types.StructField(corrupt,
        org.apache.spark.sql.types.StringType, nullable = true))
    val q = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val parsed = batch.select(col("value"),
          from_json(col("value"), full, Map(
            "mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> corrupt)).as("j"))
          .localCheckpoint(true) // both channels read it; parse once
        val good = parsed
          .filter(col("j").isNotNull && col(s"j.$corrupt").isNull)
          .select(schema.fieldNames.map(f => col(s"j.$f").as(f)).toSeq: _*)
        val bad = parsed
          .filter(col("j").isNull || col(s"j.$corrupt").isNotNull)
          .select(col("value").as("raw_line"))
        // per-table txn stamps: the two appends can't be made atomic
        // TOGETHER, but each is atomic WITH its own progress marker —
        // a crash between them replays the batch, no-ops on the
        // already-stamped table and lands only the missing one
        VersionedTable.append(good, goodRoot,
          Write(txn = Some("quarantine_ingest" -> batchId)))
        VersionedTable.append(bad, badRoot,
          Write(txn = Some("quarantine_ingest" -> batchId)))
        ()
      }
      .option("checkpointLocation",
        new java.io.File(goodRoot, "_ingest_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    (VersionedTable.read(spark, goodRoot), VersionedTable.read(spark, badRoot))
  }

  /** STREAMING JOIN-VIEW maintenance — [[runViewMaintenanceAvailableNow]]
    * for the ENRICHED-FACT view: each micro-batch of (grp, item) fact
    * rows appends to the left versioned source exactly-once
    * (txn-stamped commit), then
    * [[graft.sources.MaterializedView.refreshJoin]]
    * folds the delta join against the right source into the view —
    * per batch the view gains O(|Δ ⋈ right|) rows, never a join
    * recompute; a replayed batch is a no-op at BOTH layers (the txn
    * append skips; refreshJoin's (aV, bV) pair check
    * skips the refresh). Returns the served view. */
  def runJoinViewMaintenanceAvailableNow(spark: SparkSession,
                                         inputDir: String, leftRoot: String,
                                         rightRoot: String, viewRoot: String,
                                         joinCols: Seq[String]): DataFrame = {
    import graft.sources.{MaterializedView, VersionedTable}
    new java.io.File(leftRoot).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.DoubleType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        VersionedTable.append(batch, leftRoot,
          Write(txn = Some("jv_ingest" -> batchId)))
        // idempotent per (leftV, rightV) — a replayed batch no-ops
        MaterializedView.refreshJoin(spark, leftRoot, rightRoot,
          viewRoot, joinCols)
        ()
      }
      .option("checkpointLocation",
        new java.io.File(leftRoot, "_jv_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    MaterializedView.readJoin(spark, viewRoot)
  }

  /** STREAMING SKETCH ROLLUP: per micro-batch, ONE combinable CMS
    * sketch row per group appended to a durable partial-sketch table
    * (exactly-once via the txn-stamped commit); serving merges the
    * stored partials per group with pure built-ins (CMS merge is
    * elementwise long addition — [[graft.operators.CountMin
    * .mergeAll]]'s positional sum, here per group). The streaming
    * form of q146's pre-aggregation story: the raw stream is never
    * retained, yet any later point-frequency question is answerable
    * from state that grows as groups × batches × (depth·width longs),
    * and the merged sketch is bit-identical to a single pass over
    * everything (CountMinSpec's merge law). `items` must be a STRING
    * column named `item` with a group column named `grp`. */
  def runSketchRollupAvailableNow(spark: SparkSession, inputDir: String,
                                  sketchRoot: String, depth: Int,
                                  width: Int): DataFrame =
    runPartialRollupAvailableNow(spark, inputDir, sketchRoot,
      graft.operators.CountMin.sketch("item", depth, width).as("sk"))

  /** As [[runSketchRollupAvailableNow]] with DataSketches HLL partials
    * (`hll_sketch_agg`) — the streaming DISTINCT rollup; serve with
    * `hll_sketch_estimate(hll_union_agg(sk))` per group. */
  def runHllRollupAvailableNow(spark: SparkSession, inputDir: String,
                               sketchRoot: String): DataFrame =
    runPartialRollupAvailableNow(spark, inputDir, sketchRoot,
      hll_sketch_agg(col("item")).as("sk"))

  /** As [[runSketchRollupAvailableNow]] with KLL quantile partials
    * ([[graft.operators.KllQuantiles.sketchBytes]] over the item cast
    * to double) — the streaming PERCENTILE rollup; serve with
    * [[graft.operators.KllQuantiles.mergeQuantiles]] per group.
    * Exact (percentile_disc-matching) while a group's streamed count
    * stays ≤ k; mergeable-estimate beyond. */
  def runKllRollupAvailableNow(spark: SparkSession, inputDir: String,
                               sketchRoot: String,
                               k: Int = 32768): DataFrame =
    runPartialRollupAvailableNow(spark, inputDir, sketchRoot,
      graft.operators.KllQuantiles.sketchBytes("item", k).as("sk"))

  /** STREAMING multi-table publish: every micro-batch lands the raw
    * events in the facts table AND refreshes the additive summary
    * view, then moves the [[graft.sources.SnapshotGroup]] pointer to
    * the new (facts, summary) version PAIR — readers resolving through
    * the group never see facts ahead of their summary, even
    * mid-batch, even across a crash between the two commits (the
    * pointer still names the last consistent pair; orphan versions
    * are invisible). The q222 join-view composition plus the q260
    * atomicity contract, end to end through the streaming door.
    * Exactly-once via the txn-stamped facts commit. */
  def runAtomicPublishAvailableNow(spark: SparkSession, dir: String,
                                   groupRoot: String): DataFrame = {
    import graft.sources.{MaterializedView, SnapshotGroup, VersionedTable}
    val facts = new java.io.File(groupRoot, "facts").getPath
    val view = new java.io.File(groupRoot, "summary").getPath
    new java.io.File(groupRoot).mkdirs()
    val q = readEvents(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // the facts append is txn-stamped (data + batchId in one atomic
        // manifest commit → a replayed batch appends nothing); refresh
        // and publish run UNCONDITIONALLY because both are idempotent
        // per source version — so a crash after the append but before
        // the pointer move is healed by the replay's refresh+publish,
        // and readers meanwhile still resolve the last consistent pair
        val fv = VersionedTable.append(batch, facts,
          Write(txn = Some("publish" -> batchId)))
        // fv < 0 = empty batch against a not-yet-bootstrapped facts
        // table (no version 0 exists): nothing to refresh or publish —
        // refreshing would throw on the version-less table and crash
        // the stream
        if (fv >= 0) {
          MaterializedView.refreshAdditive(spark, facts, view,
            Seq("event_type"), "value")
          val vv = VersionedTable.latestVersion(view).get
          SnapshotGroup.publish(groupRoot, Map(facts -> fv, view -> vv))
        }
        ()
      }
      .option("checkpointLocation",
        new java.io.File(groupRoot, "_pub_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // an all-empty input never bootstraps the facts table, so nothing
    // was ever published — return the (empty) view shape instead of
    // failing the publish-group resolution
    if (SnapshotGroup.current(groupRoot).isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total",
            org.apache.spark.sql.types.DecimalType(18, 2)))))
    else SnapshotGroup.readAt(spark, groupRoot, view)
  }

  /** STREAMING expect-or-quarantine door (the DLT `expect_or_drop`
    * role, streaming form of `VersionedTable.Write.expect`): every
    * micro-batch is judged against the
    * AGGREGATE expectations in one aggregation job; a passing batch
    * appends to the MAIN table, a failing one lands WHOLE in the
    * quarantine table with the failed gate names attached — nothing
    * is dropped, nothing aborts the stream, and the main table's
    * quality invariants hold by construction. Exactly-once via the
    * txn-stamped commit (each batch goes to exactly ONE of the two
    * tables). Input dir: parquet of
    * (event_id long, event_type string, value double). */
  def runExpectOrQuarantineAvailableNow(
      spark: SparkSession, inputDir: String, mainRoot: String,
      quarRoot: String,
      gates: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    import graft.sources.VersionedTable
    // a batch lands in exactly ONE of the two tables, so the replay
    // check is the MAX of both tables' recorded txns (a crash after
    // the quarantine append must not re-judge the batch into main)
    def lastCommitted: Long =
      (VersionedTable.latestTxn(mainRoot, "expect") ++
        VersionedTable.latestTxn(quarRoot, "expect"))
        .foldLeft(-1L)(math.max)
    new java.io.File(mainRoot).mkdirs()
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (batchId > lastCommitted) {
          val row = batch.agg(
            gates.head._2.cast("boolean").as(gates.head._1),
            gates.tail.map { case (n, c) => c.cast("boolean").as(n) }: _*)
            .collect().head
          val failed = gates.map(_._1).zipWithIndex.collect {
            case (n, i) if row.isNullAt(i) || !row.getBoolean(i) => n
          }
          if (failed.isEmpty)
            VersionedTable.append(batch, mainRoot,
              Write(txn = Some("expect" -> batchId)))
          else
            VersionedTable.append(
              batch.withColumn("failed_gates",
                lit(failed.sorted.mkString(","))),
              quarRoot, Write(txn = Some("expect" -> batchId)))
        }
        ()
      }
      .option("checkpointLocation",
        new java.io.File(mainRoot, "_exp_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, mainRoot)
  }

  /** STREAMING OHLC ROLLUP — the sketch-rollup machinery with EXACT
    * mergeable state: per micro-batch one
    * [[graft.operators.TimeSeries.ohlcPartials]] fragment per
    * (grp, bucket) appends to a durable partial table (exactly-once
    * txn-stamped commit); serving merges fragments with
    * [[graft.operators.TimeSeries.ohlcMergeBars]] — bit-identical to
    * a single pass over everything, because the fragments carry their
    * boundary order keys. Input dir: parquet of
    * (grp string, t_us long, id long, v double). */
  def runOhlcRollupAvailableNow(spark: SparkSession, inputDir: String,
                                barsRoot: String,
                                widthSec: Long): DataFrame = {
    import graft.sources.VersionedTable
    new java.io.File(barsRoot).mkdirs()
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("t_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        VersionedTable.append(
          graft.operators.TimeSeries
            .ohlcPartials(batch, "grp", "t_us", "id", "v", widthSec)
            .withColumn("batch_id", lit(batchId)),
          barsRoot, Write(txn = Some("ohlc" -> batchId)))
        ()
      }
      .option("checkpointLocation",
        new java.io.File(barsRoot, "_bars_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, barsRoot)
  }

  /** Shared (grp, item)-stream → durable per-batch partial-aggregate
    * table machinery behind the sketch rollups. */
  private def runPartialRollupAvailableNow(
      spark: SparkSession, inputDir: String, sketchRoot: String,
      partialAgg: org.apache.spark.sql.Column): DataFrame = {
    import graft.sources.VersionedTable
    new java.io.File(sketchRoot).mkdirs()
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(inputDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        VersionedTable.append(
          batch.groupBy(col("grp")).agg(partialAgg)
            .withColumn("batch_id", lit(batchId)),
          sketchRoot, Write(txn = Some("rollup" -> batchId)))
        ()
      }
      .option("checkpointLocation",
        new java.io.File(sketchRoot, "_sketch_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, sketchRoot)
  }

  /** Merge a partial-sketch table (grp, sk, …) to one sketch per
    * group — positional long addition, the CMS merge law. */
  def mergeSketchesPerGroup(partials: DataFrame): DataFrame =
    partials.select(col("grp"), posexplode(col("sk")))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("col")).as("c"))
      .groupBy(col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("__pairs"))
      .select(col("grp"),
        transform(col("__pairs"), p => p.getField("c")).as("sk"))

  /** Stream-static enrichment join: streaming events against a static
    * dimension table, aggregated per dim attribute. */
  def runStaticJoinAvailableNow(spark: SparkSession, dir: String,
                                dim: DataFrame, queryName: String): DataFrame = {
    val q = readEvents(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long)
  // must be public: the state Encoder's generated code instantiates it
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Timestamp → epoch micros. `getTime` alone truncates to millis —
    * the events fixture is micro-precision (not ms-aligned), so gap
    * comparisons must run at the same precision as the batch oracle
    * (`BatchSessionize` uses unix_micros). */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Sentinel event_id: closes the open session of its user without
    * starting a new one — lets an AvailableNow run over a finite source
    * flush trailing sessions so Append output equals the batch oracle. */
  val FlushSentinelId: Long = -1L

  /** Gap-based sessionization (30-min inactivity) with
    * `flatMapGroupsWithState` — the custom-state streaming operator.
    * Emits a session when the gap to the next event exceeds the
    * timeout; `BatchSessionize.sessions` is the batch-SQL oracle it is
    * tested against. Rows with event_id == FlushSentinelId only close
    * the current session (end-of-stream markers). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[Session]
          for (e <- sorted) {
            val t = micros(e.ts)
            if (e.event_id == FlushSentinelId) {
              cur.foreach(s =>
                out += Session(userId, fromMicros(s.start), fromMicros(s.last), s.n))
              cur = None
            } else cur match {
              case Some(s) if t - s.last <= gapUs =>
                cur = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                out += Session(userId, fromMicros(s.start), fromMicros(s.last), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None    => if (state.exists) state.remove()
          }
          out.result().iterator
        })
  }

  /** Flush every open session from a sessionize state pass — batch-mode
    * helper so tests can compare complete output against the SQL oracle. */
  def sessionizeBatchComplete(events: Dataset[Event], gapMinutes: Int = 30): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, rows: Iterator[Event]) =>
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        val out = Seq.newBuilder[Session]
        var cur: Option[SessionState] = None
        for (e <- sorted) {
          val t = micros(e.ts)
          cur match {
            case Some(s) if t - s.last <= gapUs =>
              cur = Some(s.copy(last = t, n = s.n + 1))
            case Some(s) =>
              out += Session(userId, fromMicros(s.start), fromMicros(s.last), s.n)
              cur = Some(SessionState(t, t, 1))
            case None => cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach(s => out += Session(userId, fromMicros(s.start), fromMicros(s.last), s.n))
        out.result().iterator
      }.toDF()
  }

  /** Run the flatMapGroupsWithState sessionizer as a real streaming
    * query (AvailableNow, Append) whose complete output equals the
    * batch gaps-and-islands result. Trailing open sessions are the
    * classic Append-mode gap: with NoTimeout they would never emit on a
    * finite source — so a second file-source stream of per-user
    * sentinel events (ts beyond every real event + gap) is unioned in;
    * the state function closes each user's last session when its
    * sentinel arrives. At 100 TB the same job runs unmodified on a live
    * source with EventTimeTimeout instead of sentinels — the sentinel
    * union is the finite-source test harness, not the operator.
    */
  def runSessionizeAvailableNow(spark: SparkSession, dir: String,
                                queryName: String,
                                gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    // Batch-side sentinel manifest: one row per user at maxTs + gap + 1 min.
    val batch = graft.core.Tables(spark, dir, "events")
    val maxUs = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinelNanos = (maxUs + (gapMinutes + 1) * 60000000L) * 1000L
    val sentinelDir = java.nio.file.Files
      .createTempDirectory("graft_sessionize_sentinels").toString
    batch.select(col("user_id")).distinct()
      .select(
        lit(FlushSentinelId).as("event_id"), lit(sentinelNanos).as("ts"),
        col("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sentinelDir)

    val sentinels = spark.readStream
      .schema(nanosSchema)
      .parquet(sentinelDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val events = readEvents(spark, dir).union(sentinels)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]

    val q = sessionize(events, gapMinutes)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
  }

  final case class Enriched(event_id: Long, user_id: Long,
                            last_purchase: Option[Double])
  // must be public: the state Encoder's generated code instantiates it
  final case class PurchaseState(last: Long, value: Double)

  /** STREAMING as-of enrichment — the temporal-join sibling of
    * [[graft.operators.AsOfJoin]]: each click is enriched with the same
    * user's most recent purchase value, with one
    * `flatMapGroupsWithState` keeping a single (latest-purchase) state
    * row per user — O(users) state, no buffered event history, exactly
    * the kdb/Flink temporal-join shape. Ties follow the q38 rule (a
    * purchase is visible at its own timestamp: purchases sort before
    * clicks at equal time). State only advances by EVENT time, so an
    * out-of-order purchase older than the current state never regresses
    * it; clicks processed before a late purchase arrives keep their
    * at-processing enrichment — standard streaming semantics (the batch
    * as-of is the retrospective exact answer). */
  def asOfEnrich(events: Dataset[Event]): Dataset[Enriched] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[PurchaseState]) => {
          val sorted = rows.toSeq.sortBy(e =>
            (micros(e.ts), if (e.event_type == "purchase") 0 else 1, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[Enriched]
          for (e <- sorted) {
            if (e.event_type == "purchase") {
              val t = micros(e.ts)
              if (cur.forall(_.last <= t)) cur = Some(PurchaseState(t, e.value))
            } else if (e.event_type == "click")
              out += Enriched(e.event_id, userId, cur.map(_.value))
          }
          cur.foreach(state.update)
          out.result().iterator
        })
  }

  /** Run [[asOfEnrich]] as a real AvailableNow streaming query over the
    * events table; on a finite in-order source the complete output
    * equals the batch as-of join (q38/q102's oracle — three
    * realizations of the operator, batch-composed, batch-native and
    * streaming, must agree). */
  def runAsOfEnrichAvailableNow(spark: SparkSession, dir: String,
                                queryName: String): DataFrame = {
    import spark.implicits._
    val events = readEvents(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
    val q = asOfEnrich(events)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Stream-stream event-time interval join: each `view` matched to the
    * same user's `purchase`s within the following hour. Both sides are
    * watermarked and the join condition bounds purchase time to
    * [view_ts, view_ts + 1h], so state for either side is dropped once
    * the other side's watermark passes the interval — bounded state at
    * any scale. Inner-join matches emit as they are found (Append). */
  def runStreamStreamJoinAvailableNow(spark: SparkSession, dir: String,
                                      queryName: String): DataFrame = {
    val views = readEvents(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val q = views
      .join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** LEFT OUTER stream-stream interval join — the watermark-EVICTION
    * door [[runStreamStreamJoinAvailableNow]]'s inner form never
    * exercises: an unmatched view can only emit its null row when the
    * watermark proves no qualifying purchase can still arrive (state
    * eviction IS the emission trigger), so this is the one join shape
    * whose OUTPUT depends on watermark progress, not just its state
    * size. Sinked durably through foreachBatch + txn-stamped commits
    * (exactly-once; a replayed micro-batch appends nothing).
    *
    * Finite-source determinism: on a bounded run the global watermark
    * stops at min(max view_ts, max purchase_ts) − delay, leaving the
    * last interval's unmatched views unemitted — so, exactly like
    * [[runSessionizeAvailableNow]]'s flush sentinels, one far-future
    * event per SIDE (user −1, +100 h) pushes the final watermark past
    * every real view's interval and every unmatched view emits. The
    * sentinel union is the finite-source test harness, not the
    * operator; live deployments just keep running. Oracle: the plain
    * batch LEFT interval join. */
  def runStreamStreamLeftOuterAvailableNow(spark: SparkSession, dir: String,
                                           tableRoot: String): DataFrame = {
    import graft.sources.VersionedTable
    val batch = graft.core.Tables(spark, dir, "events")
    val maxUs = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentinelNanos = (maxUs + 100L * 3600L * 1000000L) * 1000L
    val sentinelDir = java.nio.file.Files
      .createTempDirectory("graft_ssj_sentinels").toString
    spark.range(2).select(
        lit(-1L).as("event_id"), lit(sentinelNanos).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, lit("view")).otherwise(lit("purchase"))
          .as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sentinelDir)
    val sentinels = spark.readStream
      .schema(nanosSchema)
      .parquet(sentinelDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val events = readEvents(spark, dir).union(sentinels)
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    new java.io.File(tableRoot).mkdirs()
    val q = views
      .join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        VersionedTable.append(b.filter(col("user_id") >= 0), tableRoot,
          Write(txn = Some("ssj_outer" -> batchId)))
        ()
      }
      .option("checkpointLocation",
        new java.io.File(tableRoot, "_ssj_ckpt").getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, tableRoot)
  }

  /** Streaming corpus ingestion with dedup-at-the-door — the complete
    * daily-ingestion dedup story: each micro-batch of documents is
    * (1) exact-deduped within itself (min doc_id per text digest),
    * (2) exact- AND near-dup checked against the accumulated corpus
    * THROUGH PERSISTED INDEXES — the exact check is an anti-join
    * against a stored digest table, the near-dup check is
    * [[graft.operators.LshIndex.check]] against the stored band rows —
    * and (3) appended to the versioned corpus table (one atomic
    * time-travelable version per batch) with the digest table and LSH
    * index appended in step.
    *
    * The door pays O(batch): only the BATCH is digested and signed;
    * the corpus side is pre-computed stored rows an equi-join scans
    * column-pruned (never a corpus re-read, never a corpus re-sign —
    * measured flat across a growing corpus in ScaleProbe `door`).
    * Earlier rounds re-signed the corpus per batch via
    * `ngramJaccardJoin(newExact, corpus, threshold)` — O(corpus·batch)
    * shingling at every arrival, the exact cost class the persisted
    * indexes exist to delete. Corpus text is touched only to
    * exact-verify the candidate SLIVER surfaced by the band join
    * (LshIndex's semi-join rescore pattern). Near-dup recall is the
    * banding recall (128/32 default: ≥ 1-1e-10 at J 0.8); the exact
    * path is unchanged.
    *
    * Set `maxFilesPerTrigger` on the source dir so each arriving file
    * is its own batch (done here). */
  def runIngestDedupAvailableNow(spark: SparkSession, docsDir: String,
                                 tableRoot: String, indexRoot: String,
                                 threshold: Double = 0.8): DataFrame = {
    import graft.sources.VersionedTable
    import graft.operators.LshIndex
    val digestsRoot = new java.io.File(indexRoot, "digests").getPath
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__md5")).orderBy(col("doc_id"))
        val inBatch = batch
          .withColumn("__md5", md5(col("text")))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1)
          .drop("__rk")
        // within-batch NEAR-dup pass: exact digests can't catch two
        // non-identical near-copies arriving in the same file — each is
        // only checked against the PREVIOUS corpus, so without this both
        // would be committed permanently. Self-pairs over the (small)
        // batch → min doc_id per connected component survives.
        // the input plan is materialized ONCE up front: jaccardSelfJoin's
        // internal checkpoints, the components' nodes input and the final
        // semi-join would otherwise each re-evaluate it — and in the
        // Some(_) branch that plan contains the corpus-wide digest
        // anti-join and near-dup join, the batch's dominant cost. The
        // result is materialized too (emptiness check + table write both
        // consume it).
        def nearDedupWithin(docsLazy: DataFrame): DataFrame = {
          val docs = docsLazy.localCheckpoint(true)
          val pairs = graft.operators.Dedup
            .ngramJaccardPairs(docs, threshold).localCheckpoint(true)
          if (pairs.isEmpty) docs
          else {
            val keep = graft.operators.Dedup
              .connectedComponents(pairs, docs.select(col("doc_id")))
              .groupBy(col("component")).agg(min(col("id")).as("doc_id"))
            docs.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
              .localCheckpoint(true)
          }
        }
        VersionedTable.latestVersion(tableRoot) match {
          case None =>
            val survivors = nearDedupWithin(inBatch.drop("__md5"))
            // a zero-row first file must not commit: a v0 manifest
            // referencing no parquet files would make every later
            // readVersion (and thus every later batch's corpus read)
            // throw on an empty path list
            if (!survivors.isEmpty) {
              VersionedTable.overwrite(survivors, tableRoot)
              LshIndex.build(survivors, indexRoot)
              VersionedTable.overwrite(
                survivors.select(md5(col("text")).as("__md5")), digestsRoot)
            }
          case Some(_) =>
            // corpus is read LAZILY: only the candidate sliver the band
            // join surfaces is ever shingled (check's semi-join)
            val corpus = VersionedTable.read(spark, tableRoot)
            val newExact = inBatch.join(
              VersionedTable.read(spark, digestsRoot),
              Seq("__md5"), "left_anti").drop("__md5")
            val nearDupIds = LshIndex
              .check(newExact, corpus, indexRoot, threshold)
              .select(col("id_b").as("new_id")).distinct()
            val survivors = nearDedupWithin(
              newExact.join(nearDupIds,
                col("doc_id") === col("new_id"), "left_anti"))
            if (!survivors.isEmpty) {
              VersionedTable.append(survivors, tableRoot)
              LshIndex.append(survivors, indexRoot)
              VersionedTable.append(
                survivors.select(md5(col("text")).as("__md5")), digestsRoot)
            }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, tableRoot)
  }

  /** Streaming ingestion with exact-substring stripping at the door —
    * [[graft.operators.SpanIndex]] wired into `foreachBatch`: each
    * micro-batch is rebuilt with every span the ACCUMULATED corpus
    * already contains removed (corpus-first keep semantics), docs
    * stripped to nothing are dropped, survivors commit atomically to
    * the corpus table AND their (post-strip) spans to the index — so a
    * later batch repeating an earlier batch's novel text is stripped
    * too. First non-empty batch seeds both. Per-batch cost is
    * O(batch) + one stored-hash equi-join (never a corpus re-read:
    * the ScaleProbe `indexes` section is the measurement). */
  def runSpanStripIngestAvailableNow(spark: SparkSession, docsDir: String,
                                     tableRoot: String, indexRoot: String,
                                     w: Int = 8): DataFrame = {
    import graft.operators.SpanIndex
    import graft.sources.VersionedTable
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val in = batch.localCheckpoint(true)
        if (VersionedTable.latestVersion(tableRoot).isEmpty) {
          if (!in.isEmpty) {
            VersionedTable.overwrite(in, tableRoot)
            SpanIndex.build(in, indexRoot, w)
          }
        } else {
          val stripped = SpanIndex.stripAgainst(in, indexRoot)
            .filter(length(col("text")) > 0)
            .select(col("id").as("doc_id"), col("text"))
            .localCheckpoint(true)
          if (!stripped.isEmpty) {
            VersionedTable.append(stripped, tableRoot)
            SpanIndex.append(stripped, indexRoot)
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    VersionedTable.read(spark, tableRoot)
  }
}

/** Batch gaps-and-islands sessionization — the window-function
  * formulation (lag → gap flag → cumulative session id), which doubles
  * as the DuckDB-oracle-expressible equivalent of
  * StreamingJobs.sessionize. */
object BatchSessionize {
  def sessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // microsecond-precision gap compare (a seconds cast would truncate)
    val prev = lag(unix_micros(col("ts")), 1).over(byUser)
    val newSession = when(
      unix_micros(col("ts")) - prev > gapMinutes * 60000000L, 1L)
      .otherwise(when(prev.isNull, 1L).otherwise(0L))
    events
      .withColumn("is_new", newSession)
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }
}
