package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.core.Tables
import graft.operators.MultiModal
import graft.streaming.{BatchSessionize, StreamingJobs}
import graft.sources.VersionedTable.Write

/** Streaming + semi-structured + multimodal inventory over `events` and
  * `documents`. */
object StreamQueries extends QueryModule {

  override def entries: Seq[(String, Q)] = Seq(

    // Structured Streaming (AvailableNow) windowed aggregation — the
    // result must equal the equivalent batch SQL, which is exactly what
    // the DuckDB oracle asserts.
    "q50_stream_hourly" -> Q(
      run = (s, dir) =>
        StreamingJobs.runHourlyAvailableNow(s, dir, "graft_stream_hourly")
          .orderBy("hour_start", "event_type"),
      oracle = Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),
      bench = false),

    // Sliding 2h/1h windowed aggregation — every event contributes to
    // two windows; the oracle reproduces window assignment by crossing
    // each event with offsets {0h, 1h} off its hour-truncated ts.
    "q56_stream_sliding" -> Q(
      run = (s, dir) =>
        StreamingJobs.runSlidingAvailableNow(s, dir, "graft_stream_sliding")
          .orderBy("win_start", "event_type"),
      oracle = Some("""
        SELECT strftime(date_trunc('hour', ts) - INTERVAL (o) HOUR,
                        '%Y-%m-%d %H:%M') AS win_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS o)
        GROUP BY 1, 2 ORDER BY win_start, event_type"""),
      bench = false),

    // Gap-based sessionization, batch gaps-and-islands formulation
    // (lag → flag → cumulative sum → group) — the SQL-expressible twin
    // of the flatMapGroupsWithState operator (equivalence tested in
    // StreamingSpec).
    "q51_sessionize" -> Q(
      run = (s, dir) =>
        BatchSessionize.sessions(Tables(s, dir, "events"), gapMinutes = 30)
          .orderBy("user_id", "session_start"),
      oracle = Some("""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                        - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 30 * 60000000
                      OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged)
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_start""")),

    // STREAMING as-of enrichment (StreamingJobs.asOfEnrich): one
    // latest-purchase state row per user via flatMapGroupsWithState —
    // the temporal-join shape. Three realizations of the as-of operator
    // must now agree: the composed batch form (q38), the native
    // physical exec (q102) and this streaming pass — all against the
    // same DuckDB ASOF JOIN oracle.
    "q124_stream_asof" -> Q(
      run = (s, dir) =>
        StreamingJobs.runAsOfEnrichAvailableNow(s, dir, "graft_stream_asof")
          .select(col("event_id"), col("user_id"), col("last_purchase"))
          .orderBy("event_id"),
      oracle = Some("""
        SELECT c.event_id, c.user_id, p.value AS last_purchase
        FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN
             (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY event_id"""),
      bench = false),

    // Exactly-once dedup over an at-least-once (self-unioned) stream;
    // the oracle aggregates the single-copy batch — equality proves
    // every duplicate was dropped.
    "q52_stream_dedup" -> Q(
      run = (s, dir) =>
        StreamingJobs.runDedupAvailableNow(s, dir, "graft_stream_dedup")
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),

    // Stream-static broadcast enrichment join.
    "q53_stream_static_join" -> Q(
      run = (s, dir) =>
        StreamingJobs.runStaticJoinAvailableNow(s, dir,
          Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "graft_stream_join")
          .orderBy("c_mktsegment"),
      oracle = Some("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      bench = false),

    // The REAL custom-state streaming operator end-to-end: the same
    // flatMapGroupsWithState sessionizer q51 mirrors in batch SQL, run
    // as an AvailableNow streaming query (Append mode, sentinel-flushed
    // trailing sessions) — its complete output must equal the DuckDB
    // gaps-and-islands oracle.
    "q54_stream_sessionize" -> Q(
      run = (s, dir) =>
        StreamingJobs.runSessionizeAvailableNow(s, dir, "graft_stream_sessionize")
          .orderBy("user_id", "session_start"),
      oracle = Some("""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                        - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 30 * 60000000
                      OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged)
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_start"""),
      bench = false),

    // Stream-stream event-time interval join (view → purchase within
    // 1h, per user) with watermarks bounding both sides' state; inner
    // matches in Append mode must equal the batch interval join.
    "q55_stream_stream_join" -> Q(
      run = (s, dir) =>
        StreamingJobs.runStreamStreamJoinAvailableNow(s, dir, "graft_stream_join2")
          .orderBy("user_id", "view_id", "purchase_id"),
      oracle = Some("""
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        ORDER BY 1, 2, 3"""),
      bench = false),

    // LEFT OUTER stream-stream interval join with watermark-driven
    // null emission (runStreamStreamLeftOuterAvailableNow): the one
    // join shape whose OUTPUT depends on watermark progress — an
    // unmatched view emits only when eviction proves no qualifying
    // purchase can still arrive. Far-future per-side sentinels push
    // the final watermark past every real interval (the q54 flush
    // pattern), so the complete output equals the plain batch LEFT
    // interval join; sink is durable + exactly-once (txn-stamped).
    "q285_stream_outer_join" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_ssj_outer").resolve("t").toString
        StreamingJobs.runStreamStreamLeftOuterAvailableNow(s, dir, root)
          .orderBy("user_id", "view_id", "purchase_id")
      },
      oracle = Some("""
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us
        FROM events v
        LEFT JOIN events p
          ON v.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view'
        ORDER BY 1, 2, 3"""),
      bench = false),

    // Streaming foreachBatch upsert into the versioned table format:
    // an at-least-once (self-unioned) stream MERGEd per micro-batch on
    // event_id — the oracle aggregates the single-copy batch table, so
    // equality proves exactly-once landing through the upsert sink.
    "q71_stream_upsert" -> Q(
      run = (s, dir) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft_stream_upsert").resolve("t").toString
        StreamingJobs.runUpsertAvailableNow(s, dir, root)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DoubleType).as("val_sum"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),

    // Multimodal plumbing: text payloads as opaque binary blobs with
    // typed metadata — byte length, digest, deterministic "thumbnail"
    // prefix (the decode step itself is stubbed; see
    // graft.operators.MultiModal).
    "q60_multimodal_bytes" -> Q(
      run = (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            col("text").cast("binary").as("payload"))
          .select(col("doc_id"), col("source"), col("text"),
            length(col("payload")).cast("long").as("n_bytes"),
            md5(col("payload")).as("digest"),
            substring(col("text"), 1, 16).as("head"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_media"),
            sum(col("n_bytes")).as("total_bytes"),
            countDistinct(col("digest")).as("n_distinct"),
            min(col("head")).as("min_head"))
          .orderBy("source"),
      oracle = Some("""
        SELECT source, COUNT(*) AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               MIN(substring(text, 1, 16)) AS min_head
        FROM documents GROUP BY source ORDER BY source""")),

    // CHUNKED blob storage (graft.sources.BlobStore): every document
    // payload lands as 64-byte RANGED CHUNKS under a pointer manifest
    // (total bytes, chunk count, md5), then the CHUNKED READER
    // reassembles with checksum verification and the q60 aggregate
    // runs over the reassembled bytes — hash-equality with the oracle
    // (which reads the original documents directly) proves the
    // split/reassemble cycle is byte-lossless for every asset, and
    // all_intact = 1 proves every digest verified. The layout is what
    // lets a single multi-GB asset live in bounded cells with
    // O(range/chunk) ranged reads (MultiModalSpec pins slicing,
    // corruption detection, and file pruning).
    "q288_chunked_media" -> Q(
      bench = false,
      run = (s, dir) => {
        val root = tempRoot("graft_blob_gate").resolve("b").toString
        graft.sources.BlobStore.write(
          Tables(s, dir, "documents").select(
            col("doc_id").as("media_id"), col("source").as("kind"),
            col("text").cast(BinaryType).as("payload")),
          root, chunkBytes = 64)
        graft.sources.BlobStore.readAssembled(s, root)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"),
            sum(length(col("payload"))).cast("long").as("total_bytes"),
            countDistinct(md5(col("payload"))).as("n_distinct"),
            min(col("intact").cast("long")).as("all_intact"))
          .select(col("kind").as("source"), col("n_media"),
            col("total_bytes"), col("n_distinct"), col("all_intact"))
          .orderBy("source")
      },
      oracle = Some("""
        SELECT source, COUNT(*) AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               CAST(1 AS BIGINT) AS all_intact
        FROM documents GROUP BY source ORDER BY source""")),

    // BlobStore LIFECYCLE through the streaming door (q288's batch
    // round-trip made incremental): assets arrive via
    // runMediaIngestAvailableNow (txn-stamped two-table commits,
    // chunks first, pointer last), a full re-run of the door replays
    // every batchId and must no-op BOTH tables (replay_ok); GDPR
    // takedown kills the pointers (range reads die instantly —
    // range_dead_ok) and reclaimOrphans physically drops exactly the
    // orphaned assets' chunks (reclaim_ok). The anchor is the q288
    // aggregate over the SURVIVING assets — reassembled bytes must
    // still be byte-identical to the raw documents the oracle reads.
    "q294_media_lifecycle" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_blob_in").resolve("p").toString
        val root = tempRoot("graft_blob_life").resolve("b").toString
        val media = Tables(s, dir, "documents")
          .filter(col("doc_id") < 300)
          .select(col("doc_id").as("media_id"), col("source").as("kind"),
            col("text").cast(BinaryType).as("payload"))
        media.repartition(2).write.mode("overwrite").parquet(in)
        graft.streaming.StreamingJobs.runMediaIngestAvailableNow(
          s, in, root, chunkBytes = 64)
        val chunkVs = graft.sources.VersionedTable.versions(s"$root/chunks")
        val ptrVs = graft.sources.VersionedTable.versions(s"$root/pointer")
        graft.streaming.StreamingJobs.runMediaIngestAvailableNow(
          s, in, root, chunkBytes = 64)
        val replayOk =
          graft.sources.VersionedTable.versions(s"$root/chunks") == chunkVs &&
          graft.sources.VersionedTable.versions(s"$root/pointer") == ptrVs
        val gone = media.filter(col("media_id") % 10 === 0)
          .select(col("media_id")).collect().map(_.getLong(0)).toSeq
        graft.sources.BlobStore.takedown(s, root, gone)
        val rangeDeadOk = graft.sources.BlobStore
          .readRange(s, root, gone.head, 0L, 16L).isEmpty
        val reclaimOk =
          graft.sources.BlobStore.reclaimOrphans(s, root) == gone.length
        graft.sources.BlobStore.readAssembled(s, root)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"),
            sum(length(col("payload"))).cast("long").as("total_bytes"),
            countDistinct(md5(col("payload"))).as("n_distinct"),
            min(col("intact").cast("long")).as("all_intact"))
          .select(col("kind").as("source"), col("n_media"),
            col("total_bytes"), col("n_distinct"), col("all_intact"))
          .withColumn("replay_ok", lit(if (replayOk) 1L else 0L))
          .withColumn("range_dead_ok", lit(if (rangeDeadOk) 1L else 0L))
          .withColumn("reclaim_ok", lit(if (reclaimOk) 1L else 0L))
          .orderBy("source")
      },
      oracle = Some("""
        SELECT source, COUNT(*) AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               COUNT(DISTINCT md5(text)) AS n_distinct,
               CAST(1 AS BIGINT) AS all_intact,
               CAST(1 AS BIGINT) AS replay_ok,
               CAST(1 AS BIGINT) AS range_dead_ok,
               CAST(1 AS BIGINT) AS reclaim_ok
        FROM documents WHERE doc_id < 300 AND doc_id % 10 != 0
        GROUP BY source ORDER BY source""")),

    // Batched multimodal resize (mapPartitions, stub codec): the
    // truncation stand-in is deterministic, so the resized payload's
    // base-31 wrapping checksum is recomputed by the oracle in HUGEINT
    // over the first 64 code points (ASCII corpus: code point == byte).
    "q73_multimodal_resize" -> Q(
      run = (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id").as("media_id"), lit("text").as("kind"),
            col("text").cast(BinaryType).as("payload"))
          .as[MultiModal.MediaRow]
        MultiModal.resizeBatch(media, maxBytes = 64).toDF()
          .orderBy("media_id")
      },
      oracle = Some("""
        WITH resized AS (
          SELECT doc_id AS media_id,
                 CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
                 CAST(LEAST(octet_length(encode(text)), 64) AS BIGINT) AS new_bytes,
                 list_reduce(
                   list_prepend(0::HUGEINT,
                     [unicode(text[i])::HUGEINT
                      for i in range(1, LEAST(len(text), 64) + 1)]),
                   (a, b) -> (a * 31::HUGEINT + b)
                             % 18446744073709551616::HUGEINT) AS h
          FROM documents WHERE doc_id < 50)
        SELECT media_id, orig_bytes, new_bytes,
               CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                         THEN h - 18446744073709551616::HUGEINT
                         ELSE h END AS BIGINT) AS new_checksum
        FROM resized ORDER BY media_id""")),

    // Multimodal NEAR-dup via banded perceptual-hash blocking — the
    // image-side sibling of MinHash/SimHash text dedup. 7 bands × 9
    // bits make the band join COMPLETE for Hamming ≤ 4 (pigeonhole),
    // so the oracle is the full brute-force pair set, recomputed by
    // DuckDB from the same stub codec (first-63-bytes grid, integer-
    // mean threshold; ASCII corpus ⇒ code point == byte, as q73).
    "q189_phash_neardup" -> Q(
      run = (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("image").as("kind"),
            col("text").cast(BinaryType).as("payload"))
          .as[MultiModal.MediaRow]
        MultiModal.pHashNearDupPairs(media, maxHamming = 4)
          .orderBy("a_id", "b_id")
      },
      oracle = Some("""
        WITH c AS (
          SELECT doc_id,
                 [CASE WHEN i <= len(text) THEN unicode(text[i]) ELSE 0 END
                  FOR i IN range(1, 64)] AS cells
          FROM documents),
        h AS (
          SELECT doc_id,
                 list_sum([CASE WHEN cells[i+1] > list_sum(cells) // 63
                           THEN (1::BIGINT << i) ELSE 0 END
                           FOR i IN range(0, 63)]) AS phash
          FROM c)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 4
        ORDER BY a_id, b_id""")),

    // STREAMING drift monitor: the q178 exact-KS tripwire wired into
    // ingestion — each micro-batch scores against a fixed reference
    // sample (click values) and appends one stat row to a versioned
    // monitor table, exactly-once. The gate dir is a single file →
    // one deterministic batch; the oracle recomputes the same exact
    // integer KS in DuckDB (FLOOR before BIGINT: Spark's double→long
    // cast truncates, values are non-negative).
    "q192_stream_drift" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_drift_mon").resolve("m").toString
        val ref = Tables(s, dir, "events")
          .filter(col("event_type") === "click")
          .select(col("value").cast("long").as("x"))
        StreamingJobs.runDriftMonitorAvailableNow(s, dir, ref, root)
      },
      oracle = Some("""
        WITH both_sides AS (
          SELECT CAST(FLOOR(value) AS BIGINT) AS x, 1 AS a
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT CAST(FLOOR(value) AS BIGINT) AS x, 0 AS a FROM events),
        hist AS (
          SELECT x, SUM(a) AS na_x, SUM(1 - a) AS nb_x
          FROM both_sides GROUP BY 1),
        cdf AS (
          SELECT x,
                 SUM(na_x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ca,
                 SUM(nb_x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cb,
                 SUM(na_x) OVER () AS n_a,
                 SUM(nb_x) OVER () AS n_b
          FROM hist),
        scored AS (
          SELECT *, ABS(n_b*ca - n_a*cb) AS num,
                 MAX(ABS(n_b*ca - n_a*cb)) OVER () AS d_num
          FROM cdf)
        SELECT CAST(0 AS BIGINT) AS batch_id,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(d_num AS BIGINT) AS d_num,
               CAST((d_num * 1000000) // (n_a * n_b) AS BIGINT) AS d_ppm,
               CAST(MIN(x) AS BIGINT) AS at_value
        FROM scored WHERE num = d_num
        GROUP BY n_a, n_b, d_num"""),
      bench = false),

    // STREAMING QUARANTINE INGEST (runQuarantineIngestAvailableNow):
    // q202's malformed-record split wired into continuous ingestion —
    // 3 JSONL files (every 7th line truncated mid-object) stream
    // through one-file micro-batches; parseable rows land in the data
    // VersionedTable, malformed raw lines in the quarantine table,
    // each exactly-once via its own batchId sidecar. Output: both
    // durable tables' aggregates, which the oracle re-derives from
    // the corruption rule alone. bench=false: file/commit churn.
    "q204_stream_quarantine" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val in = tempRoot("graft_sq_in").resolve("lines").toString
        val goodRoot = tempRoot("graft_sq_good").resolve("t").toString
        val badRoot = tempRoot("graft_sq_bad").resolve("t").toString
        val line = to_json(struct(col("o_orderkey").as("k"),
          col("o_totalprice").as("v")))
        Tables(s, dir, "orders")
          .select(when(col("o_orderkey") % 7 === 0, substring(line, 1, 10))
            .otherwise(line).as("value"))
          .repartition(3)
          .write.mode("overwrite").text(in)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType)))
        val (good, bad) = StreamingJobs.runQuarantineIngestAvailableNow(
          s, in, schema, goodRoot, badRoot)
        val g = good.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("sv")).head()
        val b = bad.agg(count(lit(1)).as("n"),
          sum(length(col("raw_line"))).as("len")).head()
        Seq((g.getLong(0), g.getLong(1), g.getDouble(2),
          b.getLong(0), b.getLong(1)))
          .toDF("n_good", "sum_k", "sum_v", "n_bad", "len_bad")
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) FILTER (o_orderkey % 7 != 0) AS BIGINT) AS n_good,
               CAST(SUM(o_orderkey) FILTER (o_orderkey % 7 != 0) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (o_orderkey % 7 != 0) AS DOUBLE) AS sum_v,
               CAST(COUNT(*) FILTER (o_orderkey % 7 = 0) AS BIGINT) AS n_bad,
               CAST(10 * COUNT(*) FILTER (o_orderkey % 7 = 0) AS BIGINT) AS len_bad
        FROM orders""")),

    // STREAMING SKETCH ROLLUP (runSketchRollupAvailableNow — q146's
    // mergeable-CMS story made streaming): events stream through
    // one-file micro-batches, each appending ONE CMS partial per
    // event_type to a durable sketch table (exactly-once); serving
    // merges the stored partials per group with positional long sums
    // (the CMS merge law — bit-identical to a single pass, spec-
    // pinned) and answers point-frequency probes with the one-sided
    // error bound folded into a Certify flag. The raw stream is never
    // retained. bench=false: commit churn.
    "q211_stream_sketch" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_sk_in").resolve("p").toString
        val root = tempRoot("graft_sk_tab").resolve("t").toString
        val width = 64
        val src = Tables(s, dir, "events")
          .select(col("event_type").as("grp"),
            floor(col("value")).cast(LongType).cast(StringType).as("item"))
        src.repartition(3).write.mode("overwrite").parquet(in)
        val partials = StreamingJobs.runSketchRollupAvailableNow(
          s, in, root, depth = 4, width = width)
        val merged = StreamingJobs.mergeSketchesPerGroup(partials)
        val probes = merged.select(col("grp"), col("sk"),
          explode(array(lit("0"), lit("1"), lit("2"))).as("item"))
          .withColumn("cms_est", graft.operators.CountMin
            .estimate(col("sk"), col("item"), 4, width))
        val exact = src.groupBy(col("grp"), col("item"))
          .agg(count(lit(1)).as("exact"))
        val totals = src.groupBy(col("grp")).agg(count(lit(1)).as("n_grp"))
        val est = probes
          .join(exact, Seq("grp", "item"), "left")
          .join(totals, Seq("grp"))
          .withColumn("exact", coalesce(col("exact"), lit(0L)))
        graft.operators.Certify.attach(
          est.select(col("grp"), col("item"), col("exact")),
          graft.operators.Certify.allRowsFlag(est,
            col("cms_est") >= col("exact") &&
              (col("cms_est") - col("exact"))
                .cast(org.apache.spark.sql.types.DoubleType) <=
                col("n_grp").cast(org.apache.spark.sql.types.DoubleType)
                  * 2.0 / width,
            "bounds_ok"))
          .orderBy("grp", "item")
      },
      oracle = Some("""
        WITH src AS (
          SELECT event_type AS grp,
                 CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS item
          FROM events),
        probe AS (
          SELECT DISTINCT grp, p.item
          FROM src, (VALUES ('0'), ('1'), ('2')) p(item)),
        e AS (SELECT grp, item, COUNT(*) AS n FROM src GROUP BY 1, 2)
        SELECT probe.grp, probe.item,
               CAST(COALESCE(e.n, 0) AS BIGINT) AS exact,
               CAST(1 AS BIGINT) AS bounds_ok
        FROM probe LEFT JOIN e ON e.grp = probe.grp AND e.item = probe.item
        ORDER BY 1, 2""")),

    // STREAMING HLL DISTINCT ROLLUP — q211's shape with the
    // DataSketches HLL partials (hll_sketch_agg per batch per group,
    // hll_union_agg at serve): per-group distinct user counts from
    // durable sketch state only, certified against the exact distinct
    // the oracle recomputes (DataSketches is exact at these
    // cardinalities; bound 5% like q89). Reuses the generic sketch
    // ingest: the partial column type is the only difference.
    // bench=false: commit churn.
    "q217_stream_hll" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_hll_in").resolve("p").toString
        val root = tempRoot("graft_hll_tab").resolve("t").toString
        val src = Tables(s, dir, "events")
          .select(col("event_type").as("grp"),
            col("user_id").cast(StringType).as("item"))
        src.repartition(3).write.mode("overwrite").parquet(in)
        val partials = StreamingJobs.runHllRollupAvailableNow(s, in, root)
        val est = partials.groupBy(col("grp"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
        val exact = src.distinct().groupBy(col("grp"))
          .agg(count(lit(1)).as("n_exact"))
        val joined = est.join(exact, Seq("grp"))
        graft.operators.Certify.attach(
          joined.select(col("grp"), col("n_exact")),
          graft.operators.Certify.allRowsFlag(joined,
            abs(col("n_est") - col("n_exact"))
              .cast(org.apache.spark.sql.types.DoubleType) /
              col("n_exact") <= 0.05,
            "within_tol"))
          .orderBy("grp")
      },
      oracle = Some("""
        SELECT event_type AS grp,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               CAST(1 AS BIGINT) AS within_tol
        FROM events GROUP BY 1 ORDER BY 1""")),

    // STREAMING JOIN-VIEW maintenance (the q185/q198 composition):
    // event facts stream in one-file micro-batches into a versioned
    // source; after each batch, refreshJoin folds the delta join
    // against a static-but-versioned user→segment dimension into the
    // enriched-fact view — per batch O(|delta join|) appended, never a
    // recompute; exactly-once at both layers (append sidecar +
    // refreshJoin's (aV,bV) pair). The served view aggregate must
    // equal the full join the oracle recomputes from scratch.
    // bench=false: commit churn.
    "q222_stream_join_view" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_sjv_in").resolve("p").toString
        val left = tempRoot("graft_sjv_l").resolve("t").toString
        val right = tempRoot("graft_sjv_r").resolve("t").toString
        val view = tempRoot("graft_sjv_v").resolve("v").toString
        Tables(s, dir, "events")
          .select(col("user_id").as("grp"), col("value").as("item"))
          .repartition(3).write.mode("overwrite").parquet(in)
        val dim = Tables(s, dir, "customer")
          .select(col("c_custkey").as("grp"),
            col("c_mktsegment").as("seg"))
        graft.sources.VersionedTable.overwrite(dim, right)
        StreamingJobs.runJoinViewMaintenanceAvailableNow(
          s, in, left, right, view, Seq("grp"))
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"),
            sum(col("item")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DoubleType).as("total"))
          .orderBy("seg")
      },
      oracle = Some("""
        SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1 ORDER BY 1""")),

    // q52's exactly-once dedup with BOUNDED state:
    // dropDuplicatesWithinWatermark evicts dedup state past the
    // watermark horizon — O(horizon), not O(all keys ever), the form
    // that survives an unbounded keyspace. Replay duplicates carry
    // identical event times (always inside the delay), so the output
    // still equals the single-copy batch aggregate.
    "q226_stream_dedup_watermark" -> Q(
      run = (s, dir) =>
        StreamingJobs.runDedupWithinWatermarkAvailableNow(
          s, dir, "graft_stream_dedup_wm")
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events GROUP BY event_type ORDER BY event_type"""),
      bench = false),

    // STREAMING PERCENTILE rollup — the quantile member of the
    // sketch-streaming family (q211 CMS counts, q217 HLL distincts):
    // per-batch KLL partials (serialized sketch BYTES) append
    // exactly-once; serving merges blobs per group
    // (KllQuantiles.mergeQuantiles — O(partials), the raw stream
    // never retained). KLL with k=32768 holds every value below
    // capacity and merging exact partials stays exact, so at gate
    // scale the streamed quantiles hash-match percentile_disc — the
    // approximation path is certified by full equality here and by
    // the error-bound spec beyond capacity.
    "q237_stream_kll" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_kll_in").resolve("p").toString
        val root = tempRoot("graft_kll_tab").resolve("t").toString
        val src = Tables(s, dir, "events")
          .select(col("event_type").as("grp"),
            floor(col("value")).cast(LongType).cast(StringType).as("item"))
        src.repartition(3).write.mode("overwrite").parquet(in)
        val partials = StreamingJobs.runKllRollupAvailableNow(s, in, root)
        partials.groupBy(col("grp"))
          .agg(graft.operators.KllQuantiles
            .mergeQuantiles("sk", Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
          .select(col("grp"),
            col("qs").getItem(0).cast(LongType).as("p25"),
            col("qs").getItem(1).cast(LongType).as("p50"),
            col("qs").getItem(2).cast(LongType).as("p75"),
            col("qs").getItem(3).cast(LongType).as("p90"))
          .orderBy("grp")
      },
      oracle = Some("""
        WITH c AS (
          SELECT event_type AS grp,
                 CAST(FLOOR(value) AS BIGINT) AS v
          FROM events)
        SELECT grp,
               CAST(quantile_disc(v, 0.25) AS BIGINT) AS p25,
               CAST(quantile_disc(v, 0.50) AS BIGINT) AS p50,
               CAST(quantile_disc(v, 0.75) AS BIGINT) AS p75,
               CAST(quantile_disc(v, 0.90) AS BIGINT) AS p90
        FROM c GROUP BY grp ORDER BY grp""")),

    // STREAMING inverted-index maintenance capstone: the documents
    // stream (3 files → 3 micro-batches, maxFilesPerTrigger=1) drains
    // into the persisted TextIndex through the exactly-once batchId
    // door; serving then answers BM25 from the INDEX alone. The
    // oracle recomputes the same top-10 from the corpus text — the
    // streamed index must be indistinguishable from a from-scratch
    // scan (q223's contract reached through the streaming door).
    "q228_stream_text_index" -> Q(
      run = (s, dir) => {
        val in = tempRoot("graft_q228_in").resolve("p").toString
        val ix = tempRoot("graft_q228_ix").resolve("ix").toString
        Tables(s, dir, "documents").select(col("doc_id"), col("text"))
          .repartition(3).write.mode("overwrite").parquet(in)
        StreamingJobs.runTextIndexIngestAvailableNow(s, in, ix)
        val terms = graft.operators.TextIndex.postings(s, ix)
          .groupBy(col("term")).agg(sum(col("tf")).as("cf"))
          .orderBy(col("cf").desc, col("term")).limit(3)
          .select(col("term")).collect().map(_.getString(0)).toSeq
        graft.operators.TextIndex.searchBm25(s, ix, terms, 10)
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks WHERE term <> '' GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        qt AS (SELECT term, df FROM (
                 SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
                        COUNT(*) AS df
                 FROM tf GROUP BY term)
               ORDER BY cf DESC, term LIMIT 3),
        g AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        sc AS (
          SELECT tf.doc_id,
                 ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1) *
                       (tf * 2.2) /
                       (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS s
          FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN g)
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM sc GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 10"""),
      bench = false),

    // STREAMING materialized view (runViewMaintenanceAvailableNow):
    // the full incremental story composed end to end — each
    // micro-batch lands as a versioned-table append AND the hourly
    // aggregate view refreshes from the changes feed (q182's IVM
    // driven by a stream; the reference's recompute-gold-per-day loop,
    // replaced). The final view must equal the batch aggregate.
    "q185_stream_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_smv_src").resolve("t").toString
        val view = tempRoot("graft_smv_view").resolve("v").toString
        StreamingJobs.runViewMaintenanceAvailableNow(s, dir, src, view)
          .select(col("hour_start"), col("event_type"), col("n"),
            col("total").cast(org.apache.spark.sql.types.DoubleType)
              .as("val_sum"))
          .orderBy("hour_start", "event_type")
      },
      oracle = Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
        FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),
      bench = false),

    // Rate-anomaly detection (Anomaly.rateOutliers): hourly event
    // counts per type, flag hours more than 3 standard deviations off
    // the type's mean — the pipeline-monitoring query (spikes and
    // outages both). The z-test runs in its squared cross-multiplied
    // integer form (cnt·n − sum)² > k²·(cnt·sumsq − sum²), so the
    // flag set reproduces bit-for-bit in DuckDB: no float mean, no
    // sqrt. One (type, hour) count shuffle + a dim-sized stats
    // broadcast.
    "q177_rate_anomaly" -> Q(
      run = (s, dir) =>
        graft.operators.Anomaly.rateOutliers(
          Tables(s, dir, "events"),
          "event_type",
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm"),
          k = 3)
          .withColumnRenamed("window_start", "hour_start")
          .orderBy("event_type", "hour_start"),
      oracle = Some("""
        WITH h AS (
          SELECT event_type,
                 strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        s AS (
          SELECT event_type, COUNT(*) AS cnt, SUM(n) AS sum,
                 SUM(n*n) AS sumsq
          FROM h GROUP BY 1)
        SELECT h.event_type, h.hour_start, h.n
        FROM h JOIN s USING (event_type)
        WHERE (s.cnt*h.n - s.sum)*(s.cnt*h.n - s.sum)
                > 9 * (s.cnt*s.sumsq - s.sum*s.sum)
        ORDER BY event_type, hour_start""")),

    // Frame-sampling plan over binary payloads (pure column math).
    "q61_frame_offsets" -> Q(
      run = (s, dir) =>
        MultiModal.sampleFrameOffsets(
          Tables(s, dir, "documents")
            .select(col("doc_id").as("media_id"),
              col("text").cast("binary").as("payload"))
            .filter(col("media_id") < 50),
          frames = 4)
          .select(col("media_id"), col("frame_index").cast("long").as("frame_index"),
            col("byte_offset"))
          .orderBy("media_id", "frame_index"),
      oracle = Some("""
        SELECT doc_id AS media_id, f AS frame_index,
               CAST(FLOOR(f * octet_length(encode(text)) / 4) AS BIGINT) AS byte_offset
        FROM documents, (SELECT UNNEST(range(0, 4)) AS f)
        WHERE doc_id < 50
        ORDER BY media_id, frame_index""")),

    // STREAMING CDC apply (StreamingJobs.runCdcApplyAvailableNow —
    // the DLT apply_changes ingestion loop): the event stream as an
    // ordered change feed (key user_id, seq event_id, `error`
    // tombstones, everything else upserts), folded per micro-batch
    // into the table by ONE atomic applyChanges commit behind the
    // exactly-once batchId sidecar. The job runs TWICE over the same
    // checkpoint + sidecar — the replay must be a no-op, or the
    // (deterministic) final state would still match but the version
    // history wouldn't (the `replay_noop` flag folds that proof into
    // the hash). Oracle: last event per user by event_id, tombstoned
    // users absent.
    "q240_stream_cdc" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_stream_cdc").resolve("t").toString
        StreamingJobs.runCdcApplyAvailableNow(s, dir, root)
        val vAfterFirst = graft.sources.VersionedTable
          .latestVersion(root).get
        val finalDf = StreamingJobs.runCdcApplyAvailableNow(s, dir, root)
        val replayNoop = if (graft.sources.VersionedTable
            .latestVersion(root).get == vAfterFirst) 1L else 0L
        finalDf
          .select(col("user_id"), col("event_type"), col("value"))
          .withColumn("replay_noop", lit(replayNoop))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH latest AS (
          SELECT user_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_type, value, CAST(1 AS BIGINT) AS replay_noop
        FROM latest WHERE rn = 1 AND event_type != 'error'
        ORDER BY user_id"""),
      bench = false),

    // STREAMING OHLC rollup (runOhlcRollupAvailableNow): the events
    // stream (3 files → 3 micro-batches) drains into a durable
    // partial-bars table — EXACT mergeable state (fragments carry
    // their boundary order keys), so the served bars are bit-identical
    // to q245's single-pass bars over the same rows; the oracle is
    // literally q245's with the stream's column names.
    "q252_stream_ohlc" -> Q(
      run = (s, dir) => {
        val in = tempRoot("graft_ohlc_in").resolve("p").toString
        val root = tempRoot("graft_ohlc_tab").resolve("t").toString
        Tables(s, dir, "events")
          .select(col("event_type").as("grp"),
            unix_micros(col("ts")).as("t_us"),
            col("event_id").as("id"), col("value").as("v"))
          .repartition(3).write.mode("overwrite").parquet(in)
        val partials = StreamingJobs.runOhlcRollupAvailableNow(
          s, in, root, widthSec = 3600L)
        graft.operators.TimeSeries.ohlcMergeBars(partials)
          .orderBy("grp", "bucket")
      },
      oracle = Some("""
        WITH e AS (
          SELECT event_type AS grp, epoch_us(ts) // 3600000000 AS bucket,
                 value,
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                 lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
          FROM events)
        SELECT grp, bucket,
               arg_min(value, ok) AS open, MAX(value) AS high,
               MIN(value) AS low, arg_max(value, ok) AS close,
               COUNT(*) AS n
        FROM e GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // STREAMING expect-or-quarantine (the DLT expect_or_drop role):
    // three deterministic micro-batches; batch 1 carries a 10%
    // planted null rate and lands WHOLE in the quarantine table with
    // its failed gate named, batches 0/2 pass into main — the stream
    // neither drops rows nor aborts, and main's quality invariant
    // holds by construction.
    "q266_stream_expectations" -> Q(
      run = (s, dir) => {
        val in = tempRoot("graft_exp_in").toString
        val main = tempRoot("graft_exp_main").resolve("t").toString
        val quar = tempRoot("graft_exp_quar").resolve("q").toString
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        (0 until 3).foreach { b =>
          val slice0 = ev.filter(col("event_id") % 3 === b)
          val slice = if (b == 1)
            slice0.withColumn("value",
              when(col("event_id") % 30 === 1, lit(null))
                .otherwise(col("value")))
          else slice0
          val tmp = tempRoot(s"graft_exp_mk$b").toString
          slice.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(part.toPath,
            new java.io.File(in, s"batch$b.parquet").toPath)
        }
        val gates = Seq(
          "null_rate_le_1pct" ->
            (sum(col("value").isNull.cast("long")) * 100 <= count(lit(1))),
          "nonempty" -> (count(lit(1)) >= 1L))
        val mainDf = StreamingJobs.runExpectOrQuarantineAvailableNow(
          s, in, main, quar, gates)
        val quarStats = graft.sources.VersionedTable.read(s, quar)
          .agg(count(lit(1)).as("quar_n"),
            max(col("failed_gates")).as("quar_tag"))
        mainDf.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DoubleType).as("val_sum"))
          .crossJoin(broadcast(quarStats))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
               (SELECT COUNT(*) FROM events WHERE event_id % 3 = 1)
                 AS quar_n,
               'null_rate_le_1pct' AS quar_tag
        FROM events WHERE event_id % 3 != 1
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // STREAMING ATOMIC MULTI-TABLE PUBLISH capstone: each micro-batch
    // appends facts, refreshes the additive summary view, and moves
    // the SnapshotGroup pointer to the new PAIR — the group-resolved
    // summary must equal a re-aggregation of the group-resolved facts
    // (consistent_pair folds that probe into the hash) and both must
    // equal the full-input oracle.
    "q277_stream_atomic_publish" -> Q(
      run = (s, dir) => {
        val grp = tempRoot("graft_pub").toString
        StreamingJobs.runAtomicPublishAvailableNow(s, dir, grp)
        val facts = new java.io.File(grp, "facts").getPath
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val summary = graft.sources.SnapshotGroup
          .readAt(s, grp, new java.io.File(grp, "summary").getPath)
          .select(col("event_type"), col("n"),
            col("total").cast(dec).as("total"))
        val reAgg = graft.sources.SnapshotGroup.readAt(s, grp, facts)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(dec)).cast(dec).as("total"))
        val consistent =
          if (summary.collect().toSet == reAgg.collect().toSet) 1L else 0L
        summary
          .select(col("event_type"), col("n"),
            col("total").cast(org.apache.spark.sql.types.DoubleType)
              .as("total"))
          .withColumn("consistent_pair", lit(consistent))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(1 AS BIGINT) AS consistent_pair
        FROM events GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // STREAMING read from the Catalyst scan (VersionedTable.scanStream
    // — the DeltaSource role): micro-batch offsets are table VERSIONS
    // resolved from the manifest log (never a directory walk), each
    // batch reads through the same pruning FileIndex as scan(), and an
    // ordinary .filter on the stream skips non-intersecting files per
    // batch (GraftStreamSpec pins numInputRows < table rows). The
    // lineitem table lands in TWO commits; the stream consumes both,
    // a foreachBatch txn-append lands exactly-once, and a REPLAYED
    // run with the same checkpoint is a no-op (replay_ok). The oracle
    // pins the streamed+pruned slice against plain SQL.
    "q304_scan_stream" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_sstream").resolve("t").toString
        val out = tempRoot("graft_vt_sstream").resolve("out").toString
        val ckpt = tempRoot("graft_vt_sstream").resolve("ck").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        val half = col("l_orderkey") % 2
        graft.sources.VersionedTable.overwrite(
          li.filter(half === 0).repartitionByRange(4, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        graft.sources.VersionedTable.append(
          li.filter(half === 1).repartitionByRange(4, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        def runStream(): Unit = {
          val q = graft.sources.VersionedTable.scanStream(s, root)
            .filter(col("l_orderkey") >= 1000L &&
              col("l_orderkey") <= 3000L)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               id: Long) =>
                if (!b.isEmpty)
                  graft.sources.VersionedTable.append(b.toDF(), out,
                    Write(txn = Some("scan_stream_gate" -> id)))
                ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(180000),
            "scan stream did not drain within 180 s")
          ()
        }
        runStream()
        val n1 = graft.sources.VersionedTable.read(s, out).count()
        runStream() // replay: committed offsets make it a no-op
        val replayOk =
          if (graft.sources.VersionedTable.read(s, out).count() == n1) 1L
          else 0L
        graft.sources.VersionedTable.read(s, out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("replay_ok", lit(replayOk))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS replay_ok
        FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // STREAMING ACROSS OPTIMIZE (the Delta dataChange=false role): a
    // version-offset stream drains, then the table takes an append, a
    // bin-packing compact() (removes + adds files, marked
    // data-preserving in its manifest), and another append — all
    // unseen. The restarted stream SKIPS the compaction commit (its
    // delta carries no new rows; the appends' rows still serve from
    // their original files) and lands both appends exactly once — a
    // 100 TB table gets compacted while streams run, and the stream
    // must ride across it rather than fail or re-serve
    // (GraftStreamSpec pins the z-order re-layout variant and the
    // genuine-rewrite-still-refuses negative). dedup_ok pins
    // exactly-once; the oracle pins the full slice.
    // STREAM ADMISSION CONTROL (the Delta maxFilesPerTrigger role in
    // this log's units): a tail-from-v0 stream capped at ONE version
    // per trigger drains a 3-commit backlog across MULTIPLE bounded
    // runs (AvailableNow captures one offered offset per run — each
    // run advances at most one version) and still lands exactly-once:
    // runs_ok pins that the capped drain took >1 run (the cap actually
    // bound the batches); the oracle pins the streamed slice.
    "q317_stream_ratelimit" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_rlim").resolve("t").toString
        val out = tempRoot("graft_vt_rlim").resolve("out").toString
        val ckpt = tempRoot("graft_vt_rlim").resolve("ck").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        val third = pmod(col("l_orderkey"), lit(3))
        graft.sources.VersionedTable.overwrite(
          li.filter(third === 0).repartitionByRange(2, col("l_orderkey")),
          root,
          Write.stats("l_orderkey")) // v0 — NOT streamed (startingVersion = 0)
        (1 to 2).foreach(i => graft.sources.VersionedTable.append(
          li.filter(third === i).repartitionByRange(2, col("l_orderkey")),
          root, Write.stats("l_orderkey"))) // v1, v2 — the streamed backlog
        def runOnce(): Unit = {
          val q = graft.sources.VersionedTable.scanStream(s, root,
            startingVersion = Some(0L),
            maxVersionsPerTrigger = Some(1L))
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               id: Long) =>
                if (!b.isEmpty)
                  graft.sources.VersionedTable.append(b.toDF(), out,
                    Write(txn = Some("rlim_gate" -> id)))
                ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(180000),
            "rate-limited stream did not drain within 180 s")
          ()
        }
        val expect = graft.sources.VersionedTable.read(s, root)
          .filter(third =!= 0).count()
        var runs = 0
        while (runs < 6 && (graft.sources.VersionedTable
          .latestVersion(out).isEmpty ||
          graft.sources.VersionedTable.read(s, out).count() < expect)) {
          runOnce(); runs += 1
        }
        val runsOk = if (runs >= 2) 1L else 0L
        graft.sources.VersionedTable.read(s, out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("runs_ok", lit(runsOk))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS runs_ok
        FROM lineitem WHERE l_orderkey % 3 != 0
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // NATIVE streaming SINK (writeStream.format("graft-table")
    // .toTable("graft.gate.sink_t") through the catalog's V1
    // fallback): every micro-batch lands as ONE txn-stamped manifest
    // commit — the foreachBatch doors as one line. Kill-and-restart
    // replay proof: a 1-version-per-trigger AvailableNow drain needs
    // several RUNS of the same checkpoint, and every restart re-seats
    // the last batch through the sink — the (appId=checkpoint,
    // batchId) marker must swallow each replay (runs_ok pins that at
    // least one restart actually happened; the count parity pins the
    // dedup). GraftStreamSpec owns the sink-side exactly-once rows.
    "q322_native_sink" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_nsink").resolve("t").toString
        val out = tempRoot("graft_vt_nsink").resolve("out").toString
        val ckpt = tempRoot("graft_vt_nsink").resolve("ck").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        val third = pmod(col("l_orderkey"), lit(3))
        // empty v0, three appended thirds v1..v3: with startingVersion
        // = 0 the admission cap binds EVERY batch (the uncapped
        // carve-out is only the anchorless initial snapshot load), so
        // the AvailableNow drain genuinely needs several restarts
        graft.sources.VersionedTable.overwrite(li.limit(0), root)
        (0 to 2).foreach(i => graft.sources.VersionedTable.append(
          li.filter(third === i).repartitionByRange(2, col("l_orderkey")),
          root, Write.stats("l_orderkey")))
        graft.sources.VersionedTable.overwrite(
          li.limit(0), out) // empty catalog table to stream into
        org.apache.spark.sql.graft.GraftCatalog.register(
          s, "gate", "sink_t", out)
        def runOnce(): Unit = {
          val q = graft.sources.VersionedTable.scanStream(s, root,
            startingVersion = Some(0L),
            maxVersionsPerTrigger = Some(1L))
            .writeStream.format("graft-table")
            .option("checkpointLocation", ckpt)
            .option("statsCols", "l_orderkey")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable("graft.gate.sink_t")
          require(q.awaitTermination(180000),
            "native sink stream did not drain within 180 s")
          ()
        }
        val expect = graft.sources.VersionedTable.read(s, root).count()
        var runs = 0
        while (runs < 6 && graft.sources.VersionedTable
          .read(s, out).count() < expect) {
          runOnce(); runs += 1
        }
        runOnce() // one more full replay-the-last-batch restart
        val runsOk = if (runs >= 2) 1L else 0L
        s.sql("""SELECT l_returnflag, count(*) AS n,
                        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE) AS qty
                 FROM graft.gate.sink_t
                 GROUP BY l_returnflag ORDER BY l_returnflag""")
          .withColumn("runs_ok", lit(runsOk))
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS runs_ok
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      bench = false),

    "q306_stream_compact" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_scompact").resolve("t").toString
        val out = tempRoot("graft_vt_scompact").resolve("out").toString
        val ckpt = tempRoot("graft_vt_scompact").resolve("ck").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity"))
        val third = col("l_orderkey") % 3
        def runStream(): Unit = {
          val q = graft.sources.VersionedTable.scanStream(s, root)
            .filter(col("l_orderkey") <= 5000L)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               id: Long) =>
                if (!b.isEmpty)
                  graft.sources.VersionedTable.append(b.toDF(), out,
                    Write(txn = Some("stream_compact_gate" -> id)))
                ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(180000),
            "scan stream did not drain within 180 s")
          ()
        }
        graft.sources.VersionedTable.overwrite(
          li.filter(third === 0).repartitionByRange(4, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        runStream()
        graft.sources.VersionedTable.append(
          li.filter(third === 1).repartitionByRange(4, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        graft.sources.VersionedTable.compact(s, root,
          targetBytes = 1L << 30, statsCols = Seq("l_orderkey"))
        graft.sources.VersionedTable.append(
          li.filter(third === 2).repartitionByRange(4, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        runStream()
        val served = graft.sources.VersionedTable.read(s, out)
        // exactly-once: the streamed row count equals the source
        // slice's — a skipped append would lose rows, a re-served
        // compaction would duplicate them (the driver's synthetic
        // lineitem has no unique key, so count parity IS the check;
        // the oracle additionally pins per-group sums)
        val expect = li.filter(col("l_orderkey") <= 5000L).count()
        val onceOk = if (served.count() == expect) 1L else 0L
        served.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("once_ok", lit(onceOk))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS once_ok
        FROM lineitem WHERE l_orderkey <= 5000
        GROUP BY 1 ORDER BY 1"""),
      bench = false)
  )
}
