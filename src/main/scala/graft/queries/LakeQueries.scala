package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.sources.Lake
import graft.sources.VersionedTable.Write

/** Source/sink round-trips (SURVEY.md §2.1 S1-S3 through the Lake
  * layer) plus beyond-reference relational surface: ROLLUP grouping
  * sets, PIVOT, approx-distinct. */
object LakeQueries extends QueryModule {

  /** 11-entry Type_Bus cycle for the backfill gate queries — one string
    * per cascade branch of busTypeCategoryBackfill, including the
    * bare-giường precedence quirk (idx 6, 8) and the phòng branch
    * (idx 9); indexes map to hand-derived categories in the oracles. */
  private val BackfillTypeBus: Seq[String] = Seq(
    "Ghế ngồi 45 chỗ",
    "Giường nằm 40 chỗ",
    "Huyndai Solati 11 chỗ",
    "Limousine ghế ngồi 9 chỗ",
    "Limousine giường nằm có WC",
    "Limousine giường nằm 22 chỗ",
    "Xe giường đôi",
    "Limousine 24 chỗ",
    "Limousine giường phòng có WC",
    "Xe phòng VIP",
    "Xe khách thường")


  override def entries: Seq[(String, Q)] = Seq(

    // S1/S5 CSV round-trip: parquet → engine CSV sink → engine CSV scan
    // with explicit schema → aggregate. Oracle reads the original
    // parquet — equality proves the writer/reader pair is lossless.
    "q26_csv_roundtrip" -> Q(
      run = (s, dir) => {
        val tmp = tempRoot("graft_csv_rt").toString
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .write.mode("overwrite").option("header", true).csv(tmp)
        val schema = StructType(Seq(
          StructField("l_orderkey", LongType),
          StructField("l_quantity", DoubleType),
          StructField("l_returnflag", StringType)))
        Lake.readCsv(s, tmp, schema)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
            max(col("l_orderkey")).as("max_key"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               MAX(l_orderkey) AS max_key
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ORC round-trip: parquet → ORC sink → ORC scan → aggregate. ORC is
    // the one columnar format Spark bundles beyond parquet (predicate
    // pushdown + column pruning work the same); the oracle never reads
    // ORC — it aggregates the source table directly, pinning that the
    // round-trip is lossless.
    "q135_orc_roundtrip" -> Q(
      run = (s, dir) => {
        val tmp = tempRoot("graft_orc_rt").toString
        Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("bal"),
            max(col("s_suppkey")).as("max_key"))
          .orderBy("s_nationkey")
      },
      oracle = Some("""
        SELECT s_nationkey, COUNT(*) AS n,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
               MAX(s_suppkey) AS max_key
        FROM supplier GROUP BY 1 ORDER BY 1""")),

    // S2 JSON round-trip: parquet → line-delimited JSON sink → JSON
    // scan with explicit schema → aggregate.
    "q27_json_roundtrip" -> Q(
      run = (s, dir) => {
        val tmp = tempRoot("graft_json_rt").toString
        Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
          .write.mode("overwrite").json(tmp)
        val schema = StructType(Seq(
          StructField("p_partkey", LongType),
          StructField("p_type", StringType),
          StructField("p_retailprice", DoubleType)))
        Lake.readJsonLines(s, tmp, Some(schema))
          .groupBy(col("p_type"))
          .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("price_sum"))
          .orderBy("p_type")
      },
      oracle = Some("""
        SELECT p_type, COUNT(*) AS n,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        FROM part GROUP BY 1 ORDER BY 1""")),

    // S3/S7 multiline round-trip: parquet → single-file JSON ARRAY
    // exchange sink (the crawlers' json.dump shape) → multiline JSON
    // scan with explicit schema → aggregate. Oracle reads the original
    // parquet — equality proves the array writer/multiline reader pair
    // is lossless.
    "q79_json_multiline_roundtrip" -> Q(
      run = (s, dir) => {
        val tmp = tempRoot("graft_json_ml")
          .resolve("nation.json").toString
        Lake.writeJsonArray(
          Tables(s, dir, "nation")
            .select(col("n_nationkey").cast(LongType).as("n_nationkey"),
              col("n_name"), col("n_regionkey").cast(LongType).as("n_regionkey")),
          tmp)
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("n_regionkey", LongType)))
        Lake.readJsonMultiline(s, tmp, Some(schema))
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
            max(col("n_nationkey")).as("max_key"))
          .orderBy("n_regionkey")
      },
      oracle = Some("""
        SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, COUNT(*) AS n,
               MIN(n_name) AS first_name,
               CAST(MAX(n_nationkey) AS BIGINT) AS max_key
        FROM nation GROUP BY 1 ORDER BY 1""")),

    // ROLLUP grouping sets (beyond-reference relational surface).
    "q28_rollup" -> Q(
      run = (s, dir) =>
        Tables(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
            col("n"), col("qty"))
          .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some("""
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag, l_linestatus""")),

    // PIVOT: per-user event-type counts as columns.
    "q29_pivot" -> Q(
      run = (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .count()
        p.select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id,
               COUNT(*) FILTER (event_type = 'click') AS click,
               COUNT(*) FILTER (event_type = 'error') AS error,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup') AS signup,
               COUNT(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // approx_count_distinct — the A5 swap for 100 TB scale
    // (SURVEY.md §4.2). HLL sketches aren't bit-reproducible across
    // engines, so the estimates can't hash-check — CERTIFIED instead
    // (graft.operators.Certify): the exact per-group distinct counts
    // anchor the hash and every group's estimate folds into one
    // within-tolerance flag (HLL++ rsd 0.05; measured max rel err
    // 0.027 at the gate SF → bound 0.08). ApproxDistinctSpec keeps the
    // per-group error assertions.
    "q34_approx_distinct" -> Q(
      run = (s, dir) => {
        val per = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
        graft.operators.Certify.attach(
          per.select(col("l_returnflag"), col("exact_parts")),
          graft.operators.Certify.allRowsFlag(per,
            abs(col("approx_parts") - col("exact_parts"))
              .cast(org.apache.spark.sql.types.DoubleType) /
              col("exact_parts") <= 0.08,
            "within_tol"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
               CAST(1 AS BIGINT) AS within_tol
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Copy-on-write MERGE through the manifest-log table format
    // (graft.sources.VersionedTable — the DeltaTable.merge role): seed
    // a versioned table with orders, upsert a deterministic md5-keyed
    // subset with doubled prices, read the LATEST snapshot back. The
    // oracle computes the post-merge state directly — equality proves
    // update-vs-insert routing and snapshot resolution.
    "q64_merge_upsert" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_merge").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        val changes = orders
          .filter(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sources.VersionedTable.merge(s, root, changes, Seq("o_orderkey"))
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(
                 CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
                      THEN o_totalprice * 2 ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Time travel: after the same overwrite→merge history, read
    // VERSION 0 — the pre-merge snapshot must equal the raw table (the
    // merge touched none of version 0's files).
    "q65_time_travel" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_tt").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        val changes = orders
          .filter(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sources.VersionedTable.merge(s, root, changes, Seq("o_orderkey"))
        graft.sources.VersionedTable.readVersion(s, root, 0)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Manifest-level data skipping: lineitem range-clustered on
    // l_orderkey into a stats-carrying VersionedTable; a key-range read
    // prunes files from the manifest alone (VersionedTableSpec pins the
    // inputFiles count — here the oracle pins that skipping never
    // changes ANSWERS: same agg as a plain WHERE over the raw table).
    "q105_versioned_skip" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_skip").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .repartitionByRange(8, col("l_orderkey"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write.stats("l_orderkey"))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey").between(1000, 3000))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Z-order clustering: lineitem Morton-clustered on BOTH
    // (l_orderkey, l_partkey); the range read here hits the SECOND
    // dimension — under 1-D clustering it would open every file
    // (VersionedTableSpec pins the inputFiles pruning on both axes);
    // the oracle pins that multi-dim skipping never changes answers.
    "q106_zorder_skip" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_z").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write(zorder = Some(Write.ZOrder(Seq("l_orderkey", "l_partkey"), 8))))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_partkey").between(100, 300))
          .groupBy((col("l_partkey") % 10).as("pk_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("pk_mod")
      },
      oracle = Some("""
        SELECT l_partkey % 10 AS pk_mod, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        GROUP BY 1 ORDER BY pk_mod""")),

    // Incremental Z-ordered ingestion (z-ordered appends): two md5-bucketed
    // lineitem batches appended as separately-clustered commits, each
    // carrying its own per-file stats; the range read hits the SECOND
    // dimension and must prune across BOTH batches from the manifest
    // alone (VersionedTableSpec pins the cross-batch inputFiles
    // pruning); the oracle pins that batch-local clustering never
    // changes answers — the union of both batches is the whole table.
    "q118_zorder_append" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_za").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        val b = substring(md5(col("l_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.append(li.filter(b.between("0", "7")), root,
          Write(zorder = Some(Write.ZOrder(Seq("l_orderkey", "l_partkey"), 6))))
        graft.sources.VersionedTable.append(li.filter(!b.between("0", "7")), root,
          Write(zorder = Some(Write.ZOrder(Seq("l_orderkey", "l_partkey"), 6))))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_partkey").between(100, 300))
          .groupBy((col("l_partkey") % 10).as("pk_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("pk_mod")
      },
      oracle = Some("""
        SELECT l_partkey % 10 AS pk_mod, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        GROUP BY 1 ORDER BY pk_mod""")),

    // 2-D box read over the z-ordered layout (a two-range scan): the
    // conjunctive range on BOTH clustered columns — the query shape
    // Morton clustering exists for, pruning multiplicatively on the
    // two dimensions from the manifest alone (VersionedTableSpec pins
    // that the box read opens strictly fewer files than either 1-D
    // prune). Same build convention as q118 (the timed region includes
    // the clustered write).
    "q156_zorder_box" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_box").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write(zorder = Some(Write.ZOrder(Seq("l_orderkey", "l_partkey"), 12))))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey").between(1000L, 3000L) &&
            col("l_partkey").between(100L, 400L))
          .groupBy((col("l_orderkey") % 7).as("ok_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("ok_mod")
      },
      oracle = Some("""
        SELECT l_orderkey % 7 AS ok_mod, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 3000
          AND l_partkey BETWEEN 100 AND 400
        GROUP BY 1 ORDER BY ok_mod""")),

    // 3-D Z-order box read (a 3-column z-order write + a box scan — the
    // k-dim Morton generalization, plans.ZOrderK): lineitem clustered
    // on (orderkey, partkey, suppkey) with 21 bits per dimension, then
    // a conjunctive 3-range read that prunes on ALL THREE columns from
    // the manifest alone (VersionedTableSpec pins the multiplicative
    // pruning vs every 2-D projection); the oracle is the plain
    // triple-BETWEEN over the raw table. Same q118 build convention
    // (clustered write inside the timed region).
    "q292_zorder_3d" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_z3").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write(zorder = Some(Write.ZOrder(
            Seq("l_orderkey", "l_partkey", "l_suppkey"), 16))))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey").between(1000L, 30000L) &&
            col("l_partkey").between(100L, 1200L) &&
            col("l_suppkey").between(1L, 60L))
          .groupBy((col("l_suppkey") % 5).as("sk_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("sk_mod")
      },
      oracle = Some("""
        SELECT l_suppkey % 5 AS sk_mod, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 30000
          AND l_partkey BETWEEN 100 AND 1200
          AND l_suppkey BETWEEN 1 AND 60
        GROUP BY 1 ORDER BY sk_mod""")),

    // STREAMING z-ordered ingestion (runZOrderIngestAvailableNow —
    // the q292 layout reached incrementally): three micro-batches
    // land 3-D clustered with batch-local boundaries and txn stamps,
    // the 12-file fragmentation trips the auto-compaction dial and
    // the table refolds to 6 tight files (compact_ok); a full door
    // re-run replays every batchId and moves nothing (replay_ok).
    // The box-read anchor must equal the plain triple-BETWEEN oracle
    // across whatever batch order the file source picked.
    "q296_zorder_ingest" -> Q(
      bench = false,
      run = (s, dir) => {
        val in = tempRoot("graft_zing_in").resolve("p").toString
        val root = tempRoot("graft_zing").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"))
        li.repartition(3).write.mode("overwrite").parquet(in)
        val cols3 = Seq("l_orderkey", "l_partkey", "l_suppkey")
        graft.streaming.StreamingJobs.runZOrderIngestAvailableNow(
          s, in, root, cols3, li.schema, numFiles = 4,
          autoCompactFiles = 9, compactTargetFiles = 6)
        val compactOk = graft.sources.VersionedTable.read(s, root)
          .inputFiles.length == 6
        val vs = graft.sources.VersionedTable.versions(root)
        graft.streaming.StreamingJobs.runZOrderIngestAvailableNow(
          s, in, root, cols3, li.schema, numFiles = 4,
          autoCompactFiles = 9, compactTargetFiles = 6)
        val replayOk = graft.sources.VersionedTable.versions(root) == vs
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey").between(1000L, 30000L) &&
            col("l_partkey").between(100L, 1200L) &&
            col("l_suppkey").between(1L, 60L))
          .groupBy((col("l_suppkey") % 5).as("sk_mod"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("compact_ok", lit(if (compactOk) 1L else 0L))
          .withColumn("replay_ok", lit(if (replayOk) 1L else 0L))
          .orderBy("sk_mod")
      },
      oracle = Some("""
        SELECT l_suppkey % 5 AS sk_mod, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS compact_ok,
               CAST(1 AS BIGINT) AS replay_ok
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 30000
          AND l_partkey BETWEEN 100 AND 1200
          AND l_suppkey BETWEEN 1 AND 60
        GROUP BY 1 ORDER BY sk_mod""")),

    // STRING manifest stats (the typed min/max Delta/Iceberg record
    // for every column — ISO dates, tenants, priorities are the keys
    // a 100 TB lake actually slices on, and a long-cast records
    // nothing for them): orders range-clustered on o_orderpriority,
    // the same stats-recording overwrite records base64-framed string
    // [min, max] per file, and a BETWEEN slice on the string key opens
    // only intersecting files (prune_ok counts the opened files;
    // VersionedTableSpec pins the conservative no-stat/oversized
    // paths). The oracle pins that string-stat skipping never changes
    // answers.
    "q297_string_stats" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_str").resolve("t").toString
        val od = Tables(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderstatus"),
            col("o_totalprice"))
          .repartitionByRange(8, col("o_orderpriority"))
        graft.sources.VersionedTable.overwrite(od, root,
          Write.stats("o_orderpriority"))
        val total = graft.sources.VersionedTable.fileCount(root)
        val sliced = graft.sources.VersionedTable.scan(s, root)
          .filter(col("o_orderpriority").between("2-HIGH", "4-NOT SPECIFIED"))
        val pruneOk =
          org.apache.spark.sql.graft.GraftScan.filesRead(sliced) < total
        sliced
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("prune_ok", lit(if (pruneOk) 1L else 0L))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS prune_ok
        FROM orders
        WHERE o_orderpriority BETWEEN '2-HIGH' AND '4-NOT SPECIFIED'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // CATALYST-INTEGRATED scan (the Delta TahoeFileIndex role): the
    // q105 slice written as an ORDINARY DataFrame filter over
    // VersionedTable.scan — Catalyst hands the predicate to the
    // manifest-backed FileIndex at plan time, so files prune with no
    // special read call (prune_ok counts opened files via
    // input_file_name; GraftScanSpec pins SQL-text pruning, version
    // pinning, IN/flipped shapes, and the manifest-fed auto-broadcast
    // decision). The oracle pins that plan-time skipping never
    // changes answers.
    "q298_catalyst_scan" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cat").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .repartitionByRange(8, col("l_orderkey"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write.stats("l_orderkey"))
        val sliced = graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey") >= 1000L && col("l_orderkey") <= 3000L)
        val pruneOk =
          sliced.select(input_file_name()).distinct().count() < 8
        sliced.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("prune_ok", lit(if (pruneOk) 1L else 0L))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(1 AS BIGINT) AS prune_ok
        FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // METADATA-ONLY table profile (the Delta OptimizeMetadataOnlyQuery
    // role through the Catalyst scan): min/max/count over a
    // stats-carrying table fold to a one-row LocalRelation sourced
    // from the manifest — meta_ok pins that the executed plan contains
    // NO file scan (numeric min/max from the long stats, string
    // min/max from the base64 string stats, count from the row
    // totals). The oracle recomputes the same profile from the raw
    // parquet — manifest answers must equal scan answers exactly.
    "q299_manifest_profile" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_prof").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .repartitionByRange(8, col("l_orderkey"))
        graft.sources.VersionedTable.overwrite(li, root,
          Write.stats("l_orderkey", "l_returnflag"))
        val profile = graft.sources.VersionedTable.scan(s, root)
          .agg(min(col("l_orderkey")).as("k_lo"),
            max(col("l_orderkey")).as("k_hi"),
            min(col("l_returnflag")).as("rf_lo"),
            max(col("l_returnflag")).as("rf_hi"),
            count(lit(1)).as("n"))
        val metaOk = !profile.queryExecution.executedPlan.toString
          .contains("FileScan")
        profile.withColumn("meta_ok", lit(if (metaOk) 1L else 0L))
      },
      oracle = Some("""
        SELECT MIN(l_orderkey) AS k_lo, MAX(l_orderkey) AS k_hi,
               MIN(l_returnflag) AS rf_lo, MAX(l_returnflag) AS rf_hi,
               COUNT(*) AS n, CAST(1 AS BIGINT) AS meta_ok
        FROM lineitem""")),

    // MOR-AWARE Catalyst scan (the Delta reader-understands-DVs
    // contract): pending MOR patches and tombstones overlay
    // AUTOMATICALLY over the plan-time-pruning scan — a GDPR takedown
    // landed via deleteMor is invisible through scan() itself, not
    // only through readActive (takedown_ok), and scan() serves
    // row-for-row what readActive serves (parity_ok, exceptAll both
    // ways). The published aggregate reads THROUGH scan() with an
    // ordinary range filter, so the oracle additionally pins that the
    // overlay never changes answers; GraftScanSpec pins that the
    // filter still prunes base files under the overlay and that
    // metadata-only folds disable themselves while overlays pend.
    "q301_scan_mor" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_scanmor").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
        graft.sources.VersionedTable.overwrite(orders, root,
          Write.stats("o_orderkey"))
        graft.sources.Tombstones.updateMor(s, root, Seq("o_orderkey"),
          col("o_orderstatus") === "F" && col("o_totalprice") < 50000,
          Map("o_orderpriority" -> lit("PATCHED")))
        graft.sources.Tombstones.deleteMor(s, root,
          orders.filter(col("o_orderkey") % 9 === 0)
            .select(col("o_orderkey")))
        val served = graft.sources.VersionedTable.scan(s, root)
        val takedownOk =
          if (served.filter(col("o_orderkey") % 9 === 0).count() == 0L) 1L
          else 0L
        val active = graft.sources.Tombstones.readActive(s, root)
        val parityOk =
          if (served.exceptAll(active).count() == 0L &&
            active.exceptAll(served).count() == 0L) 1L
          else 0L
        served
          .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 30000L)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("takedown_ok", lit(takedownOk))
          .withColumn("parity_ok", lit(parityOk))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      oracle = Some("""
        WITH u1 AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderstatus = 'F' AND o_totalprice < 50000
                      THEN 'PATCHED' ELSE o_orderpriority END
                   AS o_orderpriority,
                 o_totalprice
          FROM orders)
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS takedown_ok,
               CAST(1 AS BIGINT) AS parity_ok
        FROM u1
        WHERE o_orderkey % 9 != 0 AND o_orderkey BETWEEN 1000 AND 30000
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // PARTITION-AWARE Catalyst scan (the Delta partitioned-table
    // role): orders written Hive-layout by o_orderstatus through
    // VersionedTable (partition values live in the PATH, recorded in
    // the _partition_schema sidecar, never in the files), and ONE
    // plan-time FileIndex prunes on the partition dimension (part_ok:
    // the status predicate selects exactly one of three directories
    // at plan time) AND the per-file o_orderkey stats within it
    // (prune_ok: fewer files than the partition holds). The oracle
    // pins that two-dimensional plan-time skipping never changes
    // answers.
    "q302_scan_partitioned" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_scanpart").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice"))
          .repartitionByRange(6, col("o_orderkey"))
        graft.sources.VersionedTable.overwrite(orders, root,
          Write(stats = Some(Seq("o_orderkey")),
                partitionBy = Seq("o_orderstatus")))
        val sliced = graft.sources.VersionedTable.scan(s, root)
          .filter(col("o_orderstatus") === "F" &&
            col("o_orderkey") >= 1000L && col("o_orderkey") <= 4000L)
        val scanNode = sliced.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        val partOk =
          if (scanNode.nonEmpty && scanNode.head.partitionFilters.nonEmpty &&
            scanNode.head.selectedPartitions.partitionCount == 1) 1L
          else 0L
        val pruneOk =
          if (scanNode.nonEmpty &&
            scanNode.head.selectedPartitions.totalNumberOfFiles < 6L) 1L
          else 0L
        sliced.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("part_ok", lit(partOk))
          .withColumn("prune_ok", lit(pruneOk))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS part_ok, CAST(1 AS BIGINT) AS prune_ok
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderkey BETWEEN 1000 AND 4000
        GROUP BY 1 ORDER BY 1""")),

    // METADATA-FAST COUNT UNDER PENDING MOR DELETES
    // (Tombstones.countActive): with tombstones pending and no
    // patches, the active count = manifest row total (O(manifest)
    // fold) minus the pending keys PRESENT in the base — checked once
    // through a key-column-only read with the keys pushed as an
    // IN-list, so the table's min/max stats prune non-intersecting
    // files at plan time (a recorded key may be ABSENT from the base:
    // the probe includes absent keys to pin that they subtract
    // nothing). agree_ok pins countActive == the full overlay count;
    // the oracle recomputes the active count from raw SQL.
    "q307_mor_count" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_morcount").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
        graft.sources.VersionedTable.overwrite(orders, root,
          Write.stats("o_orderkey"))
        // NON-unique base on purpose: every 11th order appended AGAIN —
        // a tombstoned key must subtract every row that carries it,
        // never one per distinct key
        graft.sources.VersionedTable.append(
          orders.filter(col("o_orderkey") % 11 === 0),
          root, Write.stats("o_orderkey"))
        // takedown keys: every 97th order, plus keys the table never
        // held (absent keys must not subtract from the count)
        val keys = orders.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"))
          .unionByName(s.range(2).select(
            (col("id") - 10L).as("o_orderkey")))
        graft.sources.Tombstones.deleteMor(s, root, keys)
        val meta = graft.sources.Tombstones.countActive(s, root)
          .getOrElse(-1L)
        val full = graft.sources.Tombstones.readActive(s, root).count()
        val agreeOk = if (meta == full) 1L else 0L
        s.range(1).select(lit(meta).as("active_rows"),
          lit(agreeOk).as("agree_ok"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT o_orderkey FROM orders
          UNION ALL
          SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0)
        SELECT COUNT(*) AS active_rows, CAST(1 AS BIGINT) AS agree_ok
        FROM b WHERE o_orderkey % 97 <> 0"""),
      bench = false),

    // DSv2 CATALOG + SQL TIME TRAVEL (the DeltaCatalog read-path
    // role): after GraftCatalog.register, spark.sql plans
    // `graft.gate.orders_tt` NATIVELY — Spark's own parser handles
    // VERSION AS OF, the catalog's loadTable(ident, version) pins the
    // snapshot, and the scan is Spark's ParquetScanBuilder over the
    // SAME manifest-pruning index as VersionedTable.scan (one index,
    // two integration surfaces — GraftCatalogSpec pins DSv2 file
    // pruning, TIMESTAMP AS OF, and the MOR-pending refusal). The
    // statement reads TWO pinned versions in one SQL text; the oracle
    // replays both snapshots from the raw table.
    "q308_catalog_timetravel" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cattt").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(
          orders.filter(col("o_orderkey") % 2 === 0)
            .repartitionByRange(4, col("o_orderkey")),
          root, Write.stats("o_orderkey"))
        graft.sources.VersionedTable.append(
          orders.filter(col("o_orderkey") % 2 === 1)
            .repartitionByRange(4, col("o_orderkey")),
          root, Write.stats("o_orderkey"))
        org.apache.spark.sql.graft.GraftCatalog.register(
          s, "gate", "orders_tt", root)
        s.sql("""
          SELECT o_orderstatus, count(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS total
          FROM (
            SELECT * FROM graft.gate.orders_tt VERSION AS OF 0
            UNION ALL
            SELECT * FROM graft.gate.orders_tt VERSION AS OF 1)
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM u GROUP BY 1 ORDER BY 1""")),

    // DSv2 CATALOG WRITE PATH (the DeltaCatalog write-side start):
    // CREATE TABLE through Spark's own DDL makes an EMPTY readable
    // version 0 (schema in the sidecar); INSERT INTO / INSERT
    // OVERWRITE land as the engine's own append/overwrite commits
    // through a V1Write — atomic manifest versions, default typed
    // stats, time travel across every write. The readback unions a
    // PINNED pre-overwrite version with the overwritten latest in one
    // statement, so the oracle pins both that the inserts landed
    // exactly and that the overwrite preserved history
    // (GraftCatalogSpec pins partitioned inserts, DROP-keeps-data,
    // and the empty-version-0 read).
    "q309_catalog_write" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_catw").resolve("t").toString
        org.apache.spark.sql.graft.GraftCatalog.install(s)
        s.sql("DROP TABLE IF EXISTS graft.gate.orders_w")
        Tables(s, dir, "orders").createOrReplaceTempView("q309_orders")
        s.sql(
          s"""CREATE TABLE graft.gate.orders_w
              (o_orderkey BIGINT, o_orderstatus STRING,
               o_totalprice DOUBLE) LOCATION '$root'""")
        s.sql("""INSERT INTO graft.gate.orders_w
                 SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM q309_orders WHERE o_orderkey % 2 = 0""")
        s.sql("""INSERT INTO graft.gate.orders_w
                 SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM q309_orders WHERE o_orderkey % 2 = 1""")
        s.sql("""INSERT OVERWRITE graft.gate.orders_w
                 SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM q309_orders WHERE o_orderkey % 3 = 0""")
        s.sql("""
          SELECT o_orderstatus, count(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS total
          FROM (
            SELECT * FROM graft.gate.orders_w VERSION AS OF 2
            UNION ALL
            SELECT * FROM graft.gate.orders_w)
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 3 = 0)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM u GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // TYPED time-slice pruning (the single most common 100 TB
    // predicate: `ts >= '...'`): orders clustered by o_orderdate,
    // typed manifest stats recorded at write (epoch-MICROS triples for
    // timestamps, exact Double.toString bounds for doubles — the
    // long-cast seconds/truncated stats are never consulted for these
    // types), and an ORDINARY timestamp filter through scan() selects
    // only the intersecting files AT PLAN TIME (prune_ok counts the
    // FileIndex's selectedPartitions, not surviving rows — row-group
    // filtering can't fake it). The conjunctive double bound prunes
    // through the same index. GraftScanSpec pins BETWEEN/date/NaN
    // shapes and the micros-vs-seconds legacy trap negative; the
    // oracle pins that typed plan-time skipping never changes answers.
    "q305_ts_prune" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_tsprune").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_orderdate").cast("timestamp").as("o_orderdate"),
            col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderdate"))
        graft.sources.VersionedTable.overwrite(orders, root,
          Write.stats("o_orderdate", "o_totalprice"))
        val sliced = graft.sources.VersionedTable.scan(s, root)
          .filter(col("o_orderdate") >=
            to_timestamp(lit("1999-01-01 00:00:00")) &&
            col("o_totalprice") >= 1000.0)
        val scanNode = sliced.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        val pruneOk =
          if (scanNode.nonEmpty &&
            scanNode.head.selectedPartitions.totalNumberOfFiles < 8L) 1L
          else 0L
        sliced.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("prune_ok", lit(pruneOk))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS prune_ok
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND o_totalprice >= 1000.0
        GROUP BY 1 ORDER BY 1""")),

    // TIMESTAMP_NTZ time-slice pruning (the q305 story for the
    // zone-naive type Spark 4 promotes): manifest stats land under the
    // dedicated __ntz_ kind — UNADJUSTED wall-clock epoch micros, the
    // long catalyst itself stores — on both the footer fold and the
    // job path, and an ordinary NTZ filter through scan() skips
    // non-intersecting files AT PLAN TIME (prune_ok counts the
    // FileIndex's selected files). __ts_ and __ntz_ never cross-prune
    // (they differ by the writer's zone offset) — GraftScanSpec pins
    // the doctored-manifest negatives in both directions and the
    // zone-independence of the stats job. The oracle pins answers
    // unchanged under the skipping.
    "q329_ntz_prune" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_ntzprune").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("to_timestamp_ntz(CAST(o_orderdate AS STRING))")
              .as("o_orderdate"),
            col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderdate"))
        graft.sources.VersionedTable.overwrite(orders, root,
          Write.stats("o_orderdate"))
        val sliced = graft.sources.VersionedTable.scan(s, root)
          .filter(col("o_orderdate") >=
            expr("to_timestamp_ntz('1999-01-01 00:00:00')"))
        val scanNode = sliced.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        val pruneOk =
          if (scanNode.nonEmpty &&
            scanNode.head.selectedPartitions.totalNumberOfFiles < 8L) 1L
          else 0L
        sliced.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("prune_ok", lit(pruneOk))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS prune_ok
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1 ORDER BY 1""")),

    // SQL DML surface (GraftSql — the serving layer's write side):
    // UPDATE / DELETE / INSERT INTO ... SELECT / MERGE INTO executed
    // as SQL TEXT route to the same engine paths as the Scala API
    // (file-pruned COW, atomic manifest commits, optimistic retry —
    // GraftSqlSpec pins the machinery identity: untouched files
    // survive a SQL DELETE byte-identical, history advances once per
    // statement). The oracle replays the four statements as pure SQL
    // transformations over the raw table — SQL-text DML must land
    // exactly the state the statements describe.
    "q303_sql_dml" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_sqldml").resolve("t").toString
        val name = "gsql_orders"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"""UPDATE $name SET o_totalprice = o_totalprice * 2
              WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""")
        graft.sources.GraftSql.execute(s,
          s"DELETE FROM $name WHERE o_orderkey % 10 = 0")
        graft.sources.GraftSql.execute(s,
          s"""INSERT INTO $name
              SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
              FROM $name WHERE o_orderkey % 7 = 0""")
        graft.sources.GraftSql.execute(s,
          s"""MERGE INTO $name USING
              (SELECT o_orderkey, o_orderstatus, 5.0 AS o_totalprice
               FROM $name WHERE o_orderkey % 11 = 1)
              ON o_orderkey = o_orderkey
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0
                      THEN o_totalprice * 2 ELSE o_totalprice END
                   AS o_totalprice
          FROM orders),
        d AS (SELECT * FROM u WHERE o_orderkey % 10 != 0),
        t1 AS (
          SELECT * FROM d
          UNION ALL
          SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
          FROM d WHERE o_orderkey % 7 = 0),
        m AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 11 = 1 THEN 5.0
                      ELSE o_totalprice END AS o_totalprice
          FROM t1)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM m GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // General MERGE (the Delta conditional-clause form, through SQL
    // text): WHEN MATCHED AND <cond> THEN DELETE shadows the
    // unconditional UPDATE for expensive rows (first-true-clause
    // precedence), the UPDATE's SET references BOTH sides
    // (t.price + s.price), and the conditional INSERT admits only
    // even synthetic keys through an explicit column list (unlisted
    // columns NULL — none here). Engine path: mergeActions — phase-1
    // file pruning, one atomic commit (MergeActionsSpec pins clause
    // precedence, NULL-condition fallthrough, the insert-only
    // no-rewrite fast path and the dup-key refusal); the oracle
    // replays the clause semantics as a LEFT JOIN + anti-join UNION.
    "q310_merge_actions" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_mact").resolve("t").toString
        val name = "gsql_mact"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"""MERGE INTO $name AS t USING
              (SELECT o_orderkey, o_totalprice FROM $name
               WHERE o_orderkey % 5 = 1
               UNION ALL
               SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice
               FROM $name WHERE o_orderkey % 9 = 2) AS s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND t.o_totalprice > 200000 THEN DELETE
              WHEN MATCHED THEN UPDATE SET
                o_totalprice = t.o_totalprice + s.o_totalprice
              WHEN NOT MATCHED AND s.o_orderkey % 2 = 0 THEN
                INSERT (o_orderkey, o_orderstatus, o_totalprice)
                VALUES (s.o_orderkey, 'N', s.o_totalprice * 2)""")
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        WITH s AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 5 = 1
          UNION ALL
          SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 9 = 2),
        kept AS (
          SELECT t.o_orderkey, t.o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL
                           AND NOT (t.o_totalprice > 200000)
                      THEN t.o_totalprice + s.o_totalprice
                      ELSE t.o_totalprice END AS o_totalprice
          FROM orders t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
          WHERE NOT (s.o_orderkey IS NOT NULL
                     AND t.o_totalprice > 200000)),
        ins AS (
          SELECT s.o_orderkey, 'N' AS o_orderstatus,
                 s.o_totalprice * 2 AS o_totalprice
          FROM s
          WHERE s.o_orderkey % 2 = 0
            AND NOT EXISTS (SELECT 1 FROM orders t
                            WHERE t.o_orderkey = s.o_orderkey)),
        f AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM f GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // Native catalog DELETE (DSv2 SupportsDelete): `DELETE FROM
    // graft.gate.cdel WHERE ...` is planned by Spark itself — the
    // condition arrives as translated source filters and lands on the
    // file-pruned COW delete (GraftCatalogSpec pins the untouched-
    // files-carry and untranslatable-predicate-refusal rows). The
    // whole statement set — DELETE then aggregate — runs as catalog
    // SQL text; the oracle replays the delete as a WHERE NOT filter.
    "q311_catalog_delete" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cdel").resolve("t").toString
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root, Write.stats("o_orderkey"))
        org.apache.spark.sql.graft.GraftCatalog.register(
          s, "gate", "cdel", root)
        s.sql("""DELETE FROM graft.gate.cdel
                 WHERE o_orderkey <= 15000 AND o_orderstatus = 'O'""")
        s.sql("""SELECT o_orderstatus, count(*) AS n,
                        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total
                 FROM graft.gate.cdel
                 GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders
        WHERE NOT (o_orderkey <= 15000 AND o_orderstatus = 'O')
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // Metadata-only ALTER TABLE ADD COLUMNS (the Delta role): the
    // catalog ALTER commits an EMPTY data-preserving version whose
    // sidecar declares the new nullable column — zero data moved at
    // any table size — existing rows read typed NULL, and the
    // follow-up UPDATE (a COW rewrite) sets it for a slice while
    // MATERIALIZING the declaration into the rewritten files
    // (GraftCatalogSpec pins listing-identity, compaction carry, and
    // stream ride-across). The oracle computes the post-ALTER state
    // as a CASE over the raw table.
    "q312_alter_addcol" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_calt").resolve("t").toString
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        org.apache.spark.sql.graft.GraftCatalog.register(
          s, "gate", "calt", root)
        s.sql("ALTER TABLE graft.gate.calt ADD COLUMNS (note STRING)")
        graft.sources.GraftSql.register(s, "gate_calt", root)
        graft.sources.GraftSql.execute(s,
          """UPDATE gate_calt SET note = 'hot'
             WHERE o_totalprice > 300000""")
        s.sql("""SELECT coalesce(note, 'cold') AS note, count(*) AS n,
                        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total
                 FROM graft.gate.calt GROUP BY 1 ORDER BY 1""")
      },
      oracle = Some("""
        SELECT CASE WHEN o_totalprice > 300000 THEN 'hot' ELSE 'cold'
                 END AS note,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // Table CHECK constraints (the Delta ALTER TABLE ADD CONSTRAINT
    // role): the DDL validates every existing row once and COMMITS the
    // constraint into the versioned chain (round 15 — v1 here, so it
    // serializes against writers; ConstraintsSpec pins the race
    // matrix); a later VALID insert lands, a VIOLATING one fails
    // INSIDE its own write job (per-row assert, one pass — a separate
    // validation pass would double-read a 100 TB batch) and commits
    // nothing. rejected_ok pins the refusal; no_commit_ok pins the
    // version count (overwrite v0 + constraint v1 + insert v2, the
    // refusal adding none); the oracle replays the accepted
    // statements.
    "q313_check_constraint" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_chk").resolve("t").toString
        val name = "gsql_chk"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"""ALTER TABLE $name ADD CONSTRAINT price_pos
              CHECK (o_totalprice > 0)""")
        graft.sources.GraftSql.execute(s,
          s"""INSERT INTO $name
              SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
              FROM $name WHERE o_orderkey % 7 = 0""")
        val rejected =
          try {
            graft.sources.GraftSql.execute(s,
              s"INSERT INTO $name VALUES (1, 'X', -5.0)")
            0L
          } catch { case _: Exception => 1L }
        val base = graft.sources.VersionedTable.latestVersion(root).get
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""")
          .withColumn("rejected_ok", lit(rejected))
          .withColumn("no_commit_ok", lit(if (base == 2L) 1L else 0L))
      },
      oracle = Some("""
        WITH t1 AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 7 = 0)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS rejected_ok,
               CAST(1 AS BIGINT) AS no_commit_ok
        FROM t1 GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // INSERT INTO ... REPLACE WHERE (Delta's idempotent partition
    // reload, as SQL text): one atomic commit swaps exactly the
    // predicate's rows for the batch — re-landing the 'F' slice with
    // doubled prices replaces that slice and nothing else (the scope
    // guard refuses batch rows outside the predicate; ConstraintsSpec
    // pins it). The oracle computes the post-swap state directly.
    "q314_replace_where" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_rw").resolve("t").toString
        val name = "gsql_rw"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"""INSERT INTO $name REPLACE WHERE o_orderstatus = 'F'
              SELECT o_orderkey, o_orderstatus, o_totalprice * 2
              FROM $name WHERE o_orderstatus = 'F'""")
        val oneCommit =
          graft.sources.VersionedTable.latestVersion(root).get
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""")
          .withColumn("atomic_ok", lit(if (oneCommit == 1L) 1L else 0L))
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(
                 CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                      ELSE o_totalprice END AS DECIMAL(18,2)))
                 AS DOUBLE) AS total,
               CAST(1 AS BIGINT) AS atomic_ok
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // Maintenance verbs as SQL text (the Delta OPTIMIZE / VACUUM /
    // DESCRIBE HISTORY serving surface): four appends degenerate the
    // table into small files; `OPTIMIZE` bin-packs them (one
    // #preserving commit), `DESCRIBE HISTORY` folds one metadata-only
    // row per commit (hist_ok pins the count and the rows fold),
    // `VACUUM ... RETAIN 0 HOURS` reclaims everything outside the
    // horizon (vacuum_ok pins exactly-one-version), and the
    // post-maintenance slice answers exactly as a plain WHERE over
    // the raw table.
    "q315_sql_maintenance" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_maint").resolve("t").toString
        val name = "gsql_maint"
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"))
        val b = col("l_orderkey") % 4
        (0 to 3).foreach { i =>
          val batch = li.filter(b === i)
            .repartitionByRange(4, col("l_orderkey"))
          if (i == 0) graft.sources.VersionedTable.overwrite(batch, root,
            Write.stats("l_orderkey"))
          else graft.sources.VersionedTable.append(batch, root,
            Write.stats("l_orderkey"))
        }
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s, s"OPTIMIZE $name")
        val hist = graft.sources.GraftSql
          .execute(s, s"DESCRIBE HISTORY $name").collect()
        val histOk = if (hist.map(_.getLong(0)).toSeq == (0L to 4L) &&
          hist.forall(r => !r.isNullAt(2))) 1L else 0L
        graft.sources.GraftSql.execute(s,
          s"VACUUM $name RETAIN 0 HOURS")
        val vacOk =
          if (graft.sources.VersionedTable.versions(root) == Seq(4L)) 1L
          else 0L
        graft.sources.GraftSql.execute(s,
          s"""SELECT l_returnflag, count(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                       AS DOUBLE) AS qty
              FROM $name WHERE l_orderkey BETWEEN 2000 AND 5000
              GROUP BY l_returnflag ORDER BY l_returnflag""")
          .withColumn("hist_ok", lit(histOk))
          .withColumn("vacuum_ok", lit(vacOk))
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS qty,
               CAST(1 AS BIGINT) AS hist_ok,
               CAST(1 AS BIGINT) AS vacuum_ok
        FROM lineitem WHERE l_orderkey BETWEEN 2000 AND 5000
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // RESTORE + SHALLOW CLONE as SQL text: a DELETE carves the table,
    // RESTORE TO VERSION AS OF 0 resurrects the original rows as a
    // NEW version (rollback is roll-forward — history intact), and a
    // clone pinned at the post-delete version serves that state
    // zero-copy under its own name. The union of both reads must
    // equal raw-orders + the post-delete slice (oracle replays both).
    "q316_restore_clone" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_rc").resolve("t").toString
        val cloneLoc = tempRoot("graft_vt_rc").resolve("c").toString
        val name = "gsql_rc"
        // CLONE registers EXCLUSIVELY (it refuses to rebind an
        // existing name) — drop any binding a previous run of this
        // query left in the JVM-global registry, q324-style
        graft.sources.GraftSql.unregister(name + "_c")
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"DELETE FROM $name WHERE o_orderkey % 3 = 0") // v1
        graft.sources.GraftSql.execute(s,
          s"""CREATE TABLE ${name}_c SHALLOW CLONE $name
              VERSION AS OF 1 LOCATION '$cloneLoc'""")
        graft.sources.GraftSql.execute(s,
          s"RESTORE TABLE $name TO VERSION AS OF 0") // v2 = v0 rows
        graft.sources.GraftSql.execute(s,
          s"""SELECT 'restored' AS src, o_orderstatus, count(*) AS n
              FROM $name GROUP BY o_orderstatus
              UNION ALL
              SELECT 'clone' AS src, o_orderstatus, count(*) AS n
              FROM ${name}_c GROUP BY o_orderstatus
              ORDER BY src, o_orderstatus""")
      },
      oracle = Some("""
        SELECT 'restored' AS src, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'clone' AS src, o_orderstatus, COUNT(*) AS n
        FROM orders WHERE o_orderkey % 3 != 0 GROUP BY 2
        ORDER BY 1, 2"""),
      bench = false),

    // Row-level CDC as SQL text (DESCRIBE CHANGES — the Delta
    // table_changes role): a COW UPDATE rewrites whole touched files,
    // but the diff serves ONLY the actually-changed rows (common
    // files cancel at plan time, rewritten files' unchanged rows
    // cancel by multiset exceptAll) — each update surfaces as its
    // delete(old) + insert(new) pair. The oracle replays both sides
    // from the raw table.
    "q318_describe_changes" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_dch").resolve("t").toString
        val name = "gsql_dch"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"""UPDATE $name SET o_totalprice = o_totalprice * 2
              WHERE o_orderkey % 7 = 0""")
        graft.sources.GraftSql
          .execute(s, s"DESCRIBE CHANGES $name BETWEEN 0 AND 1")
          .groupBy(col("_change"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("_change")
      },
      oracle = Some("""
        WITH u AS (SELECT o_totalprice FROM orders
                   WHERE o_orderkey % 7 = 0)
        SELECT 'delete' AS _change, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM u
        UNION ALL
        SELECT 'insert' AS _change, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2)))
                 AS DOUBLE) AS total
        FROM u
        ORDER BY 1"""),
      bench = false),

    // MERGE WHEN NOT MATCHED BY SOURCE (the Delta full-sync/mirror
    // clause family, completing the three-way general merge): ONE
    // statement — conditional matched UPDATE, INSERT of new keys,
    // conditional by-source UPDATE (flag strayed 'F' rows 'X') and
    // by-source DELETE of the remaining strays — lands as ONE atomic
    // commit (one_commit_ok pins base+1). The by-source pruning set
    // differs from the matched one (files holding unmatched rows must
    // rewrite too — MergeActionsSpec pins the fully-matched-file
    // no-rewrite row); the oracle replays the full three-family clause
    // logic as LEFT JOIN + filtered carry + anti-join insert.
    "q319_merge_by_source" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_mbys").resolve("t").toString
        val name = "gsql_mbys"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        val base = graft.sources.VersionedTable.latestVersion(root).get
        graft.sources.GraftSql.execute(s,
          s"""MERGE INTO $name AS t USING
              (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 5 = 0
                           THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM $name WHERE o_orderkey % 3 != 0
               UNION ALL
               SELECT o_orderkey + 5000000 AS o_orderkey, o_totalprice
               FROM $name WHERE o_orderkey % 11 = 3) AS s
              ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED AND s.o_totalprice != t.o_totalprice THEN
                UPDATE SET o_totalprice = s.o_totalprice
              WHEN NOT MATCHED THEN
                INSERT (o_orderkey, o_orderstatus, o_totalprice)
                VALUES (s.o_orderkey, 'Z', s.o_totalprice)
              WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F' THEN
                UPDATE SET o_orderstatus = 'X'
              WHEN NOT MATCHED BY SOURCE THEN DELETE""")
        val after = graft.sources.VersionedTable.latestVersion(root).get
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderstatus ORDER BY o_orderstatus""")
          .withColumn("one_commit_ok",
            lit(if (after == base + 1) 1L else 0L))
      },
      oracle = Some("""
        WITH s AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 3 != 0
          UNION ALL
          SELECT o_orderkey + 5000000 AS o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 11 = 3),
        j AS (
          SELECT t.o_orderkey, t.o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL
                           AND s.o_totalprice != t.o_totalprice
                      THEN s.o_totalprice
                      ELSE t.o_totalprice END AS o_totalprice,
                 s.o_orderkey IS NOT NULL AS m
          FROM orders t LEFT JOIN s ON t.o_orderkey = s.o_orderkey),
        kept AS (
          SELECT o_orderkey,
                 CASE WHEN NOT m AND o_orderstatus = 'F' THEN 'X'
                      ELSE o_orderstatus END AS o_orderstatus,
                 o_totalprice
          FROM j WHERE m OR o_orderstatus = 'F'),
        ins AS (
          SELECT s.o_orderkey, 'Z' AS o_orderstatus, s.o_totalprice
          FROM s
          WHERE NOT EXISTS (SELECT 1 FROM orders t
                            WHERE t.o_orderkey = s.o_orderkey)),
        f AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS one_commit_ok
        FROM f GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // SQL serving metadata verbs (the Presto-shaped listing surface):
    // SHOW PARTITIONS answers from the MANIFEST PATHS (metadata-only
    // at any table size — the oracle replays it as DISTINCT over the
    // data, proving the listing equals the data's true partition set);
    // tables_ok pins SHOW TABLES carrying the registered name at its
    // committed version, describe_ok pins DESCRIBE TABLE's
    // name/type/partition-role rows from one sidecar read. The
    // catalog-side twins (SHOW TABLES IN graft.db, native SHOW
    // PARTITIONS via SupportsPartitionManagement) are spec-pinned in
    // GraftSqlSpec.
    "q323_show_metadata" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_meta").resolve("t").toString
        val name = "gsql_meta"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus"))
            .repartitionByRange(4, col("o_orderkey")),
          root, Write(stats = Some(Seq.empty), partitionBy = Seq("o_orderstatus")))
        graft.sources.GraftSql.register(s, name, root)
        val tablesOk = graft.sources.GraftSql.execute(s, "SHOW TABLES")
          .collect().exists(r => r.getString(0) == name &&
            r.getString(1) == root && r.getLong(2) == 0L)
        val de = graft.sources.GraftSql
          .execute(s, s"DESCRIBE TABLE $name").collect()
          .map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
          .toSeq
        val describeOk = de == Seq(
          ("o_orderkey", "bigint", false),
          ("o_totalprice", "double", false),
          ("o_orderstatus", "string", true))
        // DESCRIBE DETAIL: the manifest-only table card — its row
        // total and partitioning must agree with the data
        val det = graft.sources.GraftSql
          .execute(s, s"DESCRIBE DETAIL $name").collect().head
        val nRows = Tables(s, dir, "orders").count()
        val detailOk = det.getAs[Long]("num_rows") == nRows &&
          det.getAs[String]("partition_columns") == "o_orderstatus" &&
          det.getAs[Long]("version") == 0L &&
          det.getAs[Long]("num_files") > 0L
        graft.sources.GraftSql.execute(s, s"SHOW PARTITIONS $name")
          .withColumn("tables_ok", lit(if (tablesOk) 1L else 0L))
          .withColumn("describe_ok", lit(if (describeOk) 1L else 0L))
          .withColumn("detail_ok", lit(if (detailOk) 1L else 0L))
          .orderBy("partition")
      },
      oracle = Some("""
        SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS partition,
               CAST(1 AS BIGINT) AS tables_ok,
               CAST(1 AS BIGINT) AS describe_ok,
               CAST(1 AS BIGINT) AS detail_ok
        FROM orders ORDER BY 1"""),
      bench = false),

    // Atomic CTAS / CREATE OR REPLACE (the StagingTableCatalog role):
    // CREATE TABLE ... AS SELECT lands the name + data as one staged
    // commit (GraftCatalogSpec pins the abort path: a failing CTAS
    // leaves no name and no root); CREATE OR REPLACE overwrites into
    // the SAME root, so the pre-replace table time-travels — the final
    // union reads both worlds through Spark's own VERSION AS OF. The
    // oracle replays the surviving statement stream.
    "q321_ctas_replace" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_ctas").resolve("t").toString
        org.apache.spark.sql.graft.GraftCatalog.install(s)
        s.sql("DROP TABLE IF EXISTS graft.gate.ctas_t")
        Tables(s, dir, "orders").createOrReplaceTempView("q321_orders")
        s.sql(
          s"""CREATE TABLE graft.gate.ctas_t LOCATION '$root' AS
              SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM q321_orders WHERE o_orderkey % 2 = 0""")
        val preV = graft.sources.VersionedTable.latestVersion(root).get
        s.sql(
          """CREATE OR REPLACE TABLE graft.gate.ctas_t AS
             SELECT o_orderstatus, o_totalprice * 2 AS price2
             FROM q321_orders WHERE o_orderkey % 3 = 0""")
        s.sql(
          s"""SELECT o_orderstatus, count(*) AS n,
                     CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                       AS total
              FROM (
                SELECT o_orderstatus, o_totalprice AS price
                FROM graft.gate.ctas_t VERSION AS OF $preV
                UNION ALL
                SELECT o_orderstatus, price2 AS price
                FROM graft.gate.ctas_t)
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus, o_totalprice AS price FROM orders
          WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderstatus, o_totalprice * 2 AS price FROM orders
          WHERE o_orderkey % 3 = 0)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM u GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // DURABLE catalog registry (the metastore role — reference:
    // hive/Dockerfile:1-5, presto/config/delta.properties.txt:2): a
    // catalog installed with a warehouse persists name→root in a
    // CAS-guarded store under <warehouse>/_catalog. The query CREATEs
    // a table, wipes every in-memory binding (the fresh-JVM
    // simulation — the catalog instance holds no names), and re-reads
    // through SQL: resolution, SHOW TABLES, duplicate-CREATE refusal
    // (exclusive_ok — the CAS serializes racing CREATEs;
    // DurableCatalogSpec runs the 8-thread race), and DROP removing
    // durable state (drop_gone_ok) must all survive the wipe.
    "q324_durable_catalog" -> Q(
      bench = false,
      run = (caller, dir) => {
        val wh = tempRoot("graft_vt_dwh").toString
        // the catalog is installed on a private session, so the
        // caller's conf is never written and every run gets a fresh
        // catalog instance on its own warehouse; the JVM-global
        // registry may still bind a previous run's names — rerun-safe
        // because these drops clear them
        val s = graft.core.GraftSession.tune(caller.newSession())
        s.conf.set("spark.sql.catalog.graftdur",
          classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graftdur.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS graftdur.gate.dur_t")
        s.sql("DROP TABLE IF EXISTS graftdur.gate.tmp_t")
        Tables(s, dir, "orders").createOrReplaceTempView("q324_orders")
        s.sql(
          """CREATE TABLE graftdur.gate.dur_t AS
             SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM q324_orders WHERE o_orderkey % 2 = 0""")
        // fresh JVM: every cached binding gone; the durable store is
        // the only way back to the data
        org.apache.spark.sql.graft.GraftCatalog.resetCache()
        val exclusiveOk =
          try {
            s.sql("CREATE TABLE graftdur.gate.dur_t (k BIGINT)")
            false // a duplicate CREATE must refuse from durable state
          } catch { case _: Exception => true }
        s.sql("CREATE TABLE graftdur.gate.tmp_t (k BIGINT)")
        s.sql("DROP TABLE graftdur.gate.tmp_t")
        org.apache.spark.sql.graft.GraftCatalog.resetCache()
        val names = s.sql("SHOW TABLES IN graftdur.gate").collect()
          .map(_.getString(1)).toSeq
        val dropGoneOk = !names.contains("tmp_t")
        val showOk = names == Seq("dur_t")
        s.sql(
          """SELECT o_orderstatus, count(*) AS n,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) AS total
             FROM graftdur.gate.dur_t
             GROUP BY o_orderstatus ORDER BY o_orderstatus""")
          .withColumn("exclusive_ok", lit(if (exclusiveOk) 1L else 0L))
          .withColumn("drop_gone_ok", lit(if (dropGoneOk) 1L else 0L))
          .withColumn("show_ok", lit(if (showOk) 1L else 0L))
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS exclusive_ok,
               CAST(1 AS BIGINT) AS drop_gone_ok,
               CAST(1 AS BIGINT) AS show_ok
        FROM orders WHERE o_orderkey % 2 = 0
        GROUP BY 1 ORDER BY 1""")),

    // ALTER COLUMN TYPE — metadata-only WIDENING (the Delta
    // type-widening role): the declaration sidecar carries the wider
    // type, ZERO files move (zero_moved_ok), readers up-cast old
    // files at scan time, appends land beyond the old type's range,
    // version 0 time-travels with the ORIGINAL types (old_types_ok).
    // WidenColumnSpec pins pruning exactness, COW materialization,
    // z-order survival, and the refusal matrix. The oracle replays
    // the statement stream: original rows + the wide appended row.
    "q325_widen_column" -> Q(
      bench = false,
      run = (s, dir) => {
        import org.apache.spark.sql.types.{FloatType, IntegerType}
        val root = tempRoot("graft_vt_widen").resolve("t").toString
        val name = "gsql_widen"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").cast("float").as("qty_f"))
            .repartitionByRange(6, col("l_orderkey")),
          root, Write.stats("l_orderkey"))
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name ALTER COLUMN l_linenumber TYPE BIGINT")
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name ALTER COLUMN qty_f TYPE DOUBLE")
        val zeroMovedOk =
          graft.sources.VersionedTable.listingPaths(root, 0L) ==
            graft.sources.VersionedTable.listingPaths(root, 2L)
        // a row beyond Int range in BOTH widened columns
        import s.implicits._
        graft.sources.VersionedTable.append(
          Seq((9000000000L, 6000000000L, 2.5d))
            .toDF("l_orderkey", "l_linenumber", "qty_f"),
          root, Write.stats("l_orderkey"))
        val sc0 = graft.sources.VersionedTable
          .readVersion(s, root, 0L).schema
        val oldTypesOk = sc0("l_linenumber").dataType == IntegerType &&
          sc0("qty_f").dataType == FloatType
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("l_linenumber").as("ln"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty_f").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .withColumn("zero_moved_ok", lit(if (zeroMovedOk) 1L else 0L))
          .withColumn("old_types_ok", lit(if (oldTypesOk) 1L else 0L))
          .orderBy("ln")
      },
      oracle = Some("""
        WITH u AS (
          SELECT CAST(l_linenumber AS BIGINT) AS ln, l_quantity AS q
          FROM lineitem
          UNION ALL SELECT 6000000000, 2.5)
        SELECT ln, COUNT(*) AS n,
               CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(1 AS BIGINT) AS zero_moved_ok,
               CAST(1 AS BIGINT) AS old_types_ok
        FROM u GROUP BY 1 ORDER BY 1""")),

    // Column DEFAULT values (the Delta column-default role): SET
    // DEFAULT lands in the declaration sidecar; INSERT column-lists
    // fill the expression for unlisted columns through BOTH surfaces —
    // the GraftSql INSERT path and the DSv2 catalog path (Spark's own
    // analyzer fills from the reported column defaults). Existing
    // rows stay untouched (their stored values group unchanged).
    // ColumnDefaultSpec pins merge-INSERT fills, DROP DEFAULT, and
    // the self-contained-expression validation. The oracle replays
    // the statement stream with the defaults materialized.
    "q326_column_default" -> Q(
      bench = false,
      run = (s, dir) => {
        val root = tempRoot("graft_vt_def").resolve("t").toString
        val name = "gsql_def"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey").as("k"),
              col("o_orderstatus").as("status"),
              col("o_custkey").as("v")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name ALTER COLUMN status SET DEFAULT " +
            "upper('unk')")
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name ALTER COLUMN v SET DEFAULT 42")
        // surface 1: the engine's own INSERT column-list fill
        graft.sources.GraftSql.execute(s,
          s"INSERT INTO $name (k) VALUES (-1)")
        // surface 2: the DSv2 catalog path — Spark's analyzer fills
        // from the table's reported column defaults
        org.apache.spark.sql.graft.GraftCatalog.register(
          s, "gate", "def_t", root)
        s.sql("INSERT INTO graft.gate.def_t (k) VALUES (-2)")
        s.sql(
          s"""SELECT status, count(*) AS n,
                     CAST(SUM(v) AS BIGINT) AS sum_v
              FROM graft.gate.def_t
              GROUP BY status ORDER BY status""")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus AS status, o_custkey AS v FROM orders
          UNION ALL SELECT 'UNK', 42
          UNION ALL SELECT 'UNK', 42)
        SELECT status, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        FROM u GROUP BY 1 ORDER BY 1""")),

    // Table protocol / feature versioning (the Delta PROTOCOL.md
    // reader/writer table-feature role): a feature-using commit
    // records its requirement INSIDE its own manifest (the rename
    // lands `column-mapping` here — mapped_ok), a FUTURE feature name
    // fences the snapshot loudly on BOTH surfaces (read_fenced_ok /
    // write_fenced_ok — the refusal names the feature), resolution is
    // per-snapshot so time travel below the fence serves untouched
    // history (the aggregate rows), and legacy feature-free tables
    // resolve empty requirements (legacy_ok). The oracle replays the
    // statement stream: both slices under the renamed column.
    "q327_protocol_features" -> Q(
      bench = false,
      run = (s, dir) => {
        val VT = graft.sources.VersionedTable
        val root = tempRoot("graft_vt_feat").resolve("t").toString
        VT.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(4, col("o_orderkey")),
          root) // v0
        VT.append(
          Tables(s, dir, "orders")
            .filter(col("o_orderkey") % 5 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice")),
          root) // v1
        val legacyOk = VT.requiredFeatures(root, 1L) == ((Set(), Set()))
        // a REAL feature requirement rides the ALTER's own commit and
        // this build keeps serving through it
        VT.alterRenameColumn(s, root, "o_totalprice", "price") // v2
        val mappedOk =
          VT.requiredFeatures(root, 2L)._1 == Set("column-mapping") &&
            VT.read(s, root).columns.toSeq ==
              Seq("o_orderkey", "o_orderstatus", "price")
        // fence with a feature name no build understands yet: reads
        // AND writes refuse loudly, naming it
        VT.requireFeature(root, "r", "future-codec-x9") // v3
        val readFencedOk =
          try { VT.read(s, root).count(); false }
          catch { case e: Exception =>
            e.getMessage.contains("future-codec-x9") }
        val writeFencedOk =
          try {
            VT.append(VT.readVersion(s, root, 2L).limit(1), root); false
          } catch { case e: Exception =>
            e.getMessage.contains("future-codec-x9") }
        // per-snapshot resolution: the pre-fence snapshot is history,
        // served under its declared (renamed) schema
        VT.readVersion(s, root, 2L)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("price").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .withColumn("legacy_ok", lit(if (legacyOk) 1L else 0L))
          .withColumn("mapped_ok", lit(if (mappedOk) 1L else 0L))
          .withColumn("read_fenced_ok",
            lit(if (readFencedOk) 1L else 0L))
          .withColumn("write_fenced_ok",
            lit(if (writeFencedOk) 1L else 0L))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 5 = 0)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS legacy_ok,
               CAST(1 AS BIGINT) AS mapped_ok,
               CAST(1 AS BIGINT) AS read_fenced_ok,
               CAST(1 AS BIGINT) AS write_fenced_ok
        FROM u GROUP BY 1 ORDER BY 1""")),

    // IDENTITY columns (the Delta GENERATED ALWAYS AS IDENTITY role —
    // the transactional fix for the reference's surrogate-key
    // protocol, to_silver.py:106,130-132): the high-water mark lives
    // in the manifest and keys are allocated INSIDE the commit's CAS,
    // so two interleaved appends get dense, disjoint ranges — the
    // second appender loses the race, re-reads the winner's mark, and
    // re-stages above it. Batches are single-partition and sorted by
    // o_orderkey, so the assignment is deterministic and the oracle
    // REPLAYS it with row_number arithmetic; sum_k per status pins the
    // exact key→row mapping, dense_ok pins density end to end.
    "q328_identity" -> Q(
      bench = false,
      run = (s, dir) => {
        val VT = graft.sources.VersionedTable
        val root = tempRoot("graft_vt_id").resolve("t").toString
        val name = "gsql_id"
        val orders = Tables(s, dir, "orders")
        VT.overwrite(
          orders.select(col("o_orderkey").as("k"),
            col("o_orderstatus"), col("o_totalprice"))
            .repartitionByRange(4, col("k")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name ALTER COLUMN k SET GENERATED ALWAYS " +
            "AS IDENTITY")
        val hw0 = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        def batch(mod: Int) = orders
          .filter(col("o_orderkey") % mod === 0)
          .repartition(1).sortWithinPartitions("o_orderkey")
          .select(col("o_orderstatus"), col("o_totalprice"))
        // append A stages first but LOSES its commit race to B — the
        // identity path re-reads B's advanced mark and re-stages
        var raced = false
        VT.append(batch(3), root, beforeCommit = () => if (!raced) {
          raced = true
          VT.append(batch(7), root)
          ()
        })
        val appended = VT.read(s, root).filter(col("k") > hw0)
          .localCheckpoint(true)
        val ks = appended.agg(count(lit(1)), min(col("k")), max(col("k")))
          .head()
        val denseOk = ks.getLong(1) == hw0 + 1 &&
          ks.getLong(2) == hw0 + ks.getLong(0)
        appended.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("sum_k"))
          .withColumn("dense_ok", lit(if (denseOk) 1L else 0L))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        WITH hw AS (SELECT MAX(o_orderkey) AS h FROM orders),
        nb AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 7 = 0),
        b AS (
          SELECT o_orderstatus,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey)
                   + (SELECT h FROM hw) AS k
          FROM orders WHERE o_orderkey % 7 = 0),
        a AS (
          SELECT o_orderstatus,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey)
                   + (SELECT h FROM hw) + (SELECT c FROM nb) AS k
          FROM orders WHERE o_orderkey % 3 = 0),
        u AS (SELECT * FROM b UNION ALL SELECT * FROM a)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(1 AS BIGINT) AS dense_ok
        FROM u GROUP BY 1 ORDER BY 1""")),

    // ALTER TABLE RENAME/DROP COLUMN (the Delta column-mapping role):
    // both are METADATA-ONLY commits — files_ok pins the identical
    // file listing across both ALTERs (zero data moved at any table
    // size). The renamed column serves the original physical data
    // (filters on it still prune — ColumnMappingSpec pins the
    // file-count), version 0 time-travels with its OLD name
    // (old_names_ok), a re-added same-name column maps to a FRESH
    // physical slot so dropped data never resurrects
    // (no_resurrect_ok), and an INSERT through the SQL surface lands
    // in the physical slot under the logical name. The oracle replays
    // the surviving statement stream over the original column names.
    "q320_column_mapping" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cmap").resolve("t").toString
        val name = "gsql_cmap"
        graft.sources.VersionedTable.overwrite(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"))
            .repartitionByRange(6, col("o_orderkey")),
          root)
        graft.sources.GraftSql.register(s, name, root)
        val files0 = graft.sources.VersionedTable.listingPaths(root, 0L)
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name RENAME COLUMN o_totalprice TO price")
        graft.sources.GraftSql.execute(s,
          s"ALTER TABLE $name DROP COLUMN o_orderstatus")
        val v2 = graft.sources.VersionedTable.latestVersion(root).get
        val filesOk =
          graft.sources.VersionedTable.listingPaths(root, v2) == files0
        val oldNamesOk = graft.sources.VersionedTable
          .readVersion(s, root, 0L).columns.toSeq ==
          Seq("o_orderkey", "o_orderstatus", "o_totalprice")
        // re-add the dropped name: fresh physical slot, all NULL
        graft.sources.VersionedTable.alterAddColumns(s, root,
          Seq(org.apache.spark.sql.types.StructField("o_orderstatus",
            org.apache.spark.sql.types.StringType, nullable = true)))
        val resurrected = graft.sources.VersionedTable.read(s, root)
          .filter(col("o_orderstatus").isNotNull).count()
        // write through the mapped surface
        graft.sources.GraftSql.execute(s,
          s"INSERT INTO $name (o_orderkey, price) VALUES (9000001, 123.45)")
        graft.sources.GraftSql.execute(s,
          s"""SELECT o_orderkey % 3 AS grp, count(*) AS n,
                     CAST(SUM(CAST(price AS DECIMAL(18,2)))
                       AS DOUBLE) AS total
              FROM $name GROUP BY o_orderkey % 3 ORDER BY grp""")
          .withColumn("files_ok", lit(if (filesOk) 1L else 0L))
          .withColumn("old_names_ok", lit(if (oldNamesOk) 1L else 0L))
          .withColumn("no_resurrect_ok",
            lit(if (resurrected == 0L) 1L else 0L))
      },
      oracle = Some("""
        WITH t1 AS (
          SELECT o_orderkey, o_totalprice AS price FROM orders
          UNION ALL
          SELECT 9000001, 123.45),
        f AS (
          SELECT o_orderkey % 3 AS grp, COUNT(*) AS n,
                 CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
          FROM t1 GROUP BY 1)
        SELECT grp, n, total,
               CAST(1 AS BIGINT) AS files_ok,
               CAST(1 AS BIGINT) AS old_names_ok,
               CAST(1 AS BIGINT) AS no_resurrect_ok
        FROM f ORDER BY grp"""),
      bench = false),

    // OPTIMIZE compaction: four stats-carrying appends degenerate the
    // table into small files; compact() bin-packs them (range-clustered
    // on l_orderkey, stats recomputed), and the post-compaction
    // the scan must prune from the NEW manifest and answer exactly as
    // a plain WHERE over the raw table (VersionedTableSpec pins the
    // file-count drop and pruning; the oracle pins the answers).
    // bench=false: the timed region would be five table writes, not a
    // read path.
    "q129_compact" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_opt").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        val b = col("l_orderkey") % 4
        (0 to 3).foreach { i =>
          val batch = li.filter(b === i)
            .repartitionByRange(4, col("l_orderkey"))
          if (i == 0)
            graft.sources.VersionedTable.overwrite(batch, root,
              Write.stats("l_orderkey"))
          else
            graft.sources.VersionedTable.append(batch, root,
              Write.stats("l_orderkey"))
        }
        graft.sources.VersionedTable.compact(s, root,
          targetBytes = 256L << 10, statsCols = Seq("l_orderkey"))
        graft.sources.VersionedTable.scan(s, root)
          .filter(col("l_orderkey").between(2000, 5000))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_orderkey BETWEEN 2000 AND 5000
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      bench = false),

    // Row-level snapshot diff (diffVersions — the row-granular CDC
    // companion to q107's file-level reads): after the q64 merge
    // history, diff(v0, v1) must surface each updated key as its
    // delete (old values) + insert (doubled price) pair, while
    // untouched rows inside rewritten files cancel in the multiset
    // diff and files common to both manifests are never read at all.
    "q116_version_diff" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_diff").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        val changes = orders
          .filter(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sources.VersionedTable.merge(s, root, changes, Seq("o_orderkey"))
        graft.sources.VersionedTable.diffVersions(s, root, 0L, 1L)
          .groupBy(col("_change"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("_change")
      },
      oracle = Some("""
        SELECT 'delete' AS _change, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        UNION ALL
        SELECT 'insert' AS _change, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        ORDER BY _change""")),

    // Incremental consumption (CDF role): three md5-bucketed batches of
    // orders committed as overwrite + 2 appends; readChangesSince(v0)
    // must return EXACTLY the two appended batches — a downstream
    // consumer processes each commit once, never rescanning the table.
    "q107_changes_since" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cdc").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        val v0 = graft.sources.VersionedTable.overwrite(
          orders.filter(b.between("0", "4")), root)
        graft.sources.VersionedTable.append(
          orders.filter(b.between("5", "9")), root)
        graft.sources.VersionedTable.append(
          orders.filter(!b.between("0", "9")), root)
        graft.sources.VersionedTable.readChangesSince(s, root, v0)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) NOT BETWEEN '0' AND '4'
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // STREAMING changes feed (readChangesStream): the CDF consumed as
    // a Structured Streaming source — every committed append surfaces
    // as new micro-batch input, checkpointable (process each commit
    // once without hand-tracking versions; VersionedTableSpec pins the
    // checkpointed-resume and rewrite-refusal sides). Here an
    // AvailableNow pass over a 3-commit append-only history must
    // aggregate to exactly the whole table.
    "q171_changes_stream" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cdcstream").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.overwrite(
          orders.filter(b.between("0", "4")), root)
        graft.sources.VersionedTable.append(
          orders.filter(b.between("5", "9")), root)
        graft.sources.VersionedTable.append(
          orders.filter(!b.between("0", "9")), root)
        graft.streaming.StreamingJobs.drainToMemory(
          graft.sources.VersionedTable.readChangesStream(s, root)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total")),
          "graft_changes_stream").orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      bench = false),

    // Incremental materialized view (MaterializedView.refreshAdditive,
    // the Delta-Live-Tables / IVM role): an additive aggregate view
    // over a versioned source refreshes from readChangesSince — each
    // refresh reads O(new files) of the source and joins against the
    // GROUP-sized view state, never rescanning the table. Three
    // refreshes across three commits; the final view must equal the
    // full-table aggregate (the IVM correctness invariant).
    // VersionedTableSpec's sibling (MaterializedViewSpec) pins the
    // delta-only reads and the no-op refresh.
    "q182_incremental_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_mv_src").resolve("t").toString
        val view = tempRoot("graft_mv_view").resolve("v").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.overwrite(
          orders.filter(b.between("0", "4")), src)
        graft.sources.MaterializedView.refreshAdditive(
          s, src, view, Seq("o_orderstatus"), "o_totalprice")
        graft.sources.VersionedTable.append(
          orders.filter(b.between("5", "9")), src)
        graft.sources.MaterializedView.refreshAdditive(
          s, src, view, Seq("o_orderstatus"), "o_totalprice")
        graft.sources.VersionedTable.append(
          orders.filter(!b.between("0", "9")), src)
        graft.sources.MaterializedView.refreshAdditive(
          s, src, view, Seq("o_orderstatus"), "o_totalprice")
        graft.sources.VersionedTable.read(s, view)
          .select(col("o_orderstatus"), col("n"),
            col("total").cast(org.apache.spark.sql.types.DoubleType)
              .as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      bench = false),

    // JOIN-view incremental maintenance (MaterializedView.refreshJoin):
    // an orders ⋈ customer enriched-fact view maintained across
    // INTERLEAVED appends to BOTH sources via the delta-join identity
    // ΔJ = ΔA⋈B_new ∪ A_old⋈ΔB (ΔA⋈ΔB covered once, in the first
    // term) — each refresh APPENDS only the delta rows, never
    // recomputing the join. Four refreshes (initial full, ΔA-only,
    // ΔB-only — which must pick up earlier A rows joining the new
    // customers — then ΔA against the grown B); the served view must
    // equal the full join, which the oracle recomputes from scratch.
    // MaterializedViewSpec pins delta-sized appends, the no-op
    // refresh, and orphan-commit recovery.
    "q198_join_view" -> Q(
      run = (s, dir) => {
        val aRoot = tempRoot("graft_mvj_a").resolve("a").toString
        val bRoot = tempRoot("graft_mvj_b").resolve("b").toString
        val view = tempRoot("graft_mvj_v").resolve("v").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
            col("o_totalprice"))
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val ob = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        val cb = substring(md5(col("c_custkey").cast(StringType)), 1, 1)
        def refresh(): Unit = {
          graft.sources.MaterializedView.refreshJoin(
            s, aRoot, bRoot, view, Seq("c_custkey")); ()
        }
        graft.sources.VersionedTable.overwrite(
          orders.filter(ob.between("0", "5")), aRoot)
        graft.sources.VersionedTable.overwrite(
          cust.filter(cb.between("0", "7")), bRoot)
        refresh()
        graft.sources.VersionedTable.append(
          orders.filter(ob.between("6", "a")), aRoot)
        refresh()
        graft.sources.VersionedTable.append(
          cust.filter(!cb.between("0", "7")), bRoot)
        refresh()
        graft.sources.VersionedTable.append(
          orders.filter(!ob.between("0", "a")), aRoot)
        refresh()
        graft.sources.MaterializedView.readJoin(s, view)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DoubleType).as("total"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        SELECT c.c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c_mktsegment"""),
      bench = false),

    // Retraction-aware incremental view (refreshWithRetraction): the
    // IVM story THROUGH rewriting commits — the source takes an
    // append, then a DELETE WHERE, then a MERGE price-doubling update
    // (a delete+insert pair in the multiset diff), and the view
    // refreshed after each commit must still equal the full-table
    // aggregate of the final state. diffVersions' file-level pruning
    // keeps append stretches O(new files); only rewritten files
    // re-read.
    "q183_retraction_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_mvr_src").resolve("t").toString
        val view = tempRoot("graft_mvr_view").resolve("v").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        def refresh(): Unit = {
          graft.sources.MaterializedView.refreshWithRetraction(
            s, src, view, Seq("o_orderstatus"), "o_totalprice"); ()
        }
        graft.sources.VersionedTable.overwrite(
          orders.filter(b.between("0", "7")), src)
        refresh()
        graft.sources.VersionedTable.append(
          orders.filter(!b.between("0", "7")), src)
        refresh()
        graft.sources.VersionedTable.delete(s, src,
          substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
        refresh()
        graft.sources.VersionedTable.merge(s, src,
          orders.filter(b === "1")
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          Seq("o_orderkey"))
        refresh()
        graft.sources.VersionedTable.read(s, view)
          .select(col("o_orderstatus"), col("n"),
            col("total").cast(org.apache.spark.sql.types.DoubleType)
              .as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(
                 CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '1'
                      THEN o_totalprice * 2 ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) != '0'
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      bench = false),

    // COUNT(DISTINCT)-maintaining view (MaterializedView
    // .refreshDistinct) — the NON-additive aggregate q182 can't carry
    // (the reference's gold q3 shape: distinct bus names per route):
    // view state is a mergeable DataSketches HLL sketch per group,
    // each refresh sketches only the change rows and hll_unions them
    // into the stored state — O(new files) read, O(|groups|) state,
    // never a source rescan. Three refreshes across three overlapping
    // commits; CERTIFIED: the exact full-recompute distinct counts
    // anchor the hash, the sketch estimates fold into a
    // within-tolerance flag (DataSketches HLL is exact at this
    // group cardinality — tolerance 2% guards the estimator regime).
    // 3-day silver BACKFILL (Silver.backfillRange — the all_run/
    // to_silver-all.py date-range job): ticket-shaped batches derived
    // deterministically from `orders` land as per-day bronze tables
    // under the {MM-yyyy}/{dd-MM-yyyy} path convention, then the range
    // loop transforms + appends each day with a fresh max-Bus_Key
    // probe and the EXTENDED 11-branch cascade. Per-day key ranges
    // (min_key = prior days' total + 1) prove the continuation without
    // depending on within-day row order; the cascade is pinned by the
    // n_categories count here and by category in q188. All derivation
    // columns are replicated literally in the oracle.
    "q187_backfill" -> Q(
      run = (s, dir) => {
        val brz = tempRoot("graft_bf_brz").resolve("b").toString
        val slv = tempRoot("graft_bf_slv").resolve("t").toString
        val types = typedLit(BackfillTypeBus)
        val k = col("o_orderkey")
        val raw = Tables(s, dir, "orders").select(
          concat(lit("0"), (k % 3 + 5).cast(StringType), lit("-01-2024"))
            .as("Start_Date"),
          concat(lit("noi di "), (k % 7).cast(StringType))
            .as("Departure_Place"),
          concat(lit("noi den "), (k % 5).cast(StringType))
            .as("Arrival_Place"),
          concat((k % 12 + 1).cast(StringType), lit("h"),
            (k % 4 * 15).cast(StringType), lit("m")).as("Duration"),
          concat((k % 90 + 10).cast(StringType), lit(".000đ")).as("Price"),
          element_at(types, (k % 11 + 1).cast(IntegerType)).as("Type_Bus"),
          concat(lit("bus "), (k % 30).cast(StringType)).as("Bus_Name"))
        val days = (5 to 7).map(d => java.time.LocalDate.of(2024, 1, d))
        days.foreach { d =>
          graft.sources.VersionedTable.overwrite(
            raw.filter(col("Start_Date") ===
              d.format(java.time.format.DateTimeFormatter
                .ofPattern("dd-MM-yyyy"))),
            graft.silver.Silver.bronzeDayPath(brz, d))
        }
        val busIds = Tables(s, dir, "nation").select(
          concat(lit("bus "), col("n_nationkey").cast(StringType))
            .as("Bus_Name"),
          (col("n_nationkey") + 1).cast(IntegerType).as("Bus_Id"))
        graft.silver.Silver.backfillRange(
          days.head, days.last,
          readDay = d => {
            val p = graft.silver.Silver.bronzeDayPath(brz, d)
            if (graft.sources.VersionedTable.latestVersion(p).isDefined)
              Some(graft.sources.VersionedTable.read(s, p))
            else None
          },
          busIds = busIds,
          readSilver = () =>
            if (graft.sources.VersionedTable.latestVersion(slv).isDefined)
              Some(graft.sources.VersionedTable.read(s, slv))
            else None,
          appendSilver = df =>
            if (graft.sources.VersionedTable.latestVersion(slv).isEmpty) {
              graft.sources.VersionedTable.overwrite(df, slv); ()
            } else { graft.sources.VersionedTable.append(df, slv); () },
          extendedCascade = true)
        graft.sources.VersionedTable.read(s, slv)
          .groupBy(col("Start_Date").as("start_date"))
          .agg(count(lit(1)).as("n"),
            min(col("Bus_Key")).cast(LongType).as("min_key"),
            max(col("Bus_Key")).cast(LongType).as("max_key"),
            count(col("Bus_Id")).as("n_matched"),
            sum(col("Price").cast(LongType)).as("price_sum"),
            sum(col("Duration").cast(DecimalType(9, 2)))
              .cast(DoubleType).as("dur_sum"),
            countDistinct(col("Bus_Type_Category")).as("n_categories"))
          .orderBy("start_date")
      },
      oracle = Some("""
        WITH t AS (
          SELECT o_orderkey AS k,
                 (o_orderkey % 3) + 5 AS day,
                 ((o_orderkey % 12) + 1) + (o_orderkey % 4) * 15 / 60.0 AS duration,
                 ((o_orderkey % 90) + 10) * 1000 AS price,
                 CASE (o_orderkey % 11)
                   WHEN 0 THEN 'ghế ngồi'
                   WHEN 1 THEN 'giường nằm'
                   WHEN 2 THEN 'limousine ghế ngồi'
                   WHEN 3 THEN 'limousine ghế ngồi'
                   WHEN 4 THEN 'limousine giường nằm có WC'
                   WHEN 5 THEN 'limousine giường nằm'
                   WHEN 6 THEN 'limousine giường nằm'
                   WHEN 7 THEN 'limousine giường nằm'
                   WHEN 8 THEN 'limousine giường nằm'
                   WHEN 9 THEN 'limousine giường phòng'
                   ELSE 'khác' END AS category,
                 (o_orderkey % 30) AS busnum
          FROM orders),
        d AS (SELECT day, COUNT(*) AS n FROM t GROUP BY day),
        c AS (SELECT day, n,
                     CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum
              FROM d)
        SELECT CAST(('2024-01-0' || t.day) AS DATE) AS start_date,
               COUNT(*) AS n,
               CAST(MIN(c.cum - c.n + 1) AS BIGINT) AS min_key,
               MIN(c.cum) AS max_key,
               COUNT(*) FILTER (t.busnum <= 24) AS n_matched,
               CAST(SUM(t.price) AS BIGINT) AS price_sum,
               CAST(SUM(CAST(t.duration AS DECIMAL(9,2))) AS DOUBLE) AS dur_sum,
               COUNT(DISTINCT t.category) AS n_categories
        FROM t JOIN c USING (day)
        GROUP BY t.day
        ORDER BY start_date"""),
      bench = false),

    // The extended cascade's category census over the same backfill
    // derivation — every branch exercised, including the two that
    // differ from the daily classifier (the bare-giường precedence
    // quirk and the phòng branch). Pure map + hash agg; the oracle maps
    // each derivation index to its hand-derived category.
    "q188_backfill_cascade" -> Q(
      run = (s, dir) => {
        val types = typedLit(BackfillTypeBus)
        val k = col("o_orderkey")
        Tables(s, dir, "orders")
          .select(element_at(types, (k % 11 + 1).cast(IntegerType))
            .as("Type_Bus"))
          .withColumn("Type_Bus", lower(col("Type_Bus")))
          .withColumn("bus_type_category",
            graft.functions.VexereFunctions
              .busTypeCategoryBackfill(col("Type_Bus")))
          .groupBy(col("bus_type_category"))
          .agg(count(lit(1)).as("n"))
          .orderBy("bus_type_category")
      },
      oracle = Some("""
        SELECT CASE (o_orderkey % 11)
                 WHEN 0 THEN 'ghế ngồi'
                 WHEN 1 THEN 'giường nằm'
                 WHEN 2 THEN 'limousine ghế ngồi'
                 WHEN 3 THEN 'limousine ghế ngồi'
                 WHEN 4 THEN 'limousine giường nằm có WC'
                 WHEN 5 THEN 'limousine giường nằm'
                 WHEN 6 THEN 'limousine giường nằm'
                 WHEN 7 THEN 'limousine giường nằm'
                 WHEN 8 THEN 'limousine giường nằm'
                 WHEN 9 THEN 'limousine giường phòng'
                 ELSE 'khác' END AS bus_type_category,
               COUNT(*) AS n
        FROM orders
        GROUP BY 1 ORDER BY bus_type_category""")),

    "q186_distinct_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_mvd_src").resolve("t").toString
        val view = tempRoot("graft_mvd_view").resolve("v").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_suppkey"))
        val b = substring(md5(col("l_orderkey").cast(StringType)), 1, 1)
        def refresh(): Unit = {
          graft.sources.MaterializedView.refreshDistinct(
            s, src, view, Seq("l_returnflag"), "l_suppkey"); ()
        }
        graft.sources.VersionedTable.overwrite(
          li.filter(b.between("0", "4")), src)
        refresh()
        graft.sources.VersionedTable.append(
          li.filter(b.between("5", "9")), src)
        refresh()
        graft.sources.VersionedTable.append(
          li.filter(!b.between("0", "9")), src)
        refresh()
        val est = graft.sources.MaterializedView.readDistinct(
          s, view, Seq("l_returnflag"))
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_suppkey")).as("n_distinct"))
        graft.operators.Certify.attach(
          exact,
          graft.operators.Certify.allRowsFlag(
            est.join(exact.withColumnRenamed("n_distinct", "__ex"),
              Seq("l_returnflag")),
            abs(col("n_distinct") - col("__ex")).cast(DoubleType) /
              col("__ex") <= 0.02,
            "sketch_ok"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct,
               CAST(1 AS BIGINT) AS sketch_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      bench = false),

    // Row-level DELETE WHERE (COW): the table format's data-removal
    // story — a takedown against a training corpus removes rows FROM
    // THE TABLE (files without matches untouched, only matching files
    // rewritten; old versions still time-travel until vacuum). Here:
    // delete one md5 bucket of orders, aggregate the survivors.
    "q175_delete_where" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_delete").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.overwrite(
          orders.filter(b.between("0", "7")), root)
        graft.sources.VersionedTable.append(
          orders.filter(!b.between("0", "7")), root)
        graft.sources.VersionedTable.delete(s, root,
          substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) != '0'
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Shallow clone (zero-copy table fork): clone the orders table,
    // MERGE an adjustment into the CLONE — the clone diverges, the
    // source is untouched, no data files were copied at clone time
    // (VersionedTableSpec pins the zero-copy and divergence sides).
    // The experiment-on-a-fork story for a 100 TB corpus: forking is a
    // manifest write.
    "q176_shallow_clone" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_vt_clonesrc").resolve("t").toString
        val dst = tempRoot("graft_vt_clonedst").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, src)
        graft.sources.VersionedTable.shallowClone(src, dst)
        val changes = orders
          .filter(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sources.VersionedTable.merge(s, dst, changes, Seq("o_orderkey"))
        // clone after merge UNION'd with the untouched source: the
        // source half must aggregate to the RAW table
        graft.sources.VersionedTable.read(s, dst).withColumn("side", lit("clone"))
          .unionByName(graft.sources.VersionedTable.read(s, src)
            .withColumn("side", lit("source")))
          .groupBy(col("side"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("side", "o_orderstatus")
      },
      oracle = Some("""
        SELECT 'clone' AS side, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(
                 CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
                      THEN o_totalprice * 2 ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'source' AS side, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 2
        ORDER BY side, o_orderstatus""")),

    // Schema evolution (the Delta mergeSchema role): v0 lands
    // (doc_id, source); a later append arrives with a NEW nullable
    // `lang` column. The merged read presents the union schema with
    // v0's rows null-filled — no rewrite of v0's files (the
    // pre-evolution snapshot still time-travels with the old schema;
    // VersionedTableSpec pins that side). Oracle: en docs (the v0
    // batch) surface as lang 'unknown', the evolved batch keeps its
    // value.
    "q170_schema_evolution" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_evolve").resolve("t").toString
        val docs = Tables(s, dir, "documents")
        graft.sources.VersionedTable.overwrite(
          docs.filter(col("lang") === "en")
            .select(col("doc_id"), col("source")), root)
        graft.sources.VersionedTable.append(
          docs.filter(col("lang") =!= "en")
            .select(col("doc_id"), col("source"), col("lang")), root)
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("source"),
            coalesce(col("lang"), lit("unknown")).as("lang"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
          .orderBy("source", "lang")
      },
      oracle = Some("""
        SELECT source,
               CASE WHEN lang = 'en' THEN 'unknown' ELSE lang END AS lang,
               COUNT(*) AS n, MIN(doc_id) AS min_id
        FROM documents
        GROUP BY 1, 2 ORDER BY source, lang""")),

    // METADATA-ONLY aggregates (the Delta/Iceberg "COUNT(*) from the
    // log" optimization): countRows/statsRange answer from the
    // manifest listing alone — they don't even take a SparkSession, so
    // a data scan is impossible by construction. The gate builds a
    // 3-commit stats-recorded table and emits the manifest-derived row
    // next to a real-scan row; the oracle says both must equal the
    // source truth. At 100 TB: O(manifest) vs a full table scan.
    "q190_metadata_count" -> Q(
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_vt_meta").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val m = col("o_orderkey") % 3
        graft.sources.VersionedTable.overwrite(orders.filter(m === 0), root,
          Write.stats("o_custkey"))
        graft.sources.VersionedTable.append(orders.filter(m === 1), root,
          Write.stats("o_custkey"))
        graft.sources.VersionedTable.append(orders.filter(m === 2), root,
          Write.stats("o_custkey"))
        val metaN = graft.sources.VersionedTable.countRows(root).get
        val (metaLo, metaHi) =
          graft.sources.VersionedTable.statsRange(root, "o_custkey").get
        val scan = graft.sources.VersionedTable.read(s, root)
          .agg(count(lit(1)).as("n"), min(col("o_custkey")).as("lo"),
            max(col("o_custkey")).as("hi")).head()
        Seq(("manifest", metaN, metaLo, metaHi),
          ("scan", scan.getLong(0), scan.getLong(1), scan.getLong(2)))
          .toDF("src", "n", "lo", "hi").orderBy("src")
      },
      oracle = Some("""
        SELECT src, n, lo, hi FROM (
          SELECT 'manifest' AS src, COUNT(*) AS n,
                 MIN(o_custkey) AS lo, MAX(o_custkey) AS hi FROM orders
          UNION ALL
          SELECT 'scan', COUNT(*), MIN(o_custkey), MAX(o_custkey)
          FROM orders)
        ORDER BY src"""),
      bench = false),

    // METADATA-ONLY SUM/AVG (VersionedTable.sumTotal — q190's family
    // completed): per-file BIGINT sums of a pre-quantized measure
    // (decimal cents) recorded at write time, folded from the listing
    // alone. sumTotal/countRows take no SparkSession, so a scan is
    // impossible by construction; the scan row proves the manifest
    // answer equals the data. bench=false: commit churn, gate only.
    "q200_metadata_sum" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_vt_sums").resolve("t").toString
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            (col("o_totalprice").cast(dec) * 100).cast(LongType)
              .as("price_cents"))
        val m = col("o_orderkey") % 3
        graft.sources.VersionedTable.overwrite(orders.filter(m === 0), root,
          Write(stats = Some(Seq.empty), sums = Seq("price_cents")))
        graft.sources.VersionedTable.append(orders.filter(m === 1), root,
          Write(stats = Some(Seq.empty), sums = Seq("price_cents")))
        graft.sources.VersionedTable.append(orders.filter(m === 2), root,
          Write(stats = Some(Seq.empty), sums = Seq("price_cents")))
        val metaSum = graft.sources.VersionedTable
          .sumTotal(root, "price_cents").get
        val metaN = graft.sources.VersionedTable.countRows(root).get
        val scan = graft.sources.VersionedTable.read(s, root)
          .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("t")).head()
        Seq(("manifest", metaN, metaSum, metaSum / metaN),
          ("scan", scan.getLong(0), scan.getLong(1),
            scan.getLong(1) / scan.getLong(0)))
          .toDF("src", "n", "total_cents", "avg_cents").orderBy("src")
      },
      oracle = Some("""
        WITH t AS (
          SELECT COUNT(*) AS n,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS s
          FROM orders)
        SELECT src, n, total_cents, avg_cents FROM (
          SELECT 'manifest' AS src, n, s AS total_cents, s // n AS avg_cents
          FROM t
          UNION ALL
          SELECT 'scan', n, s, s // n FROM t)
        ORDER BY src""")),

    // MALFORMED-RECORD QUARANTINE (Lake.readJsonWithQuarantine — the
    // production hardening of the S2 JSON scan): a JSONL batch where
    // every 7th line is deterministically TRUNCATED mid-object; the
    // reader routes parseable lines to the data channel and malformed
    // raw lines to the quarantine channel — nothing dropped, nothing
    // aborted, one text scan + map-local from_json split. The oracle
    // re-derives both channels' aggregates from the corruption rule
    // without ever seeing the file. bench=false: file-write churn.
    "q202_json_quarantine" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val out = tempRoot("graft_jsonq").resolve("lines").toString
        val orders = Tables(s, dir, "orders")
        val line = to_json(struct(col("o_orderkey").as("k"),
          col("o_totalprice").as("v")))
        orders.select(
          when(col("o_orderkey") % 7 === 0, substring(line, 1, 10))
            .otherwise(line).as("value"))
          .write.mode("overwrite").text(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType)))
        val (good, bad) = graft.sources.Lake
          .readJsonWithQuarantine(s, out, schema)
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

    // PRIMARY-KEY APPEND ENFORCEMENT (VersionedTable.Write.unique):
    // a disjoint batch lands; a batch colliding with the snapshot and
    // a batch duplicating itself are both REJECTED whole (nothing
    // staged, nothing committed — proven by the final table state
    // matching the two good batches exactly). Flags are deterministic
    // outcomes of the commit protocol. bench=false: commit churn.
    "q220_unique_append" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_uniq").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        def insertUnique(batch: org.apache.spark.sql.DataFrame): Long =
          graft.sources.VersionedTable.append(batch, root,
            Write(unique = Seq("o_orderkey")))
        insertUnique(orders.filter(b < "8"))
        val collides = scala.util.Try(
          insertUnique(orders.filter(b.between("7", "9")))).isFailure
        val selfDup = scala.util.Try(insertUnique(orders.filter(b === "9")
          .unionByName(orders.filter(b === "9")))).isFailure
        insertUnique(orders.filter(b >= "8"))
        val st = graft.sources.VersionedTable.read(s, root)
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("ks")).head()
        Seq((st.getLong(0), st.getLong(1),
          if (collides) 1L else 0L, if (selfDup) 1L else 0L))
          .toDF("n_rows", "key_sum", "collision_rejected", "selfdup_rejected")
      },
      oracle = Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(1 AS BIGINT) AS collision_rejected,
               CAST(1 AS BIGINT) AS selfdup_rejected
        FROM orders""")),

    // METADATA-ONLY VERSION PROFILE: the full audit question "what
    // did each commit do to the data distribution" answered from
    // manifests alone — per version: file count, rows, key min/max,
    // exact measure sum (history + statsRange + sumTotal composed;
    // none takes a SparkSession). The oracle recomputes every
    // version's cumulative profile from the md5 split rule.
    // bench=false: commit churn.
    "q215_version_profile" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_vprof").resolve("t").toString
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            (col("o_totalprice").cast(dec) * 100).cast(LongType)
              .as("price_cents"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.overwrite(orders.filter(b < "6"), root,
          Write(stats = Some(Seq("o_orderkey")), sums = Seq("price_cents")))
        graft.sources.VersionedTable.append(
          orders.filter(b.between("6", "b")),
          root, Write(stats = Some(Seq("o_orderkey")), sums = Seq("price_cents")))
        graft.sources.VersionedTable.append(orders.filter(b > "b"), root,
          Write(stats = Some(Seq("o_orderkey")), sums = Seq("price_cents")))
        val vt = graft.sources.VersionedTable
        vt.history(root).map { case (v, files, rows) =>
          val (lo, hi) = vt.statsRange(root, "o_orderkey", Some(v)).get
          (v, files.toLong, rows.get, lo, hi,
            vt.sumTotal(root, "price_cents", Some(v)).get)
        }.toDF("version", "files", "n_rows", "min_key", "max_key",
          "sum_cents")
          .drop("files") // file count is layout, not data — not oracled
          .orderBy("version")
      },
      oracle = Some("""
        WITH t AS (
          SELECT o_orderkey AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                 substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS b
          FROM orders),
        v AS (SELECT 0 AS version, k, c FROM t WHERE b < '6'
              UNION ALL SELECT 1, k, c FROM t WHERE b <= 'b'
              UNION ALL SELECT 2, k, c FROM t)
        SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
               MIN(k) AS min_key, MAX(k) AS max_key,
               CAST(SUM(c) AS BIGINT) AS sum_cents
        FROM v GROUP BY version ORDER BY version""")),

    // CSV QUARANTINE (Lake.readCsvWithQuarantine — the q202 split for
    // the reference's PRIMARY raw format, crawler CSV): every 7th
    // line's key field is garbled to an untypeable token; the reader
    // routes typed rows and raw bad lines, dropping the exact header
    // line. Oracle re-derives both channels from the corruption rule.
    // bench=false: file churn.
    "q213_csv_quarantine" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val out = tempRoot("graft_csvq").resolve("lines").toString
        val orders = Tables(s, dir, "orders")
        val k = col("o_orderkey").cast(StringType)
        val v = col("o_totalprice").cast(StringType)
        val header = s.range(1).select(lit("k,v").as("value"))
        header.unionByName(orders.select(
          when(col("o_orderkey") % 7 === 0,
            concat(lit("XX,"), v))
            .otherwise(concat(k, lit(","), v)).as("value")))
          .coalesce(1).write.mode("overwrite").text(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType)))
        val (good, bad) = graft.sources.Lake
          .readCsvWithQuarantine(s, out, schema)
        val g = good.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("sv")).head()
        val b = bad.agg(count(lit(1)).as("n")).head()
        Seq((g.getLong(0), g.getLong(1), g.getDouble(2), b.getLong(0)))
          .toDF("n_good", "sum_k", "sum_v", "n_bad")
      },
      oracle = Some("""
        SELECT CAST(COUNT(*) FILTER (o_orderkey % 7 != 0) AS BIGINT) AS n_good,
               CAST(SUM(o_orderkey) FILTER (o_orderkey % 7 != 0) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (o_orderkey % 7 != 0) AS DOUBLE) AS sum_v,
               CAST(COUNT(*) FILTER (o_orderkey % 7 = 0) AS BIGINT) AS n_bad
        FROM orders""")),

    // PARTITION PRUNING through a Hive-style layout
    // (Lake.writePartitioned): orders written as o_orderstatus=X/
    // directories, then a single-status read must touch ONLY that
    // directory's files — asserted in-job over the scan's inputFiles
    // and folded into the deterministic pruned_ok flag (directory
    // pruning happens at planning time, so the flag is a pure function
    // of the layout). The per-status aggregate over the partitioned
    // roundtrip hash-checks against the raw table. bench=false:
    // file-write churn.
    "q203_partition_pruning" -> Q(
      bench = false,
      run = (s, dir) => {
        val root = tempRoot("graft_part").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.Lake.writePartitioned(orders, root, Seq("o_orderstatus"))
        val table = Lake.read(s, root)
        // inputFiles ignores pruning (it lists the unfiltered
        // relation); _metadata.file_path records what the scan READ
        val one = table.filter(col("o_orderstatus") === "F")
          .select(col("_metadata.file_path")).distinct()
          .collect().map(_.getString(0))
        val prunedOk =
          one.nonEmpty && one.forall(_.contains("o_orderstatus=F")) &&
            one.length < table.inputFiles.length
        table.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DoubleType).as("total"))
          .withColumn("pruned_ok", lit(if (prunedOk) 1L else 0L))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(1 AS BIGINT) AS pruned_ok
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // TABLE INTEGRITY AUDIT (VersionedTable.fsck): after real churn —
    // overwrite, append, MERGE, DELETE, compact — every version's
    // listing must still resolve on disk (no missing files) and a
    // planted crashed-writer stray must surface as exactly one orphan,
    // which vacuum then reclaims. All counts are invariants of the
    // commit protocol (deterministic); the scan row count anchors the
    // hash to the real post-churn data, which the oracle recomputes.
    // bench=false: commit churn.
    "q207_table_fsck" -> Q(
      bench = false,
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_fsck").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = substring(md5(col("o_orderkey").cast(StringType)), 1, 1)
        graft.sources.VersionedTable.overwrite(orders.filter(b < "8"), root)
        graft.sources.VersionedTable.append(orders.filter(b >= "8"), root)
        graft.sources.VersionedTable.merge(s, root,
          orders.filter(b === "0").withColumn("o_totalprice",
            col("o_totalprice") * 2), Seq("o_orderkey"))
        graft.sources.VersionedTable.delete(s, root,
          col("o_orderstatus") === "P")
        graft.sources.VersionedTable.compact(s, root)
        val (m0, o0) = graft.sources.VersionedTable.fsck(root)
        // crashed writer: a stray data file no manifest references
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "data", "v99999-dead0000-0.parquet"),
          Array[Byte](1, 2, 3))
        val (m1, o1) = graft.sources.VersionedTable.fsck(root)
        graft.sources.VersionedTable.vacuum(root)
        val (m2, o2) = graft.sources.VersionedTable.fsck(root)
        val n = graft.sources.VersionedTable.read(s, root).count()
        Seq((m0.size.toLong, o0.size.toLong, m1.size.toLong, o1.size.toLong,
          m2.size.toLong, o2.size.toLong, n))
          .toDF("missing_churn", "orphans_churn", "missing_stray",
            "orphans_stray", "missing_vacuumed", "orphans_vacuumed", "n_rows")
      },
      oracle = Some("""
        SELECT CAST(0 AS BIGINT) AS missing_churn,
               CAST(0 AS BIGINT) AS orphans_churn,
               CAST(0 AS BIGINT) AS missing_stray,
               CAST(1 AS BIGINT) AS orphans_stray,
               CAST(0 AS BIGINT) AS missing_vacuumed,
               CAST(0 AS BIGINT) AS orphans_vacuumed,
               COUNT(*) AS n_rows
        FROM orders WHERE o_orderstatus != 'P'""")),

    // NATIVE DAG ORCHESTRATION (pipeline.DagRunner — the kltn.dag.py
    // role): the reference's 3-parallel-pipelines → gold → audit shape
    // run natively with dependency ordering, per-task retry and
    // Airflow's upstream_failed propagation. ticket_silver is FLAKY
    // (fails twice, succeeds on try 3 — retry visible in try_number);
    // review_silver fails permanently, so review_gold is SKIPPED while
    // the independent pipelines complete; the audit table (the
    // reference's one declared schema) records it all. Deterministic
    // columns only (states, tries); timings are real and projected
    // out. bench=false: orchestration churn.
    "q209_dag_audit" -> Q(
      bench = false,
      run = (s, dir) => {
        val work = tempRoot("graft_dag").resolve("w")
        val auditPath = work.resolve("audit").toString
        val orders = Tables(s, dir, "orders")
        val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
        def sink(name: String)(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.mode("overwrite").parquet(work.resolve(name).toString)
        import graft.pipeline.DagRunner.Task
        val tasks = Seq(
          Task("ticket_bronze", Seq.empty,
            () => sink("tb")(orders.limit(100))),
          Task("ticket_silver", Seq("ticket_bronze"),
            () => {
              if (flaky.incrementAndGet() < 3) sys.error("transient")
              sink("ts")(Lake.read(s, work.resolve("tb").toString))
            }, maxTries = 3),
          Task("facility_bronze", Seq.empty,
            () => sink("fb")(orders.limit(50))),
          Task("review_silver", Seq.empty,
            () => sys.error("permanent"), maxTries = 2),
          Task("review_gold", Seq("review_silver"),
            () => sink("rg")(orders.limit(1))),
          Task("gold", Seq("ticket_silver", "facility_bronze"),
            () => sink("g")(Lake.read(s, work.resolve("ts").toString)
              .agg(count(lit(1)).as("n")))))
        graft.pipeline.DagRunner.run(s, "vexere_dag", tasks, auditPath,
          clock = () => "2026-01-01T00:00:00Z", hostname = "gate")
        Lake.read(s, auditPath)
          .select(col("dag_id"), col("task_id"), col("state"),
            col("try_number").cast(LongType).as("tries"))
          .orderBy("task_id")
      },
      oracle = Some("""
        SELECT * FROM (VALUES
          ('vexere_dag', 'facility_bronze', 'success', CAST(1 AS BIGINT)),
          ('vexere_dag', 'gold',            'success', CAST(1 AS BIGINT)),
          ('vexere_dag', 'review_gold', 'upstream_failed', CAST(0 AS BIGINT)),
          ('vexere_dag', 'review_silver',   'failed',  CAST(2 AS BIGINT)),
          ('vexere_dag', 'ticket_bronze',   'success', CAST(1 AS BIGINT)),
          ('vexere_dag', 'ticket_silver',   'success', CAST(3 AS BIGINT)))
          AS t(dag_id, task_id, state, tries)
        ORDER BY task_id""")),

    // SQL SERVING SURFACE (the reference's Presto role, natively):
    // ONE ANSI SQL text — CTE, dim join, partitioned window, decimal
    // rounding, BIGINT casts — executed verbatim by BOTH engines:
    // spark.sql over registered temp views here, DuckDB over the raw
    // parquet as the oracle. The strings are character-identical
    // (LakeQueries.ServingSql), so this row certifies the portable-SQL
    // contract itself, not a hand-matched translation.
    "q210_sql_surface" -> Q(
      run = (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        Tables(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql(LakeQueries.ServingSql)
      },
      oracle = Some(LakeQueries.ServingSql)),

    // BLOOM-INDEX point lookup (the Delta bloom index role): a corpus
    // keyed by string URL, hash-partitioned so key ranges interleave
    // across every file — min/max stats can never skip, only the
    // per-file bloom can. The pruned_ok flag (files opened < files
    // total) is deterministic: xxhash64, the bloom bits, and the hash
    // partitioning are all fixed functions of the input.
    "q191_bloom_skip" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_bloom").resolve("t").toString
        val docs = Tables(s, dir, "documents")
          .select(concat(lit("doc://"), col("doc_id").cast(StringType))
            .as("url"), col("doc_id"), col("n_chars"))
          .repartition(8, col("doc_id"))
        graft.sources.VersionedTable.append(docs, root,
          Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("url", 2000))))
        val out = graft.sources.VersionedTable.scan(s, root).filter(
          col("url").isin("doc://7", "doc://123", "doc://400", "doc://no-such"))
        val opened = org.apache.spark.sql.graft.GraftScan.filesRead(out)
        val total = graft.sources.VersionedTable.fileCount(root)
        out.select(col("url"), col("doc_id"), col("n_chars"))
          .withColumn("pruned_ok", lit(if (opened < total) 1L else 0L))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT 'doc://' || doc_id AS url, doc_id, n_chars,
               CAST(1 AS BIGINT) AS pruned_ok
        FROM documents WHERE doc_id IN (7, 123, 400)
        ORDER BY doc_id""")),

    // DESCRIBE HISTORY, metadata-only: per-version row counts folded
    // from the manifests (zero data reads — countRows per version).
    // Three stats-recorded commits over key-disjoint orders slices;
    // the oracle recomputes each version's cumulative count.
    "q193_table_history" -> Q(
      run = (s, dir) => {
        import s.implicits._
        val root = tempRoot("graft_vt_hist").resolve("t").toString
        val orders = Tables(s, dir, "orders").select(col("o_orderkey"))
        val m = col("o_orderkey") % 3
        graft.sources.VersionedTable.overwrite(orders.filter(m === 0), root,
          Write.stats())
        graft.sources.VersionedTable.append(orders.filter(m === 1), root,
          Write.stats())
        graft.sources.VersionedTable.append(orders.filter(m === 2), root,
          Write.stats())
        graft.sources.VersionedTable.history(root)
          .map { case (v, files, rows) =>
            (v, if (files > 0) 1L else 0L, rows.getOrElse(-1L))
          }
          .toDF("version", "has_files", "n_rows")
          .orderBy("version")
      },
      oracle = Some("""
        SELECT CAST(v AS BIGINT) AS version, CAST(1 AS BIGINT) AS has_files,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 <= v)
                 AS n_rows
        FROM (SELECT UNNEST(range(3)) AS v) ORDER BY version"""),
      bench = false),

    // CHECK-constraint append (write-time quality gate): two batches
    // satisfying the contract commit; the spec proves the rejection
    // path. Output = the guarded table's aggregate, so a constraint
    // that silently dropped or mutated rows would break the hash.
    "q194_checked_append" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_check").resolve("t").toString
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        val c = col("l_quantity") > 0 && col("l_returnflag").isNotNull
        graft.sources.VersionedTable.overwrite(
          li.filter(col("l_orderkey") % 2 === 0),
          root, Write.stats())
        graft.sources.VersionedTable.append(
          li.filter(col("l_orderkey") % 2 === 1),
          root,
          Write(stats = Some(Seq.empty),
                expect = Seq("CHECK constraint" -> Write.everyRow(c))))
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("qty"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // BRANCH → work → MERGE BACK (VersionedTable.mergeBranch — the
    // lakeFS/Nessie Git-for-data close of q176's shallow clone):
    // branch forks zero-copy, BOTH sides append concurrently
    // (append-only histories are conflict-free — the data
    // fast-forward), and the branch's additions land on the source as
    // ONE commit; the append-only precondition is checked from the
    // manifests alone (spec proves the rewrite-branch refusal). The
    // merged source must aggregate to the FULL table — a dropped,
    // duplicated, or clone-point-leaked row breaks the hash.
    "q236_branch_merge" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_vt_brsrc").resolve("t").toString
        val br = tempRoot("graft_vt_brdst").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(
          orders.filter(col("o_orderkey") % 3 === 0), src)
        graft.sources.VersionedTable.shallowClone(src, br)
        graft.sources.VersionedTable.append(
          orders.filter(col("o_orderkey") % 3 === 1), br)
        graft.sources.VersionedTable.append(
          orders.filter(col("o_orderkey") % 3 === 2), src)
        graft.sources.VersionedTable.mergeBranch(s, br, src)
        graft.sources.VersionedTable.read(s, src)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // RESULT-SET CACHE (ResultCache — the Snowflake serving role):
    // the aggregate runs through the cache three times — miss
    // (materialize), hit (served from the stored parquet, source not
    // scanned — proven in ResultCacheSpec), then a source APPEND
    // changes the version fingerprint so the third call recomputes
    // over the full table. A stale hit after the append would return
    // the half-table aggregate and break the hash.
    "q238_result_cache" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_rc_src").resolve("t").toString
        val cache = tempRoot("graft_rc").resolve("c").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(
          orders.filter(col("o_orderkey") % 2 === 0), src)
        def aggNow = graft.sources.VersionedTable.read(s, src)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        graft.sources.ResultCache.through(aggNow, cache,
          graft.sources.ResultCache.depsOf(src)).count()
        graft.sources.ResultCache.through(aggNow, cache,
          graft.sources.ResultCache.depsOf(src)).count()
        graft.sources.VersionedTable.append(
          orders.filter(col("o_orderkey") % 2 === 1), src)
        graft.sources.ResultCache.through(aggNow, cache,
          graft.sources.ResultCache.depsOf(src))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // APPLY CHANGES INTO (the DLT apply_changes / Debezium-sink role):
    // an ordered I/U/D feed with per-key sequence numbers folds into
    // the table as ONE atomic copy-on-write commit — net effect only
    // (seq 2 overrides seq 1: a delete un-deleted by a later upsert,
    // an update overridden by a later delete — both exercised), with
    // deletes of absent keys as no-ops. Oracle replays the feed's net
    // effect declaratively.
    "q239_cdc_apply" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cdc").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(
          orders.filter(col("o_orderkey") < 10000), root)
        val tail = orders.filter(col("o_orderkey") >= 5000)
        val feed1 = tail.select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 500).as("o_totalprice"), lit(1L).as("seq"),
          when(col("o_orderkey") % 10 < 3, "D").otherwise("U").as("op"))
        val feed2 = tail.filter(col("o_orderkey") % 10 === 0 ||
            col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") + 1000).as("o_totalprice"), lit(2L).as("seq"),
            when(col("o_orderkey") % 10 === 0, "U").otherwise("D").as("op"))
        graft.sources.VersionedTable.applyChanges(s, root,
          feed1.unionByName(feed2), Seq("o_orderkey"), "seq", "op")
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        WITH survivors AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice AS price
          FROM orders WHERE o_orderkey < 5000
          UNION ALL
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                      ELSE o_totalprice + 500 END AS price
          FROM orders
          WHERE o_orderkey >= 5000 AND o_orderkey % 10 NOT IN (1, 2, 3))
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM survivors GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // WRITE-AUDIT-PUBLISH (the Iceberg WAP workflow, composed from
    // the engine's own parts): stage a batch on a shallow-clone
    // BRANCH, audit it with a write-time CHECK, and only a batch that
    // passes ever reaches the main table via the branch fast-forward
    // merge. The poisoned batch is rejected WHOLE (the CHECK
    // expectation aborts before any commit) and main provably never
    // sees it — the `bad_rejected` / `main_isolated` flags fold that
    // proof into the hash.
    "q241_wap_publish" -> Q(
      run = (s, dir) => {
        val main = tempRoot("graft_wap_main").resolve("t").toString
        val branch = tempRoot("graft_wap_branch").resolve("t").toString
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        // stats-bearing overwrite → the isolation proof below stays
        // metadata-only (countRows folds the manifest, no scan)
        graft.sources.VersionedTable.overwrite(
          ev.filter(col("event_id") < 5000),
          main, Write.stats())
        graft.sources.VersionedTable.shallowClone(main, branch)
        val slice = ev.filter(col("event_id") >= 5000 && col("event_id") < 7500)
        val poisoned = slice.withColumn("value",
          when(col("event_id") === 6000, lit(null)).otherwise(col("value")))
        val audit = Write(stats = Some(Seq.empty), expect = Seq(
          "CHECK constraint" -> Write.everyRow(col("value").isNotNull)))
        val badRejected =
          try {
            graft.sources.VersionedTable.append(poisoned, branch, audit)
            0L
          } catch { case _: IllegalArgumentException => 1L }
        // audit proof: the branch (and a fortiori main) is still the
        // base batch — the rejected write left no partial commit
        val mainIsolated =
          if (graft.sources.VersionedTable.countRows(branch).contains(5000L)) 1L
          else 0L
        graft.sources.VersionedTable.append(slice, branch, audit)
        graft.sources.VersionedTable.mergeBranch(s, branch, main)
        graft.sources.VersionedTable.read(s, main)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("val_sum"))
          .withColumn("bad_rejected", lit(badRejected))
          .withColumn("main_isolated", lit(mainIsolated))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
               CAST(1 AS BIGINT) AS bad_rejected,
               CAST(1 AS BIGINT) AS main_isolated
        FROM events WHERE event_id < 7500
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // MIN/MAX-maintaining incremental view (MaterializedView
    // .refreshMinMax): per-group extremes are monotone under
    // append-only sources, so three append→refresh cycles must land
    // the view exactly on the full-recompute answer — the non-additive
    // aggregate family (q186 covered COUNT(DISTINCT) via sketches;
    // extremes need no sketch at all).
    "q242_minmax_view" -> Q(
      run = (s, dir) => {
        val src = tempRoot("graft_mmv_src").resolve("t").toString
        val view = tempRoot("graft_mmv_view").resolve("v").toString
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        graft.sources.VersionedTable.overwrite(
          ev.filter(col("event_id") < 4000), src)
        graft.sources.MaterializedView.refreshMinMax(
          s, src, view, Seq("event_type"), "value")
        graft.sources.VersionedTable.append(
          ev.filter(col("event_id") >= 4000 && col("event_id") < 7000), src)
        graft.sources.MaterializedView.refreshMinMax(
          s, src, view, Seq("event_type"), "value")
        graft.sources.VersionedTable.append(
          ev.filter(col("event_id") >= 7000), src)
        graft.sources.MaterializedView.refreshMinMax(
          s, src, view, Seq("event_type"), "value")
        graft.sources.VersionedTable.read(s, view)
          .select(col("event_type"), col("lo"), col("hi"), col("n"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
               COUNT(value) AS n
        FROM events GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // UPDATE ... SET (copy-on-write) — the third leg of the DML triad
    // (MERGE q64, DELETE q175): SET expressions referencing the row's
    // own pre-update columns, applied only where the predicate is
    // TRUE, via the same prune-then-rewrite shape as DELETE (untouched
    // files carry as-is). The doubled price is exact in binary
    // floating point (×2 is a pure exponent bump), so the DECIMAL
    // aggregate hash-matches the oracle's CASE replay.
    "q253_update_where" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_update").resolve("t").toString
        val orders = Tables(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        graft.sources.VersionedTable.update(s, root,
          col("o_orderstatus") === "O" && col("o_totalprice") < 100000,
          Map("o_totalprice" -> (col("o_totalprice") * 2),
            "o_orderpriority" -> lit("REPRICED")))
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      oracle = Some("""
        WITH u AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderstatus = 'O' AND o_totalprice < 100000
                      THEN 'REPRICED' ELSE o_orderpriority END
                   AS o_orderpriority,
                 CASE WHEN o_orderstatus = 'O' AND o_totalprice < 100000
                      THEN o_totalprice * 2 ELSE o_totalprice END
                   AS o_totalprice
          FROM orders)
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM u GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // MERGE-ON-READ delete (sources.Tombstones — the deletion-vector
    // role): two tombstone batches (overlapping keys — idempotent)
    // land as O(keys) commits with the data files PROVABLY untouched
    // (mor_lazy: metadata-only countRows still reports the full
    // table), reads subtract tombstones via one broadcast anti-join,
    // and purge folds everything into ONE atomic file-pruned commit
    // after which plain reads agree (purged_ok).
    "q254_mor_delete" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_mor").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root, Write.stats())
        val total = orders.count()
        graft.sources.Tombstones.deleteMor(s, root,
          orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")))
        graft.sources.Tombstones.deleteMor(s, root,
          orders.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey")))
        // MOR laziness proof: the table's own files (and manifest row
        // count) are untouched by both deletes
        val morLazy =
          if (graft.sources.VersionedTable.countRows(root).contains(total)) 1L
          else 0L
        // materialize BEFORE purge: the MOR plan references the
        // tombstone files purge deletes
        val active = graft.sources.Tombstones.readActive(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .localCheckpoint(true)
        graft.sources.Tombstones.purge(s, root)
        // after purge the plain snapshot read agrees with the MOR read
        val purgedOk =
          if (graft.sources.VersionedTable.read(s, root).count() ==
              total - orders.filter(col("o_orderkey") % 5 === 0 ||
                col("o_orderkey") % 7 === 0).count()) 1L
          else 0L
        active
          .withColumn("mor_lazy", lit(morLazy))
          .withColumn("purged_ok", lit(purgedOk))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS mor_lazy, CAST(1 AS BIGINT) AS purged_ok
        FROM orders
        WHERE o_orderkey % 5 != 0 AND o_orderkey % 7 != 0
        GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // MERGE-ON-READ UPDATE (sources.Tombstones.updateMor — completes
    // the MOR triad): two STACKED updates (the second computes from
    // the first's patched view) land as O(matched keys) patch commits
    // with the data files provably untouched (mor_lazy), a MOR delete
    // after the patches hides them for its keys (deletes win), reads
    // overlay patch-then-tombstone via broadcast joins, and purge
    // folds everything into file-pruned commits after which the plain
    // snapshot read — what this query publishes — agrees with the
    // hand-derived oracle.
    "q291_mor_update" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_morupd").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root, Write.stats())
        val total = orders.count()
        graft.sources.Tombstones.updateMor(s, root, Seq("o_orderkey"),
          col("o_orderstatus") === "O" && col("o_totalprice") < 100000,
          Map("o_totalprice" -> (col("o_totalprice") * 2),
            "o_orderpriority" -> lit("REPRICED")))
        // stacked: sees the FIRST patch's repriced rows
        graft.sources.Tombstones.updateMor(s, root, Seq("o_orderkey"),
          col("o_orderpriority") === "REPRICED" &&
            col("o_totalprice") >= 150000,
          Map("o_orderpriority" -> lit("REPRICED_HI")))
        graft.sources.Tombstones.deleteMor(s, root,
          orders.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey")))
        // MOR laziness proof: manifest row count still reports the
        // full table after two updates and a delete
        val morLazy =
          if (graft.sources.VersionedTable.countRows(root).contains(total)) 1L
          else 0L
        graft.sources.Tombstones.purge(s, root)
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("mor_lazy", lit(morLazy))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      oracle = Some("""
        WITH u1 AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderstatus = 'O' AND o_totalprice < 100000
                      THEN 'REPRICED' ELSE o_orderpriority END
                   AS o_orderpriority,
                 CASE WHEN o_orderstatus = 'O' AND o_totalprice < 100000
                      THEN o_totalprice * 2 ELSE o_totalprice END
                   AS o_totalprice
          FROM orders),
        u2 AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderpriority = 'REPRICED'
                        AND o_totalprice >= 150000
                      THEN 'REPRICED_HI' ELSE o_orderpriority END
                   AS o_orderpriority,
                 o_totalprice
          FROM u1)
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS mor_lazy
        FROM u2 WHERE o_orderkey % 10 != 0
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // AGGREGATE expectations at the write boundary (the DLT
    // expect_or_fail role, one level up from q194's row-level CHECK):
    // null-RATE ceilings and volume floors are batch properties no
    // per-row constraint can express. The poisoned batch (2% planted
    // null values) fails the 1% ceiling and is rejected WHOLE before
    // any file stages; the clean batch passes the same gate.
    "q259_expectations" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_expect").resolve("t").toString
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        // even/odd split — scale-independent (the plan audit builds
        // this query at sf0.001 too)
        graft.sources.VersionedTable.overwrite(
          ev.filter(col("event_id") % 2 === 0), root)
        val gates = Seq(
          "null_rate_le_1pct" ->
            (sum(col("value").isNull.cast("long")) * 100 <= count(lit(1))),
          "volume_ge_100" -> (count(lit(1)) >= 100L))
        val odds = ev.filter(col("event_id") % 2 === 1)
        val poisoned = odds.withColumn("value",
          when(col("event_id") % 50 === 1, lit(null)) // 4% null rate
            .otherwise(col("value")))
        val badRejected =
          try {
            graft.sources.VersionedTable.append(poisoned, root,
              Write(stats = Some(Seq.empty), expect = gates))
            0L
          } catch { case _: IllegalArgumentException => 1L }
        graft.sources.VersionedTable.append(odds, root,
          Write(stats = Some(Seq.empty), expect = gates))
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("val_sum"))
          .withColumn("bad_rejected", lit(badRejected))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
               CAST(1 AS BIGINT) AS bad_rejected
        FROM events GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // ATOMIC MULTI-TABLE PUBLISH (sources.SnapshotGroup — the
    // TextIndex commit-pointer protocol as library surface): facts and
    // their summary move under ONE pointer. Between the facts-v2
    // commit and the publish, readers still resolve the v1 PAIR — the
    // torn middle (new facts, old summary) is unobservable by
    // construction (torn_invisible folds that probe into the hash).
    "q260_snapshot_group" -> Q(
      run = (s, dir) => {
        val grp = tempRoot("graft_sg").toString
        val facts = new java.io.File(grp, "facts").getPath
        val summ = new java.io.File(grp, "summary").getPath
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        def summarize(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        val half = orders.filter(col("o_orderkey") % 2 === 0)
        val fv1 = graft.sources.VersionedTable.overwrite(half, facts)
        val sv1 = graft.sources.VersionedTable.overwrite(summarize(half), summ)
        graft.sources.SnapshotGroup.publish(grp,
          Map(facts -> fv1, summ -> sv1))
        // facts move ahead WITHOUT a publish — a crash-between-commits
        val fv2 = graft.sources.VersionedTable.overwrite(orders, facts)
        val tornInvisible =
          if (graft.sources.SnapshotGroup.readAt(s, grp, facts).count() ==
              half.count()) 1L else 0L
        val sv2 = graft.sources.VersionedTable.overwrite(summarize(orders), summ)
        graft.sources.SnapshotGroup.publish(grp,
          Map(facts -> fv2, summ -> sv2))
        // published pair is consistent: summary rows == re-aggregated facts
        graft.sources.SnapshotGroup.readAt(s, grp, summ)
          .withColumn("torn_invisible", lit(tornInvisible))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS torn_invisible
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // REPLACE WHERE (Delta's replaceWhere partition reload): the 'F'
    // slice is atomically swapped for its repriced reload in ONE
    // commit; non-matching files never rewrite, and the batch-scope
    // guard (every replacement row must itself match the predicate)
    // is what catches a mis-scoped reload before it leaks.
    "q261_replace_where" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_rw").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        val reload = orders.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        graft.sources.VersionedTable.replaceWhere(s, root,
          col("o_orderstatus") === "F", reload)
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F'
                                  THEN o_totalprice + 1000
                                  ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // Zero-copy branch AT A HISTORICAL VERSION (shallowCloneAt — the
    // Delta `CLONE ... VERSION AS OF` role): after a merge rewrites
    // the source, a branch forked from v0 still aggregates to the
    // ORIGINAL table while the source head shows the merged state —
    // time-travel branching without copying a byte.
    "q267_branch_at" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_bat").resolve("t").toString
        val branch = tempRoot("graft_vt_batbr").resolve("b").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.overwrite(orders, root)
        val changes = orders
          .filter(substring(md5(col("o_orderkey").cast(StringType)), 1, 1) === "0")
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        graft.sources.VersionedTable.merge(s, root, changes, Seq("o_orderkey"))
        graft.sources.VersionedTable.shallowCloneAt(root, branch, Some(0L))
        graft.sources.VersionedTable.read(s, branch)
          .withColumn("side", lit("branch_v0"))
          .unionByName(graft.sources.VersionedTable.read(s, root)
            .withColumn("side", lit("source_head")))
          .groupBy(col("side"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("side", "o_orderstatus")
      },
      oracle = Some("""
        SELECT 'branch_v0' AS side, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'source_head' AS side, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(
                 CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
                      THEN o_totalprice * 2 ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 2
        ORDER BY side, o_orderstatus"""),
      bench = false),

    // PERSISTED table constraints (the Delta ADD CONSTRAINT role): the
    // rules are stored WITH the table, so every writer appending
    // through append enforces them — a poisoned batch is
    // rejected whole naming the broken constraint, and a fresh
    // "writer" (re-reading the sidecar) sees the same contract.
    "q280_persistent_constraints" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_cons").resolve("t").toString
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.VersionedTable.setConstraints(root, Seq(
          "price_nonneg" -> "o_totalprice >= 0",
          "status_known" -> "o_orderstatus IN ('F', 'O', 'P')"))
        graft.sources.VersionedTable.overwrite(
          orders.filter(col("o_orderkey") % 2 === 0), root)
        val odds = orders.filter(col("o_orderkey") % 2 === 1)
        val poisoned = odds.withColumn("o_orderstatus",
          when(col("o_orderkey") % 999 === 1, lit("X"))
            .otherwise(col("o_orderstatus")))
        val badRejected =
          try {
            graft.sources.VersionedTable.append(poisoned, root, Write.stats())
            0L
          } catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("status_known") => 1L
          }
        // the contract is durable: a fresh writer re-reads it
        val contractStored =
          if (graft.sources.VersionedTable.constraintsOf(root).size == 2) 1L
          else 0L
        graft.sources.VersionedTable.append(odds, root, Write.stats())
        graft.sources.VersionedTable.read(s, root)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("bad_rejected", lit(badRejected))
          .withColumn("contract_stored", lit(contractStored))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(1 AS BIGINT) AS bad_rejected,
               CAST(1 AS BIGINT) AS contract_stored
        FROM orders GROUP BY 1 ORDER BY 1"""),
      bench = false),

    // STATS-DRIVEN JOIN PLANNING (VersionedTable.readAuto): the dim
    // table's manifest records per-file byte sizes at write, and the
    // read path turns them into the broadcast decision — no manual
    // hint anywhere. The query joins customer to the versioned nation
    // dim through readAuto and PROVES the plan flip in-result: with
    // Spark's own size-estimate broadcasting disabled, the manifest
    // says "small" → BroadcastHashJoin (small_bc = 1); the same table
    // under a 1-byte threshold shuffles (large_bc = 0). The CBO story
    // Delta gets from file statistics, on the engine's own manifest
    // format; PlanSpec pins the same flip at spec level.
    "q289_auto_broadcast" -> Q(
      run = (s, dir) => {
        val root = tempRoot("graft_vt_autobc").resolve("t").toString
        graft.sources.VersionedTable.append(
          Tables(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name")),
          root, Write.stats())
        def joined(p: SparkSession, thr: Long) = Tables(p, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
          .join(graft.sources.VersionedTable.readAuto(p, root, thr),
            col("c_nationkey") === col("n_nationkey"))
        // plan flags computed on a private session with Spark's native
        // size-estimate broadcast OFF, so the manifest is the only
        // voice and the caller's session conf is never written
        val priv = graft.core.GraftSession.tune(s.newSession())
        priv.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def bc(thr: Long): Long =
          if (joined(priv, thr).queryExecution.executedPlan.toString
            .contains("BroadcastHashJoin")) 1L else 0L
        val (smallBc, largeBc) = (bc(10L << 20), bc(1L))
        joined(s, 10L << 20)
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal"))
          .withColumn("small_bc", lit(smallBc))
          .withColumn("large_bc", lit(largeBc))
          .orderBy("n_name")
      },
      oracle = Some("""
        SELECT n_name, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
               CAST(1 AS BIGINT) AS small_bc,
               CAST(0 AS BIGINT) AS large_bc
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1 ORDER BY 1"""),
      bench = false)
  )

  /** q210's single SQL text — executed VERBATIM by Spark (temp views)
    * and DuckDB (raw parquet): the portable-SQL serving contract. */
  val ServingSql: String = """
    WITH co AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
               ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT c_mktsegment, o_orderkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 0) AS BIGINT)
             AS price_rounded,
           rk
    FROM co WHERE rk <= 3 ORDER BY c_mktsegment, rk"""
}
