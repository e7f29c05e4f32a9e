package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** VersionedTable.scanStream — version-pinned micro-batches through
  * the pruning FileIndex: filters prune per batch, offsets are table
  * versions (exactly-once across restarts), rewrites refuse. */
class GraftStreamSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_stream").resolve("t").toString

  private def mkTable(root: String, lo: Long, hi: Long,
                      overwrite: Boolean): Unit = {
    import spark.implicits._
    val rows = (lo until hi).map(i => (i, s"s${i % 3}", i * 2L))
      .toDF("k", "tag", "v").repartitionByRange(3, col("k"))
    if (overwrite) VersionedTable.overwrite(rows, root, Write.stats("k"))
    else VersionedTable.append(rows, root, Write.stats("k"))
    ()
  }

  private def runOnce(root: String, out: String, ckpt: String,
                      where: org.apache.spark.sql.Column): Unit = {
    val q = VersionedTable.scanStream(spark, root)
      .filter(where)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        if (!batch.isEmpty)
          VersionedTable.append(batch.toDF(), out,
            Write(txn = Some("graft_stream_spec" -> id)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain within 120 s")
    ()
  }

  test("version-pinned micro-batches: first run serves the snapshot, " +
    "a restart serves ONLY versions committed since (exactly-once)") {
    val root = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_stream_ck").toString
    mkTable(root, 0L, 600L, overwrite = true)
    runOnce(root, out, ckpt, col("k") >= 0L)
    assert(VersionedTable.read(spark, out).count() == 600L)
    // two more commits; the restarted stream reads exactly the delta
    mkTable(root, 600L, 700L, overwrite = false)
    mkTable(root, 700L, 750L, overwrite = false)
    runOnce(root, out, ckpt, col("k") >= 0L)
    val got = VersionedTable.read(spark, out)
    assert(got.count() == 750L, "no row lost, none duplicated")
    assert(got.select(col("k")).distinct().count() == 750L)
    // an idle restart with no new commits is a no-op
    runOnce(root, out, ckpt, col("k") >= 0L)
    assert(VersionedTable.read(spark, out).count() == 750L)
  }

  test("an ordinary filter prunes each micro-batch's files from the " +
    "manifest stats: the source reads fewer rows than the table holds") {
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_stream_ck2").toString
    mkTable(root, 0L, 600L, overwrite = true) // 3 files, k-clustered
    var inputRows = -1L
    val q = VersionedTable.scanStream(spark, root)
      .filter(col("k") < 100L)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        assert(batch.count() == 100L)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain within 120 s")
    inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows > 0L && inputRows < 600L,
      s"manifest pruning must keep unmatched files unread, " +
        s"read $inputRows of 600 rows")
  }

  test("partitioned tables stream with their partition columns " +
    "injected; a partition filter prunes each micro-batch's directories") {
    import spark.implicits._
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_stream_ck3").toString
    val rows = (0L until 400L).map(i => (i, s"p${i % 4}", i * 3L))
      .toDF("k", "part", "v").repartitionByRange(2, col("k"))
    VersionedTable.overwrite(rows, root,
      Write(stats = Some(Seq("k")), partitionBy = Seq("part")))
    var got = Seq.empty[(Long, String)]
    val q = VersionedTable.scanStream(spark, root)
      .filter(col("part") === "p2")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        got = got ++ b.collect().map(r =>
          (r.getAs[Long]("k"), r.getAs[String]("part")))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain within 120 s")
    assert(got.size == 100 && got.forall(_._2 == "p2"),
      "the stream must serve exactly the filtered partition, values " +
        "injected from the paths")
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows < 400L,
      s"partition pruning must keep other directories unread, " +
        s"read $inputRows of 400 rows")
  }

  test("a rewrite inside the offset range refuses rather than " +
    "re-serving rewritten rows; scanListingDelta pins the contract") {
    import spark.implicits._
    val root = tmpRoot()
    mkTable(root, 0L, 100L, overwrite = true)
    val v0 = VersionedTable.latestVersion(root).get
    mkTable(root, 100L, 150L, overwrite = false)
    // the delta is exactly the appended files' rows
    val delta = VersionedTable.scanListingDelta(root, Some(v0),
      VersionedTable.latestVersion(root).get)
    assert(delta.nonEmpty)
    assert(spark.read.parquet(delta.map(_.path): _*).count() == 50L)
    // a rewrite breaks append-only: refused with a clear error
    VersionedTable.merge(spark, root,
      Seq((1L, "zz", 0L)).toDF("k", "tag", "v"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.scanListingDelta(root, Some(v0),
        VersionedTable.latestVersion(root).get)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("startingVersion tails commits AFTER the named version: no " +
    "snapshot replay; the checkpointed offset governs restarts") {
    import spark.implicits._
    val root = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_stream_ck5").toString
    mkTable(root, 0L, 500L, overwrite = true) // v0: the bulk history
    val v0 = VersionedTable.latestVersion(root).get
    mkTable(root, 500L, 530L, overwrite = false) // v1: fresh arrivals
    // a new consumer tails from v0: the 500-row snapshot is NOT
    // replayed, only the commits after it
    val q = VersionedTable.scanStream(spark, root, Some(v0))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        if (!b.isEmpty)
          VersionedTable.append(b.toDF(), out,
            Write(txn = Some("graft_stream_sv" -> id)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain within 120 s")
    val got = VersionedTable.read(spark, out)
    assert(got.count() == 30L, "only post-startingVersion rows served")
    assert(got.agg(org.apache.spark.sql.functions.min(col("k")))
      .head().getLong(0) == 500L)
    // restart with the SAME checkpoint: the committed offset governs,
    // startingVersion seeds only the first batch — new commits flow
    mkTable(root, 530L, 540L, overwrite = false)
    runOnce(root, out, ckpt, col("k") >= 0L)
    assert(VersionedTable.read(spark, out).count() == 40L)
    assert(VersionedTable.read(spark, out)
      .select(col("k")).distinct().count() == 40L)
  }

  test("a stream rides across OPTIMIZE: data-preserving compaction " +
    "commits are skipped exactly-once; genuine rewrites still refuse") {
    import spark.implicits._
    val root = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_stream_ck4").toString
    mkTable(root, 0L, 100L, overwrite = true)
    runOnce(root, out, ckpt, col("k") >= 0L)
    assert(VersionedTable.read(spark, out).count() == 100L)
    // append → COMPACT (bin-pack, removes+adds files) → append, all
    // unseen by the stream; the compaction must be skipped, the two
    // appends served exactly once each
    mkTable(root, 100L, 140L, overwrite = false)
    val cv = VersionedTable.compact(spark, root, targetBytes = 1L << 30,
      statsCols = Seq("k"))
    assert(VersionedTable.readListing(root, cv).nonEmpty)
    mkTable(root, 140L, 160L, overwrite = false)
    runOnce(root, out, ckpt, col("k") >= 0L)
    val got = VersionedTable.read(spark, out)
    assert(got.count() == 160L, "no row lost, none duplicated across compact")
    assert(got.select(col("k")).distinct().count() == 160L)
    // the z-order re-layout is data-preserving too
    VersionedTable.compactZOrderedK(spark, root, Seq("k", "v"), 2)
    mkTable(root, 160L, 170L, overwrite = false)
    runOnce(root, out, ckpt, col("k") >= 0L)
    assert(VersionedTable.read(spark, out).count() == 170L)
    assert(VersionedTable.read(spark, out)
      .select(col("k")).distinct().count() == 170L)
    // a genuine rewrite in the unseen range still refuses
    VersionedTable.delete(spark, root, col("k") === 5L)
    mkTable(root, 170L, 175L, overwrite = false)
    val e = intercept[Exception] {
      VersionedTable.scanListingDelta(root,
        Some(VersionedTable.latestVersion(root).get - 2),
        VersionedTable.latestVersion(root).get)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("NATIVE sink: writeStream.format(graft-table) lands each " +
    "micro-batch as ONE txn-stamped commit; a kill-and-restart replay " +
    "is deduplicated by the table itself") {
    import spark.implicits._
    val src = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_sink_ck").toString
    mkTable(src, 0L, 60L, overwrite = true)
    VersionedTable.overwrite(
      Seq.empty[(Long, String, Long)].toDF("k", "tag", "v"), out)
    def run(): Unit = {
      val q = VersionedTable.scanStream(spark, src,
        maxVersionsPerTrigger = Some(1L))
        .writeStream.format("graft-table")
        .option("root", out)
        .option("checkpointLocation", ckpt)
        .option("statsCols", "k")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
      ()
    }
    run()
    assert(VersionedTable.read(spark, out).count() == 60L)
    // three more source commits; capped AvailableNow runs drain them
    // across RESTARTS of the same checkpoint — each run re-seats the
    // last batch through the sink (the kill-and-restart replay), and
    // the txn marker must swallow the replays
    mkTable(src, 60L, 80L, overwrite = false)
    mkTable(src, 80L, 90L, overwrite = false)
    run(); run(); run(); run()
    val got = VersionedTable.read(spark, out)
    assert(got.count() == 90L,
      s"exactly-once across restarts, got ${got.count()}")
    assert(got.select(col("k")).distinct().count() == 90L)
    // the txn markers are IN the manifest commits (one atomic unit)
    assert(VersionedTable.latestTxn(out, ckpt).nonEmpty,
      "the checkpoint location is the exactly-once appId")
    // stats recorded through the sink prune reads
    val q2 = VersionedTable.scan(spark, out).filter(col("k") < 10L)
    assert(q2.count() == 10L)
  }

  test("NATIVE sink via the catalog: format(graft-table)" +
    ".toTable(graft.db.t) routes through the V1 fallback; partitioned " +
    "tables land their Hive layout") {
    import spark.implicits._
    val src = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_sink_ck2").toString
    mkTable(src, 0L, 30L, overwrite = true)
    // catalog table, Hive-partitioned by tag
    VersionedTable.overwrite(
      Seq.empty[(Long, Long, String)].toDF("k", "v", "tag"),
      out, Write(stats = Some(Seq.empty), partitionBy = Seq("tag")))
    org.apache.spark.sql.graft.GraftCatalog.register(
      spark, "snk", "t", out)
    val q = VersionedTable.scanStream(spark, src)
      .select(col("k"), col("v"), col("tag"))
      .writeStream.format("graft-table")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.snk.t")
    q.awaitTermination(180000)
    assert(spark.sql("SELECT count(*) FROM graft.snk.t")
      .head().getLong(0) == 30L)
    // Hive layout: the partition predicate prunes directories
    assert(VersionedTable.listingPaths(out,
      VersionedTable.latestVersion(out).get)
      .forall(_.contains("tag=")), "partitioned sink must lay out " +
      "col=value directories")
    // replay of the same checkpoint adds nothing
    val q3 = VersionedTable.scanStream(spark, src)
      .select(col("k"), col("v"), col("tag"))
      .writeStream.format("graft-table")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.snk.t")
    q3.awaitTermination(180000)
    assert(spark.sql("SELECT count(*) FROM graft.snk.t")
      .head().getLong(0) == 30L)
    // a partitioned txn append onto FLAT history refuses (the same
    // first-partitioned-at-zero guard every partitioned writer
    // re-checks inside its commit attempt)
    val flat = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 2L, "x")).toDF("k", "v", "tag"), flat)
    intercept[Exception] {
      VersionedTable.append(Seq((2L, 3L, "y")).toDF("k", "v", "tag"), flat,
        Write(stats = Some(Seq.empty),
              partitionBy = Seq("tag"),
              txn = Some("app" -> 0L)))
    }
    // Complete mode into a partitioned table refuses at SINK
    // CONSTRUCTION (before any batch runs)
    val eC = intercept[Exception] {
      VersionedTable.scanStream(spark, src)
        .select(col("k"), col("v"), col("tag"))
        .writeStream.format("graft-table")
        .outputMode("complete")
        .option("root", out)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_ckc").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(eC.getMessage.contains("partitioned") ||
      eC.getMessage.toLowerCase.contains("complete"))
    // Update mode is refused loudly
    val e = intercept[Exception] {
      VersionedTable.scanStream(spark, src)
        .select(col("k"), col("v"), col("tag"))
        .writeStream.format("graft-table")
        .outputMode("update")
        .option("root", out)
        .option("checkpointLocation",
          Files.createTempDirectory("graft_sink_ck3").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(e.getMessage.contains("Append and Complete") ||
      e.getMessage.toLowerCase.contains("update"))
  }
}
