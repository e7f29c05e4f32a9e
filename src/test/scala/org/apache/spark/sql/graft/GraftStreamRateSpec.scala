package org.apache.spark.sql.graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable
import graft.sources.VersionedTable.Write

/** GraftStreamSource admission control — the offset-level contract,
  * tested on the Source directly (deterministic: no trigger timing).
  * getOffset must cap the OFFERED end relative to the last served
  * batch; getBatch must serve exactly the capped range. */
class GraftStreamRateSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_rate").resolve("t").toString

  private def append(root: String, lo: Long, hi: Long): Unit = {
    import spark.implicits._
    val rows = (lo until hi).map(i => (i, i * 2L)).toDF("k", "v")
    if (VersionedTable.latestVersion(root).isEmpty)
      VersionedTable.overwrite(rows, root, Write.stats("k"))
    else VersionedTable.append(rows, root, Write.stats("k"))
    ()
  }

  test("maxVersionsPerTrigger: the offered end advances by at most " +
    "the cap per batch; every batch serves exactly its range") {
    val root = tmpRoot()
    append(root, 0L, 100L) // v0
    val src = new GraftStreamSource(spark, root,
      startingVersion = None, maxVersionsPerTrigger = Some(2L))
    // manifest row count of the admitted range — getBatch returns a
    // STREAMING frame (no batch actions on it); the e2e test below
    // pins actual row delivery
    def rowsIn(a: Long, b: Long): Long =
      VersionedTable.scanListingDelta(root, Some(a), b)
        .flatMap(_.rows).sum
    // initial snapshot: no anchor yet — uncapped (documented carve-out)
    assert(src.getOffset.contains(LongOffset(0L)))
    assert(src.getBatch(None, LongOffset(0L)).isStreaming)
    // backlog of 4 commits drains in 2-version steps
    (1 to 4).foreach(i => append(root, i * 1000L, i * 1000L + 10L))
    assert(src.getOffset.contains(LongOffset(2L)), "capped at anchor+2")
    assert(rowsIn(0L, 2L) == 20L)
    src.getBatch(Some(LongOffset(0L)), LongOffset(2L))
    assert(src.getOffset.contains(LongOffset(4L)))
    assert(rowsIn(2L, 4L) == 20L)
    src.getBatch(Some(LongOffset(2L)), LongOffset(4L))
    // drained: the offer equals the anchor — no phantom batch
    assert(src.getOffset.contains(LongOffset(4L)))
  }

  test("maxBytesPerTrigger: whole commits admitted until the budget " +
    "spends; one oversized commit still admits (no wedge); preserving " +
    "commits are free") {
    val root = tmpRoot()
    append(root, 0L, 10L) // v0
    val src = new GraftStreamSource(spark, root,
      startingVersion = None, maxBytesPerTrigger = Some(1L)) // tiny
    assert(src.getOffset.contains(LongOffset(0L)))
    src.getBatch(None, LongOffset(0L))
    (1 to 3).foreach(i => append(root, i * 1000L, i * 1000L + 10L))
    // every commit exceeds 1 byte — admit exactly ONE per trigger
    assert(src.getOffset.contains(LongOffset(1L)))
    src.getBatch(Some(LongOffset(0L)), LongOffset(1L))
    assert(src.getOffset.contains(LongOffset(2L)))
    src.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    // a data-preserving compaction commit costs nothing: the offer
    // jumps ACROSS it to the next real commit in the same trigger
    VersionedTable.compact(spark, root, targetBytes = 256L << 20,
      statsCols = Seq("k")) // v4, #preserving
    append(root, 9000L, 9010L) // v5
    assert(src.getOffset.contains(LongOffset(3L)))
    src.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    assert(src.getOffset.contains(LongOffset(5L)),
      "the preserving v4 admits free alongside the real v5")
    assert(VersionedTable.scanListingDelta(root, Some(3L), 5L)
      .flatMap(_.rows).sum == 10L,
      "only v5's rows — compaction adds none")
    src.getBatch(Some(LongOffset(3L)), LongOffset(5L))
    assert(src.getOffset.contains(LongOffset(5L)))
  }

  test("end-to-end: a capped AvailableNow run advances EXACTLY one " +
    "cap per run — the restart re-seats the anchor from the recovered " +
    "batch (the Spark-order assumption this source documents), and " +
    "repeated runs drain exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpRoot()
    val out = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_rate_ck").toString
    append(root, 0L, 100L) // v0 — NOT streamed (startingVersion = 0)
    (1 to 3).foreach(i => append(root, i * 1000L, i * 1000L + 10L))
    def runOnce(): Unit = {
      val q = VersionedTable.scanStream(spark, root,
        startingVersion = Some(0L), maxVersionsPerTrigger = Some(1L))
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            if (!b.isEmpty)
              VersionedTable.append(b.toDF(), out,
                Write(txn = Some("graft_rate" -> id)))
            ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not drain")
      ()
    }
    def outCount(): Long = VersionedTable.latestVersion(out)
      .map(_ => VersionedTable.read(spark, out).count()).getOrElse(0L)
    // each run must land EXACTLY one version's rows: if a Spark
    // upgrade reorders the AvailableNow offset capture before the
    // recovery getBatch, the anchor would go stale and the second run
    // would either wedge (advance 0) or drain uncapped (advance 20+)
    // — both trip these asserts
    runOnce(); assert(outCount() == 10L, "run 1 serves exactly v1")
    runOnce(); assert(outCount() == 20L, "run 2 serves exactly v2")
    runOnce(); assert(outCount() == 30L, "run 3 serves exactly v3")
    runOnce(); assert(outCount() == 30L, "a drained run is a no-op")
    val got = VersionedTable.read(spark, out)
    assert(got.select(col("k")).distinct().count() == 30L,
      "no row lost, none duplicated")
  }
}
