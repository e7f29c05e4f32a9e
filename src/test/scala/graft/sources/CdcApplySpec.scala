package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** VersionedTable.applyChanges (CDC APPLY CHANGES) + the streaming
  * door: net-effect ordering, absent-key deletes, single-commit
  * atomicity, exactly-once replay. */
class CdcApplySpec extends SparkSuite {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_cdc_$tag").resolve("t").toString

  private def base(root: String): Unit = {
    import spark.implicits._
    VersionedTable.overwrite(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("k", "s", "v"), root)
  }

  private def state(root: String): Set[(Long, String, Double)] =
    VersionedTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
        r.getAs[Double]("v"))).toSet

  test("net effect: latest op per key wins, in one commit") {
    import spark.implicits._
    val root = freshRoot("net")
    base(root)
    val v0 = VersionedTable.latestVersion(root).get
    val feed = Seq(
      (1L, "a", 11.0, 1L, "U"), // then deleted at seq 2 → gone
      (1L, "a", 12.0, 2L, "D"),
      (2L, "b", 21.0, 1L, "D"), // then re-upserted at seq 2 → 22.0
      (2L, "b", 22.0, 2L, "U"),
      (3L, "c", 31.0, 1L, "U"), // two updates → latest (32.0)
      (3L, "c", 32.0, 2L, "U"),
      (4L, "d", 40.0, 1L, "I"), // fresh insert
      (9L, "x", 0.0, 1L, "D")   // delete of an absent key → no-op
    ).toDF("k", "s", "v", "seq", "op")
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
    assert(state(root) == Set(
      (2L, "b", 22.0), (3L, "c", 32.0), (4L, "d", 40.0)))
    assert(VersionedTable.latestVersion(root).get == v0 + 1,
      "upserts and deletes must land in ONE commit")
  }

  test("only-absent-key deletes still commit cleanly (pure no-op data)") {
    import spark.implicits._
    val root = freshRoot("noop")
    base(root)
    val feed = Seq((7L, "z", 0.0, 1L, "D")).toDF("k", "s", "v", "seq", "op")
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
    assert(state(root) ==
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("replaying the same feed is idempotent") {
    import spark.implicits._
    val root = freshRoot("replay")
    base(root)
    val feed = Seq(
      (1L, "a", 99.0, 1L, "U"), (2L, "b", 0.0, 1L, "D"))
      .toDF("k", "s", "v", "seq", "op")
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
    val s1 = state(root)
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
    assert(state(root) == s1)
    assert(s1 == Set((1L, "a", 99.0), (3L, "c", 30.0)))
  }

  test("commit race: the loser recomputes against the winner's snapshot") {
    import spark.implicits._
    val root = freshRoot("race")
    base(root)
    // a racing append lands BETWEEN the apply's prune pass and its
    // commit: the apply must lose the version, re-read the new
    // snapshot, and still land every change — including on the row
    // the racer added (key 4 arrives mid-flight, feed deletes it)
    var raced = false
    val feed = Seq(
      (1L, "a", 99.0, 1L, "U"),
      (4L, "d", 0.0, 1L, "D")).toDF("k", "s", "v", "seq", "op")
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op",
      beforeCommit = () => {
        if (!raced) {
          raced = true
          VersionedTable.append(
            Seq((4L, "d", 40.0), (5L, "e", 50.0)).toDF("k", "s", "v"), root)
        }
      })
    assert(state(root) == Set(
      (1L, "a", 99.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0)),
      "retry must see the racer's rows: key 4 deleted, key 5 kept")
  }

  test("untouched files are never rewritten") {
    import spark.implicits._
    val root = freshRoot("prune")
    // two separately-committed batches → separate files; the feed
    // touches only batch 2's key range
    VersionedTable.overwrite(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"), root)
    VersionedTable.append(
      Seq((10L, "j", 1.0), (11L, "jj", 2.0)).toDF("k", "s", "v"), root)
    val before = VersionedTable.read(spark, root).inputFiles.toSet
    val feed = Seq((10L, "j", 9.0, 1L, "U")).toDF("k", "s", "v", "seq", "op")
    VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
    val after = VersionedTable.read(spark, root).inputFiles.toSet
    val kept = before.intersect(after)
    assert(kept.nonEmpty, "batch-1 files must carry through untouched")
    assert(state(root) == Set(
      (1L, "a", 10.0), (2L, "b", 20.0), (10L, "j", 9.0), (11L, "jj", 2.0)))
  }

  test("applyChangesGuarded: a later batch with an OLDER sequence " +
    "cannot regress newer state") {
    import spark.implicits._
    val root = freshRoot("guard")
    // guarded targets persist the sequence
    VersionedTable.overwrite(
      Seq((1L, 5L, "a", 50.0), (2L, 5L, "b", 50.0), (3L, 5L, "c", 50.0))
        .toDF("k", "seq", "s", "v"), root)
    def st(): Set[(Long, Long, Double)] =
      VersionedTable.read(spark, root).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"),
          r.getAs[Double]("v"))).toSet
    // batch 1: newer sequences apply (k=1 upsert, k=2 delete)
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((1L, 7L, "a", 70.0, "U"), (2L, 7L, "b", 0.0, "D"))
        .toDF("k", "seq", "s", "v", "op"), Seq("k"), "seq", "op")
    assert(st() == Set((1L, 7L, 70.0), (3L, 5L, 50.0)))
    // batch 2 arrives LATE with OLDER sequences (seq 3 < stored 7/5):
    // stale upsert on k=1 and stale tombstone on k=3 must both be
    // ignored; k=4 is a fresh insert and lands
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((1L, 3L, "a", 30.0, "U"), (3L, 3L, "c", 0.0, "D"),
          (4L, 1L, "d", 10.0, "I"))
        .toDF("k", "seq", "s", "v", "op"), Seq("k"), "seq", "op")
    assert(st() == Set((1L, 7L, 70.0), (3L, 5L, 50.0), (4L, 1L, 10.0)),
      "stale upsert and stale tombstone must both be ignored")
    // equal sequence resolves to the feed (replay idempotence)
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((4L, 1L, "d", 10.0, "I")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op")
    assert(st() == Set((1L, 7L, 70.0), (3L, 5L, 50.0), (4L, 1L, 10.0)))
    // in-commit txn stamp: a replayed txn returns without writing
    val v0 = VersionedTable.latestVersion(root).get
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((5L, 9L, "e", 90.0, "U")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", txnAppId = "t", txn = 3L)
    assert(VersionedTable.latestTxn(root, "t").contains(3L))
    val v1 = VersionedTable.latestVersion(root).get
    assert(v1 == v0 + 1)
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((6L, 9L, "f", 90.0, "U")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", txnAppId = "t", txn = 3L)
    assert(VersionedTable.latestVersion(root).get == v1,
      "replayed txn must not commit")
    assert(!st().exists(_._1 == 6L))
  }

  test("tombstone mode: a delete's sequence persists — a later batch's " +
    "stale upsert cannot resurrect the key") {
    import spark.implicits._
    val root = freshRoot("tomb")
    // tombstone targets store the sequence AND the deleted flag
    VersionedTable.overwrite(
      Seq((1L, 5L, "a", 50.0, false), (2L, 5L, "b", 50.0, false))
        .toDF("k", "seq", "s", "v", "gone"), root)
    def live(): Set[(Long, Long, Double)] =
      VersionedTable.read(spark, root)
        .filter(!coalesce(col("gone"), lit(false))).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"),
          r.getAs[Double]("v"))).toSet
    // batch 1: delete k=1 at seq 10
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((1L, 10L, "a", 0.0, "D")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", deletedCol = "gone")
    assert(live() == Set((2L, 5L, 50.0)))
    // the tombstone row is physically retained with its sequence
    val tomb = VersionedTable.read(spark, root)
      .filter(col("gone")).collect()
    assert(tomb.map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq")))
      .toSet == Set((1L, 10L)))
    // batch 2, LATER, carries an out-of-order upsert at seq 7 < 10:
    // without the tombstone this would re-insert k=1 — here it loses
    // the sequence race against the retained tombstone
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((1L, 7L, "a", 70.0, "U")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", deletedCol = "gone")
    assert(live() == Set((2L, 5L, 50.0)),
      "stale upsert after a delete must not resurrect the key")
    // a genuinely NEWER upsert at seq 12 legitimately revives it
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((1L, 12L, "a", 120.0, "U")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", deletedCol = "gone")
    assert(live() == Set((1L, 12L, 120.0), (2L, 5L, 50.0)))
    // tombstone on a key never stored: recorded too (protects inserts)
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((9L, 20L, "x", 0.0, "D")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", deletedCol = "gone")
    VersionedTable.applyChangesGuarded(spark, root,
      Seq((9L, 15L, "x", 15.0, "I")).toDF("k", "seq", "s", "v", "op"),
      Seq("k"), "seq", "op", deletedCol = "gone")
    assert(live() == Set((1L, 12L, 120.0), (2L, 5L, 50.0)),
      "tombstone of a never-stored key must also block stale inserts")
    // retention sweep: reclaim tombstones up to seq 20 — after it the
    // live view is unchanged and no flagged rows remain
    VersionedTable.vacuumTombstones(spark, root, "gone", "seq", 20L)
    assert(live() == Set((1L, 12L, 120.0), (2L, 5L, 50.0)))
    assert(VersionedTable.read(spark, root).filter(col("gone")).count() == 0)
  }

  test("streaming door: multi-batch apply + replay is a no-op") {
    import spark.implicits._
    import graft.streaming.StreamingJobs
    // the source globs on the literal file name, so batch 2 arrives
    // from a SECOND directory (same checkpoint under the table root —
    // a new path is a new micro-batch; a seen one is not)
    def mkDir(ids: Seq[Long]): String = {
      val dir = Files.createTempDirectory("graft_cdc_stream").toString
      val df = ids.map(i => (i, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(1700000000L + i)),
          i % 5, if (i % 7 == 0) "error" else "view", i * 1.5, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = Files.createTempDirectory("graft_cdc_mk").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new java.io.File(dir, "events.parquet").toPath)
      dir
    }
    val dir1 = mkDir(0L to 49L)
    val root = Files.createTempDirectory("graft_cdc_stream_t")
      .resolve("t").toString
    def got() = VersionedTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"))).toSet
    // pre-existing table (users 0..9) → the streamed batch takes the
    // guarded-apply branch, not the bootstrap overwrite. The guarded
    // door requires the target to CARRY the sequence column; seed
    // rows at seq -1 (older than any event id) so the feed wins.
    VersionedTable.overwrite(
      (0L to 9L).map(u => (u, -1L, "seed", 0.0))
        .toDF("user_id", "seq", "event_type", "value"), root)
    StreamingJobs.runCdcApplyAvailableNow(spark, dir1, root)
    // users 0..4: latest event id is 45+u; user 4's (id 49, 49%7=0) is
    // an error → tombstoned despite the seed row; users 5..9 untouched
    val exp = ((0L to 3L).map(u => (u, (45 + u) * 1.5)) ++
      (5L to 9L).map(u => (u, 0.0))).toSet
    assert(got() == exp)
    assert(!got().exists(_._1 == 4L), "tombstoned user must be absent")
    val v1 = VersionedTable.latestVersion(root).get
    // replay: same checkpoint, no new files → version must not move
    StreamingJobs.runCdcApplyAvailableNow(spark, dir1, root)
    assert(VersionedTable.latestVersion(root).get == v1)
    assert(got() == exp)
  }
}
