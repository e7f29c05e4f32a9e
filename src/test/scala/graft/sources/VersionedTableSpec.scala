package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftScan

import graft.SparkSuite
import graft.sources.VersionedTable.Write

class VersionedTableSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_vt").resolve("t").toString

  import scala.language.implicitConversions

  test("overwrite/append produce versions; append does not rewrite") {
    import spark.implicits._
    val root = tmpRoot()
    val v0 = VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    assert(v0 == 0L)
    val filesAfterV0 = new java.io.File(root, "data").listFiles().map(_.getName).toSet
    val v1 = VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)
    assert(v1 == 1L)
    // every v0 data file is still there, untouched (no rewrite on append)
    val filesAfterV1 = new java.io.File(root, "data").listFiles().map(_.getName).toSet
    assert(filesAfterV0.subsetOf(filesAfterV1))
    assert(VersionedTable.read(spark, root).count() == 3)
    assert(VersionedTable.readVersion(spark, root, 0).count() == 2)
  }

  test("appendOnto/deleteAt derive content from the BASE version: a " +
    "concurrent writer's version above the base is never absorbed") {
    import spark.implicits._
    val root = tmpRoot()
    val base = VersionedTable.overwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // a concurrent/crashed writer lands an unpublished version on top
    VersionedTable.append(Seq((99L, "rogue")).toDF("k", "v"), root)
    // appendOnto(base): committed content = base + batch, rogue excluded
    val v2 = VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), root,
      Write(onto = Some(base)))
    assert(VersionedTable.readVersion(spark, root, v2)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // the rogue version itself still time-travels (orphan, not erased)
    assert(VersionedTable.readVersion(spark, root, base + 1).count() == 3)
    // deleteAt pinned at v2: rewrite never sees versions above its base
    VersionedTable.append(Seq((98L, "rogue2")).toDF("k", "v"), root)
    val v4 = VersionedTable.deleteAt(spark, root, v2, col("k") === 2L)
    assert(VersionedTable.readVersion(spark, root, v4)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // a no-match predicate commits nothing and returns the base
    assert(VersionedTable.deleteAt(spark, root, v4,
      col("k") === 12345L) == v4)
    // uncontended fast path: appendOnto(latest) == plain append content
    val root2 = tmpRoot()
    val b2 = VersionedTable.overwrite(Seq((1L, "a")).toDF("k", "v"), root2)
    val n2 = VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), root2,
      Write(onto = Some(b2)))
    assert(n2 == b2 + 1)
    assert(VersionedTable.read(spark, root2).count() == 2)
    // bloom variant keeps the point-probe prune on the new files
    val root3 = tmpRoot()
    val b3 = VersionedTable.overwrite(
      (0L until 100L).map(i => (i, s"x$i")).toDF("id", "s"),
      root3, Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("id"))))
    VersionedTable.append(Seq((777L, "rogue")).toDF("id", "s"), root3,
      Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("id"))))
    val v3 = VersionedTable.append(
      (100L until 200L).map(i => (i, s"x$i")).toDF("id", "s"),
      root3,
      Write(stats = Some(Seq.empty),
            bloom = Some(Write.Bloom("id")),
            onto = Some(b3)))
    val probed = VersionedTable.scan(spark, root3, Some(v3))
      .filter(col("id").isin(150L))
    assert(probed.count() == 1L)
    assert(GraftScan.filesRead(probed) <
      VersionedTable.readVersion(spark, root3, v3).inputFiles.length)
    assert(VersionedTable.readVersion(spark, root3, v3).count() == 200L)
  }

  test("txn state survives manifest expiry: checkpoints carry the " +
    "newest #txn per appId and vacuum preserves it") {
    import spark.implicits._
    val root = tmpRoot()
    // two idempotent writers; "cold" stamps early then goes quiet
    VersionedTable.append(Seq((0, "z")).toDF("k", "v"), root,
      Write(txn = Some("cold" -> 7L)))
    for (i <- 0L to 4L)
      VersionedTable.append(Seq((i.toInt, "a")).toDF("k", "v"), root,
        Write(txn = Some("hot" -> i)))
    // many non-stamped commits push cold's manifest deep into history
    for (i <- 0 until 20)
      VersionedTable.append(Seq((100 + i, "p")).toDF("k", "v"), root)
    assert(VersionedTable.latestTxn(root, "cold").contains(7L))
    assert(VersionedTable.latestTxn(root, "hot").contains(4L))
    // vacuum down to ONE retained version: every manifest carrying a
    // #txn stamp is deleted — the oldest retained version's checkpoint
    // must still answer for both writers
    VersionedTable.vacuum(root, retainVersions = 1)
    assert(VersionedTable.latestTxn(root, "cold").contains(7L),
      "a quiet writer's txn must survive manifest expiry")
    assert(VersionedTable.latestTxn(root, "hot").contains(4L))
    assert(VersionedTable.latestTxn(root, "never").isEmpty)
    // the exactly-once contract holds post-vacuum: replays still no-op
    val v = VersionedTable.latestVersion(root).get
    assert(VersionedTable.append(Seq((0, "z")).toDF("k", "v"), root,
      Write(txn = Some("cold" -> 7L))) == v)
    assert(VersionedTable.latestVersion(root).contains(v))
    // and genuinely new batches still commit + re-stamp
    VersionedTable.append(Seq((1, "z2")).toDF("k", "v"), root,
      Write(txn = Some("cold" -> 8L)))
    assert(VersionedTable.latestTxn(root, "cold").contains(8L))
    // reads stay clean across all of it
    assert(VersionedTable.read(spark, root).count() == 27)
  }

  test("string manifest stats: readWhereString opens only intersecting " +
    "files; oversized values record no stat and stay conservative") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = Seq(("2024-01-03", 1L), ("2024-02-10", 2L), ("2024-03-05", 3L),
      ("2024-04-21", 4L), ("2024-05-09", 5L), ("2024-06-30", 6L))
      .toDF("day", "v").repartitionByRange(3, col("day"))
    // ONE statsCols argument covers string and numeric columns alike
    VersionedTable.overwrite(rows, root, Write.stats("day", "v"))
    val total = VersionedTable.read(spark, root).inputFiles.length
    val sliced = VersionedTable.scan(spark, root)
      .filter(col("day").between("2024-02-01", "2024-03-31"))
    assert(sliced.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    assert(GraftScan.filesRead(sliced) < total,
      "a string slice must open fewer files than the table holds")
    // metadata-only range over the string stats
    assert(VersionedTable.statsRangeString(root, "day")
      .contains(("2024-01-03", "2024-06-30")))
    // numeric stats on the same commit still serve
    assert(VersionedTable.scan(spark, root)
      .filter(col("v").between(5L, 6L))
      .count() == 2L)
    assert(VersionedTable.countRows(root).contains(6L))
    // oversized key: no stat for its file (a truncated max would lie);
    // reads keep the file conservatively and answers stay exact
    val root2 = tmpRoot()
    VersionedTable.overwrite(
      Seq(("x" * 80, 1L), ("abc", 2L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      root2, Write.stats("k"))
    assert(VersionedTable.scan(spark, root2)
      .filter(col("k").between("a", "b"))
      .collect().map(_.getLong(1)).toSeq == Seq(2L))
    assert(VersionedTable.statsRangeString(root2, "k").isEmpty,
      "an oversized value must force the conservative None")
  }

  test("string stats prune in UTF-8 BYTE order (Spark's), not UTF-16: " +
    "supplementary-plane keys are never wrongly skipped") {
    import spark.implicits._
    val root = tmpRoot()
    // "😀" (U+1F600): UTF-16 surrogates sort BELOW "�", UTF-8
    // bytes sort ABOVE — Java-order pruning would skip its file
    val rows = Seq(("😀", 1L), ("�", 2L), ("abc", 3L))
      .toDF("k", "v").repartitionByRange(3, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    val got = VersionedTable.scan(spark, root)
      .filter(col("k").between("�", "😀"))
    assert(got.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L),
      "byte-order BETWEEN must keep the emoji row")
    // the metadata fold picks the byte-order extremum (Java order
    // would crown � the max)
    assert(VersionedTable.statsRangeString(root, "k")
      .contains(("abc", "😀")))
    // the Catalyst scan agrees on both counts
    val viaScan = VersionedTable.scan(spark, root)
      .filter(col("k") >= "�" && col("k") <= "😀")
    assert(viaScan.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    val prof = VersionedTable.scan(spark, root)
      .agg(max(col("k")).as("hi"), count(lit(1)).as("n")).head()
    assert(prof.getString(0) == "😀" && prof.getLong(1) == 3L)
  }

  test("legacy checkpoints (no txn state) don't swallow older txn " +
    "stamps: the walk continues past them and re-aggregates") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.append(Seq((0, "z")).toDF("k", "v"), root,
      Write(txn = Some("app" -> 9L)))
    // push past the checkpoint cadence so a checkpoint lands above the
    // stamp, then STRIP its #txn namespace — a pre-upgrade checkpoint
    for (i <- 0 until 12)
      VersionedTable.append(Seq((i, "p")).toDF("k", "v"), root)
    val ckpt = new java.io.File(root, f"_log/${10L}%012d.checkpoint")
    assert(ckpt.exists(), "test setup: checkpoint expected at v10")
    val legacy = new String(java.nio.file.Files.readAllBytes(ckpt.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filterNot(_.startsWith("#txn")).mkString("\n")
    java.nio.file.Files.write(ckpt.toPath,
      legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the replay guard must still see txn 9 — a legacy checkpoint
    // aggregates nothing, so the walk continues to the stamped manifest
    assert(VersionedTable.latestTxn(root, "app").contains(9L),
      "legacy checkpoint must not hide an older txn stamp")
    val v = VersionedTable.latestVersion(root).get
    assert(VersionedTable.append(Seq((0, "z")).toDF("k", "v"), root,
      Write(txn = Some("app" -> 9L))) == v, "replay no-op")
    // the NEXT txn-aware checkpoint re-aggregates the recovered state:
    // after it, even vacuuming away the stamped manifest keeps txn 9
    for (i <- 0 until 8)
      VersionedTable.append(Seq((100 + i, "q")).toDF("k", "v"), root)
    VersionedTable.vacuum(root, retainVersions = 1)
    assert(VersionedTable.latestTxn(root, "app").contains(9L),
      "re-aggregated checkpoint must carry the recovered stamp")
  }

  test("appendTxn: batchId rides the atomic commit; replay no-ops; " +
    "listings, checkpoints and time travel stay txn-blind") {
    import spark.implicits._
    val root = tmpRoot()
    // fresh table: appendTxn bootstraps version 0 (full listing + stamp)
    val v0 = VersionedTable.append(Seq((1, "a")).toDF("k", "v"), root,
      Write(txn = Some("job" -> 0L)))
    assert(v0 == 0L)
    assert(VersionedTable.latestTxn(root, "job").contains(0L))
    assert(VersionedTable.latestTxn(root, "other").isEmpty)
    val v1 = VersionedTable.append(Seq((2, "b")).toDF("k", "v"), root,
      Write(txn = Some("job" -> 1L)))
    assert(v1 == 1L && VersionedTable.latestTxn(root, "job").contains(1L))
    // REPLAY of batch 1 (and of anything older): no version, no rows
    assert(VersionedTable.append(Seq((2, "b")).toDF("k", "v"), root,
      Write(txn = Some("job" -> 1L))) == 1L)
    assert(VersionedTable.append(Seq((1, "a")).toDF("k", "v"), root,
      Write(txn = Some("job" -> 0L))) == 1L)
    assert(VersionedTable.latestVersion(root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 2)
    // interleaved plain appends don't disturb the recorded txn
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)
    assert(VersionedTable.latestTxn(root, "job").contains(1L))
    // txn lines survive the checkpoint cadence: push past the
    // checkpoint interval, then read back listing + txn + time travel
    for (i <- 2L to 12L)
      VersionedTable.append(Seq((100 + i.toInt, "x")).toDF("k", "v"), root,
        Write(txn = Some("job" -> i)))
    assert(VersionedTable.latestTxn(root, "job").contains(12L))
    assert(VersionedTable.read(spark, root).count() == 14)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 2,
      "time travel across txn-stamped manifests")
    // appId validation: separators would corrupt the manifest grammar
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((9, "z")).toDF("k", "v"), root,
        Write(txn = Some("bad\tapp" -> 99L)))
    }
  }

  test("merge upserts by key (update + insert) as a new version") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.merge(spark, root,
      Seq((2, "B"), (3, "C")).toDF("k", "v"), Seq("k"))
    val got = VersionedTable.read(spark, root).as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "C")))
    // the pre-merge snapshot is still readable (time travel)
    val old = VersionedTable.readVersion(spark, root, 0).as[(Int, String)].collect().toSet
    assert(old == Set((1, "a"), (2, "b")))
  }

  test("restore rolls the table forward to an old snapshot") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    VersionedTable.overwrite(Seq((9, "z")).toDF("k", "v"), root)
    val v2 = VersionedTable.restore(root, 0)
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSeq
      == Seq((1, "a")))
    // history preserved: version 1 still readable until vacuumed
    assert(VersionedTable.readVersion(spark, root, 1)
      .as[(Int, String)].collect().toSeq == Seq((9, "z")))
  }

  test("vacuum deletes only unreachable data files") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    VersionedTable.overwrite(Seq((2, "b")).toDF("k", "v"), root) // v0 now dead
    val deleted = VersionedTable.vacuum(root, retainVersions = 1)
    assert(deleted >= 1)
    assert(VersionedTable.versions(root) == Seq(1L))
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSeq
      == Seq((2, "b")))
  }

  test("vacuum retention horizon: versions inside retainMillis are " +
    "never reclaimed — a pinned reader inside the horizon survives a " +
    "concurrent vacuum") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root) // v0
    VersionedTable.overwrite(Seq((2, "b")).toDF("k", "v"), root) // v1
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)    // v2
    // a reader pinned at v1, inside the one-hour horizon
    val pinned = VersionedTable.scan(spark, root, Some(1L))
    // count-retention alone would reclaim v0+v1; the horizon (every
    // version committed within the hour) overrides it
    val removed = VersionedTable.vacuum(root, retainVersions = 1,
      retainMillis = 3600000L)
    assert(removed == 0)
    assert(VersionedTable.versions(root) == Seq(0L, 1L, 2L))
    assert(pinned.count() == 1L,
      "the pinned reader inside the horizon must survive the vacuum")
    // retention surfaces in history: all three versions flagged kept
    val h = VersionedTable.historyWithRetention(root, 3600000L)
    assert(h.map(_._1) == Seq(0L, 1L, 2L) && h.forall(_._5))
    // once the horizon has passed (test seam: nowMillis in the
    // future), count-retention applies again and old versions age out
    val later = System.currentTimeMillis() + 7200000L
    assert(VersionedTable.historyWithRetention(root, 3600000L, later)
      .forall(!_._5))
    VersionedTable.vacuum(root, retainVersions = 1,
      retainMillis = 3600000L, nowMillis = later)
    assert(VersionedTable.versions(root) == Seq(2L))
    assert(VersionedTable.read(spark, root).count() == 2L)
  }

  test("schema evolution: appended batch with a new column merges") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    VersionedTable.append(Seq((2, "b", 9.5)).toDF("k", "v", "score"), root)
    val latest = VersionedTable.read(spark, root)
    assert(latest.columns.toSet == Set("k", "v", "score"))
    val rows = latest.orderBy("k").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // old file → null
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
    // time travel still sees the original 2-column schema
    assert(VersionedTable.readVersion(spark, root, 0).columns.toSet == Set("k", "v"))
  }

  private def md5OfDataFiles(root: String): Map[String, String] =
    new java.io.File(root, "data").listFiles().map { f =>
      val bytes = Files.readAllBytes(f.toPath)
      f.getName -> java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
    }.toMap

  test("merge rewrites only files containing matched keys (file-pruned COW)") {
    import spark.implicits._
    val root = tmpRoot()
    // one data file per batch so the pruning boundary is exact
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), root)
    VersionedTable.append(Seq((10, "x"), (11, "y")).toDF("k", "v").coalesce(1), root)
    val manifestBefore = VersionedTable.readVersion(spark, root, 1)
    val before = md5OfDataFiles(root)
    assert(before.size == 2)
    val untouchedName = new java.io.File(root, "data").listFiles()
      .map(_.getName).find(_.startsWith("v00000")).get

    // source touches only the second file's keys (update 10, insert 12)
    VersionedTable.merge(spark, root,
      Seq((10, "X"), (12, "n")).toDF("k", "v"), Seq("k"))

    val after = md5OfDataFiles(root)
    // the v0 file (keys 1,2 — no match) survives byte-identical AND is
    // referenced by the new manifest; the v1 file was replaced
    assert(after(untouchedName) == before(untouchedName))
    val latestFiles = VersionedTable.readListing(root, 2L)
    assert(latestFiles.exists(_.split('\t').head.endsWith(untouchedName)))
    assert(!latestFiles.exists(_.split('/').last.startsWith("v00001-")))
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (10, "X"), (11, "y"), (12, "n")))
    // time travel unaffected
    assert(manifestBefore.count() == 4)
  }

  test("merge retries on commit conflict and re-merges against the new snapshot") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    var raced = false
    val v = VersionedTable.merge(spark, root,
      Seq((2, "B")).toDF("k", "v"), Seq("k"),
      beforeCommit = () => if (!raced) {
        raced = true // a racing writer lands version 1 first
        VersionedTable.append(Seq((5, "e")).toDF("k", "v"), root)
      })
    // loser retried: its commit is version 2 and it SEES the racer's row
    assert(v == 2L)
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "B"), (5, "e")))
  }

  test("merge evolveSchema: source-only columns appear, old rows read null") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), root)
    VersionedTable.append(Seq((10, "x")).toDF("k", "v").coalesce(1), root)
    VersionedTable.merge(spark, root,
      Seq((2, "B", 7.5), (3, "C", 1.0)).toDF("k", "v", "score"), Seq("k"),
      evolveSchema = true)
    val out = VersionedTable.read(spark, root)
    assert(out.columns.toSeq == Seq("k", "v", "score"))
    val got = out.collect().map(r =>
      (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    // file with key 10 was untouched (not rewritten) — its rows read
    // null for the evolved column through the mergeSchema snapshot read
    assert(got == Set((1, "a", None), (2, "B", Some(7.5)),
      (3, "C", Some(1.0)), (10, "x", None)))
    // pre-evolution snapshot still time-travels with the old schema
    assert(VersionedTable.readVersion(spark, root, 1).columns.toSeq == Seq("k", "v"))
  }

  test("two threads appending concurrently: both commit, no rows lost") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((0, "seed")).toDF("k", "v"), root)
    val fs = (1 to 4).map { i =>
      Future(VersionedTable.append(Seq((i, s"w$i")).toDF("k", "v"), root))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    // every writer won a distinct version
    assert(versions.toSet.size == 4)
    assert(VersionedTable.versions(root) == (0L to 4L))
    // and the final snapshot holds every writer's rows
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSet
      == Set((0, "seed"), (1, "w1"), (2, "w2"), (3, "w3"), (4, "w4")))
  }

  test("merge gives up after maxRetries under persistent conflict") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    intercept[java.nio.file.FileAlreadyExistsException] {
      VersionedTable.merge(spark, root,
        Seq((1, "A")).toDF("k", "v"), Seq("k"), maxRetries = 1,
        beforeCommit = () =>
          VersionedTable.append(Seq((99, "z")).toDF("k", "v"), root))
    }
  }

  test("concurrent commit of the same version: exactly one wins") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    // simulate a racing writer that already committed version 1
    VersionedTable.overwrite(Seq((2, "b")).toDF("k", "v"), root)
    // a stale writer targeting version 1 must fail, not clobber
    intercept[java.nio.file.FileAlreadyExistsException] {
      val m = classOf[VersionedTable.type].getDeclaredMethods
        .find(_.getName == "commitManifest").get
      m.setAccessible(true)
      try m.invoke(VersionedTable, root, java.lang.Long.valueOf(1L), Seq("x"))
      catch {
        case e: java.lang.reflect.InvocationTargetException => throw e.getCause
      }
    }
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSeq
      == Seq((2, "b")))
  }

  test("manifest stats: readWhere opens only intersecting files, result = full filter") {
    import spark.implicits._
    val root = tmpRoot()
    // 100 keys range-clustered into 5 disjoint files
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 2).as("v")).repartitionByRange(5, col("k"))
    VersionedTable.overwrite(df, root, Write.stats("k"))
    val all = VersionedTable.read(spark, root)
    assert(all.inputFiles.length == 5)
    val narrow = VersionedTable.scan(spark, root)
      .filter(col("k").between(40, 45))
    assert(GraftScan.filesRead(narrow) < 5)
    val expect = all.filter(col("k").between(40, 45))
      .as[(Long, Long)].collect().toSet
    assert(narrow.as[(Long, Long)].collect().toSet == expect && expect.size == 6)
    // out-of-range read: zero rows, and only the conservative fallback scan
    assert(VersionedTable.scan(spark, root)
      .filter(col("k").between(1000, 2000)).count() == 0)
  }

  test("countRows/statsRange: metadata-only answers; conservative None on gaps") {
    import spark.implicits._
    val root = tmpRoot()
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.overwrite(df, root, Write.stats("k"))
    assert(VersionedTable.countRows(root) == Some(100L))
    assert(VersionedTable.statsRange(root, "k") == Some((0L, 99L)))
    // no stats recorded for v → conservative None, never a guess
    assert(VersionedTable.statsRange(root, "v").isEmpty)
    // stats-recorded append: counts and ranges fold across versions
    VersionedTable.append(
      spark.range(100, 150).select(col("id").as("k"), lit(0L).as("v")),
      root, Write.stats("k"))
    assert(VersionedTable.countRows(root) == Some(150L))
    assert(VersionedTable.statsRange(root, "k") == Some((0L, 149L)))
    // time travel: the old version still answers its own count
    assert(VersionedTable.countRows(root, Some(0L)) == Some(100L))
    // PLAIN appends record default stats now — the total keeps folding
    VersionedTable.append(Seq((999L, 0L)).toDF("k", "v"), root)
    assert(VersionedTable.countRows(root) == Some(151L))
    assert(VersionedTable.statsRange(root, "k") == Some((0L, 999L)))
    // a LEGACY bare-path line (pre-default-stats table on disk) still
    // poisons the fold conservatively, and only until rewritten
    val dd = new java.io.File(root, "data")
    val src = dd.listFiles().filter(_.getName.endsWith(".parquet")).head
    val legacy = new java.io.File(dd, "v00099-legacy-00000.parquet")
    java.nio.file.Files.copy(src.toPath, legacy.toPath)
    java.nio.file.Files.write(
      new java.io.File(root, "_log/000000000003.manifest").toPath,
      s"#delta\n+\t${legacy.getPath}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(VersionedTable.countRows(root).isEmpty)
    assert(VersionedTable.countRows(root, Some(2L)) == Some(151L))
    assert(VersionedTable.statsRange(root, "k").isEmpty)
    // empty root: no versions → None
    assert(VersionedTable.countRows(tmpRoot()).isEmpty)
  }

  test("sumTotal: metadata-only sums; zero-row and all-null and plain-append semantics") {
    import spark.implicits._
    val root = tmpRoot()
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.overwrite(df, root,
      Write(stats = Some(Seq.empty), sums = Seq("v")))
    assert(VersionedTable.sumTotal(root, "v") == Some(3L * 99 * 100 / 2))
    assert(VersionedTable.countRows(root) == Some(100L)) // rows still recorded
    // sums fold across append commits; a zero-row batch contributes 0
    VersionedTable.append(
      spark.range(100, 150).select(col("id").as("k"), lit(10L).as("v")),
      root, Write(stats = Some(Seq.empty), sums = Seq("v")))
    VersionedTable.append(df.filter(col("k") < 0), root,
      Write(stats = Some(Seq.empty), sums = Seq("v")))
    assert(VersionedTable.sumTotal(root, "v")
      == Some(3L * 99 * 100 / 2 + 50L * 10))
    // time travel answers the old total
    assert(VersionedTable.sumTotal(root, "v", Some(0L)) == Some(3L * 99 * 100 / 2))
    // unrecorded column → None, never a guess
    assert(VersionedTable.sumTotal(root, "k").isEmpty)
    // an all-null file poisons the total (conservative)
    val rootN = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, Some(5L)), (2L, None)).toDF("k", "v").coalesce(1),
      rootN, Write(stats = Some(Seq.empty), sums = Seq("v")))
    VersionedTable.append(Seq((3L, None: Option[Long])).toDF("k", "v"), rootN,
      Write(stats = Some(Seq.empty), sums = Seq("v")))
    assert(VersionedTable.sumTotal(rootN, "v").isEmpty)
    assert(VersionedTable.sumTotal(rootN, "v", Some(0L)) == Some(5L))
    // a plain append (non-sum writer) poisons only from that version on
    VersionedTable.append(Seq((999L, 1L)).toDF("k", "v"), root)
    assert(VersionedTable.sumTotal(root, "v").isEmpty)
    assert(VersionedTable.sumTotal(root, "v", Some(2L)).isDefined)
  }

  test("fsck: clean after churn; detects missing referenced files and orphans") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(spark.range(100).toDF("k"), root)
    VersionedTable.append(spark.range(100, 150).toDF("k"), root)
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
    // orphan: a stray parquet no manifest references
    val stray = new java.io.File(root, "data/v99999-dead0000-0.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1))
    assert(VersionedTable.fsck(root)._2 == Seq(stray.getPath))
    stray.delete()
    // missing: delete a file version 0 references → corruption surfaced
    val victim = new java.io.File(
      VersionedTable.readVersion(spark, root, 0).inputFiles.head
        .stripPrefix("file:"))
    victim.delete()
    val (missing, orphans) = VersionedTable.fsck(root)
    assert(missing == Seq(victim.getPath) && orphans.isEmpty)
    // empty table: clean, not an error
    assert(VersionedTable.fsck(tmpRoot()) == ((Seq.empty, Seq.empty)))
  }

  /** A Hive-partitioned table (files under `data/p=<v>/`) after an
    * overwrite, a delete and an update: four versions, every one of
    * which rewrote partition files. */
  private def churnedPartitionedTable(): String = {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 30L, 1))
      .toDF("k", "v", "p"), root, Write(partitionBy = Seq("p")))
    VersionedTable.overwrite(Seq((1L, 11L, 0), (2L, 21L, 1), (3L, 31L, 1),
      (4L, 41L, 0)).toDF("k", "v", "p"), root, Write(partitionBy = Seq("p")))
    VersionedTable.delete(spark, root, col("k") === 3L)
    VersionedTable.update(spark, root, col("k") === 2L, Map("v" -> lit(99L)))
    root
  }

  test("fsck on a partitioned table: clean after overwrite, delete and update") {
    val root = churnedPartitionedTable()
    assert(VersionedTable.versions(root) == Seq(0L, 1L, 2L, 3L))
    assert(VersionedTable.listingPaths(root, 3L).forall(_.contains("/data/p=")))
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
  }

  test("fsck on a partitioned table: reports a stray file in a partition directory") {
    val root = churnedPartitionedTable()
    val stray = new java.io.File(root, "data/p=1/p-dead0000-00000.parquet")
    Files.write(stray.toPath, Array[Byte](1))
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq(stray.getPath))))
  }

  test("vacuum on a partitioned table deletes exactly the dead partition files") {
    import spark.implicits._
    val root = churnedPartitionedTable()
    def rows() = VersionedTable.read(spark, root).as[(Long, Long, Int)]
      .collect().toSeq.sorted
    val before = rows()
    assert(before == Seq((1L, 11L, 0), (2L, 99L, 1), (4L, 41L, 0)))
    val live = VersionedTable.listingPaths(root, 3L).toSet
    val dead = VersionedTable.versions(root)
      .flatMap(VersionedTable.listingPaths(root, _)).toSet -- live
    assert(dead.nonEmpty && dead.forall(f => new java.io.File(f).exists()))
    assert(VersionedTable.vacuum(root, retainVersions = 1) == dead.size)
    assert(dead.forall(f => !new java.io.File(f).exists()))
    assert(live.forall(f => new java.io.File(f).exists()))
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
    assert(rows() == before)
  }

  test("bloom index: equality read opens only possibly-containing files") {
    import spark.implicits._
    val root = tmpRoot()
    // 400 string keys hashed across 8 files — every file's numeric key
    // range interleaves, so min/max stats could never skip; the bloom is
    // the only thing standing between a probe and 8 file opens
    val df = spark.range(400)
      .select(concat(lit("k"), col("id")).as("url"), col("id").as("v"))
      .repartition(8, col("id"))
    VersionedTable.append(df, root,
      Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("url", 100))))
    val all = VersionedTable.read(spark, root)
    assert(all.inputFiles.length == 8)
    val hit = VersionedTable.scan(spark, root)
      .filter(col("url").isin("k7", "k123"))
    // ≤ 2 true files + at most one 1%-fpp false positive
    assert(GraftScan.filesRead(hit) <= 3, s"opened ${GraftScan.filesRead(hit)}/8")
    assert(hit.collect().map(_.getString(0)).toSet == Set("k7", "k123"))
    // a missing key returns zero rows regardless of what gets opened
    assert(VersionedTable.scan(spark, root)
      .filter(col("url").isin("no-such-key")).count() == 0)
    // bloom lines coexist with __rows (the numeric-guard parse)
    assert(VersionedTable.countRows(root) == Some(400L))
    // a plain append without a bloom degrades that batch to
    // conservative keep — results stay exact
    VersionedTable.append(
      spark.range(400, 410)
        .select(concat(lit("k"), col("id")).as("url"), col("id").as("v")),
      root)
    val after = VersionedTable.scan(spark, root)
      .filter(col("url").isin("k405"))
    assert(after.collect().map(_.getString(0)).toSet == Set("k405"))
  }

  test("history: metadata-only per-version (files, rows); appendChecked gates") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(spark.range(10).select(col("id").as("k")), root,
      Write.stats())
    VersionedTable.append(spark.range(10, 30).select(col("id").as("k")), root,
      Write.stats())
    // plain appends record default stats — the count stays knowable
    // (legacy stats-less lines keep the None path; pinned in the
    // countRows gap test)
    VersionedTable.append(Seq(99L).toDF("k"), root)
    assert(VersionedTable.history(root).map {
      case (v, files, rows) => (v, files > 0, rows)
    } == Seq((0L, true, Some(10L)), (1L, true, Some(30L)),
      (2L, true, Some(31L))))

    // CHECK constraint: violating batch rejected atomically
    val before = VersionedTable.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq(5L, -1L).toDF("k"), root,
        Write(stats = Some(Seq.empty),
              expect = Seq("CHECK constraint" -> Write.everyRow(col("k") >= 0))))
    }
    assert(e.getMessage.contains("CHECK constraint"))
    assert(VersionedTable.latestVersion(root) == before,
      "rejected batch must not commit")
    assert(VersionedTable.read(spark, root).count() == 31)
    // null constraint result counts as violation (SQL CHECK: must be TRUE)
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq(Some(5L), None).toDF("k"), root,
        Write(stats = Some(Seq.empty),
              expect = Seq("CHECK constraint" -> Write.everyRow(col("k") >= 0))))
    }
    // a clean batch passes and is row-counted
    VersionedTable.append(Seq(7L).toDF("k"), root,
      Write(stats = Some(Seq.empty),
            expect = Seq("CHECK constraint" -> Write.everyRow(col("k") >= 0))))
    assert(VersionedTable.read(spark, root).count() == 32)
  }

  test("countRows survives DELETE and MERGE (rewrites re-stat __rows)") {
    import spark.implicits._
    val root = tmpRoot()
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.overwrite(df, root, Write.stats("k"))
    // delete 10 rows: survivors' files are re-statted with __rows only
    VersionedTable.delete(spark, root, col("k") < 10)
    assert(VersionedTable.countRows(root) == Some(90L))
    // the rewritten file lost its column stats → range goes conservative
    assert(VersionedTable.statsRange(root, "k").isEmpty)
    // merge: 5 updates + 5 inserts → 95 rows, still metadata-countable
    VersionedTable.merge(spark, root,
      spark.range(90, 100).select((col("id") - 80).as("k"), lit(-1L).as("v"))
        .union(spark.range(200, 205).select(col("id").as("k"), lit(-2L).as("v"))),
      Seq("k"))
    assert(VersionedTable.countRows(root) == Some(95L))
    assert(VersionedTable.read(spark, root).count() == 95L)
  }

  test("manifest stats: stats-less lines never skip; merge carries stats on untouched files") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      spark.range(50).select(col("id").as("k"), lit("x").as("v"))
        .repartitionByRange(5, col("k")),
      root, Write.stats("k"))
    // append WITHOUT stats: new file must always be read
    VersionedTable.append(Seq((7L, "fresh")).toDF("k", "v"), root)
    val got = VersionedTable.scan(spark, root)
      .filter(col("k").between(7, 7))
      .as[(Long, String)].collect().toSet
    assert(got == Set((7L, "x"), (7L, "fresh")))
    // prune proof: 5 clustered + 1 stats-less appended → ≤ 2 files opened
    assert(GraftScan.filesRead(VersionedTable.scan(spark, root)
      .filter(col("k").between(7, 7))) <= 2)
    // merge touching one key: untouched files keep their stats lines —
    // the range read still skips the untouched non-intersecting files
    // (only the rewrite outputs, stats-less by design, always open)
    VersionedTable.merge(spark, root, Seq((7L, "merged")).toDF("k", "v"), Seq("k"))
    val total = VersionedTable.read(spark, root).inputFiles.length
    val after = VersionedTable.scan(spark, root)
      .filter(col("k").between(40, 49))
    assert(GraftScan.filesRead(after) < total,
      s"$total -> ${GraftScan.filesRead(after)}")
    assert(after.as[(Long, String)].collect().toSet ==
      (40L until 50L).map(k => (k, "x")).toSet)
  }

  test("z-order clustering: readWhere prunes files on EITHER dimension") {
    import spark.implicits._
    val root = tmpRoot()
    // 64x64 grid — under 1-D clustering on x, a narrow y-range touches
    // every file; z-order keeps both dimensions tight
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        floor(col("id") / 64).cast("long").as("y"))
    VersionedTable.overwrite(grid, root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y"), 16, 64))))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total == 16)
    val byX = VersionedTable.scan(spark, root)
      .filter(col("x").between(3, 6))
    val byY = VersionedTable.scan(spark, root)
      .filter(col("y").between(60, 63))
    assert(GraftScan.filesRead(byX) <= total / 2,
      s"x: ${GraftScan.filesRead(byX)}/$total")
    assert(GraftScan.filesRead(byY) <= total / 2,
      s"y: ${GraftScan.filesRead(byY)}/$total")
    assert(byX.count() == 4 * 64 && byY.count() == 4 * 64)
    assert(byX.as[(Long, Long)].collect().forall(r => r._1 >= 3 && r._1 <= 6))
  }

  test("appendZOrdered: per-batch clustering + stats, readWhere prunes across batches on either column") {
    import spark.implicits._
    val root = tmpRoot()
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"),
        floor(col("id") / 64).cast("long").as("y"))
    // two disjoint halves appended as separately-clustered batches
    VersionedTable.append(grid.filter(col("x") < 32), root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y"), 8, 64))))
    VersionedTable.append(grid.filter(col("x") >= 32), root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y"), 8, 64))))
    assert(VersionedTable.versions(root) == Seq(0L, 1L))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total == 16) // batch 2 inherited batch 1's files untouched
    // x-range inside batch 1 → batch 2's 8 files ALL pruned from the
    // manifest stats alone (strictly < 8 proves intra-batch pruning too)
    val byX = VersionedTable.scan(spark, root)
      .filter(col("x").between(3, 6))
    assert(GraftScan.filesRead(byX) < 8,
      s"x: ${GraftScan.filesRead(byX)}/$total")
    // y-range spans BOTH batches → pruning works per batch on the
    // second dimension, never dropping matching rows
    val byY = VersionedTable.scan(spark, root)
      .filter(col("y").between(60, 63))
    assert(GraftScan.filesRead(byY) <= total / 2,
      s"y: ${GraftScan.filesRead(byY)}/$total")
    assert(byX.count() == 4 * 64 && byY.count() == 4 * 64)
    assert(byY.as[(Long, Long)].collect().forall(r => r._2 >= 60 && r._2 <= 63))
  }

  test("diffVersions: schema-evolved merge between versions diffs by name, old rows read null") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    // merge with evolveSchema adds a column between v0 and v1
    VersionedTable.merge(spark, root,
      Seq((2, "B", 9.5)).toDF("k", "v", "score"), Seq("k"),
      evolveSchema = true)
    val d = VersionedTable.diffVersions(spark, root, 0L, 1L)
      .select(col("k"), col("v"), col("score"), col("_change"))
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getString(3))).toSet
    assert(d == Set((2, "b", null, "delete"), (2, "B", 9.5, "insert")))
  }

  test("diffVersions: append → insert only; merge-update → delete+insert pair; self-diff empty") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)
    VersionedTable.merge(spark, root, Seq((2, "B")).toDF("k", "v"), Seq("k"))
    def diff(v1: Long, v2: Long) =
      VersionedTable.diffVersions(spark, root, v1, v2)
        .as[(Int, String, String)].collect().toSet
    assert(diff(0, 1) == Set((3, "c", "insert")))
    assert(diff(1, 2) == Set((2, "b", "delete"), (2, "B", "insert")))
    // untouched row (1, a) sits in a rewritten-or-carried file either
    // way and must never surface; reverse diff flips the tags
    assert(diff(2, 1) == Set((2, "B", "delete"), (2, "b", "insert")))
    assert(diff(1, 1).isEmpty)
  }

  test("readChangesSince returns exactly the later-committed batches") {
    import spark.implicits._
    val root = tmpRoot()
    val v0 = VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), root)
    VersionedTable.append(Seq((2, "b")).toDF("k", "v"), root)
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)
    val changes = VersionedTable.readChangesSince(spark, root, v0)
      .as[(Int, String)].collect().toSet
    assert(changes == Set((2, "b"), (3, "c")))
    // nothing new since latest → empty, schema intact
    val latest = VersionedTable.versions(root).last
    val none = VersionedTable.readChangesSince(spark, root, latest)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
  }

  test("compact bin-packs small files; data identical, history intact") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v").repartition(8), root)
    VersionedTable.append(
      (101 to 200).map(i => (i, s"v$i")).toDF("k", "v").repartition(8), root)
    val before = VersionedTable.read(spark, root)
    val rowsBefore = before.as[(Int, String)].collect().sorted.toSeq
    val filesBefore = before.inputFiles.length
    assert(filesBefore == 16)
    val v = VersionedTable.compact(spark, root) // default 128 MB: one file
    assert(v == 2L)
    val after = VersionedTable.read(spark, root)
    assert(after.inputFiles.length == 1)
    assert(after.as[(Int, String)].collect().sorted.toSeq == rowsBefore)
    // the pre-compaction layout still time-travels until vacuumed
    assert(VersionedTable.readVersion(spark, root, 1).inputFiles.length
      == filesBefore)
  }

  test("compact is a no-op when there is at most one small file") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), root)
    assert(VersionedTable.compact(spark, root) == 0L)
    assert(VersionedTable.versions(root) == Seq(0L))
  }

  test("compact with statsCols: packed files carry stats, readWhere still prunes") {
    import spark.implicits._
    val root = tmpRoot()
    (0 to 3).foreach { b =>
      val df = (b * 100 + 1 to b * 100 + 100)
        .map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2)
      if (b == 0) VersionedTable.overwrite(df, root, Write.stats("k"))
      else VersionedTable.append(df, root, Write.stats("k"))
    }
    val dataFiles = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val total = dataFiles.map(_.length()).sum
    // every input file is "small"; total/target rounds to 2 output files
    val v = VersionedTable.compact(spark, root,
      targetBytes = total / 2 + 1, statsCols = Seq("k"))
    assert(v == 4L)
    val all = VersionedTable.read(spark, root)
    assert(all.inputFiles.length == 2 && all.count() == 400)
    // range-clustered on k → a selective range opens ONE of the two files
    val pruned = VersionedTable.scan(spark, root)
      .filter(col("k").between(10, 20))
    assert(GraftScan.filesRead(pruned) == 1)
    assert(pruned.count() == 11)
  }

  test("compact then vacuum: loose files reclaimed, packed snapshot intact, skipping live") {
    import spark.implicits._
    val root = tmpRoot()
    (0 to 3).foreach { b =>
      val df = (b * 50 + 1 to b * 50 + 50)
        .map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2)
      if (b == 0) VersionedTable.overwrite(df, root, Write.stats("k"))
      else VersionedTable.append(df, root, Write.stats("k"))
    }
    VersionedTable.compact(spark, root, statsCols = Seq("k"))
    val packedFiles = VersionedTable.read(spark, root).inputFiles.toSet
    val deleted = VersionedTable.vacuum(root, retainVersions = 1)
    assert(deleted == 8) // the 4×2 loose pre-compaction files
    // the packed layout survives untouched and still answers + prunes
    val survivors = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    assert(packedFiles.map(p => new java.net.URI(p).getPath) == survivors)
    assert(VersionedTable.read(spark, root).count() == 200)
    val pruned = VersionedTable.scan(spark, root)
      .filter(col("k").between(5, 15))
    assert(pruned.count() == 11 && GraftScan.filesRead(pruned) == 1)
  }

  test("compact commutes with a concurrent append, aborts on a concurrent rewrite") {
    import spark.implicits._
    // append during compaction: inherited, nothing lost
    val r1 = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), r1)
    VersionedTable.append(Seq((2, "b")).toDF("k", "v"), r1)
    var appended = false
    VersionedTable.compact(spark, r1, beforeCommit = () =>
      if (!appended) {
        appended = true
        VersionedTable.append(Seq((3, "c")).toDF("k", "v"), r1)
      })
    assert(VersionedTable.read(spark, r1).as[(Int, String)].collect().toSet
      == Set((1, "a"), (2, "b"), (3, "c")))
    // merge rewriting a to-be-compacted file: resurrection hazard → abort
    val r2 = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), r2)
    VersionedTable.append(Seq((2, "b")).toDF("k", "v"), r2)
    var merged = false
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.compact(spark, r2, beforeCommit = () =>
        if (!merged) {
          merged = true
          VersionedTable.merge(spark, r2, Seq((1, "A")).toDF("k", "v"), Seq("k"))
        })
    }
    // the merge's result is intact; no compacted-away resurrection
    assert(VersionedTable.read(spark, r2).as[(Int, String)].collect().toSet
      == Set((1, "A"), (2, "b")))
  }

  test("append chain: delta commits are O(batch), checkpoints bound the walk") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((0, "r")).toDF("k", "v").repartition(1), root)
    val sizes = (1 to 24).map { i =>
      VersionedTable.append(Seq((i, s"r$i")).toDF("k", "v").repartition(1), root)
      new java.io.File(root, f"_log/${i.toLong}%012d.manifest").length()
    }
    // the commit FILE stays one batch's lines no matter how many files
    // the table has accumulated (the pre-round-6 full-listing format
    // grew linearly: commit 24 carried all 25 files)
    assert(sizes.last <= sizes.head + 16,
      s"manifest bytes grew with table size: $sizes")
    // periodic full checkpoints bound the reader's walk-back
    assert(new java.io.File(root, f"_log/${10L}%012d.checkpoint").exists())
    assert(new java.io.File(root, f"_log/${20L}%012d.checkpoint").exists())
    // resolution exact at the head, at a checkpoint, and between two
    assert(VersionedTable.read(spark, root).count() == 25)
    assert(VersionedTable.readVersion(spark, root, 10).count() == 11)
    assert(VersionedTable.readVersion(spark, root, 13).count() == 14)
  }

  test("vacuum checkpoints the oldest retained delta; history stays resolvable") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((0, "r")).toDF("k", "v").repartition(1), root)
    (1 to 5).foreach(i => VersionedTable.append(
      Seq((i, s"r$i")).toDF("k", "v").repartition(1), root))
    val deleted = VersionedTable.vacuum(root, retainVersions = 2)
    assert(deleted == 0) // append-only: every data file is still live
    assert(VersionedTable.versions(root) == Seq(4L, 5L))
    // v4 is a delta whose base manifests were vacuumed away — it must
    // resolve through the checkpoint vacuum wrote for it
    assert(VersionedTable.readVersion(spark, root, 4).count() == 5)
    assert(VersionedTable.read(spark, root).count() == 6)
  }

  test("round-5 full-listing tables read, time-travel, and append unchanged (migration)") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v").repartition(1), root)
    // hand-write v1 the way round-5 append did: a FULL listing of the
    // previous files plus a new one (no #delta header, no checkpoint)
    val dataDir = new java.io.File(root, "data")
    val f0 = dataDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val f1 = new java.io.File(dataDir, "v00001-legacy-00000.parquet")
    java.nio.file.Files.copy(f0.toPath, f1.toPath)
    java.nio.file.Files.write(
      new java.io.File(root, "_log/000000000001.manifest").toPath,
      (f0.getPath + "\n" + f1.getPath)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(VersionedTable.read(spark, root).count() == 2)
    // a round-6 delta append resolves on top of the legacy full listing
    VersionedTable.append(Seq((2, "b")).toDF("k", "v").repartition(1), root)
    assert(VersionedTable.read(spark, root).count() == 3)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 2)
    assert(VersionedTable.readVersion(spark, root, 0).count() == 1)
  }

  test("readWhereBox prunes on BOTH z-order dimensions, tighter than either alone") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (0 until 4096)
      .map(i => (i.toLong, ((i * 2654435761L) % 4096), i.toDouble))
      .toDF("a", "b", "x")
    VersionedTable.overwrite(df, root,
      Write(zorder = Some(Write.ZOrder(Seq("a", "b"), 16))))
    val box = VersionedTable.scan(spark, root)
      .filter(col("a").between(100L, 500L) &&
        col("b").between(100L, 500L))
    val oneA = VersionedTable.scan(spark, root)
      .filter(col("a").between(100, 500))
    val oneB = VersionedTable.scan(spark, root)
      .filter(col("b").between(100, 500))
    assert(GraftScan.filesRead(box) <= GraftScan.filesRead(oneA))
    assert(GraftScan.filesRead(box) <= GraftScan.filesRead(oneB))
    assert(GraftScan.filesRead(box) < 16)
    // exactness: box read == full filter
    val expect = df.filter(col("a").between(100, 500) && col("b").between(100, 500))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(box.select("a", "b").as[(Long, Long)].collect().toSet == expect)
  }

  test("overwriteZOrderedK: a 3-D box prunes multiplicatively tighter " +
    "than every 2-D projection") {
    import spark.implicits._
    val root = tmpRoot()
    // 32x32x32 cube; 64 files over the 15-bit Morton range = one
    // 8x8x8 subcube per file, so a [4,11]^3 box touches 8 subcubes
    // while any 2-D projection of it (third dimension free) touches 32
    val cube = spark.range(32L * 32 * 32)
      .select((col("id") % 32).as("x"),
        (floor(col("id") / 32) % 32).cast("long").as("y"),
        floor(col("id") / 1024).cast("long").as("z"))
    VersionedTable.overwrite(cube, root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y", "z"), 64, 32))))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total == 64)
    val box3 = VersionedTable.scan(spark, root)
      .filter(col("x").between(4L, 11L) &&
        col("y").between(4L, 11L) &&
        col("z").between(4L, 11L))
    val boxXY = VersionedTable.scan(spark, root)
      .filter(col("x").between(4L, 11L) &&
        col("y").between(4L, 11L))
    val boxXZ = VersionedTable.scan(spark, root)
      .filter(col("x").between(4L, 11L) &&
        col("z").between(4L, 11L))
    val boxYZ = VersionedTable.scan(spark, root)
      .filter(col("y").between(4L, 11L) &&
        col("z").between(4L, 11L))
    assert(GraftScan.filesRead(box3) < GraftScan.filesRead(boxXY),
      s"3d ${GraftScan.filesRead(box3)} vs xy ${GraftScan.filesRead(boxXY)}")
    assert(GraftScan.filesRead(box3) < GraftScan.filesRead(boxXZ),
      s"3d ${GraftScan.filesRead(box3)} vs xz ${GraftScan.filesRead(boxXZ)}")
    assert(GraftScan.filesRead(box3) < GraftScan.filesRead(boxYZ),
      s"3d ${GraftScan.filesRead(box3)} vs yz ${GraftScan.filesRead(boxYZ)}")
    // exactness: box read == full filter
    assert(box3.as[(Long, Long, Long)].collect().toSet ==
      (for (x <- 4L to 11L; y <- 4L to 11L; z <- 4L to 11L)
        yield (x, y, z)).toSet)
  }

  test("appendZOrderedK: per-batch k-dim clustering, box read prunes " +
    "across batches") {
    import spark.implicits._
    val root = tmpRoot()
    val cube = spark.range(16L * 16 * 16)
      .select((col("id") % 16).as("x"),
        (floor(col("id") / 16) % 16).cast("long").as("y"),
        floor(col("id") / 256).cast("long").as("z"))
    VersionedTable.append(cube.filter(col("z") < 8), root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y", "z"), 8, 16))))
    VersionedTable.append(cube.filter(col("z") >= 8), root,
      Write(zorder = Some(Write.ZOrder(Seq("x", "y", "z"), 8, 16))))
    assert(VersionedTable.versions(root) == Seq(0L, 1L))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total == 16)
    // z-range inside batch 1 → batch 2's files all pruned
    val box = VersionedTable.scan(spark, root)
      .filter(col("x").between(0L, 7L) &&
        col("y").between(0L, 7L) &&
        col("z").between(0L, 3L))
    assert(GraftScan.filesRead(box) < 8, s"${GraftScan.filesRead(box)}/$total")
    assert(box.count() == 8L * 8 * 4)
  }

  test("compactZOrderedK: fragmented z-appends fold into one tight " +
    "layout; rows identical, box pruning restored") {
    import spark.implicits._
    val root = tmpRoot()
    val cube = spark.range(16L * 16 * 16)
      .select((col("id") % 16).as("x"),
        (floor(col("id") / 16) % 16).cast("long").as("y"),
        floor(col("id") / 256).cast("long").as("z"))
    // four z-slabs appended with batch-local boundaries → 16 files
    // whose boxes overlap across batches
    (0 until 4).foreach { i =>
      VersionedTable.append(
        cube.filter(col("z") >= i * 4 && col("z") < (i + 1) * 4),
        root, Write(zorder = Some(Write.ZOrder(Seq("x", "y", "z"), 4, 16))))
    }
    val before = VersionedTable.read(spark, root)
    assert(before.inputFiles.length == 16)
    val rows = before.as[(Long, Long, Long)].collect().toSet
    VersionedTable.compactZOrderedK(spark, root, Seq("x", "y", "z"),
      numFiles = 8, buckets = 16)
    val after = VersionedTable.read(spark, root)
    assert(after.inputFiles.length == 8)
    assert(after.as[(Long, Long, Long)].collect().toSet == rows)
    val box = VersionedTable.scan(spark, root)
      .filter(col("x").between(0L, 7L) &&
        col("y").between(0L, 7L) &&
        col("z").between(0L, 7L))
    assert(GraftScan.filesRead(box) < 8, s"${GraftScan.filesRead(box)}")
    assert(box.count() == 8L * 8 * 8)
  }

  test("readChangesStream: each commit once, checkpointed resume, rewrite refused") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("graft_vt_cdcstream_ckpt").toString
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), root)

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    def drain(): Seq[(Int, String)] = {
      seen.clear()
      val q = VersionedTable.readChangesStream(spark, root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          seen.synchronized {
            seen ++= b.collect().map(r => (r.getInt(0), r.getString(1)))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      seen.toSeq
    }

    // first run: everything committed so far, exactly once
    assert(drain().toSet == Set((1, "a"), (2, "b"), (3, "c")))
    // no new commits → empty incremental batch
    assert(drain().isEmpty)
    // a new append surfaces as exactly its own rows
    VersionedTable.append(Seq((4, "d"), (5, "e")).toDF("k", "v"), root)
    assert(drain().toSet == Set((4, "d"), (5, "e")))

    // a rewriting commit (MERGE) breaks the append-only contract
    VersionedTable.merge(spark, root, Seq((1, "A")).toDF("k", "v"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readChangesStream(spark, root)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("delete: COW rewrite of touched files only; nulls kept; time travel intact") {
    import spark.implicits._
    val root = tmpRoot()
    // two files: ks 1-2 in v0's file, 3-4 in v1's
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v")
      .coalesce(1), root)
    VersionedTable.append(Seq((3, "c"), (4, "d")).toDF("k", "v")
      .coalesce(1), root)
    val before = new java.io.File(root, "data").listFiles().map(_.getName).toSet

    val v = VersionedTable.delete(spark, root, col("k") === 3)
    assert(v == 2L)
    assert(VersionedTable.read(spark, root).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (4, "d")))
    // the untouched v0 file survives BY NAME (no rewrite); the touched
    // v1 file was replaced
    val after = new java.io.File(root, "data").listFiles().map(_.getName).toSet
    assert(before.intersect(after).nonEmpty)
    assert(!before.subsetOf(after) || after.size > before.size)
    // pre-delete snapshot still time-travels to all four rows
    assert(VersionedTable.readVersion(spark, root, 1).count() == 4)

    // nothing-matches → same version back, no commit
    assert(VersionedTable.delete(spark, root, col("k") === 99) == 2L)
    assert(VersionedTable.versions(root).lastOption.contains(2L))

    // null predicate rows are KEPT (SQL semantics): v is null for k=4
    val root2 = tmpRoot()
    VersionedTable.overwrite(
      Seq((1, Some("x")), (2, None)).toDF("k", "v"), root2)
    VersionedTable.delete(spark, root2, col("v") === "x")
    assert(VersionedTable.read(spark, root2).select("k")
      .as[Int].collect().toSet == Set(2))
  }

  test("shallowClone carries table-level sidecars: a partitioned " +
    "clone keeps its partition columns, constraints inherit, an " +
    "ALTER-declared column survives") {
    import spark.implicits._
    val src = tmpRoot(); val dst = tmpRoot() + "_pclone"
    VersionedTable.overwrite(
      Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L))
        .toDF("k", "p", "v"),
      src, Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    VersionedTable.addConstraint(spark, src, "v_pos", "v > 0")
    VersionedTable.alterAddColumns(spark, src,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType, nullable = true)))
    VersionedTable.shallowClone(src, dst)
    val cloned = VersionedTable.read(spark, dst)
    // without the sidecar carry the partition column would VANISH
    // from the clone's schema (footers don't store it — paths do)
    assert(cloned.schema.fieldNames.contains("p"),
      "partition column must survive the clone")
    assert(cloned.filter(col("p") === "x").count() == 2L)
    // the ALTER-declared (never materialized) column survives too
    assert(cloned.schema.fieldNames.contains("note"))
    // constraints inherit: the clone refuses a violating write
    assert(VersionedTable.constraints(dst) ==
      Map("v_pos" -> "v > 0"))
    val e = intercept[Exception] {
      VersionedTable.append(
        Seq((9L, "z", -1L, "n")).toDF("k", "p", "v", "note")
          .select(col("k"), col("v"), col("note"), col("p")),
        dst, Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    }
    assert(e.getMessage != null)
    assert(VersionedTable.read(spark, dst).count() == 3L)
  }

  test("shallowClone: zero-copy reads, diverging writes, fresh history") {
    import spark.implicits._
    val src = tmpRoot(); val dst = tmpRoot() + "_clone"
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), src)
    VersionedTable.append(Seq((3, "c")).toDF("k", "v"), src)
    val srcFiles = new java.io.File(src, "data").listFiles().map(_.getName).toSet

    VersionedTable.shallowClone(src, dst)
    // same rows, NO data files copied into the clone
    assert(VersionedTable.read(spark, dst).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    val dstData = new java.io.File(dst, "data")
    assert(!dstData.isDirectory || dstData.listFiles().isEmpty)

    // writes diverge: clone append lands in the CLONE's data dir only
    VersionedTable.append(Seq((4, "d")).toDF("k", "v"), dst)
    assert(VersionedTable.read(spark, dst).count() == 4)
    assert(VersionedTable.read(spark, src).count() == 3)
    assert(new java.io.File(src, "data").listFiles().map(_.getName).toSet
      == srcFiles)

    // an existing target refuses
    intercept[IllegalArgumentException] {
      VersionedTable.shallowClone(src, dst)
    }
  }

  test("mergeBranch: concurrent appends fast-forward; rewrite branches refuse") {
    import spark.implicits._
    val src = tmpRoot(); val br = tmpRoot() + "_branch"
    VersionedTable.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), src)
    VersionedTable.shallowClone(src, br)
    VersionedTable.append(Seq((3, "br1")).toDF("k", "v"), br)
    VersionedTable.append(Seq((4, "br2")).toDF("k", "v"), br)
    VersionedTable.append(Seq((5, "src")).toDF("k", "v"), src) // diverge
    VersionedTable.mergeBranch(spark, br, src)
    assert(VersionedTable.read(spark, src).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "br1"), (4, "br2"), (5, "src")))
    // the merge is ONE commit; clone-point rows arrive exactly once
    assert(VersionedTable.read(spark, src).count() == 5)

    // an untouched branch merges as a no-op
    val br2 = tmpRoot() + "_branch2"
    VersionedTable.shallowClone(src, br2)
    val v0 = VersionedTable.latestVersion(src)
    VersionedTable.mergeBranch(spark, br2, src)
    assert(VersionedTable.latestVersion(src) == v0)

    // a branch that REWROTE clone-point files (delete) refuses
    val br3 = tmpRoot() + "_branch3"
    VersionedTable.shallowClone(src, br3)
    VersionedTable.delete(spark, br3, col("k") === 1)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.mergeBranch(spark, br3, src)
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("the documented hazard: vacuum on the SOURCE breaks a shallow clone") {
    import spark.implicits._
    val src = tmpRoot(); val dst = tmpRoot() + "_clone"
    VersionedTable.overwrite(Seq((1, "a")).toDF("k", "v"), src)
    VersionedTable.shallowClone(src, dst)
    // source rewrites, then reclaims the files the clone references
    VersionedTable.overwrite(Seq((2, "b")).toDF("k", "v"), src)
    val reclaimed = VersionedTable.vacuum(src, retainVersions = 1)
    assert(reclaimed > 0)
    // the clone's manifest now points at deleted files
    intercept[Exception] {
      VersionedTable.read(spark, dst).collect()
    }
  }

  test("txn appends record the default stats of a plain append") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root,
      Write(txn = Some("app" -> 0L)))
    assert(VersionedTable.countRows(root) == Some(2L))
    assert(VersionedTable.statsRange(root, "k").contains((1L, 2L)))
  }

  test("one write surface: append and overwrite are the only public " +
    "writers, and no readWhere* read remains") {
    val names = VersionedTable.getClass.getMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$")).toSet
    assert(names.filter(n => n.startsWith("append") ||
      n.startsWith("overwrite")) == Set("append", "overwrite"))
    assert(!names.exists(_.startsWith("readWhere")))
  }
}
