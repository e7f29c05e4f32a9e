package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** VersionedTable.update (COW UPDATE WHERE) and Tombstones
  * (merge-on-read delete): SQL semantics, file pruning, laziness,
  * purge equivalence. */
class UpdateMorSpec extends SparkSuite {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_upd_$tag").resolve("t").toString

  private def rows(root: String): Set[(Long, String, Double)] =
    VersionedTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
        r.getAs[Double]("v"))).toSet

  test("update: SET references pre-update columns; NULL predicate keeps") {
    import spark.implicits._
    val root = freshRoot("set")
    VersionedTable.overwrite(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null.asInstanceOf[String], 30.0))
        .toDF("k", "s", "v"), root)
    // predicate on s: NULL row (k=3) must be left unchanged per SQL
    VersionedTable.update(spark, root,
      col("s") =!= "b",
      Map("v" -> (col("v") + col("k")), "s" -> upper(col("s"))))
    assert(rows(root) == Set(
      (1L, "A", 11.0), (2L, "b", 20.0), (3L, null, 30.0)))
  }

  test("update: untouched files carry; no-match commits nothing") {
    import spark.implicits._
    val root = freshRoot("prune")
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root)
    VersionedTable.append(Seq((10L, "z", 2.0)).toDF("k", "s", "v"), root)
    val before = VersionedTable.read(spark, root).inputFiles.toSet
    VersionedTable.update(spark, root, col("k") === 10L,
      Map("v" -> lit(9.0)))
    val after = VersionedTable.read(spark, root).inputFiles.toSet
    assert(before.intersect(after).nonEmpty, "batch-1 file must survive")
    assert(rows(root) == Set((1L, "a", 1.0), (10L, "z", 9.0)))
    val v = VersionedTable.latestVersion(root).get
    VersionedTable.update(spark, root, col("k") === 999L,
      Map("v" -> lit(0.0)))
    assert(VersionedTable.latestVersion(root).get == v,
      "no-match update must not commit")
  }

  test("update: unknown SET column is rejected") {
    import spark.implicits._
    val root = freshRoot("badcol")
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root)
    intercept[IllegalArgumentException] {
      VersionedTable.update(spark, root, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("tombstones: MOR delete leaves files untouched; purge ≡ COW") {
    import spark.implicits._
    val root = freshRoot("mor")
    VersionedTable.overwrite(
      (1L to 100L).map(i => (i, s"s$i", i * 1.0)).toDF("k", "s", "v"),
      root, Write.stats())
    val filesBefore = VersionedTable.read(spark, root).inputFiles.toSet
    Tombstones.deleteMor(spark, root,
      spark.range(1, 101).filter(col("id") % 3 === 0).select(col("id").as("k")))
    Tombstones.deleteMor(spark, root, // overlapping batch — idempotent
      spark.range(1, 101).filter(col("id") % 6 === 0).select(col("id").as("k")))
    assert(VersionedTable.read(spark, root).inputFiles.toSet == filesBefore,
      "MOR delete must not rewrite data files")
    assert(VersionedTable.countRows(root).contains(100L),
      "manifest row count untouched before purge")
    val active = Tombstones.readActive(spark, root)
      .collect().map(_.getAs[Long]("k")).toSet
    val expect = (1L to 100L).filterNot(_ % 3 == 0).toSet
    assert(active == expect)
    Tombstones.purge(spark, root)
    assert(rows(root).map(_._1) == expect, "purge folds tombstones in")
    assert(Tombstones.pendingKeys(spark, root).isEmpty, "store reset")
    // MOR read and plain read agree post-purge
    assert(Tombstones.readActive(spark, root)
      .collect().map(_.getAs[Long]("k")).toSet == expect)
  }

  test("appendExpecting: clean batch lands; every failed gate is named") {
    import spark.implicits._
    val root = freshRoot("expect")
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root)
    val gates = Seq(
      "no_nulls" -> (sum(col("v").isNull.cast("long")) === 0L),
      "min_rows" -> (count(lit(1)) >= 2L))
    VersionedTable.append(
      Seq((2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v"),
      root, Write(stats = Some(Seq.empty), expect = gates))
    assert(VersionedTable.read(spark, root).count() == 3L)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.append(
        Seq((4L, "d", null.asInstanceOf[java.lang.Double]))
          .toDF("k", "s", "v")
          .select(col("k"), col("s"), col("v").cast("double")),
        root, Write(stats = Some(Seq.empty), expect = gates))
    }
    assert(err.getMessage.contains("no_nulls") &&
      err.getMessage.contains("min_rows"),
      s"both failed gates must be named: ${err.getMessage}")
    assert(VersionedTable.read(spark, root).count() == 3L,
      "rejected batch must leave no trace")
  }

  test("replaceWhere: atomic slice swap; scope guard catches leaks") {
    import spark.implicits._
    val root = freshRoot("rw")
    VersionedTable.overwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("k", "s", "v"), root)
    val v0 = VersionedTable.latestVersion(root).get
    // a leaking batch (row with s='b') is rejected before any commit
    intercept[IllegalArgumentException] {
      VersionedTable.replaceWhere(spark, root, col("s") === "a",
        Seq((9L, "b", 9.0)).toDF("k", "s", "v"))
    }
    assert(VersionedTable.latestVersion(root).get == v0)
    VersionedTable.replaceWhere(spark, root, col("s") === "a",
      Seq((10L, "a", 10.0)).toDF("k", "s", "v"))
    assert(VersionedTable.latestVersion(root).get == v0 + 1,
      "replace = ONE commit")
    assert(rows(root) == Set((2L, "b", 2.0), (10L, "a", 10.0)))
  }

  test("persisted constraints: stored with the table, enforced on append") {
    import spark.implicits._
    val root = freshRoot("cons")
    VersionedTable.setConstraints(root, Seq(
      "v_pos" -> "v > 0", "s_nonnull" -> "s IS NOT NULL"))
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root)
    VersionedTable.append(Seq((2L, "b", 2.0)).toDF("k", "s", "v"), root,
      Write.stats())
    assert(VersionedTable.read(spark, root).count() == 2L)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.append(
        Seq((3L, null.asInstanceOf[String], -1.0)).toDF("k", "s", "v"),
        root, Write.stats())
    }
    assert(err.getMessage.contains("v_pos") &&
      err.getMessage.contains("s_nonnull"))
    assert(VersionedTable.read(spark, root).count() == 2L,
      "rejected batch leaves no trace")
    // contract durable across 'writers' (unified store, name-ordered)
    assert(VersionedTable.constraintsOf(root).map(_._1) ==
      Seq("s_nonnull", "v_pos"))
    // tables without a contract append freely
    val root2 = freshRoot("nocons")
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root2)
    VersionedTable.append(
      Seq((2L, null.asInstanceOf[String], -5.0)).toDF("k", "s", "v"),
      root2, Write.stats())
    assert(VersionedTable.read(spark, root2).count() == 2L)
    // the unified JSON store ESCAPES separators — an expression
    // carrying a newline round-trips intact instead of corrupting the
    // old line\tab grammar (the legacy writer rejected these outright)
    val root3 = freshRoot("sepcons")
    VersionedTable.setConstraints(root3,
      Seq("ok" -> "v >\n0 AND\ts IS NOT NULL"))
    assert(VersionedTable.constraintsOf(root3) ==
      Seq("ok" -> "v >\n0 AND\ts IS NOT NULL"))
  }

  test("updateMor: patch overlay == COW update; stacking, delete-wins, " +
    "purge folds to COW-identical state") {
    import spark.implicits._
    val mor = freshRoot("mor_upd"); val cow = freshRoot("cow_upd")
    val data = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    VersionedTable.overwrite(data, mor)
    VersionedTable.overwrite(data, cow)
    val vBefore = VersionedTable.versions(mor).size
    // same update through both paths
    val pred = col("v") < 25.0
    val set = Map("v" -> (col("v") * 10), "s" -> upper(col("s")))
    val n = Tombstones.updateMor(spark, mor, Seq("k"), pred, set)
    assert(n == 2)
    VersionedTable.update(spark, cow, pred, set)
    assert(rows2(Tombstones.readActive(spark, mor)) ==
      rows2(VersionedTable.read(spark, cow)))
    // MOR laziness: the main table committed NOTHING
    assert(VersionedTable.versions(mor).size == vBefore)
    // stacked update sees the first patch (k=1: 100 -> 1100)
    Tombstones.updateMor(spark, mor, Seq("k"),
      col("v") === 100.0, Map("v" -> (col("v") + 1000)))
    VersionedTable.update(spark, cow,
      col("v") === 100.0, Map("v" -> (col("v") + 1000)))
    assert(rows2(Tombstones.readActive(spark, mor)) ==
      rows2(VersionedTable.read(spark, cow)))
    // a delete after a patch hides the patch (deletes win)
    Tombstones.deleteMor(spark, mor, Seq(Tuple1(2L)).toDF("k"))
    VersionedTable.delete(spark, cow, col("k") === 2L)
    assert(rows2(Tombstones.readActive(spark, mor)) ==
      rows2(VersionedTable.read(spark, cow)))
    // SET of a key column and mismatched key sets are rejected
    intercept[IllegalArgumentException](Tombstones.updateMor(spark, mor,
      Seq("k"), lit(true), Map("k" -> lit(9L))))
    intercept[IllegalArgumentException](Tombstones.updateMor(spark, mor,
      Seq("s"), lit(true), Map("v" -> lit(0.0))))
    // purge folds both overlays; plain read == pre-purge active ==
    // the COW twin — and the stores reset (second purge is a no-op)
    val active = rows2(Tombstones.readActive(spark, mor))
    Tombstones.purge(spark, mor)
    assert(rows2(VersionedTable.read(spark, mor)) == active)
    assert(rows2(VersionedTable.read(spark, mor)) ==
      rows2(VersionedTable.read(spark, cow)))
    assert(Tombstones.pendingPatches(spark, mor).isEmpty &&
      Tombstones.pendingKeys(spark, mor).isEmpty)
    val v = VersionedTable.latestVersion(mor)
    Tombstones.purge(spark, mor)
    assert(VersionedTable.latestVersion(mor) == v)
  }

  private def rows2(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
      r.getAs[Double]("v"))).toSet

  test("tombstones: purge with nothing pending is a no-op") {
    import spark.implicits._
    val root = freshRoot("mornoop")
    VersionedTable.overwrite(Seq((1L, "a", 1.0)).toDF("k", "s", "v"), root)
    val v = VersionedTable.latestVersion(root).get
    assert(Tombstones.purge(spark, root) == v)
  }

  test("updateMor: a zero-match call does not pin the key set; a " +
    "stranded sidecar clears on purge") {
    import spark.implicits._
    val root = freshRoot("morzero")
    VersionedTable.overwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v"), root)
    // zero rows match: no patch store, and crucially no recorded keys
    assert(Tombstones.updateMor(spark, root, Seq("s"),
      col("v") > 99.0, Map("v" -> lit(0.0))) == 0L)
    // a DIFFERENT key set must still be accepted afterwards
    assert(Tombstones.updateMor(spark, root, Seq("k"),
      col("k") === 1L, Map("v" -> lit(10.0))) == 1L)
    assert(Tombstones.readActive(spark, root)
      .filter(col("k") === 1L).head().getAs[Double]("v") == 10.0)
    Tombstones.purge(spark, root)
    // simulate a crash between the sidecar write and the patch-store
    // commit: the stranded sidecar must not lock the table forever —
    // purge clears it, and the next updateMor picks its own keys
    java.nio.file.Files.write(
      new java.io.File(root, "_patch_keys").toPath,
      "s".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[IllegalArgumentException](Tombstones.updateMor(spark, root,
      Seq("k"), col("k") === 2L, Map("v" -> lit(0.0))))
    Tombstones.purge(spark, root)
    assert(Tombstones.updateMor(spark, root, Seq("k"),
      col("k") === 2L, Map("v" -> lit(20.0))) == 1L)
    assert(Tombstones.readActive(spark, root)
      .filter(col("k") === 2L).head().getAs[Double]("v") == 20.0)
  }
}
