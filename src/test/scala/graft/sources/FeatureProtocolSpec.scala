package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** Table protocol / feature versioning (the Delta PROTOCOL.md
  * reader/writer table-feature role): manifests record required
  * features, readers refuse loudly on unknown reader features, writers
  * refuse on ANY unknown feature, legacy feature-free tables keep
  * opening, resolution is per-snapshot (time travel below the
  * requiring commit is unaffected), and checkpoints aggregate the
  * requirements across vacuum's manifest expiry. */
class FeatureProtocolSpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_feat").resolve("t").toString
    VersionedTable.overwrite(
      (1 to 8).map(i => (i.toLong, i * 10L)).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      root)
    root
  }

  test("a FUTURE reader feature refuses reads AND writes loudly by " +
    "name; time travel below the requiring commit still serves") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.append(Seq((9L, 90L)).toDF("k", "v"), root) // v1
    assert(VersionedTable.read(spark, root).count() == 9L)
    val fv = VersionedTable.requireFeature(root, "r", "future-codec-x9")
    assert(fv == 2L, "the requirement is its own commit")
    val er = intercept[RuntimeException] {
      VersionedTable.read(spark, root).count()
    }
    assert(er.getMessage.contains("future-codec-x9") &&
      er.getMessage.contains("reader"), er.getMessage)
    val ew = intercept[RuntimeException] {
      VersionedTable.append(Seq((10L, 100L)).toDF("k", "v"), root)
    }
    assert(ew.getMessage.contains("future-codec-x9"), ew.getMessage)
    // per-snapshot resolution: versions below the requiring commit
    // are untouched history
    assert(VersionedTable.readVersion(spark, root, 1L).count() == 9L)
    assert(VersionedTable.readVersion(spark, root, 0L).count() == 8L)
  }

  test("a FUTURE writer feature refuses writes but keeps reads " +
    "serving (reader surface unaffected)") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.requireFeature(root, "w", "vector-commit-z2")
    assert(VersionedTable.read(spark, root).count() == 8L,
      "writer-only features never gate reads")
    val filesBefore = Option(new java.io.File(root, "data").list())
      .getOrElse(Array.empty).toSet
    val e = intercept[RuntimeException] {
      VersionedTable.append(Seq((9L, 90L)).toDF("k", "v"), root)
    }
    assert(e.getMessage.contains("vector-commit-z2"), e.getMessage)
    // the pre-stage fence refuses BEFORE writing: no orphan data files
    assert(Option(new java.io.File(root, "data").list())
      .getOrElse(Array.empty).toSet == filesBefore,
      "a fenced append must not stage a batch it cannot commit")
    // maintenance writers hit the same gate (single choke point)
    val e2 = intercept[RuntimeException] {
      VersionedTable.delete(spark, root, col("k") === 1L)
    }
    assert(e2.getMessage.contains("vector-commit-z2"), e2.getMessage)
  }

  test("feature-introducing ALTERs record their requirement INSIDE " +
    "their own commit, idempotently; legacy tables resolve empty") {
    val root = freshTable()
    assert(VersionedTable.requiredFeatures(
      root, VersionedTable.latestVersion(root).get) == (Set(), Set()),
      "a plain table requires nothing — legacy tables keep opening")
    val v1 = VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    val (r1, w1) = VersionedTable.requiredFeatures(root, v1)
    assert(r1 == Set("column-mapping") && w1.isEmpty, s"$r1 / $w1")
    // reads still work — THIS build supports column-mapping
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "amount"))
    // widen needs a NARROW column: add one, then up-cast it
    val v2a = VersionedTable.alterAddColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType)))
    val v2 = VersionedTable.alterWidenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType)
    val v3 = VersionedTable.alterSetDefault(spark, root, "amount", "15")
    assert(v2 > v2a)
    val (r3, w3) = VersionedTable.requiredFeatures(root, v3)
    assert(r3 == Set("column-mapping", "type-widening") &&
      w3 == Set("column-defaults"), s"$r3 / $w3")
    // idempotent: a second rename re-emits NOTHING (no duplicate lines)
    val v4 = VersionedTable.alterRenameColumn(spark, root, "amount", "amt")
    val raw = new String(Files.readAllBytes(new File(
      new File(root, "_log"), f"$v4%012d.manifest").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!raw.contains("#feature"),
      s"already-required features must not re-emit: $raw")
    // requireFeature is idempotent too: no new version
    assert(VersionedTable.requireFeature(root, "r", "column-mapping") == v4)
    assert(v2 > v1 && v3 > v2)
  }

  test("a partitioned table's BIRTH commit records the partitioning " +
    "reader feature; file resolution and counts stay unpolluted") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_featp").resolve("t").toString
    VersionedTable.overwrite(
      (1 to 20).map(i => (i.toLong, (i % 3).toString, i * 2L))
        .toDF("k", "p", "v"),
      root, Write(stats = Some(Seq("k")), partitionBy = Seq("p")))
    val (r, w) = VersionedTable.requiredFeatures(root, 0L)
    assert(r == Set("partitioning") && w.isEmpty, s"$r / $w")
    assert(VersionedTable.scan(spark, root).count() == 20L)
    assert(VersionedTable.countRows(root, Some(0L)).contains(20L),
      "feature lines must never enter file resolution")
    // createEmpty with partCols records it too
    val root2 = Files.createTempDirectory("graft_featp2")
      .resolve("t").toString
    VersionedTable.createEmpty(root2,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType))),
      partCols = Seq("p"))
    assert(VersionedTable.requiredFeatures(root2, 0L)._1 ==
      Set("partitioning"))
    // a FLAT table's birth records nothing
    val root3 = freshTable()
    assert(VersionedTable.requiredFeatures(root3, 0L) == (Set(), Set()))
  }

  test("checkpoints aggregate feature requirements: vacuum expiring " +
    "the requiring manifest keeps the requirement alive") {
    import spark.implicits._
    val root = freshTable()
    // a SUPPORTED feature (this build keeps writing through it) whose
    // requiring commit we then bury and expire
    VersionedTable.alterSetDefault(spark, root, "v", "42") // v1
    (1 to 12).foreach(i =>
      VersionedTable.append(Seq((100L + i, i.toLong)).toDF("k", "v"), root))
    VersionedTable.vacuum(root, retainVersions = 2)
    val head = VersionedTable.latestVersion(root).get
    assert(!new File(new File(root, "_log"), f"${1L}%012d.manifest")
      .exists(), "the requiring manifest must actually be gone")
    assert(VersionedTable.requiredFeatures(root, head)._2 ==
      Set("column-defaults"),
      "the aggregated checkpoint must carry the requirement")
    // a fake requirement on TOP still fences writes after the vacuum
    VersionedTable.requireFeature(root, "w", "future-writer-q7")
    val e = intercept[RuntimeException] {
      VersionedTable.append(Seq((999L, 1L)).toDF("k", "v"), root)
    }
    assert(e.getMessage.contains("future-writer-q7"), e.getMessage)
    // reads unaffected (writer-only features), across the boundary
    assert(VersionedTable.read(spark, root).count() == 8L + 12L)
  }
}
