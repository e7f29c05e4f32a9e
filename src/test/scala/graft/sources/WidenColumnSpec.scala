package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** ALTER COLUMN TYPE — metadata-only WIDENING (the Delta type-widening
  * role): the declaration sidecar carries the wider type, zero files
  * move, readers up-cast old files at scan time, old versions
  * time-travel with their old types, stats pruning stays exact, COW
  * rewrites materialize the wide type, narrowing refuses. */
class WidenColumnSpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_widen").resolve("t").toString
    val df = (1 to 600).map(i => (i, i.toFloat / 2, s"s$i"))
      .toDF("k", "f", "s")
      .repartitionByRange(6, col("k"))
    VersionedTable.overwrite(df, root, Write.stats("k"))
    root
  }

  test("widen INT->BIGINT and FLOAT->DOUBLE: metadata-only, old files " +
    "up-cast at read, appended wide rows mix freely, time travel " +
    "serves the OLD types") {
    import spark.implicits._
    val root = freshTable()
    val files0 = VersionedTable.listingPaths(root, 0L)
    VersionedTable.alterWidenColumn(spark, root, "k", LongType)
    val v2 = VersionedTable.alterWidenColumn(spark, root, "f", DoubleType)
    assert(VersionedTable.listingPaths(root, v2) == files0,
      "a widen must move ZERO files")
    val now = VersionedTable.read(spark, root)
    assert(now.schema("k").dataType == LongType)
    assert(now.schema("f").dataType == DoubleType)
    // the vectorized reader up-casts the INT32/FLOAT files in place
    assert(now.agg(sum(col("k"))).head().getLong(0) == 180300L)
    // append rows beyond Int range at the wide type
    VersionedTable.append(Seq((5000000000L, 1.5d, "big")).toDF("k", "f", "s"), root,
      Write.stats("k"))
    val mixed = VersionedTable.read(spark, root)
    assert(mixed.filter(col("k") > 4000000000L).count() == 1L)
    assert(mixed.count() == 601L)
    // time travel: version 0 still serves INT/FLOAT
    val old = VersionedTable.readVersion(spark, root, 0L)
    assert(old.schema("k").dataType == IntegerType)
    assert(old.schema("f").dataType == FloatType)
  }

  test("stats pruning stays EXACT across the widen: a long-literal " +
    "filter over old int files prunes files and misses no rows") {
    val root = freshTable()
    VersionedTable.alterWidenColumn(spark, root, "k", LongType)
    val df = VersionedTable.read(spark, root).filter(col("k") >= 501L)
    assert(df.count() == 100L, "pruning must not skip matching rows")
    val scanned = planFiles(df)
    assert(scanned == 1L, s"expected 1 of 6 range files, scanned $scanned")
  }

  /** Files the executed plan actually read (AQE-unwrapped). */
  private def planFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    aqe.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
  }

  test("refusals: narrowing, unrelated type jumps, long->double, " +
    "scale changes, partition columns, pending MOR") {
    import spark.implicits._
    val root = freshTable()
    intercept[Exception] {
      VersionedTable.alterWidenColumn(spark, root, "k", ShortType)
    }
    intercept[Exception] {
      VersionedTable.alterWidenColumn(spark, root, "k", StringType)
    }
    intercept[Exception] { // long->double is INEXACT above 2^53
      VersionedTable.alterWidenColumn(spark, root, "k", DoubleType)
    }
    VersionedTable.alterWidenColumn(spark, root, "k", LongType)
    intercept[Exception] { // already long
      VersionedTable.alterWidenColumn(spark, root, "k", LongType)
    }
    // decimal: precision growth ok, scale change refused
    val droot = Files.createTempDirectory("graft_wdec").resolve("t").toString
    VersionedTable.overwrite(
      Seq((1L, BigDecimal("12.34"))).toDF("k", "d")
        .select(col("k"), col("d").cast(DecimalType(10, 2)).as("d")), droot)
    VersionedTable.alterWidenColumn(spark, droot, "d", DecimalType(20, 2))
    assert(VersionedTable.read(spark, droot).schema("d").dataType ==
      DecimalType(20, 2))
    intercept[Exception] {
      VersionedTable.alterWidenColumn(spark, droot, "d", DecimalType(22, 4))
    }
  }

  test("COW rewrites MATERIALIZE the widen; a DELETE touching mixed " +
    "vintages reads through the widen-tolerant sweep; z-order " +
    "re-layout (a declaration boundary) keeps the wide type") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterWidenColumn(spark, root, "k", LongType)
    VersionedTable.append(
      Seq((5000000000L, 1.5d, "big")).toDF("k", "f", "s")
        .select(col("k"), col("f").cast(FloatType).as("f"), col("s")),
      root, Write.stats("k"))
    // DELETE with a predicate spanning old INT files and the new LONG
    // file: the rewrite read mixes vintages
    VersionedTable.delete(spark, root,
      col("k") === 1L || col("k") === 5000000000L)
    val afterDelete = VersionedTable.read(spark, root)
    assert(afterDelete.count() == 599L)
    assert(afterDelete.schema("k").dataType == LongType)
    // z-order rewrite commits a FULL manifest (declaration boundary):
    // the widen must survive via materialized INT64 files
    VersionedTable.compactZOrderedK(spark, root, Seq("k", "f"),
      numFiles = 4)
    val afterZ = VersionedTable.read(spark, root)
    assert(afterZ.schema("k").dataType == LongType,
      "a full-manifest re-layout must not lose the widen")
    assert(afterZ.agg(sum(col("k"))).head().getLong(0) == 180300L - 1L)
  }
}
