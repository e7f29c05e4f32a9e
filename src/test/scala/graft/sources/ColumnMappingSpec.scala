package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** ALTER TABLE DROP COLUMN / RENAME COLUMN — the column-mapping role:
  * metadata-only commits (zero files moved), logical names projected
  * over immutable physical storage names, old versions time-traveling
  * with their old names, dropped data never resurrecting (a re-added
  * name maps to a fresh physical slot), writers staging under physical
  * names, COW rewrites eroding dropped data, stats/pruning keyed
  * physically on both sides. */
class ColumnMappingSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_cm").resolve("t").toString

  /** k 1..6, s a..f, v 10..60 over two range files. */
  private def freshTable(): String = {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 6).map(i => (i.toLong, ('a' + i - 1).toChar.toString,
      i * 10L)).toDF("k", "s", "v").repartitionByRange(2, col("k"))
    VersionedTable.overwrite(df, root)
    root
  }

  test("RENAME COLUMN is metadata-only: identical file set, new name " +
    "serves old data, old version time-travels with the old name") {
    val root = freshTable()
    val before = VersionedTable.listingPaths(root, 0L)
    val v = VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    assert(v == 1L)
    assert(VersionedTable.listingPaths(root, v) == before,
      "a rename must move ZERO files")
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "s", "amount"))
    assert(now.agg(sum(col("amount"))).head().getLong(0) == 210L,
      "the renamed column serves the original physical data")
    // time travel: version 0 still answers under the OLD name
    val old = VersionedTable.readVersion(spark, root, 0L)
    assert(old.columns.toSeq == Seq("k", "s", "v"))
    assert(old.agg(sum(col("v"))).head().getLong(0) == 210L)
  }

  test("filters on the renamed column still prune files from the " +
    "manifest stats (pushdown through the mapping projection)") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 100).map(i => (i.toLong, i * 10L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    VersionedTable.overwrite(df, root, Write.stats("k"))
    VersionedTable.alterRenameColumn(spark, root, "k", "id")
    val q = VersionedTable.scan(spark, root).filter(col("id") <= 10L)
    assert(q.count() == 10L)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }
    assert(scans.nonEmpty && scans.head == 1,
      s"manifest pruning must survive the rename, read ${scans.headOption}")
  }

  test("DROP COLUMN is metadata-only; appends after the drop work; a " +
    "re-added same-name column does NOT resurrect old data") {
    import spark.implicits._
    val root = freshTable()
    val before = VersionedTable.listingPaths(root, 0L)
    val v = VersionedTable.alterDropColumn(spark, root, "s")
    assert(VersionedTable.listingPaths(root, v) == before,
      "a drop must move ZERO files")
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "v"))
    // plain append with the remaining schema
    VersionedTable.append(Seq((7L, 70L)).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 7L)
    // a plain append must NOT adopt the retired name
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(
        Seq((8L, "x", 80L)).toDF("k", "s", "v"), root)
    }
    assert(e.getMessage.contains("retired"))
    // re-ADD the name: fresh physical slot — every existing row reads
    // NULL even though the files physically still hold the old values
    VersionedTable.alterAddColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val re = VersionedTable.read(spark, root)
    assert(re.columns.toSeq == Seq("k", "v", "s"))
    assert(re.filter(col("s").isNotNull).count() == 0L,
      "re-added column must not resurrect dropped data")
    // and new writes fill it going forward
    VersionedTable.append(Seq((9L, 90L, "new")).toDF("k", "v", "s"), root)
    val after = VersionedTable.read(spark, root)
    assert(after.filter(col("s") === "new").count() == 1L)
    assert(after.filter(col("s").isNotNull).count() == 1L)
  }

  test("writers stage under PHYSICAL names after a rename: appends, " +
    "COW update on the logical name, and merge all read back " +
    "consistently; a COW rewrite erodes dropped-column data") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    // append with the NEW logical name lands in the physical slot
    VersionedTable.append(Seq((7L, "g", 70L)).toDF("k", "s", "amount"), root)
    assert(VersionedTable.read(spark, root)
      .agg(sum(col("amount"))).head().getLong(0) == 280L)
    // the staged file physically carries the ORIGINAL storage name
    val newest = VersionedTable.listingPaths(root,
      VersionedTable.latestVersion(root).get)
      .filterNot(VersionedTable.listingPaths(root, 0L).toSet)
    assert(newest.nonEmpty)
    assert(spark.read.parquet(newest: _*).columns.contains("v"),
      "appends must stage under the immutable physical name")
    // COW update via the logical name
    VersionedTable.update(spark, root, col("k") === 1L,
      Map("amount" -> lit(999L)))
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 1L).head().getLong(2) == 999L)
    // drop s, then rewrite k=2's file: the re-staged file must no
    // longer carry the dropped physical column
    VersionedTable.alterDropColumn(spark, root, "s")
    VersionedTable.update(spark, root, col("k") === 2L,
      Map("amount" -> lit(888L)))
    val latest = VersionedTable.latestVersion(root).get
    val rewritten = VersionedTable.listingPaths(root, latest)
      .filterNot(VersionedTable.listingPaths(root, latest - 1).toSet)
    assert(rewritten.nonEmpty)
    val cols = spark.read.parquet(rewritten: _*).columns.toSet
    assert(!cols.contains("s"),
      s"a COW rewrite must erode dropped-column data, staged $cols")
    assert(cols.contains("v"), "the renamed physical slot stays")
  }

  test("stats and blooms record under the physical name; readWhere-" +
    "style pruning and appendWithStats on logical names keep working") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 50).map(i => (i.toLong, i * 2L)).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    VersionedTable.overwrite(df, root, Write.stats("k"))
    VersionedTable.alterRenameColumn(spark, root, "k", "id")
    // appendWithStats with the LOGICAL column name
    VersionedTable.append(
      (51 to 60).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(1, col("id")),
      root, Write.stats("id"))
    val q = VersionedTable.scan(spark, root).filter(col("id") >= 51L)
    assert(q.count() == 10L)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }
    assert(scans.headOption.contains(1),
      s"post-rename append stats must prune, read ${scans.headOption}")
  }

  test("refusals: partition columns, constraint-referenced columns, " +
    "pending MOR, last data column, existing target name") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"),
      root, Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    intercept[IllegalArgumentException](
      VersionedTable.alterRenameColumn(spark, root, "p", "q"))
    intercept[IllegalArgumentException](
      VersionedTable.alterDropColumn(spark, root, "p"))
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    intercept[RuntimeException](
      VersionedTable.alterDropColumn(spark, root, "v"))
    intercept[RuntimeException](
      VersionedTable.alterRenameColumn(spark, root, "v", "w"))
    VersionedTable.dropConstraint(root, "v_pos")
    // last data column (k after dropping v; p is partition)
    VersionedTable.alterDropColumn(spark, root, "v")
    intercept[IllegalArgumentException](
      VersionedTable.alterDropColumn(spark, root, "k"))
    // existing target name
    val root2 = freshTable()
    intercept[RuntimeException](
      VersionedTable.alterRenameColumn(spark, root2, "v", "s"))
    // pending MOR overlays
    Tombstones.deleteMor(spark, root2, Seq(1L).toDF("k"))
    intercept[IllegalArgumentException](
      VersionedTable.alterRenameColumn(spark, root2, "v", "w"))
    intercept[IllegalArgumentException](
      VersionedTable.alterDropColumn(spark, root2, "v"))
  }

  test("overwrite resets the mapping world: new schema is served " +
    "as-written and a previously-retired name becomes legal again") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterDropColumn(spark, root, "s")
    VersionedTable.overwrite(
      Seq((1L, "fresh", 100L)).toDF("k", "s", "v"), root)
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "s", "v"))
    assert(now.head().getString(1) == "fresh")
    // appends with the re-legitimized name work again
    VersionedTable.append(Seq((2L, "more", 200L)).toDF("k", "s", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 2L)
  }

  test("overwrite re-legitimizes a retired name WITHOUT an interleaved " +
    "read: the very next append must stage (no sidecar-cache " +
    "order-dependence)") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterDropColumn(spark, root, "s")
    VersionedTable.overwrite(
      Seq((1L, "fresh", 100L)).toDF("k", "s", "v"), root)
    // NO read between the overwrite and this append — the walk-back
    // sees a full manifest with no sidecar (decl = None), which must
    // mean identity world, not a retired-name refusal
    VersionedTable.append(Seq((2L, "more", 200L)).toDF("k", "s", "v"), root)
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 2L)
    assert(got.filter(col("s") === "more").count() == 1L)
  }

  test("RESTORE re-plants the declaration: time-travel semantics " +
    "survive a restore of a mapped snapshot; clones inherit the " +
    "mapping and the registry") {
    import spark.implicits._
    val root = freshTable()
    val vRen = VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    VersionedTable.append(Seq((7L, "g", 70L)).toDF("k", "s", "amount"), root)
    // restore to the renamed (pre-append) snapshot
    val vRes = VersionedTable.restore(root, vRen)
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "s", "amount"),
      "restore must re-plant the mapped declaration")
    assert(now.count() == 6L)
    // a shallow clone of a mapped table reads and appends correctly
    val dst = tmpRoot() + "_c"
    VersionedTable.shallowCloneAt(root, dst, Some(vRes))
    val c = VersionedTable.read(spark, dst)
    assert(c.columns.toSeq == Seq("k", "s", "amount"))
    assert(c.agg(sum(col("amount"))).head().getLong(0) == 210L)
    VersionedTable.append(Seq((8L, "h", 80L)).toDF("k", "s", "amount"), dst)
    assert(VersionedTable.read(spark, dst)
      .agg(sum(col("amount"))).head().getLong(0) == 290L)
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((9L, 90L)).toDF("k", "v"), dst)
    }
  }

  test("SQL + DSv2 surfaces: GraftSql RENAME/DROP COLUMN verbs; " +
    "spark.sql over the catalog serves the mapped table with pruning " +
    "filters and supports ALTER ... RENAME/DROP COLUMN") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gcm_${math.abs(root.hashCode)}"
    val df = (1 to 40).map(i => (i.toLong, ('a' + i % 3).toChar.toString,
      i * 10L)).toDF("k", "s", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    VersionedTable.overwrite(df, root, Write.stats("k"))
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark, s"ALTER TABLE $name RENAME COLUMN v TO amount")
    GraftSql.execute(spark, s"ALTER TABLE $name DROP COLUMN s")
    val got = GraftSql.execute(spark,
      s"SELECT k, amount FROM $name WHERE k <= 3 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // DSv2 catalog read of the SAME mapped table (V1Scan fallback)
    org.apache.spark.sql.graft.GraftCatalog.register(
      spark, "cmdb", "t", root)
    val viaSql = spark.sql(
      "SELECT k, amount FROM graft.cmdb.t WHERE k <= 3 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == got, "catalog SQL must serve the mapped view")
    assert(spark.sql("SELECT * FROM graft.cmdb.t").columns.toSeq ==
      Seq("k", "amount"))
    // catalog-side ALTER verbs route to the same engine commits
    spark.sql("ALTER TABLE graft.cmdb.t RENAME COLUMN amount TO price")
    assert(spark.sql("SELECT sum(price) FROM graft.cmdb.t")
      .head().getLong(0) == (1 to 40).map(_ * 10L).sum)
    spark.sql("ALTER TABLE graft.cmdb.t ADD COLUMNS (note STRING)")
    spark.sql("ALTER TABLE graft.cmdb.t DROP COLUMN note")
    assert(spark.sql("SELECT * FROM graft.cmdb.t").columns.toSeq ==
      Seq("k", "price"))
    // INSERT through the catalog onto the mapped table
    spark.sql("INSERT INTO graft.cmdb.t VALUES (99, 990)")
    assert(spark.sql(
      "SELECT price FROM graft.cmdb.t WHERE k = 99").head().getLong(0) == 990L)
  }

  test("feature interaction: a rename chain (v->amount->price) keeps " +
    "ONE physical slot; general MERGE with BY SOURCE clauses and " +
    "compaction work on the mapped table") {
    import spark.implicits._
    import VersionedTable.MergeClause.{DeleteBySource, Insert, Update}
    val root = freshTable() // k 1..6, s, v — two range files
    VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    VersionedTable.alterRenameColumn(spark, root, "amount", "price")
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "s", "price"))
    assert(now.agg(sum(col("price"))).head().getLong(0) == 210L,
      "a rename chain must keep serving the one physical slot")
    // full-sync mirror THROUGH the mapping: matched update (SET * with
    // logical names), insert, by-source delete — one commit
    val snap = Seq((2L, "B", 200L), (9L, "i", 90L))
      .toDF("k", "s", "price")
    VersionedTable.mergeActions(spark, root, snap, Seq("k"), Seq(
      Update(None, Map.empty),
      Insert(None, Map.empty),
      DeleteBySource(None)))
    val st = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(st == Map(2L -> ("B", 200L), 9L -> ("i", 90L)),
      s"mirror through the mapping, got $st")
    // the rewritten files stage under the ORIGINAL physical name
    val latest = VersionedTable.latestVersion(root).get
    val cols = spark.read.parquet(
      VersionedTable.listingPaths(root, latest): _*).columns.toSet
    assert(cols.contains("v") && !cols.contains("price"),
      s"merge restage must keep the physical slot, staged $cols")
    // compaction over the mapped table preserves the logical view
    VersionedTable.append(Seq((10L, "j", 100L)).toDF("k", "s", "price"), root)
    VersionedTable.compact(spark, root, targetBytes = 1L << 30)
    val after = VersionedTable.read(spark, root)
    assert(after.columns.toSeq == Seq("k", "s", "price"))
    assert(after.agg(sum(col("price"))).head().getLong(0) == 390L)
    // time travel across the chain: v0 has "v", v1 has "amount"
    assert(VersionedTable.readVersion(spark, root, 0L)
      .columns.toSeq == Seq("k", "s", "v"))
    assert(VersionedTable.readVersion(spark, root, 1L)
      .columns.toSeq == Seq("k", "s", "amount"))
  }

  test("streaming a mapped table serves the logical view per batch") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    VersionedTable.alterRenameColumn(spark, root, "v", "amount")
    VersionedTable.append(Seq((3L, 30L)).toDF("k", "amount"), root)
    val out = Files.createTempDirectory("graft_cm_sink").toString
    val q = VersionedTable.scanStream(spark, root)
      .writeStream.format("parquet")
      .option("path", out + "/data")
      .option("checkpointLocation", out + "/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out + "/data")
    assert(got.columns.toSeq == Seq("k", "amount"))
    assert(got.agg(sum(col("amount"))).head().getLong(0) == 60L,
      "renamed physical data must stream under the logical name")
  }
}
