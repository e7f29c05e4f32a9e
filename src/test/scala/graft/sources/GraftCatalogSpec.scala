package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftCatalog

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** GraftCatalog — the DSv2 TableCatalog (read path): `spark.sql` plans
  * `graft.db.t` natively with the manifest-pruning index underneath,
  * including Spark's own VERSION AS OF / TIMESTAMP AS OF syntax. */
class GraftCatalogSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_catalog").resolve("t").toString

  /** Data files the DSv2 scan actually planned (post-execution, AQE
    * unwrapped) — the prune measure for the catalog path. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    aqe.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length.toLong
          case _ => 0L
        }.sum
    }.sum
  }

  test("SELECT over graft.db.t plans natively; ordinary WHERE prunes " +
    "files through the manifest index on the DSv2 path") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 600L).map(i => (i, s"s${i % 3}", i * 2L))
      .toDF("k", "tag", "v").repartitionByRange(6, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    GraftCatalog.register(spark, "db", "t", root)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t")
      .head().getLong(0) == 600L)
    val all = spark.sql("SELECT k FROM graft.db.t")
    assert(plannedFiles(all) == 6L)
    val sliced = spark.sql("SELECT k, v FROM graft.db.t WHERE k < 100")
    assert(sliced.count() == 100L)
    assert(plannedFiles(sliced) < 6L,
      "the DSv2 scan must prune files from the manifest stats")
    // an unregistered name is a clean catalog miss
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.nosuch").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("time travel through Spark's own syntax: VERSION AS OF and " +
    "TIMESTAMP AS OF read pinned snapshots") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      (0L until 100L).map(i => (i, i * 2L)).toDF("k", "v"),
      root, Write.stats("k"))
    VersionedTable.append(
      (100L until 150L).map(i => (i, i * 2L)).toDF("k", "v"),
      root, Write.stats("k"))
    GraftCatalog.register(spark, "db", "tt", root)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.tt")
      .head().getLong(0) == 150L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.tt VERSION AS OF 0")
      .head().getLong(0) == 100L)
    // two pinned versions in ONE statement
    val both = spark.sql(
      """SELECT count(*) AS n FROM (
           SELECT k FROM graft.db.tt VERSION AS OF 0
           UNION ALL
           SELECT k FROM graft.db.tt VERSION AS OF 1)""")
    assert(both.head().getLong(0) == 250L)
    // TIMESTAMP AS OF: a future timestamp resolves to the latest
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.tt TIMESTAMP AS OF '2100-01-01'")
      .head().getLong(0) == 150L)
    // a missing version is refused loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.tt VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no version"))
  }

  test("write path: CREATE TABLE makes an empty readable version 0; " +
    "INSERT INTO appends atomic versions; INSERT OVERWRITE replaces; " +
    "time travel sees every state") {
    import spark.implicits._
    val root = tmpRoot()
    GraftCatalog.install(spark)
    spark.sql(
      s"CREATE TABLE graft.db.wt (k BIGINT, s STRING) LOCATION '$root'")
    // CREATE TABLE = an empty, readable version 0
    assert(spark.sql("SELECT * FROM graft.db.wt").count() == 0L)
    assert(spark.sql("SELECT * FROM graft.db.wt").schema.fieldNames.toSeq ==
      Seq("k", "s"))
    spark.sql("INSERT INTO graft.db.wt VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.wt SELECT k + 10, s FROM graft.db.wt")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.wt")
      .head().getLong(0) == 4L)
    spark.sql("INSERT OVERWRITE graft.db.wt VALUES (99, 'z')")
    assert(spark.sql("SELECT k FROM graft.db.wt").collect()
      .map(_.getLong(0)).toSeq == Seq(99L))
    // every write was one atomic version; history time-travels
    assert(VersionedTable.versions(root) == Seq(0L, 1L, 2L, 3L))
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.wt VERSION AS OF 2")
      .head().getLong(0) == 4L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.wt VERSION AS OF 0")
      .head().getLong(0) == 0L)
    // the Scala API reads the same table (one format, two surfaces)
    assert(VersionedTable.read(spark, root).count() == 1L)
    // a full-table DELETE through the engine leaves an empty,
    // still-readable latest version
    VersionedTable.delete(spark, root, org.apache.spark.sql.functions.lit(true))
    assert(spark.sql("SELECT * FROM graft.db.wt").count() == 0L)
    // DROP removes the name, not the data
    spark.sql("DROP TABLE graft.db.wt")
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.wt").collect()
    }
    assert(VersionedTable.versions(root).nonEmpty)
  }

  test("write path: partitioned CREATE TABLE lands Hive-layout inserts " +
    "whose partition predicate prunes directories") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    GraftCatalog.install(spark)
    // partition columns surface LAST in the read/write schema (the
    // Spark partitionBy convention) — CREATE requires the declaration
    // to match, so positional INSERTs can never silently mis-map
    val mis = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE graft.db.wpt (k BIGINT, part STRING, v BIGINT)
            PARTITIONED BY (part) LOCATION '$root'""")
    }
    assert(mis.getMessage.contains("declared LAST"))
    spark.sql(
      s"""CREATE TABLE graft.db.wpt (k BIGINT, v BIGINT, part STRING)
          PARTITIONED BY (part) LOCATION '$root'""")
    spark.sql(
      """INSERT INTO graft.db.wpt
         SELECT id AS k, id * 2 AS v,
                concat('p', CAST(id % 3 AS STRING)) AS part
         FROM range(300)""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.wpt")
      .head().getLong(0) == 300L)
    val one = spark.sql(
      "SELECT k, part FROM graft.db.wpt WHERE part = 'p1'")
    assert(one.count() == 100L)
    assert(one.collect().forall(_.getString(1) == "p1"))
    // the directory layout is real: the Scala scan prunes partitions
    val scans = VersionedTable.scan(spark, root)
      .filter(col("part") === "p1")
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.head.selectedPartitions.partitionCount == 1)
  }

  test("partitioned tables serve their path-derived partition columns " +
    "through the catalog; MOR-pending tables refuse a raw latest read") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 400L).map(i => (i, s"p${i % 4}", i * 3L))
      .toDF("k", "part", "v").repartitionByRange(2, col("k"))
    VersionedTable.overwrite(rows, root,
      Write(stats = Some(Seq("k")), partitionBy = Seq("part")))
    GraftCatalog.register(spark, "db", "pt", root)
    val one = spark.sql(
      "SELECT k, part FROM graft.db.pt WHERE part = 'p2'")
    assert(one.count() == 100L)
    assert(one.collect().forall(_.getString(1) == "p2"))
    assert(plannedFiles(one) <= 2L,
      "a partition predicate must prune directories on the DSv2 path")
    // MOR safety: pending tombstones refuse the raw latest read
    val root2 = tmpRoot()
    VersionedTable.overwrite((0L until 50L).map(i => (i, i)).toDF("k", "v"), root2,
      Write.stats("k"))
    GraftCatalog.register(spark, "db", "mor", root2)
    Tombstones.deleteMor(spark, root2, Seq(1L, 2L).toDF("k"))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.mor").collect()
    }
    assert(e.getMessage.contains("merge-on-read"))
    // a PINNED read serves raw history by the time-travel contract
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.mor VERSION AS OF 0")
      .head().getLong(0) == 50L)
    // after purge the latest read works and reflects the deletes
    Tombstones.purge(spark, root2)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.mor")
      .head().getLong(0) == 48L)
  }

  test("DELETE FROM graft.db.t WHERE plans natively (SupportsDelete): " +
    "translatable predicates land on the COW delete, untouched files " +
    "carry byte-identical; untranslatable predicates fail loudly") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 600L).map(i => (i, s"s${i % 3}", i * 2L))
      .toDF("k", "tag", "v").repartitionByRange(6, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    GraftCatalog.register(spark, "db", "del", root)
    val before = VersionedTable.read(spark, root)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    spark.sql("DELETE FROM graft.db.del WHERE k < 100 AND tag = 's0'")
    assert(VersionedTable.latestVersion(root).contains(1L),
      "the DELETE must commit exactly one engine version")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.del")
      .head().getLong(0) == 600L - 34L) // k in [0,100) with k%3==0
    val after = VersionedTable.read(spark, root)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    assert((before intersect after).nonEmpty,
      "file-pruned COW: untouched files must survive the delete as-is")
    // IN-list and IS NULL translate too
    spark.sql("DELETE FROM graft.db.del WHERE k IN (500, 501)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.del WHERE k IN (500, 501)")
      .head().getLong(0) == 0L)
    // an arithmetic predicate is not source-translatable: loud error,
    // not a wrong delete (route those through GraftSql)
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.del WHERE k % 2 = 0")
    }
    assert(e.getMessage.toLowerCase.matches(
      "(?s).*(cannot|can't|unable).*delet.*") ||
      e.getMessage.toLowerCase.contains("translat"), e.getMessage)
    // time travel stays intact under native DML
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.del VERSION AS OF 0")
      .head().getLong(0) == 600L)
    // TRUNCATE TABLE rides the same seam (SupportsDelete's inherited
    // truncate): one full-table delete commit, table stays readable
    spark.sql("TRUNCATE TABLE graft.db.del")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.del")
      .head().getLong(0) == 0L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.del VERSION AS OF 0")
      .head().getLong(0) == 600L, "history intact after TRUNCATE")
  }

  test("ALTER TABLE graft.db.t ADD COLUMNS is metadata-only: same " +
    "listing, preserving commit, typed NULLs served; COW rewrites " +
    "carry the declared column forward") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 300L).map(i => (i, i * 2L)).toDF("k", "v")
      .repartitionByRange(3, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    GraftCatalog.register(spark, "db", "alt", root)
    val filesBefore = VersionedTable.scanListing(root, Some(0L))
      .map(_.path).toSet
    spark.sql("ALTER TABLE graft.db.alt ADD COLUMNS (note STRING)")
    assert(VersionedTable.latestVersion(root).contains(1L))
    assert(VersionedTable.scanListing(root, Some(1L)).map(_.path).toSet
      == filesBefore, "ALTER must move zero data files")
    // the new column reads as typed NULL on both surfaces
    val viaCatalog = spark.sql(
      "SELECT note FROM graft.db.alt WHERE k = 5")
    assert(viaCatalog.schema("note").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(viaCatalog.head().isNullAt(0))
    assert(VersionedTable.read(spark, root).schema.fieldNames.toSeq ==
      Seq("k", "v", "note"))
    // a COW rewrite (UPDATE through GraftSql) materializes the column
    GraftSql.register(spark, "gcat_alt", root)
    GraftSql.execute(spark,
      "UPDATE gcat_alt SET note = 'hot' WHERE k < 10")
    val st = VersionedTable.read(spark, root)
    assert(st.filter(col("note") === "hot").count() == 10L)
    assert(st.filter(col("note").isNull).count() == 290L)
    // ... and the declaration SURVIVES the rewrite (footer sweep would
    // have dropped a never-materialized column without the widen rule)
    assert(VersionedTable.read(spark, root).schema.fieldNames
      .contains("note"))
    // duplicate and non-nullable adds are refused
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.alt ADD COLUMNS (note INT)")
    }
    assert(e.getMessage.contains("already exists"))
    val e2 = intercept[Exception] {
      spark.sql(
        "ALTER TABLE graft.db.alt ADD COLUMNS (must INT NOT NULL)")
    }
    assert(e2.getMessage.toLowerCase.contains("nullable"))
    // RENAME COLUMN is now a metadata-only column-mapping commit
    // (ColumnMappingSpec owns the deep coverage); retype stays a loud
    // refusal
    spark.sql("ALTER TABLE graft.db.alt RENAME COLUMN v TO w")
    assert(spark.sql("SELECT * FROM graft.db.alt").columns.contains("w"))
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.alt ALTER COLUMN w TYPE STRING")
    }
    assert(e3.getMessage.contains("ADD/DROP/RENAME COLUMN only") ||
      e3.getMessage.toLowerCase.contains("unsupported"))
  }

  test("ALTER-declared columns survive compaction and a version-offset " +
    "stream rides across the ALTER commit") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite((0L until 100L).map(i => (i, i)).toDF("k", "v"), root,
      Write.stats("k"))
    (1 to 3).foreach { b =>
      VersionedTable.append(
        (0L until 50L).map(i => (b * 1000L + i, i)).toDF("k", "v"),
        root, Write.stats("k"))
    }
    GraftCatalog.register(spark, "db", "altc", root)
    spark.sql("ALTER TABLE graft.db.altc ADD COLUMNS (score DOUBLE)")
    val alterV = VersionedTable.latestVersion(root).get
    // compaction packs the small files and must MATERIALIZE the column
    VersionedTable.compact(spark, root, targetBytes = 64L << 20,
      statsCols = Seq("k"))
    assert(VersionedTable.latestVersion(root).get > alterV)
    val sch = VersionedTable.read(spark, root).schema
    assert(sch.fieldNames.contains("score"),
      "compaction must not drop an ALTER-declared column")
    assert(sch("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // the ALTER commit is data-preserving: the streaming delta across
    // it contributes nothing and does not refuse
    val delta = VersionedTable.scanListingDelta(root, Some(alterV - 1),
      alterV)
    assert(delta.isEmpty, "ALTER adds no files to a streaming range")
  }

  test("atomic CTAS: CREATE TABLE ... AS SELECT lands name + data in " +
    "one staged commit; a FAILED CTAS leaves no table and no root") {
    import spark.implicits._
    val root = tmpRoot() + "_ctas"
    (1L to 50L).map(i => (i, i * 2L)).toDF("k", "v")
      .createOrReplaceTempView("gcat_src")
    GraftCatalog.install(spark)
    spark.sql(s"""CREATE TABLE graft.db.ctas LOCATION '$root' AS
                  SELECT k, v FROM gcat_src WHERE k <= 40""")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas")
      .head().getLong(0) == 40L)
    assert(VersionedTable.read(spark, root).count() == 40L)
    // a failing CTAS (the query throws mid-write) aborts: no name, no
    // half-written root left behind
    val badRoot = tmpRoot() + "_ctas_bad"
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE graft.db.ctasbad LOCATION '$badRoot' AS
                    SELECT k, CAST(assert_true(k < 10, 'boom') AS STRING)
                      AS x FROM gcat_src""")
    }
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.ctasbad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
    assert(!new java.io.File(badRoot).exists(),
      "an aborted CTAS must delete its staged root")
    // the staging guard: a non-empty LOCATION is refused up front
    // (abort-cleanup must never eat user files)
    val occupied = tmpRoot() + "_occ"
    new java.io.File(occupied).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(occupied, "keep.txt").toPath, "x".getBytes)
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE graft.db.ctasocc LOCATION '$occupied'
                    AS SELECT 1 AS k""")
    }
    assert(new java.io.File(occupied, "keep.txt").exists())
  }

  test("atomic RTAS: CREATE OR REPLACE TABLE overwrites into the SAME " +
    "root (history time-travels); a FAILED replace restores the old " +
    "table") {
    import spark.implicits._
    val root = tmpRoot() + "_rtas"
    (1L to 20L).map(i => (i, s"old$i")).toDF("k", "s")
      .createOrReplaceTempView("gcat_src2")
    GraftCatalog.install(spark)
    spark.sql(s"""CREATE TABLE graft.db.rtas LOCATION '$root' AS
                  SELECT k, s FROM gcat_src2""")
    val preV = VersionedTable.latestVersion(root).get
    // replace with a DIFFERENT schema
    spark.sql("""CREATE OR REPLACE TABLE graft.db.rtas AS
                 SELECT k * 10 AS id, length(s) AS n FROM gcat_src2
                 WHERE k <= 5""")
    assert(spark.sql("SELECT * FROM graft.db.rtas").columns.toSeq ==
      Seq("id", "n"))
    assert(spark.sql("SELECT count(*) FROM graft.db.rtas")
      .head().getLong(0) == 5L)
    // the pre-replace table time-travels (same root, same history)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.rtas VERSION AS OF $preV")
      .head().getLong(0) == 20L)
    // a failing replace aborts → RESTORE: the old content still serves
    val goodV = VersionedTable.latestVersion(root).get
    intercept[Exception] {
      spark.sql("""CREATE OR REPLACE TABLE graft.db.rtas AS
                   SELECT CAST(assert_true(id < 10, 'boom') AS STRING)
                     AS x, id FROM graft.db.rtas""")
    }
    assert(spark.sql("SELECT * FROM graft.db.rtas").columns.toSeq ==
      Seq("id", "n"),
      "a failed RTAS must leave the previous table intact")
    assert(spark.sql("SELECT count(*) FROM graft.db.rtas")
      .head().getLong(0) == 5L)
    assert(VersionedTable.latestVersion(root).get >= goodV)
    // bare REPLACE TABLE of a missing name is a clean miss
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.db.rtas_missing AS SELECT 1 AS k")
    }
  }

  test("partitioned INSERT records default stats on the non-partition " +
    "columns: a filter on one prunes files inside each partition") {
    val root = tmpRoot()
    GraftCatalog.install(spark)
    spark.sql(
      s"""CREATE TABLE graft.db.wps (k BIGINT, v BIGINT, part STRING)
          PARTITIONED BY (part) LOCATION '$root'""")
    // three insert tasks: each partition gets three files whose k
    // ranges are disjoint
    spark.sql(
      """INSERT INTO graft.db.wps
         SELECT id AS k, id * 2 AS v,
                concat('p', CAST(id % 3 AS STRING)) AS part
         FROM range(0, 300, 1, 3)""")
    val total = VersionedTable.fileCount(root)
    assert(total == 9)
    assert(VersionedTable.statsRange(root, "k").contains((0L, 299L)))
    val q = VersionedTable.scan(spark, root).filter(col("k") < 50L)
    assert(q.count() == 50L)
    assert(org.apache.spark.sql.graft.GraftScan.filesRead(q) == 3L,
      "the k stats must prune two of three files in every partition")
  }

  test("a catalog INSERT through a file: URI location leaves no " +
    "cwd/file: directory") {
    val root = tmpRoot()
    val uri = new java.io.File(root).toURI.toString
    assert(uri.startsWith("file:"))
    GraftCatalog.install(spark)
    spark.sql(s"CREATE TABLE graft.db.uri (k BIGINT) LOCATION '$uri'")
    spark.sql("INSERT INTO graft.db.uri VALUES (1), (2)")
    assert(VersionedTable.read(spark, root).count() == 2L)
    val stray = new java.io.File(System.getProperty("user.dir"),
      "file:" + new java.io.File(root).getPath)
    assert(!stray.exists(), s"the location leaked into $stray")
    spark.sql("DROP TABLE graft.db.uri")
  }

  test("two catalogs binding the same db.t hold separate entries: " +
    "CREATE in one, DROP in one, the other keeps its root") {
    import spark.implicits._
    val (rootA, rootB) = (tmpRoot(), tmpRoot())
    VersionedTable.overwrite(Seq(1L, 2L).toDF("k"), rootA)
    GraftCatalog.register(spark, "twocat", "t", rootA)
    GraftCatalog.install(spark, "graft2")
    spark.sql(s"CREATE TABLE graft2.twocat.t (k BIGINT) LOCATION '$rootB'")
    spark.sql("INSERT INTO graft2.twocat.t VALUES (7)")
    def ks(t: String) =
      spark.sql(s"SELECT k FROM $t").as[Long].collect().sorted.toSeq
    assert(ks("graft.twocat.t") == Seq(1L, 2L))
    assert(ks("graft2.twocat.t") == Seq(7L))
    spark.sql("DROP TABLE graft2.twocat.t")
    assert(ks("graft.twocat.t") == Seq(1L, 2L))
    intercept[org.apache.spark.sql.AnalysisException](ks("graft2.twocat.t"))
    GraftCatalog.unregister("twocat", "t")
  }
}
