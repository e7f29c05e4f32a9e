package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** GraftSql — the SQL DML router: INSERT/DELETE/UPDATE/MERGE text hits
  * the SAME engine paths as the Scala API (file-pruned COW, atomic
  * manifest commits), and SELECT passthrough reads committed DML
  * immediately. */
class GraftSqlSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_sql").resolve("t").toString

  private def freshTable(): (String, String) = {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gsql_${math.abs(root.hashCode)}"
    VersionedTable.overwrite(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "s", "v"), root)
    GraftSql.register(spark, name, root)
    (name, root)
  }

  test("INSERT INTO ... VALUES and ... SELECT append-commit; SELECT " +
    "passthrough sees the new rows") {
    val (name, root) = freshTable()
    val r1 = GraftSql.execute(spark,
      s"INSERT INTO $name VALUES (4, 'd', 40), (5, 'e', 50)").head()
    assert(r1.getString(0) == "INSERT" && r1.getLong(3) == 2L)
    val r2 = GraftSql.execute(spark,
      s"INSERT INTO $name SELECT k + 100, s, v FROM $name WHERE k = 1")
    assert(r2.head().getLong(3) == 1L)
    assert(GraftSql.execute(spark, s"SELECT count(*) AS n FROM $name")
      .head().getLong(0) == 6L)
    // the inserted rows were cast to the table schema positionally
    assert(VersionedTable.read(spark, root).schema ==
      VersionedTable.readVersion(spark, root, 0L).schema)
  }

  test("DELETE FROM ... WHERE routes to the file-pruned COW delete") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gsqld_${math.abs(root.hashCode)}"
    // one file per batch so the pruning boundary is observable
    VersionedTable.overwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), root)
    VersionedTable.append(
      Seq((10L, "x"), (11L, "y")).toDF("k", "s").coalesce(1), root)
    val untouched = new java.io.File(root, "data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.head
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark, s"DELETE FROM $name WHERE k >= 10")
    // the untouched file survives in the new manifest (file-pruned COW,
    // the same machinery as the API path)
    assert(VersionedTable.read(spark, root).inputFiles
      .exists(_.endsWith(untouched)))
    assert(GraftSql.execute(spark, s"SELECT k FROM $name ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("UPDATE ... SET with and without WHERE; SET sees pre-update " +
    "columns; same answer as the API path") {
    val (name, root) = freshTable()
    GraftSql.execute(spark,
      s"UPDATE $name SET v = v * 2, s = concat(s, '!') WHERE k <= 2")
    val got = VersionedTable.read(spark, root)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2))).toSeq
    assert(got == Seq((1L, "a!", 20L), (2L, "b!", 40L), (3L, "c", 30L)))
    // no WHERE = all rows
    GraftSql.execute(spark, s"UPDATE $name SET v = 0")
    assert(VersionedTable.read(spark, root)
      .agg(sum(col("v"))).head().getLong(0) == 0L)
  }

  test("MERGE INTO ... USING upserts by the ON keys; subquery sources; " +
    "non-upsert MERGE shapes are rejected") {
    import spark.implicits._
    val (name, root) = freshTable()
    Seq((2L, "B", 222L), (9L, "i", 90L)).toDF("k", "s", "v")
      .createOrReplaceTempView("gsql_src")
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING gsql_src AS s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val got = VersionedTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a", 10L), (2L, "B", 222L),
      (3L, "c", 30L), (9L, "i", 90L)))
    // a subquery source
    GraftSql.execute(spark,
      s"""MERGE INTO $name USING (SELECT 3 AS k, 'C' AS s, 333 AS v)
          ON k = k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 3L).head().getString(1) == "C")
    // a non-equality ON is not keyed-upsert semantics → clear error
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""MERGE INTO $name USING gsql_src ON $name.k >= gsql_src.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("equality"))
  }

  test("MERGE USING a subquery containing JOIN ... ON parses whole " +
    "(paren-aware), and INSERT tolerates a trailing semicolon") {
    import spark.implicits._
    val (name, root) = freshTable()
    Seq((2L, "up")).toDF("k", "tag").createOrReplaceTempView("gsql_j1")
    Seq((2L, 999L)).toDF("k", "nv").createOrReplaceTempView("gsql_j2")
    GraftSql.execute(spark,
      s"""MERGE INTO $name USING
          (SELECT a.k, a.tag AS s, b.nv AS v
           FROM gsql_j1 a JOIN gsql_j2 b ON a.k = b.k)
          ON k = k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 2L).head().getLong(2) == 999L)
    GraftSql.execute(spark, s"INSERT INTO $name VALUES (50, 'z', 5);")
    assert(VersionedTable.read(spark, root).count() == 4L)
  }

  test("unregister drops a table; a vanished registered root never " +
    "fails an unrelated statement") {
    import spark.implicits._
    val (name, _) = freshTable()
    // a second registered table whose root disappears (finished job)
    val deadRoot = tmpRoot()
    VersionedTable.overwrite(Seq((1L, "x")).toDF("k", "s"), deadRoot)
    GraftSql.register(spark, "gsql_dead", deadRoot)
    Lake.deleteRecursively(new java.io.File(deadRoot))
    // statements over OTHER tables keep working
    assert(GraftSql.execute(spark,
      s"SELECT count(*) AS n FROM $name").head().getLong(0) == 3L)
    GraftSql.execute(spark, s"DELETE FROM $name WHERE k = 1")
    // unregister: the name is refused afterwards
    GraftSql.unregister("gsql_dead")
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "DELETE FROM gsql_dead WHERE k = 1")
    }
    assert(e.getMessage.contains("not registered"))
  }

  test("INSERT with an explicit column list: listed columns map " +
    "positionally, unlisted columns take NULL") {
    val (name, root) = freshTable()
    GraftSql.execute(spark, s"INSERT INTO $name (v, k) VALUES (70, 7)")
    val got = VersionedTable.read(spark, root).filter(col("k") === 7L).head()
    assert(got.getLong(2) == 70L && got.isNullAt(1),
      "listed columns map by position; the unlisted column reads NULL")
    // a column not in the table is refused loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"INSERT INTO $name (k, nope) VALUES (1, 2)")
    }
    assert(e.getMessage.contains("not in table"))
    // arity mismatch against the LIST is refused
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"INSERT INTO $name (k) VALUES (1, 2)")
    }
    assert(e2.getMessage.contains("column count"))
  }

  test("DELETE FROM t without WHERE is the explicit full-table delete") {
    val (name, root) = freshTable()
    GraftSql.execute(spark, s"DELETE FROM $name")
    assert(VersionedTable.read(spark, root).count() == 0L)
    // time travel still serves the pre-delete snapshot
    assert(VersionedTable.readVersion(spark, root, 0L).count() == 3L)
  }

  test("quote-aware clause boundaries: ' WHERE '/' AND '/'=' inside " +
    "string literals never split UPDATE or MERGE statements") {
    val (name, root) = freshTable()
    // a SET expression whose string literal contains ' WHERE ' — the
    // old regex split there and produced a misleading parse error
    GraftSql.execute(spark,
      s"UPDATE $name SET s = ' WHERE x AND y = z ' WHERE k = 1")
    val got = VersionedTable.read(spark, root)
      .filter(col("k") === 1L).head().getString(1)
    assert(got == " WHERE x AND y = z ")
    // the other rows are untouched (the WHERE bound at the right spot)
    assert(VersionedTable.read(spark, root)
      .filter(col("s") === "b").count() == 1L)
    // a subquery MERGE source whose literal contains ' ON ' and ' WHEN '
    GraftSql.execute(spark,
      s"""MERGE INTO $name USING
          (SELECT 77 AS k, ' ON WHEN MATCHED ' AS s, 7 AS v)
          ON k = k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 77L).head().getString(1) == " ON WHEN MATCHED ")
  }

  test("INSERT and MERGE evaluate their source exactly ONCE: the " +
    "reported count is the rows the commit actually saw") {
    import spark.implicits._
    val (name, root) = freshTable()
    GraftSqlSpec.ticks.set(0L)
    spark.udf.register("gsql_tick",
      udf((k: Long) => { GraftSqlSpec.ticks.incrementAndGet(); k })
        .asNondeterministic())
    Seq((101L, "x", 1L), (102L, "y", 2L), (103L, "z", 3L))
      .toDF("k", "s", "v").createOrReplaceTempView("gsql_nd")
    // MERGE: 3 unseen keys → 3 inserts; the tick fires once per row
    val r = GraftSql.execute(spark,
      s"""MERGE INTO $name USING
          (SELECT gsql_tick(k) AS k, s, v FROM gsql_nd)
          ON k = k
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").head()
    assert(r.getLong(3) == 3L)
    assert(GraftSqlSpec.ticks.get() == 3L,
      s"MERGE source must be evaluated exactly once, " +
        s"ticked ${GraftSqlSpec.ticks.get()}")
    assert(VersionedTable.read(spark, root).count() == 6L)
    // INSERT: same contract (the round-11 fix, pinned here as the twin)
    GraftSqlSpec.ticks.set(0L)
    val r2 = GraftSql.execute(spark,
      s"INSERT INTO $name SELECT gsql_tick(k + 200), s, v FROM gsql_nd")
    assert(r2.head().getLong(3) == 3L)
    assert(GraftSqlSpec.ticks.get() == 3L,
      "INSERT source must be evaluated exactly once")
  }

  test("general MERGE: conditional UPDATE/DELETE/INSERT clauses, " +
    "first-true precedence, explicit SET and INSERT lists") {
    import spark.implicits._
    val (name, root) = freshTable() // (1,a,10) (2,b,20) (3,c,30)
    Seq((1L, 5L), (2L, 999L), (7L, 70L), (8L, 81L))
      .toDF("k", "nv").createOrReplaceTempView("gsql_ga")
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING gsql_ga AS s ON t.k = s.k
          WHEN MATCHED AND s.nv > 100 THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = t.v + s.nv
          WHEN NOT MATCHED AND s.nv % 2 = 0 THEN
            INSERT (k, v) VALUES (s.k, s.nv * 10)""")
    val got = VersionedTable.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, Some("a"), 15L),  // conditional update fell through to SET
      (3L, Some("c"), 30L),  // unmatched target row carries
      (7L, None, 700L)))     // insert list: s NULL, v computed; 8 odd→no
  }

  test("general MERGE: string literals containing WHEN/THEN/AND do " +
    "not split clauses; bad action shapes get clear errors") {
    import spark.implicits._
    val (name, root) = freshTable()
    Seq((2L, "x")).toDF("k", "tag").createOrReplaceTempView("gsql_gb")
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING gsql_gb AS s ON t.k = s.k
          WHEN MATCHED AND s.tag != ' WHEN MATCHED THEN ' THEN
            UPDATE SET s = concat(t.s, ' AND THEN ')
          WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 2L).head().getString(1) == "b AND THEN ")
    // target-qualified SET columns normalize to bare names (SQL MERGE
    // allows `SET t.v = ...`); a source-qualified target is rejected
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING gsql_gb AS s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET t.v = t.v + 100
          WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 2L).head().getLong(2) == 120L)
    val eq = intercept[RuntimeException] {
      GraftSql.execute(spark,
        s"""MERGE INTO $name AS t USING gsql_gb AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET s.tag = 'no'""")
    }
    assert(eq.getMessage.contains("must be a target column"))
    // a CASE WHEN ... THEN ... END inside SET must not split the
    // clause at the CASE's own WHEN/THEN (CASE-aware keyword scan)
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING gsql_gb AS s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET
            v = CASE WHEN s.tag = 'x' THEN t.v + 1 ELSE t.v END
          WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 2L).head().getLong(2) == 121L) // 20+100, +1
    // UPDATE under NOT MATCHED is not SQL MERGE
    val e = intercept[RuntimeException] {
      GraftSql.execute(spark,
        s"""MERGE INTO $name USING gsql_gb ON k = k
            WHEN NOT MATCHED THEN UPDATE SET *""")
    }
    assert(e.getMessage.contains("unsupported MERGE action"))
    // a subquery source with clauses needs an alias to reference
    val e2 = intercept[RuntimeException] {
      GraftSql.execute(spark,
        s"""MERGE INTO $name USING (SELECT 9 AS k) ON k = k
            WHEN MATCHED THEN DELETE""")
    }
    assert(e2.getMessage.contains("needs an alias"))
  }

  test("maintenance verbs: OPTIMIZE bin-packs, OPTIMIZE ZORDER BY " +
    "re-lays, VACUUM RETAIN reclaims outside the horizon, DESCRIBE " +
    "HISTORY is one metadata row per commit") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gmx_${math.abs(root.hashCode)}"
    VersionedTable.overwrite(
      (0L until 200L).map(i => (i, i * 2L)).toDF("k", "v"),
      root, Write.stats("k"))
    (1 to 3).foreach(b => VersionedTable.append(
      (0L until 100L).map(i => (b * 1000L + i, i)).toDF("k", "v"),
      root, Write.stats("k")))
    GraftSql.register(spark, name, root)
    val h0 = GraftSql.execute(spark, s"DESCRIBE HISTORY $name").collect()
    assert(h0.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(h0.last.getLong(2) == 500L, "rows folded from manifests")
    val before = VersionedTable.scanListing(root, Some(3L)).size
    GraftSql.execute(spark, s"OPTIMIZE $name")
    val afterV = VersionedTable.latestVersion(root).get
    assert(afterV == 4L &&
      VersionedTable.scanListing(root, Some(afterV)).size < before)
    assert(VersionedTable.read(spark, root).count() == 500L)
    GraftSql.execute(spark, s"OPTIMIZE $name ZORDER BY (k, v)")
    assert(VersionedTable.read(spark, root).count() == 500L)
    // VACUUM RETAIN 0 HOURS: only the latest survives; reads intact
    val r = GraftSql.execute(spark, s"VACUUM $name RETAIN 0 HOURS").head()
    assert(r.getString(0) == "VACUUM")
    assert(VersionedTable.versions(root).size == 1)
    assert(VersionedTable.read(spark, root).count() == 500L)
  }

  test("RESTORE TABLE rolls forward to an old file set; SHALLOW CLONE " +
    "creates a zero-copy registered table, optionally version-pinned") {
    import spark.implicits._
    val (name, root) = freshTable() // v0: (1,a,10) (2,b,20) (3,c,30)
    GraftSql.execute(spark, s"DELETE FROM $name WHERE k = 2") // v1
    assert(VersionedTable.read(spark, root).count() == 2L)
    val r = GraftSql.execute(spark,
      s"RESTORE TABLE $name TO VERSION AS OF 0").head()
    assert(r.getString(0) == "RESTORE" && r.getLong(2) == 2L)
    assert(VersionedTable.read(spark, root).count() == 3L,
      "restore must resurrect the v0 rows as a NEW version")
    // pinned shallow clone of v1 (the post-delete state), zero copy
    val cloneLoc = tmpRoot()
    val c = GraftSql.execute(spark,
      s"""CREATE TABLE ${name}_c SHALLOW CLONE $name VERSION AS OF 1
          LOCATION '$cloneLoc'""").head()
    assert(c.getString(0) == "CLONE")
    assert(GraftSql.execute(spark,
      s"SELECT count(*) AS n FROM ${name}_c").head().getLong(0) == 2L)
    // the clone references the SOURCE's files by path — no data copied
    val cloneFiles = VersionedTable.scanListing(cloneLoc, Some(0L))
    assert(cloneFiles.forall(_.path.startsWith(
      root.stripSuffix("/"))), "clone v0 must point at source files")
    // writes to the clone never touch the source
    GraftSql.execute(spark, s"INSERT INTO ${name}_c VALUES (9, 'z', 90)")
    assert(VersionedTable.read(spark, root).count() == 3L)
    GraftSql.unregister(s"${name}_c")
  }

  test("DML commits are the table format's atomic versions: history " +
    "advances once per statement, time travel intact") {
    val (name, root) = freshTable()
    val v0 = VersionedTable.latestVersion(root).get
    GraftSql.execute(spark, s"INSERT INTO $name VALUES (7, 'g', 70)")
    GraftSql.execute(spark, s"DELETE FROM $name WHERE k = 1")
    GraftSql.execute(spark, s"UPDATE $name SET v = -1 WHERE k = 7")
    assert(VersionedTable.latestVersion(root).get == v0 + 3)
    assert(VersionedTable.readVersion(spark, root, v0).count() == 3L)
    // unregistered tables are refused, never guessed
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "DELETE FROM nosuch WHERE k = 1")
    }
    assert(e.getMessage.contains("not registered"))
  }

  test("metadata listings: SHOW TABLES, DESCRIBE TABLE, SHOW " +
    "PARTITIONS answer from registry/sidecars/manifest paths; the " +
    "catalog serves SHOW TABLES IN / SHOW PARTITIONS natively") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gmeta_${math.abs(root.hashCode)}"
    VersionedTable.overwrite(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"))
        .toDF("k", "v", "tag"),
      root, Write(stats = Some(Seq.empty), partitionBy = Seq("tag")))
    GraftSql.register(spark, name, root)
    // SHOW TABLES lists the registered name with its location+version
    val st = GraftSql.execute(spark, "SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(st.exists(t => t._1 == name && t._2 == root && t._3 == 0L))
    // DESCRIBE TABLE: schema rows with partition role, zero file opens
    val de = GraftSql.execute(spark, s"DESCRIBE TABLE $name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
    assert(de.toSeq == Seq(("k", "bigint", false), ("v", "bigint", false),
      ("tag", "string", true)))
    // bare DESCRIBE works too; DESCRIBE HISTORY still routes to history
    assert(GraftSql.execute(spark, s"DESCRIBE $name").count() == 3L)
    assert(GraftSql.execute(spark, s"DESCRIBE HISTORY $name")
      .columns.contains("commit_time"))
    // SHOW PARTITIONS: distinct manifest-path values, sorted
    val sp = GraftSql.execute(spark, s"SHOW PARTITIONS $name")
      .collect().map(_.getString(0)).toSeq
    assert(sp == Seq("tag=a", "tag=b"))
    val eFlat = intercept[IllegalArgumentException] {
      val flat = tmpRoot()
      VersionedTable.overwrite(Seq((1L, 2L)).toDF("k", "v"), flat)
      GraftSql.register(spark, name + "_f", flat)
      GraftSql.execute(spark, s"SHOW PARTITIONS ${name}_f")
    }
    assert(eFlat.getMessage.contains("not partitioned"))
    // the CATALOG surface: SHOW TABLES IN graft.<db> and native
    // SHOW PARTITIONS through SupportsNamespaces/PartitionManagement
    org.apache.spark.sql.graft.GraftCatalog.register(
      spark, "meta", "t", root)
    val cst = spark.sql("SHOW TABLES IN graft.meta").collect()
      .map(_.getString(1))
    assert(cst.contains("t"))
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("meta"))
    val csp = spark.sql("SHOW PARTITIONS graft.meta.t").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(csp == Seq("tag=a", "tag=b"))
    assert(spark.sql("DESCRIBE TABLE graft.meta.t").collect()
      .map(_.getString(0)).contains("tag"))
    // a partition-clause filter narrows the native listing
    val one = spark.sql(
      "SHOW PARTITIONS graft.meta.t PARTITION (tag = 'a')").collect()
    assert(one.map(_.getString(0)).toSeq == Seq("tag=a"))
    // DESCRIBE DETAIL: one manifest-only row of table facts
    val det = GraftSql.execute(spark, s"DESCRIBE DETAIL $name")
      .collect().head
    assert(det.getAs[String]("format") == "graft")
    assert(det.getAs[String]("location") == root)
    assert(det.getAs[Long]("version") == 0L)
    assert(det.getAs[Long]("num_rows") == 3L)
    assert(det.getAs[Long]("num_files") > 0L)
    assert(det.getAs[Long]("size_bytes") > 0L)
    assert(det.getAs[String]("partition_columns") == "tag")
    assert(det.getAs[Long]("num_constraints") == 0L)
  }
}

object GraftSqlSpec {
  /** Evaluation counter for the evaluate-once contract tests. */
  val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
}
