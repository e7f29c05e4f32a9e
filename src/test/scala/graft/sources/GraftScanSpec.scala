package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** VersionedTable.scan — the Catalyst-integrated FileIndex: ordinary
  * filters (DataFrame or SQL) prune files at plan time against the
  * manifest's numeric AND string stats; the manifest's byte total
  * feeds the auto-broadcast decision. */
class GraftScanSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_scan_spec").resolve("t").toString

  private def mkTable(): String = {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 600L).map { i =>
      (i, f"2024-${i % 6 + 1}%02d-10", s"s${i % 7}", i.toDouble)
    }.toDF("k", "day", "tag", "v")
      .repartitionByRange(6, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k", "day"))
    root
  }

  private def openedFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  /** Files the FileIndex actually SELECTED at plan time — unlike
    * [[openedFiles]] (distinct input_file_name over surviving rows),
    * this cannot be satisfied vacuously by parquet row-group filtering
    * when the data is clustered, so it is the honest prune measure. */
  private def selectedFiles(df: org.apache.spark.sql.DataFrame): Long =
    org.apache.spark.sql.graft.GraftScan.filesRead(df)

  test("plan-time pruning: DataFrame filters on numeric and string " +
    "stats open only intersecting files; answers match readWhere") {
    val root = mkTable()
    val total = openedFiles(VersionedTable.scan(spark, root))
    assert(total == 6L)
    // numeric range through an ORDINARY filter
    val num = VersionedTable.scan(spark, root)
      .filter(col("k") >= 100L && col("k") <= 199L)
    assert(openedFiles(num) < total, "numeric filter must prune files")
    assert(num.count() ==
      VersionedTable.scan(spark, root)
        .filter(col("k").between(100L, 199L)).count())
    // string range (day is clustered incidentally by k; still prunes
    // when the band structure allows — correctness is the hard assert)
    val str = VersionedTable.scan(spark, root)
      .filter(col("day") === "2024-03-10")
    assert(str.count() == 100L)
    // a filter on a stats-less column cannot prune but stays correct
    val nop = VersionedTable.scan(spark, root).filter(col("tag") === "s3")
    assert(openedFiles(nop) == total)
    assert(nop.count() ==
      VersionedTable.read(spark, root).filter(col("tag") === "s3").count())
  }

  test("schema is cached per version in a sidecar: later scans skip " +
    "the footer sweep; a lost cache re-infers") {
    val root = mkTable()
    val df1 = VersionedTable.scan(spark, root)
    val v = VersionedTable.latestVersion(root).get
    val sidecar = new java.io.File(root, s"_schema.v$v.json")
    assert(sidecar.exists(), "first scan must persist the schema cache")
    assert(VersionedTable.scan(spark, root).schema == df1.schema)
    java.nio.file.Files.delete(sidecar.toPath)
    assert(VersionedTable.scan(spark, root).schema == df1.schema,
      "a lost cache must re-infer, not fail")
    assert(sidecar.exists())
  }

  test("the same pruning serves SQL text over a temp view") {
    val root = mkTable()
    VersionedTable.scan(spark, root).createOrReplaceTempView("graft_scan_v")
    val df = spark.sql(
      "SELECT count(*) AS n FROM graft_scan_v WHERE k BETWEEN 0 AND 99")
    assert(df.head().getLong(0) == 100L)
    val opened = spark.sql(
      "SELECT input_file_name() AS f FROM graft_scan_v " +
        "WHERE k BETWEEN 0 AND 99").select("f").distinct().count()
    assert(opened < 6L, "SQL predicates must reach the manifest index")
  }

  test("version pinning, IN-lists, and literal-on-left shapes") {
    import spark.implicits._
    val root = mkTable()
    val v0 = VersionedTable.latestVersion(root).get
    VersionedTable.append(
      Seq((9999L, "2025-01-01", "zz", 0.0)).toDF("k", "day", "tag", "v"),
      root, Write.stats("k", "day"))
    assert(VersionedTable.scan(spark, root, Some(v0)).count() == 600L,
      "a pinned scan must not see later appends")
    assert(VersionedTable.scan(spark, root).count() == 601L)
    val in = VersionedTable.scan(spark, root)
      .filter(col("k").isin(5L, 105L))
    assert(in.count() == 2L)
    assert(openedFiles(in) < 7L)
    val flipped = VersionedTable.scan(spark, root)
      .filter(lit(99L) >= col("k"))
    assert(flipped.count() == 100L)
    assert(openedFiles(flipped) < 7L)
  }

  test("conjunctive box filters over a z-ordered table prune " +
    "multiplicatively through the scan — readWhereBox parity") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 4096L).map(i => (i % 64L, i / 64L, i))
      .toDF("a", "b", "v")
    VersionedTable.overwrite(rows, root,
      Write(zorder = Some(Write.ZOrder(Seq("a", "b"), 16))))
    val boxed = VersionedTable.scan(spark, root)
      .filter(col("a") >= 10L && col("a") <= 20L &&
        col("b") >= 10L && col("b") <= 20L)
    val viaApi = VersionedTable.scan(spark, root)
      .filter(col("a").between(10L, 20L) && col("b").between(10L, 20L))
    assert(boxed.count() == viaApi.count() && boxed.count() == 121L)
    val opened = openedFiles(boxed)
    assert(opened <= openedFiles(viaApi),
      "the scan's conjunctive pruning must match the box API")
    assert(opened < 16L, "both z-order dimensions must prune")
  }

  test("bloom-indexed equality prunes to the containing files through " +
    "an ordinary === filter") {
    import spark.implicits._
    val root = tmpRoot()
    // four bloom-carrying batches with disjoint id ranges but NO
    // range-clustering guarantee being tested — the bloom is what
    // prunes equality probes
    (0 until 4).foreach { b =>
      val batch = (0L until 200L).map(i => (b * 1000L + i, s"v$b"))
        .toDF("id", "s").coalesce(1)
      if (b == 0) VersionedTable.overwrite(batch, root,
        Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("id"))))
      else VersionedTable.append(batch, root,
        Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("id"))))
    }
    val hit = VersionedTable.scan(spark, root).filter(col("id") === 2005L)
    assert(hit.count() == 1L)
    assert(openedFiles(hit) == 1L,
      "a bloom-indexed point probe must open only the containing file")
    // an absent id: blooms report definite absence for every file
    val miss = VersionedTable.scan(spark, root).filter(col("id") === 999999L)
    assert(miss.count() == 0L)
    // IN over two batches opens exactly those two files
    val in2 = VersionedTable.scan(spark, root)
      .filter(col("id").isin(5L, 3007L))
    assert(in2.count() == 2L)
    assert(openedFiles(in2) == 2L)
  }

  test("metadata-only COUNT(*): a bare count answers from the manifest " +
    "with zero file opens; filtered/grouped counts still scan") {
    val root = mkTable()
    val bare = VersionedTable.scan(spark, root).groupBy().count()
    assert(bare.head().getLong(0) == 600L)
    val optimized = bare.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Relation") || optimized.contains("LocalRelation"),
      s"bare count must fold to a LocalRelation:\n$optimized")
    assert(!bare.queryExecution.executedPlan.toString.contains("FileScan"),
      "bare count must not plan a file scan")
    // df.count() rides the same rule
    assert(VersionedTable.scan(spark, root).count() == 600L)
    // a FILTERED count must NOT take the metadata shortcut
    val filtered = VersionedTable.scan(spark, root)
      .filter(col("k") >= 100L && col("k") <= 199L).groupBy().count()
    assert(filtered.head().getLong(0) == 100L)
    assert(filtered.queryExecution.executedPlan.toString.contains("FileScan"),
      "a filtered count must keep scanning files")
    // a grouped count must not fold either
    val grouped = VersionedTable.scan(spark, root)
      .groupBy(col("tag")).count()
    assert(grouped.collect().map(_.getLong(1)).sum == 600L)
    // the table-profile query folds whole: min/max from numeric AND
    // string stats + count, one LocalRelation row, zero file opens
    val profile = VersionedTable.scan(spark, root)
      .agg(min(col("k")).as("klo"), max(col("k")).as("khi"),
        min(col("day")).as("dlo"), max(col("day")).as("dhi"),
        count(lit(1)).as("n"))
    val r = profile.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 599L)
    assert(r.getString(2) == "2024-01-10" && r.getString(3) == "2024-06-10")
    assert(r.getLong(4) == 600L)
    assert(!profile.queryExecution.executedPlan.toString.contains("FileScan"),
      "the profile query must answer from the manifest")
    // a min over a stats-less column disqualifies the whole fold
    val noStat = VersionedTable.scan(spark, root)
      .agg(min(col("tag")).as("t"), count(lit(1)).as("n"))
    assert(noStat.head().getString(0) == "s0")
    assert(noStat.queryExecution.executedPlan.toString.contains("FileScan"))
    // a FILTER-clause aggregate must NOT fold to the unfiltered total
    VersionedTable.scan(spark, root).createOrReplaceTempView("graft_fold_v")
    val filteredAgg = spark.sql(
      "SELECT count(1) FILTER (WHERE k < 100) AS n FROM graft_fold_v")
    assert(filteredAgg.head().getLong(0) == 100L,
      "FILTER-clause count must scan, never fold the manifest total")
    assert(filteredAgg.queryExecution.executedPlan.toString
      .contains("FileScan"))
  }

  test("metadata-only SUM from sum: stats; plain-stats tables keep " +
    "scanning for sums") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (1L to 100L).map(i => (i, i * 3L)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    VersionedTable.overwrite(rows, root,
      Write(stats = Some(Seq("k")), sums = Seq("v")))
    val agg = VersionedTable.scan(spark, root)
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
        min(col("k")).as("lo"))
    val r = agg.head()
    assert(r.getLong(0) == 3L * 5050L && r.getLong(1) == 100L &&
      r.getLong(2) == 1L)
    assert(!agg.queryExecution.executedPlan.toString.contains("FileScan"),
      "sum over sum:-stat files must answer from the manifest")
    // the q297-style table records NO sum stats → sums still scan
    val root2 = tmpRoot()
    VersionedTable.overwrite(rows, root2, Write.stats("k"))
    val agg2 = VersionedTable.scan(spark, root2).agg(sum(col("v")).as("s"))
    assert(agg2.head().getLong(0) == 3L * 5050L)
    assert(agg2.queryExecution.executedPlan.toString.contains("FileScan"))
  }

  test("typed timestamp/date/double stats prune with faithful units; " +
    "the profile fold serves typed extrema from the manifest") {
    import spark.implicits._
    val root = tmpRoot()
    // month clustered WITH k so the range partitioner gives each file
    // one month — the time-slice layout a 100 TB lake actually has
    val rows = (0 until 400).map { i =>
      val m = i / 100 + 1
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-$m%02d-10 12:30:00"),
        java.sql.Date.valueOf(f"2024-$m%02d-15"),
        i / 40.0)
    }.toDF("k", "ts", "d", "v").repartitionByRange(4, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k", "ts", "d", "v"))
    val total = selectedFiles(VersionedTable.scan(spark, root))
    assert(total == 4L)
    // the canonical 100 TB slice: a timestamp range opens only the
    // intersecting files, answer unchanged
    val cut = lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val tsq = VersionedTable.scan(spark, root).filter(col("ts") >= cut)
    assert(tsq.count() == 200L)
    assert(selectedFiles(tsq) == 2L,
      s"timestamp slice must open 2 of 4 files, opened ${selectedFiles(tsq)}")
    // BETWEEN (epoch-micros inRange shape)
    val between = VersionedTable.scan(spark, root)
      .filter(col("ts").between(
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-28 00:00:00")))
    assert(between.count() == 100L && selectedFiles(between) == 1L)
    // date equality prunes through epoch-days stats
    val dq = VersionedTable.scan(spark, root)
      .filter(col("d") === lit(java.sql.Date.valueOf("2024-02-15")))
    assert(dq.count() == 100L && selectedFiles(dq) == 1L)
    // double range prunes through the exact Double.toString bounds;
    // strict bound respected (file hi 7.475 < 7.5 skips)
    val vq = VersionedTable.scan(spark, root).filter(col("v") >= 7.5)
    assert(vq.count() ==
      VersionedTable.read(spark, root).filter(col("v") >= 7.5).count())
    assert(selectedFiles(vq) == 1L,
      s"double range must open 1 of 4 files, opened ${selectedFiles(vq)}")
    // the typed table profile folds whole from the manifest
    val profile = VersionedTable.scan(spark, root)
      .agg(min(col("ts")).as("tlo"), max(col("ts")).as("thi"),
        min(col("d")).as("dlo"), max(col("d")).as("dhi"),
        min(col("v")).as("vlo"), max(col("v")).as("vhi"),
        count(lit(1)).as("n"))
    val r = profile.head()
    assert(r.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-10 12:30:00"))
    assert(r.getTimestamp(1) ==
      java.sql.Timestamp.valueOf("2024-04-10 12:30:00"))
    assert(r.getDate(2) == java.sql.Date.valueOf("2024-01-15"))
    assert(r.getDate(3) == java.sql.Date.valueOf("2024-04-15"))
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 399 / 40.0)
    assert(r.getLong(6) == 400L)
    assert(!profile.queryExecution.executedPlan.toString.contains("FileScan"),
      "the typed profile must answer from the manifest")
    // a NaN bound records NO stat: the file is kept, folds disqualify
    val root2 = tmpRoot()
    val nan = Seq((1L, 0.5), (2L, Double.NaN), (3L, 2.5))
      .toDF("k", "v").coalesce(1)
    VersionedTable.overwrite(nan, root2, Write.stats("k", "v"))
    // Spark orders NaN above every value: v > 100.0 RETURNS the NaN
    // row — the skipped stat keeps the file, so the answer is right
    val nq = VersionedTable.scan(spark, root2).filter(col("v") > 100.0)
    assert(nq.count() == 1L && selectedFiles(
      VersionedTable.scan(spark, root2).filter(col("v") > 0.0)) == 1L)
    val nprof = VersionedTable.scan(spark, root2).agg(max(col("v")).as("m"))
    assert(nprof.queryExecution.executedPlan.toString.contains("FileScan"),
      "a NaN-bounded file must disqualify the metadata fold")
    // a NaN LITERAL never prunes: Spark orders NaN above every double,
    // so `v <= NaN` matches ALL rows — IEEE comparisons against the
    // stats bounds would be all-false and would wrongly skip every file
    val nle = VersionedTable.scan(spark, root)
      .filter(col("v") <= Double.NaN)
    assert(nle.count() == 400L,
      s"v <= NaN must match every row, got ${nle.count()}")
    assert(selectedFiles(nle) == 4L,
      "a NaN literal must keep every file")
  }

  test("the micros-vs-seconds trap stays pinned: legacy long-cast " +
    "stats under a timestamp column's bare name never prune") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0 until 400).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-${i / 100 + 1}%02d-10 12:30:00"))
    }.toDF("k", "ts").repartitionByRange(4, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    // doctor the manifest into the pre-typed-stats shape: a long-cast
    // triple under the BARE column name carrying epoch SECONDS — a
    // reader comparing micros literals against it would skip every file
    val mf = new java.io.File(root, "_log/000000000000.manifest")
    val doctored = new String(
      java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_ + "\tts\t1704000000\t1712000000").mkString("\n")
    java.nio.file.Files.write(mf.toPath,
      doctored.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cut = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val tsq = VersionedTable.scan(spark, root).filter(col("ts") >= cut)
    assert(tsq.count() == 300L, "legacy stats must not change answers")
    assert(selectedFiles(tsq) == 4L,
      "bare-name long stats must never prune a timestamp predicate")
  }

  test("TimestampNTZ stats prune through the __ntz_ kind — unadjusted " +
    "wall-clock micros on BOTH stat paths, zone-independent; __ts_ and " +
    "__ntz_ never cross-prune") {
    import spark.implicits._
    def ntzRows = (0 until 400).map { i =>
      (i.toLong, f"2024-${i / 100 + 1}%02d-10 12:30:00")
    }.toDF("k", "s")
      .withColumn("ts", expr("to_timestamp_ntz(s)"))
      .repartitionByRange(4, col("k"))
    // expected UNADJUSTED micros of the global minimum wall-clock value
    val minMicros = java.time.LocalDateTime.of(2024, 1, 10, 12, 30)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    def manifestText(root: String) = new String(
      java.nio.file.Files.readAllBytes(
        new java.io.File(root, "_log/000000000000.manifest").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // footer-fold path: (k, ts) only — all columns footer-exact
    val rootF = tmpRoot()
    VersionedTable.overwrite(ntzRows.drop("s"), rootF, Write.stats("k", "ts"))
    // job path: the string stats column disqualifies the footer fold;
    // a non-UTC session zone pins zone-independence of the probe
    val rootJ = tmpRoot()
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      VersionedTable.overwrite(ntzRows, rootJ, Write.stats("k", "ts", "s"))
    } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
    for (root <- Seq(rootF, rootJ)) {
      assert(VersionedTable.read(spark, root).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      assert(manifestText(root).contains(s"\t__ntz_ts\t$minMicros\t"),
        s"both stat paths must record unadjusted micros under __ntz_: " +
          manifestText(root).linesIterator.next())
      val q = VersionedTable.scan(spark, root)
        .filter(col("ts") >= expr("to_timestamp_ntz('2024-03-01 00:00:00')"))
      assert(q.count() == 200L)
      assert(selectedFiles(q) == 2L,
        s"NTZ slice must open 2 of 4 files at $root, " +
          s"opened ${selectedFiles(q)}")
    }
    // NEGATIVE twin: a __ts_ triple under an NTZ column never prunes
    // (instant vs wall-clock bounds differ by the writer's zone) — a
    // stats-less NTZ table doctored with an everything-excluding __ts_
    // bound must keep all files and the full answer
    val rootN = tmpRoot()
    VersionedTable.overwrite(ntzRows.drop("s"), rootN, Write.stats("k"))
    val mfN = new java.io.File(rootN, "_log/000000000000.manifest")
    java.nio.file.Files.write(mfN.toPath, manifestText(rootN)
      .linesIterator.map(_ + "\t__ts_ts\t0\t1").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val qn = VersionedTable.scan(spark, rootN)
      .filter(col("ts") >= expr("to_timestamp_ntz('2024-01-01 00:00:00')"))
    assert(qn.count() == 400L && selectedFiles(qn) == 4L,
      "__ts_ bounds must never prune an NTZ predicate")
    // and the reverse: an __ntz_ triple under a TimestampType column
    // never prunes an instant predicate
    val rootR = tmpRoot()
    val tzRows = (0 until 400).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-${i / 100 + 1}%02d-10 12:30:00"))
    }.toDF("k", "ts").repartitionByRange(4, col("k"))
    VersionedTable.overwrite(tzRows, rootR, Write.stats("k"))
    val mfR = new java.io.File(rootR, "_log/000000000000.manifest")
    java.nio.file.Files.write(mfR.toPath, manifestText(rootR)
      .linesIterator.map(_ + "\t__ntz_ts\t0\t1").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val qr = VersionedTable.scan(spark, rootR).filter(
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(qr.count() == 400L && selectedFiles(qr) == 4L,
      "__ntz_ bounds must never prune a TimestampType predicate")
  }

  test("MOR-aware scan: pending tombstones and patches overlay " +
    "automatically; pruning reaches the base; pinned scans serve history") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 600L).map(i => (i, s"p${i % 5}", i * 2L))
      .toDF("k", "grp", "v").repartitionByRange(6, col("k"))
    VersionedTable.overwrite(rows, root, Write.stats("k"))
    val v0 = VersionedTable.latestVersion(root).get
    // MOR update then MOR delete — the triad's read side
    Tombstones.updateMor(spark, root, Seq("k"),
      col("k") === 7L, Map("v" -> lit(-1L)))
    Tombstones.deleteMor(spark, root, Seq(3L, 300L).toDF("k"))
    // a takedown must be invisible through scan(), not only readActive
    val served = VersionedTable.scan(spark, root)
    assert(served.filter(col("k").isin(3L, 300L)).count() == 0L,
      "deleted keys must be invisible to scan()")
    assert(served.filter(col("k") === 7L).head().getLong(2) == -1L,
      "patched keys must serve the patch row through scan()")
    // scan() == readActive, row for row
    val a = Tombstones.readActive(spark, root)
      .collect().map(_.toSeq).toSet
    assert(served.collect().map(_.toSeq).toSet == a)
    // bare count must NOT fold to the manifest total (it counts
    // deleted rows) — and must equal the active count
    val bare = VersionedTable.scan(spark, root).groupBy().count()
    assert(bare.head().getLong(0) == 598L)
    assert(bare.queryExecution.executedPlan.toString.contains("FileScan"),
      "a MOR-overlaid count must scan, never fold the manifest total")
    // base-column filters still prune files through the overlay: the
    // base relation's scan node receives the pushed slice and selects
    // fewer than the table's 6 files at plan time
    val sliced = VersionedTable.scan(spark, root)
      .filter(col("k") >= 100L && col("k") <= 199L)
    assert(sliced.count() == 100L)
    import org.apache.spark.sql.execution.FileSourceScanExec
    // AQE wraps the join plan in query stages — traverse with the helper
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val baseScans = aqe.collect(sliced.queryExecution.executedPlan) {
      case f: FileSourceScanExec if !f.relation.location.rootPaths.exists(
        p => p.toString.contains("_patches") ||
          p.toString.contains("_tombstones")) => f
    }
    assert(baseScans.nonEmpty, "expected the base FileScan under the overlay")
    val opened = baseScans.map(_.selectedPartitions.totalNumberOfFiles).sum
    assert(opened < 6L,
      s"pruning must reach the base scan under the overlay, selected $opened")
    // a version-pinned scan serves the RAW snapshot (time travel)
    assert(VersionedTable.scan(spark, root, Some(v0)).count() == 600L)
    // purge folds the overlays; scan() == read() again and the
    // metadata fold returns
    Tombstones.purge(spark, root)
    val after = VersionedTable.scan(spark, root).groupBy().count()
    assert(after.head().getLong(0) == 598L)
    assert(!after.queryExecution.executedPlan.toString.contains("FileScan"),
      "post-purge bare count must fold from the manifest again")
  }

  test("partition-aware scan: Hive-layout partition columns prune whole " +
    "directories at plan time AND compose with per-file stats pruning") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = tmpRoot()
    val rows = (0L until 1200L).map { i =>
      (i, s"s${i % 4}", f"2024-${i % 3 + 1}%02d", i * 2L)
    }.toDF("k", "status", "month", "v")
      .repartitionByRange(4, col("k"))
    VersionedTable.overwrite(rows, root,
      Write(stats = Some(Seq("k")), partitionBy = Seq("status")))
    // values parsed from the path are injected into the rows
    val all = VersionedTable.scan(spark, root)
    assert(all.count() == 1200L)
    assert(all.schema.fieldNames.contains("status"))
    assert(all.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s0" -> 300L, "s1" -> 300L, "s2" -> 300L, "s3" -> 300L))
    // a partition-column filter selects exactly ONE partition at plan
    // time (the q203 selectedPartitions assertion through scan())
    val one = VersionedTable.scan(spark, root)
      .filter(col("status") === "s2")
    val scans = one.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.nonEmpty,
      "partition predicates must surface as partitionFilters")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 partition, got ${scans.head.selectedPartitions.partitionCount}")
    assert(one.count() == 300L)
    // partition + stats pruning compose: within the one directory,
    // the k-range opens fewer than that partition's 4 files
    val both = VersionedTable.scan(spark, root)
      .filter(col("status") === "s2" && col("k") < 300L)
    val bothScan = both.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head
    assert(bothScan.selectedPartitions.partitionCount == 1)
    assert(bothScan.selectedPartitions.totalNumberOfFiles < 4L,
      "stats pruning must apply within the selected partition")
    assert(both.count() ==
      rows.filter(col("status") === "s2" && col("k") < 300L).count())
    // SQL text over a temp view reaches the same partition pruning
    VersionedTable.scan(spark, root).createOrReplaceTempView("graft_part_v")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_part_v WHERE status = 's1'")
      .head().getLong(0) == 300L)
    // appends keep the layout; new files join their partitions
    VersionedTable.append(
      Seq((5000L, "s2", "2024-04", 1L)).toDF("k", "status", "month", "v"),
      root, Write(stats = Some(Seq("k")), partitionBy = Seq("status")))
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "s2").count() == 301L)
    // bare count(*) still folds from the manifest (partition-blind)
    val bare = VersionedTable.scan(spark, root).groupBy().count()
    assert(bare.head().getLong(0) == 1201L)
    assert(!bare.queryExecution.executedPlan.toString.contains("FileScan"))
    // a flat write REFUSES a partitioned table: flat staging would
    // commit files whose partition values read back NULL (and a
    // partition filter would silently prune the new rows away) — a
    // flat overwrite is refused, a plain append takes the table's own
    // partitioning
    val e = intercept[IllegalArgumentException] {
      VersionedTable.overwrite(
        Seq((1L, "sX", "2024-01", 1L)).toDF("k", "status", "month", "v"),
        root)
    }
    assert(e.getMessage.contains("Hive-partitioned"))
    VersionedTable.append(
      Seq((1L, "sX", "2024-01", 1L)).toDF("k", "status", "month", "v"),
      root)
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "sX").count() == 1L)
  }

  test("partitioned DML: delete/update/merge rewrite Hive-layout " +
    "tables in place — partition predicates work, values survive the " +
    "rewrite, pruning still selects one directory") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = tmpRoot()
    val rows = (0L until 800L).map { i =>
      (i, s"s${i % 4}", i * 2L)
    }.toDF("k", "status", "v").repartitionByRange(4, col("k"))
    VersionedTable.overwrite(rows, root,
      Write(stats = Some(Seq("k")), partitionBy = Seq("status")))
    // DELETE with a predicate ON the partition column
    VersionedTable.delete(spark, root,
      col("status") === "s3" && col("k") < 400L)
    assert(VersionedTable.scan(spark, root).count() == 700L)
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "s3").count() == 100L)
    // UPDATE a data column under a partition predicate
    VersionedTable.update(spark, root,
      col("status") === "s1", Map("v" -> lit(-1L)))
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "s1" && col("v") === -1L).count() == 200L)
    // MERGE upsert: an update + an insert carrying a NEW partition value
    VersionedTable.merge(spark, root,
      Seq((0L, "s0", 123L), (9999L, "s9", 1L)).toDF("k", "status", "v"),
      Seq("k"))
    // partition columns append LAST in the scan schema (the Spark
    // partitionBy convention) — access by name
    val after = VersionedTable.scan(spark, root)
    assert(after.filter(col("k") === 0L).head()
      .getAs[Long]("v") == 123L)
    assert(after.filter(col("status") === "s9").count() == 1L,
      "a merge insert must create its new partition directory")
    // partition pruning still selects exactly one directory at plan time
    val one = VersionedTable.scan(spark, root)
      .filter(col("status") === "s2")
    val scans = one.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.head.selectedPartitions.partitionCount == 1)
    assert(one.count() == 200L)
    // UPDATE that MOVES a row across partitions (SET on the partition
    // column): the row lands in its new directory
    VersionedTable.update(spark, root,
      col("k") === 9999L, Map("status" -> lit("s0")))
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "s9").count() == 0L)
    assert(VersionedTable.scan(spark, root)
      .filter(col("status") === "s0" && col("k") === 9999L).count() == 1L)
    // time travel still serves the pre-DML snapshot
    assert(VersionedTable.scan(spark, root, Some(0L)).count() == 800L)
  }

  test("partition-layout safety: partitioned writes refuse a table with " +
    "flat versions; racing first partitioned writers agree on ONE schema") {
    import spark.implicits._
    // the sidecar is table-global: publishing it over flat history
    // would make old versions' partition values read back NULL
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, "a", 2L)).toDF("k", "status", "v"), root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.overwrite(Seq((1L, "a", 2L)).toDF("k", "status", "v"), root,
        Write(stats = Some(Seq("k")), partitionBy = Seq("status")))
    }
    assert(e.getMessage.contains("flat-file versions"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((1L, "b", 3L)).toDF("k", "status", "v"), root,
        Write(stats = Some(Seq("k")), partitionBy = Seq("status")))
    }
    assert(e2.getMessage.contains("flat-file versions"))
    // the flat table is untouched and fully readable
    assert(VersionedTable.read(spark, root).count() == 1L)
    assert(VersionedTable.partitionSchema(root).isEmpty,
      "a refused partitioned write must not leave a sidecar behind")

    // racing FIRST partitioned writers with DIFFERENT partition
    // columns: the sidecar publishes put-if-absent (hard link), so
    // exactly one layout survives and the loser aborts loudly instead
    // of replacing the winner's schema (last-writer-wins here is data
    // loss — the loser's committed files would parse NULL partitions)
    val root2 = tmpRoot()
    val df2 = (0L until 40L).map(i => (i, s"s${i % 2}", s"m${i % 3}"))
      .toDF("k", "a", "b")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(Seq("a"), Seq("b")).map { pc =>
      new Thread(() => {
        try {
          VersionedTable.overwrite(df2, root2,
            Write(stats = Some(Seq("k")), partitionBy = pc))
          ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.size() == 1,
      s"exactly one racer must lose, got ${errs.size()} errors: " +
        s"${java.util.Arrays.toString(errs.toArray)}")
    // the survivor's layout is self-consistent: one committed version,
    // sidecar matches, every row serves a non-null partition value
    val ps = VersionedTable.partitionSchema(root2)
    assert(ps.length == 1 && Set("a", "b").contains(ps.head.name))
    assert(VersionedTable.versions(root2) == Seq(0L))
    val served = VersionedTable.scan(spark, root2)
    assert(served.count() == 40L)
    assert(served.filter(col(ps.head.name).isNull).count() == 0L)
  }

  test("default-on stats: a table written with PLAIN overwrite/append " +
    "prunes, folds its profile, and answers countRows — no foresight") {
    import spark.implicits._
    val root = tmpRoot()
    val rows = (0L until 600L).map(i => (i, f"d${i % 6}", i.toDouble))
      .toDF("k", "tag", "v").repartitionByRange(6, col("k"))
    VersionedTable.overwrite(rows, root)
    VersionedTable.append(
      Seq((9999L, "d9", 0.0)).toDF("k", "tag", "v"), root)
    // countRows answers with zero reads
    assert(VersionedTable.countRows(root).contains(601L))
    // numeric pruning through scan() with no statsCols ever passed
    val sliced = VersionedTable.scan(spark, root).filter(col("k") < 100L)
    assert(sliced.count() == 100L)
    assert(openedFiles(sliced) < 7L, "default stats must prune")
    // string stats recorded too; double column skipped (unsupported)
    val profile = VersionedTable.scan(spark, root)
      .agg(min(col("k")).as("klo"), max(col("tag")).as("thi"),
        count(lit(1)).as("n"))
    val r = profile.head()
    assert(r.getLong(0) == 0L && r.getString(1) == "d9" &&
      r.getLong(2) == 601L)
    assert(!profile.queryExecution.executedPlan.toString.contains("FileScan"),
      "the default-written profile must fold from the manifest")
    // the cap: only the first MaxAutoStatsCols supported fields record
    val wide = (0L until 10L).map(i =>
      (i, i, i, i, i, i, i, i, i, s"t$i"))
      .toDF((1 to 9).map(i => s"c$i") :+ "s": _*)
    val root2 = tmpRoot()
    VersionedTable.overwrite(wide, root2)
    val f2 = VersionedTable.scanListing(root2).head
    assert(f2.stats.contains("c1") && f2.stats.contains("c8"))
    assert(!f2.stats.contains("c9") && !f2.strStats.contains("s"),
      "fields beyond the cap must not record stats")
  }

  test("incremental schema: an append-delta's first read sweeps only " +
    "the NEW files' footers and equals the full mergeSchema inference") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, "a")).toDF("k", "s"), root)
    VersionedTable.read(spark, root) // caches _schema.v0.json
    // schema-evolving append: a NEW nullable column
    VersionedTable.append(
      Seq((2L, "b", 9L)).toDF("k", "s", "extra"), root)
    val viaShortcut = VersionedTable.read(spark, root).schema
    // ground truth: full mergeSchema inference over every file
    val full = spark.read.option("mergeSchema", "true")
      .parquet(VersionedTable.listingPaths(root,
        VersionedTable.latestVersion(root).get): _*).schema
    assert(viaShortcut.fieldNames.sorted.toSeq ==
      full.fieldNames.sorted.toSeq)
    assert(viaShortcut("extra").nullable,
      "a column absent from old files must read nullable")
    val got = VersionedTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq((1L, -1L), (2L, 9L)),
      "old rows must read null for the appended column")
    // a same-name TYPE conflict in the delta refuses the shortcut and
    // fails exactly as the full inference would (no silent guess)
    val root2 = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 5L)).toDF("k", "v"), root2)
    VersionedTable.read(spark, root2)
    VersionedTable.append(Seq((2L, "s")).toDF("k", "v"), root2)
    intercept[Exception] {
      VersionedTable.read(spark, root2).collect()
    }
  }

  test("manifest bytes feed the auto-broadcast decision: a small scan " +
    "broadcasts with NO hint") {
    import spark.implicits._
    val root = mkTable()
    val big = (0L until 5000L).map(i => (i % 600L, i)).toDF("k", "x")
    val joined = big.join(VersionedTable.scan(spark, root), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small manifest-sized scan must broadcast without a hint:\n$plan")
    assert(joined.count() == 5000L)
  }
}
