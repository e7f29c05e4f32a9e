package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet-backed lake layer — the engine's realization of the
  * reference's Delta bronze/silver/gold tables (SURVEY.md §2.1; Delta
  * jars aren't available in this environment, and nothing in the
  * reference's semantics needs the Delta log: what it needs is
  * overwrite/append tables, a table-existence probe, and idempotent
  * re-runs, provided here with parquet + partitioned dynamic
  * overwrite).
  *
  * Scale notes baked into the API:
  *  - `writePartitionedOverwrite` uses dynamic partition overwrite —
  *    re-running a daily batch replaces exactly that day's partitions
  *    (idempotent ingestion, the fix for the reference's blind-append
  *    protocol, SURVEY.md §7.4);
  *  - `appendDedup` is the keyed upsert-equivalent: left-anti join on
  *    the key against the existing table before appending, so replays
  *    don't duplicate (the `DeltaTable.merge` role);
  *  - readers take explicit schemas — schema inference at 100 TB means
  *    an extra full pass over the data.
  */
object Lake {

  /** Recursive delete shared by the staging/swap sinks. Null-safe:
    * `listFiles()` returns null for non-directories AND for I/O errors
    * mid-walk (a racing deleter, a permission change). */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  // ---- sources ------------------------------------------------------

  /** S1: CSV scan with header; explicit schema (all-string for the raw
    * ticket contract) instead of inference. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  /** S1 variant matching the reference exactly: header + all columns
    * read as string (to_brz.py:15 inference on header-only CSV). */
  def readCsvAllString(spark: SparkSession, path: String,
                       columns: Seq[String]): DataFrame =
    readCsv(spark, path,
      StructType(columns.map(StructField(_, StringType, nullable = true))))

  /** S2: line-delimited JSON scan. */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** S2 hardened: PERMISSIVE line-delimited JSON with the malformed
    * rows ROUTED, not dropped — the production ingest contract (a
    * crawler feed always contains truncated/garbled lines; silently
    * dropping them hides upstream breakage, failing the whole batch
    * blocks the pipeline on one bad line). Returns (good, bad): `good`
    * carries the schema's columns for parseable lines; `bad` carries
    * the raw text of each malformed line for the quarantine table.
    * One scan shape: Spark's PERMISSIVE mode fills the declared
    * `_corrupt_record` column on parse failure and nulls the data
    * columns, so the split is two filters on the same cached read —
    * map-local, no shuffle. */
  def readJsonWithQuarantine(spark: SparkSession, path: String,
                             schema: StructType): (DataFrame, DataFrame) = {
    // text + from_json rather than spark.read.json: raw-file JSON
    // reads refuse queries that touch only the corrupt column (the
    // Spark 2.3+ restriction), and the text line IS the quarantine
    // payload anyway
    val corrupt = "_corrupt_record"
    val full = schema.add(StructField(corrupt, StringType, nullable = true))
    val parsed = spark.read.text(path).select(col("value"),
      from_json(col("value"), full, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corrupt)).as("j"))
    val good = parsed
      .filter(col("j").isNotNull && col(s"j.$corrupt").isNull)
      .select(schema.fieldNames.map(f => col(s"j.$f").as(f)).toSeq: _*)
    val bad = parsed
      .filter(col("j").isNull || col(s"j.$corrupt").isNotNull)
      .select(col("value").as("raw_line"))
    (good, bad)
  }

  /** S1 hardened: the CSV sibling of [[readJsonWithQuarantine]] (the
    * reference's primary raw input is crawler CSV — to_brz.py:13-15).
    * Same text + from_csv split: parseable lines to the data channel
    * with the declared schema, malformed raw lines (wrong arity,
    * untypeable fields) to the quarantine channel. `header` lines are
    * dropped by exact match against the schema's field names joined
    * with commas (the reference's crawler writes exactly that). */
  def readCsvWithQuarantine(spark: SparkSession, path: String,
                            schema: StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val full = schema.add(StructField(corrupt, StringType, nullable = true))
    val headerLine = schema.fieldNames.mkString(",")
    val parsed = spark.read.text(path)
      .filter(col("value") =!= headerLine)
      .select(col("value"),
        from_csv(col("value"), full, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corrupt)).as("j"))
    val good = parsed
      .filter(col("j").isNotNull && col(s"j.$corrupt").isNull)
      .select(schema.fieldNames.map(f => col(s"j.$f").as(f)).toSeq: _*)
    val bad = parsed
      .filter(col("j").isNull || col(s"j.$corrupt").isNotNull)
      .select(col("value").as("raw_line"))
    (good, bad)
  }

  /** S3: multiline (whole-document array) JSON scan. */
  def readJsonMultiline(spark: SparkSession, path: String,
                        schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", true)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  // ---- table read / probes -----------------------------------------

  /** S4: table scan. Building the frame starts no Spark job: Spark's
    * own (non-merging) inference runs a one-task job per read to open
    * ONE footer, that of the first data file in path order; here that
    * same footer is read on the driver and converted exactly as
    * inference converts it (`ParquetFileFormat.readSchemaFromFooter`,
    * the session's parquet conf). Whatever inference would treat
    * differently reads through plain `spark.read.parquet(path)`, so it
    * reads, or fails, exactly as that does: no data file, schema
    * merging on, a glob, summary files or a streaming sink's log, a
    * partition column also stored in the files, or a footer that will
    * not read. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema non-merging parquet inference would give `path`, read
    * from one footer on the driver; `None` wherever [[read]] must let
    * Spark infer. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)))
      return None
    // Spark's file-index rule for names it skips while listing
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val top = fs.getFileStatus(root)
      val leaves = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      // false: a name inference treats specially (parquet summary files,
      // a streaming sink's log) — let Spark decide
      def walk(dir: Path): Boolean = fs.listStatus(dir).forall { st =>
        val n = st.getPath.getName
        if (n.startsWith("_metadata") || n.startsWith("_common_metadata") ||
            n == "_spark_metadata") false
        else if (hidden(n)) true
        else if (st.isDirectory) walk(st.getPath)
        else { leaves += st; true }
      }
      val first =
        if (!top.isDirectory) Some(top).filterNot(t => hidden(t.getPath.getName))
        else if (walk(top.getPath)) leaves.minByOption(_.getPath.toString)
        else None
      first.flatMap { file =>
        // partition directories between the root and the file
        val partCols = file.getPath.toString.stripPrefix(top.getPath.toString)
          .split('/').dropRight(1).filter(_.contains("="))
          .map(_.takeWhile(_ != '=').toLowerCase).toSet
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            conf.parquetReaderRespectUnknownTypeAnnotation)
        val schema = VersionedTable.withFooter(file.getPath, hadoopConf)(m =>
          ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, m),
            converter))
        // a partition column stored in the files too: inference keeps
        // its data position, a declared schema would not
        Some(schema).filterNot(_.fieldNames.exists(f => partCols(f.toLowerCase)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** S10: table-existence probe (the reference reached into py4j
    * internals for `catalog().tableExists`; here: does the directory
    * hold a parquet footprint). */
  def isTable(spark: SparkSession, path: String): Boolean = {
    val dir = new java.io.File(path)
    dir.isDirectory && dir.listFiles().exists(f =>
      f.getName.endsWith(".parquet") || f.getName == "_SUCCESS")
  }

  /** S4+S10: read the table if it exists (the reference's try/except
    * around first-run reads, to_silver.py:104-108). */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (isTable(spark, path)) Some(read(spark, path)) else None

  /** The max of INT32 column `column` over `df`, folded on the driver
    * from the footers' row-group statistics when `df` is a bare scan of
    * a flat parquet table ([[read]] of a directory): `Some(None)` when
    * no row holds a value. `None` when the footers cannot answer and
    * the caller must aggregate: any plan above the scan (a filter, a
    * projection), a partitioned table, a column that is not INT32 in
    * the table or in some file, more than
    * [[VersionedTable.FooterFoldMaxFiles]] files, a row group without
    * statistics, or any read error. */
  private[graft] def footerMaxInt(df: DataFrame, column: String): Option[Option[Int]] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
    val files = df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case HadoopFsRelation(i: InMemoryFileIndex, part, data, _,
            _: ParquetFileFormat, _) if part.isEmpty &&
            data.exists(f => f.name == column && f.dataType == IntegerType) =>
          i.allFiles()
        case _ => return None
      }
      case _ => return None
    }
    if (files.length > VersionedTable.FooterFoldMaxFiles) return None
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val maxima = files.map { f =>
        VersionedTable.withFooter(f.getPath, conf) { footer =>
          val schema = footer.getFileMetaData.getSchema
          if (!schema.containsField(column)) return None
          val t = schema.getType(schema.getFieldIndex(column))
          if (!VersionedTable.footerKind(t).contains('i') ||
              t.asPrimitiveType.getPrimitiveTypeName != INT32) return None
          VersionedTable.footerRanges(footer.getBlocks.asScala.toSeq, column)
            .getOrElse(return None)
            .map(_._2.asInstanceOf[java.lang.Integer].intValue).maxOption
        }
      }
      Some(maxima.flatten.maxOption)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** S12: cheap emptiness guard (no full count). */
  def isEmpty(df: DataFrame): Boolean = df.isEmpty

  /** S11: register tables as temp views for SQL (to_gold.py:21-26). */
  def registerViews(views: (String, DataFrame)*): Unit =
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }

  /** S9: small-column collect to driver (crawl_faci.py:208) — for dims
    * only; never for fact-scale data. */
  def collectStringSet(df: DataFrame, column: String): Set[String] =
    df.select(col(column)).distinct().collect()
      .flatMap(r => Option(r.getString(0))).toSet

  // ---- sinks --------------------------------------------------------

  /** S5: full overwrite. */
  def writeOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S6: append. */
  def writeAppend(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Idempotent daily ingestion: partition by `partitionCol` and
    * overwrite only the partitions present in `df` (dynamic partition
    * overwrite). Re-running a day's batch replaces that day, never
    * duplicates it. */
  def writePartitionedOverwrite(df: DataFrame, path: String,
                                partitionCol: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Keyed dedup-append (the MERGE-insert-if-absent role): append only
    * rows whose `keyCols` don't already exist in the target. */
  def appendDedup(spark: SparkSession, df: DataFrame, path: String,
                  keyCols: Seq[String]): Unit = {
    val toWrite = readIfExists(spark, path) match {
      case None => df
      case Some(existing) =>
        df.join(existing.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
    }
    writeAppend(toWrite, path)
  }

  /** S7: merge-and-rewrite as a single JSON part file
    * (crawl_faci.py:334-338) — for small exchange files only.
    * Compression defaults to none: exchange files are read back as
    * plain text (by `writeJsonArray` and external consumers), and a
    * session-level JSON codec would otherwise emit part-*.json.gz. */
  def writeSingleJson(df: DataFrame, path: String,
                      compression: String = "none"): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("compression", compression).json(path)

  /** S7 variant — JSON ARRAY exchange file: one file holding a single
    * multiline JSON array, the exact shape the reference's crawlers
    * exchange (`json.dump(list_of_records)`, crawl_faci.py:312-314);
    * read back with `readJsonMultiline` (S3). Exchange files only — the
    * array is assembled from ONE coalesced part file, so this is for
    * dim-sized handoffs, never fact-scale data. */
  def writeJsonArray(df: DataFrame, path: String): Unit = {
    import java.nio.charset.StandardCharsets
    val staging = path + "__lines"
    writeSingleJson(df, staging) // uncompressed: lines re-read below
    // match on the part-* prefix, not the .json suffix — Spark's part
    // file naming is stable, its extension varies with codec config
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written under $staging"))
    val records = scala.jdk.CollectionConverters.CollectionHasAsScala(
      java.nio.file.Files.readAllLines(part.toPath, StandardCharsets.UTF_8))
      .asScala.filter(_.nonEmpty)
    val target = new java.io.File(path)
    Option(target.getParentFile).foreach(_.mkdirs())
    val body = // an empty array is "[]", not a whitespace-only "[\n\n]"
      if (records.isEmpty) "[]"
      else records.mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(target.toPath,
      body.getBytes(StandardCharsets.UTF_8))
    deleteRecursively(new java.io.File(staging))
  }

  /** Serving-catalog registration (to_gold.py:221-228 plus the Hive
    * Metastore/Presto role, hive/Dockerfile:1-5): persist each output as
    * a catalog table under `db` so any SQL-over-catalog client can query
    * the gold layer by name. Overwrite save mode → re-running the gold
    * job re-registers idempotently (same names, fresh data, no
    * duplicate tables). */
  def registerCatalog(spark: SparkSession, db: String,
                      tables: Seq[(String, DataFrame)]): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach { case (name, df) =>
      // a location orphaned by a previous session's in-memory catalog
      // (metadata gone, directory still on disk) blocks CREATE TABLE —
      // clear it, exactly as writeBucketed does
      if (!spark.catalog.tableExists(s"$db.$name")) {
        val loc = new java.io.File(
          new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
            .getPath + s"/$db.db/$name")
        if (loc.exists()) deleteRecursively(loc)
      }
      df.write.mode(SaveMode.Overwrite).format("parquet")
        .saveAsTable(s"$db.$name")
    }
  }

  /** Merge-and-renumber exchange protocol (crawl_faci.py:317-338): new
    * records union'd by name onto the existing exchange file, ids
    * renumbered to continue from the existing max, rewritten as a
    * single part file. Uses the KeyGen abstraction so the renumbering
    * scales past the single-task global window if the exchange file
    * ever grows. */
  def mergeAndRenumberJson(spark: SparkSession, path: String,
                           incoming: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.max
    val merged = if (new java.io.File(path).exists() &&
        !readJsonLines(spark, path).isEmpty) {
      val existing = readJsonLines(spark, path)
      val maxId = existing.agg(max(col(idCol).cast("long"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      val renumbered = graft.operators.GlobalRowNumberKeyGen
        .assign(incoming.drop(idCol), idCol, maxId)
      existing.unionByName(renumbered.select(existing.columns.map(col): _*))
    } else graft.operators.GlobalRowNumberKeyGen
      .assign(incoming.drop(idCol), idCol, 0L)
    // stage-then-swap: the merged plan reads the current file lazily,
    // so never overwrite the input in place
    val staging = path + "__merging"
    writeSingleJson(merged, staging)
    val dir = new java.io.File(path)
    if (dir.exists()) deleteRecursively(dir)
    require(new java.io.File(staging).renameTo(dir), s"merge swap failed for $path")
    readJsonLines(spark, path)
  }

  /** Small-file compaction (the OPTIMIZE role): rewrite a table's many
    * small part files into ~`targetFileMB` outputs. Small files are the
    * silent killer of 100 TB scans — per-file open/footer costs and
    * tiny row groups defeat both the scheduler and parquet stats.
    * Writes to a staging dir then atomically swaps, so a concurrent
    * reader never sees a half-written table. Returns the output file
    * count. */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 128): Int = {
    val dir = new java.io.File(path)
    val bytes = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val parts = math.max(1, math.ceil(bytes / (targetFileMB * 1024.0 * 1024.0)).toInt)
    val staging = new java.io.File(path + "__compacting")
    read(spark, path).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    val old = new java.io.File(path + "__old")
    require(dir.renameTo(old) && staging.renameTo(dir), s"compaction swap failed for $path")
    deleteRecursively(old)
    new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
  }

  /** Cluster-sorted layout (Z-order-lite): range-repartition on the
    * cluster keys + sort within partitions, so each parquet file holds
    * a disjoint key range and row-group min/max stats prune range
    * predicates at scan time. */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
                     numFiles: Option[Int] = None): Unit = {
    val ranged = numFiles match {
      // explicit file count bypasses AQE's small-shuffle coalescing
      case Some(n) => df.repartitionByRange(n, clusterCols.map(col): _*)
      case None => df.repartitionByRange(clusterCols.map(col): _*)
    }
    ranged.sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Hive-style PARTITIONED layout (`part=value/` directories) — the
    * third physical-layout member next to [[writeClustered]] (range
    * files + stats pruning) and [[writeBucketed]] (join co-location):
    * equality/IN predicates on the partition columns prune whole
    * DIRECTORIES at planning time (PartitionFilters in the scan, zero
    * footer reads for pruned partitions). Right for low-cardinality
    * routing columns (status, date, lang); high-cardinality keys
    * belong to clustering/bucketing — a partition per key would melt
    * the listing. */
  def writePartitioned(df: DataFrame, path: String,
                       partCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(path)

  /** Bucketed catalog table: co-locates future joins/aggregations on
    * `bucketCol` — two tables bucketed the same way join with ZERO
    * shuffle (the pre-partitioning story for repeated fact-fact joins
    * at 100 TB; see BucketedJoinSpec for the no-Exchange plan proof). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // an orphaned location (e.g. metadata lost with a previous session's
    // in-memory catalog) blocks CREATE TABLE — clear it
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        .getPath + s"/$table")
    if (loc.exists()) deleteRecursively(loc)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** ANALYZE TABLE-style column statistics in ONE pass: per column its
    * null count and exact distinct count, melted to one row per column
    * (the catalog-stats collection role — the numbers a cost-based
    * planner, a data contract, or the q263 join-size audit feed on).
    * Exact NDV expands the aggregate per distinct-column (fine for a
    * handful of profiled columns); at true fleet scale swap
    * `approx_count_distinct`/HLL per the q34/q89 pattern — the report
    * shape is identical. */
  def analyzeReport(df: org.apache.spark.sql.DataFrame,
                    cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.forall(df.columns.contains),
      s"unknown columns in ${cols.mkString(",")}")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"__nulls_$c"),
      countDistinct(col(c)).as(s"__ndv_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', __nulls_$c, __ndv_$c").mkString(", ")
    row.selectExpr(s"__n", s"stack(${cols.size}, $stacked) " +
        "as (column, n_nulls, ndv)")
      .select(col("column"), col("__n").as("n_rows"),
        col("n_nulls"), col("ndv"))
  }
}
