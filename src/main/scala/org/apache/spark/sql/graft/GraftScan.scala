package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.VersionedTable
import graft.sources.VersionedTable.ScanFile

/** CATALYST-INTEGRATED scan of a [[graft.sources.VersionedTable]] —
  * the Delta `TahoeFileIndex` role: instead of asking callers to route
  * predicates through special read methods, the table's
  * manifest becomes a planning-time [[FileIndex]] whose `listFiles`
  * receives the query's PUSHED-DOWN data filters from Catalyst and
  * prunes files against the per-file [min, max] stats — so an ordinary
  *
  * {{{ VersionedTable.scan(spark, root).filter($"day" >= "2024-02-01") }}}
  *
  * (or the same predicate written in SQL over a temp view) opens only
  * intersecting files, with parquet vectorized reading, row-group
  * pruning, whole-stage codegen, and AQE all intact because the scan
  * IS a normal parquet `FileSourceScanExec` under a custom index.
  * `sizeInBytes` answers from the manifest's byte stats, so Catalyst's
  * auto-broadcast decision sees the table's true size with zero file
  * HEAD round-trips — the manifest-fed CBO story at plan time.
  *
  * Pruning is CONSERVATIVE: a file missing stats for a referenced
  * column is kept; unsupported predicate shapes keep every file; Spark
  * re-evaluates every filter row-by-row regardless (file skipping is
  * an optimization, never a semantics change). The snapshot is pinned
  * at construction — the version's file set is immutable, so the index
  * never re-lists. */
object GraftScan {

  /** The latest (or pinned) snapshot as a filter-pruning DataFrame.
    * Tables written with `VersionedTable.Write(partitionBy = ...)` additionally
    * surface their Hive-layout partition columns through the index's
    * `partitionSchema` — Catalyst splits predicates into
    * partitionFilters (evaluated against the path-parsed values, whole
    * directories skipped) and dataFilters (per-file stats/blooms), so
    * ONE plan-time index prunes on the partition dimension AND the
    * manifest stats. */
  def scan(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val (idx, dataSchema, partSchema, logicalSchema) =
      indexFor(spark, root, version)
    val cs = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(
      idx, partSchema, dataSchema, None,
      new ParquetFileFormat, Map("mergeSchema" -> "true"))(cs)
    PlanBridge.registerOptimization(spark, CountFromManifest)
    val raw = PlanBridge.ofRows(spark, LogicalRelation(relation, false))
    projectLogical(raw, dataSchema, logicalSchema, partSchema)
  }

  /** Files the plan of `df` reads: the `numFiles` metric of every
    * file scan node (whose root paths contain `under`, when given),
    * which the node fills when it lists its pruned files at plan
    * time — no job runs. Unlike `inputFiles`, which lists the
    * unfiltered relation, this honours plan-time file pruning; unlike
    * distinct `input_file_name()`, it also counts opened files whose
    * rows all filter out. */
  def filesRead(df: DataFrame, under: String = ""): Long = {
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    aqe.collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(under)) =>
        f.selectedPartitions // lists the files and sets the metric
        f.metrics("numFiles").value
    }.sum
  }

  /** The column-mapping projection: PHYSICAL relation output →
    * LOGICAL view. Identity (no Project node — metadata-only aggregate
    * folds stay eligible) when the table never renamed a column.
    * Filters on logical names push through the aliases to the physical
    * attributes, so manifest pruning (physically-keyed stats) is
    * untouched. */
  private[graft] def projectLogical(df: DataFrame, physical: StructType,
                                    logical: StructType,
                                    partSchema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (physical.fieldNames.sameElements(logical.fieldNames)) df
    else df.select(logical.fields.zip(physical.fields).map {
      case (lf, pf) => col(pf.name).as(lf.name)
    }.toSeq ++ partSchema.fieldNames.toSeq.map(col): _*)
  }

  /** The pruning index + (PHYSICAL data, partition, LOGICAL data)
    * schemas for one pinned snapshot — the shared construction
    * [[scan]] and the DSv2 [[GraftCatalog]] table both build on: ONE
    * index implementation, two integration surfaces (V1
    * `HadoopFsRelation` and `ParquetScanBuilder`), identical manifest
    * pruning. Physical and logical schemas are field-aligned
    * (position i of one is position i of the other); they differ only
    * when a metadata-only RENAME COLUMN mapped a logical name onto its
    * original storage slot. */
  private[graft] def indexFor(spark: SparkSession, root: String,
                              version: Option[Long])
      : (GraftFileIndex, StructType, StructType, StructType) = {
    val v = version.orElse(VersionedTable.latestVersion(root))
      .getOrElse(sys.error(s"no versions at $root"))
    val files = VersionedTable.scanListing(root, Some(v))
    val partSchema = VersionedTable.partitionSchema(root)
    // an EMPTY version (CREATE TABLE before the first insert, a
    // DELETE that removed every row, an empty-batch write) is a
    // legitimate snapshot: schema comes from the version's sidecar
    // (written by the creator) or the nearest earlier version that
    // had files — zero-file scans plan normally and return no rows
    val logicalSchema = StructType(
      (if (files.nonEmpty) schemaOf(spark, root, v, files.map(_.path))
       else emptySchemaOf(spark, root, v))
        .filterNot(f => partSchema.fieldNames.contains(f.name)))
    // the relation reads by the names files actually store; metadata
    // is stripped so plan schemas stay clean
    val dataSchema = StructType(logicalSchema.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        VersionedTable.physicalName(f), f.dataType, f.nullable)))
    // total rows folded from the listing already in hand (countRows
    // semantics: any stats-less file disqualifies) — no second
    // manifest walk per read
    val totalRows =
      if (files.forall(_.rows.isDefined)) Some(files.flatMap(_.rows).sum)
      else None
    val cs = spark.asInstanceOf[classic.SparkSession]
    (new GraftFileIndex(cs, files, totalRows, partSchema),
      dataSchema, partSchema,
      StructType(logicalSchema.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable))))
  }

  /** INCREMENTAL schema for an append-delta version: the previous
    * version's cached sidecar unioned (by name) with a footer sweep of
    * ONLY the delta's new files — O(batch) footers instead of
    * O(table), the cost that matters when a churn workload reads after
    * every commit. `None` (→ the caller's full mergeSchema sweep)
    * whenever the shortcut can't be PROVEN equivalent: no previous
    * sidecar, a rewrite inside the step (previous files not a subset),
    * or a same-name field whose type differs between the sidecar and
    * the delta footers (parquet's merge semantics are subtler than
    * keep-either — don't guess). Nullability unions: a field nullable
    * on either side is nullable in the version. */
  private def incrementalSchema(spark: SparkSession, root: String, v: Long,
                                paths: Seq[String]): Option[StructType] = {
    if (v <= 0) return None
    val prev = VersionedTable.readSchemaSidecar(root, v - 1)
      .getOrElse(return None)
    val prevPaths = VersionedTable.listingPaths(root, v - 1).toSet
    val cur = paths.toSet
    if (!prevPaths.subsetOf(cur)) return None // rewrite: full sweep
    val delta = paths.filterNot(prevPaths)
    if (delta.isEmpty) return Some(prev)
    val ds = spark.read.option("mergeSchema", "true")
      .parquet(delta: _*).schema
    val conflict = ds.fields.exists(df =>
      prev.find(_.name == df.name).exists(_.dataType != df.dataType))
    if (conflict) None
    else Some(StructType(
      prev.fields.map { pf =>
        ds.find(_.name == pf.name) match {
          case Some(df) => pf.copy(nullable = pf.nullable || df.nullable)
          case None => pf.copy(nullable = true) // absent from new files
        }
      } ++
        ds.fields.filterNot(df => prev.fieldNames.contains(df.name))
          .map(_.copy(nullable = true)))) // absent from old files
  }

  /** A batch relation over an EXPLICIT subset of `root`'s files, the
    * table's partition columns injected from the paths when the table
    * is Hive-partitioned — the COW rewrites' read surface
    * ([[graft.sources.VersionedTable]] delete/update/merge): their
    * predicates can reference partition columns and the rewritten rows
    * carry the values for partitioned re-staging. Schema is inferred
    * over just these files (rewrite sets are touched-files-sized). */
  def ofScanFiles(spark: SparkSession, root: String,
                  files: Seq[ScanFile]): DataFrame = {
    require(files.nonEmpty, s"no files to read at $root")
    val partSchema = VersionedTable.partitionSchema(root)
    // widen-tolerant sweep: a rewrite set can mix file vintages across
    // a metadata-only ALTER COLUMN TYPE
    val dataSchema = StructType(
      VersionedTable.readParquetMerged(spark, files.map(_.path)).schema
        .filterNot(f => partSchema.fieldNames.contains(f.name)))
    val cs = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(
      new GraftFileIndex(cs, files, None, partSchema),
      partSchema, dataSchema, None,
      new ParquetFileFormat, Map("mergeSchema" -> "true"))(cs)
    PlanBridge.ofRows(spark, LogicalRelation(relation, false))
  }

  /** A (possibly streaming) relation over an EXPLICIT file set with
    * its manifest stats — the micro-batch surface
    * ([[GraftStreamSource]]): the same pruning FileIndex as [[scan]],
    * scoped to one version-delta's files, `isStreaming` marking the
    * plan for MicroBatchExecution (exactly `FileStreamSource.getBatch`'s
    * convention). Pushed filters prune the batch's files from the
    * manifest stats per micro-batch. */
  private[graft] def ofFiles(spark: SparkSession, files: Seq[ScanFile],
                             dataSchema: StructType,
                             isStreaming: Boolean,
                             partSchema: StructType = StructType(Nil)): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(
      new GraftFileIndex(cs, files, None, partSchema),
      partSchema, dataSchema, None,
      new ParquetFileFormat, Map("mergeSchema" -> "true"))(cs)
    PlanBridge.ofRows(spark, LogicalRelation(relation, isStreaming))
  }

  /** Schema of an EMPTY version: the version's own sidecar (written
    * by CREATE TABLE or an empty-batch writer), else resolved from the
    * nearest EARLIER version — a full-table DELETE preserves the
    * schema of what it deleted. Errors only when the whole history is
    * schema-less (an empty table never written through a
    * sidecar-recording path). */
  private def emptySchemaOf(spark: SparkSession, root: String,
                            v: Long): StructType = {
    VersionedTable.readSchemaSidecar(root, v).foreach(return _)
    val earlier = VersionedTable.versions(root).filter(_ < v).reverse
    earlier.foreach { w =>
      val paths = VersionedTable.listingPaths(root, w)
      if (paths.nonEmpty) return schemaOf(spark, root, w, paths)
      VersionedTable.readSchemaSidecar(root, w).foreach(return _)
    }
    sys.error(s"version $v of $root is empty and no version carries a " +
      "schema (write a _schema sidecar or insert data first)")
  }

  /** The version's data schema, CACHED in a `_schema.v{v}.json`
    * sidecar: the first scan of a version pays one mergeSchema footer
    * sweep (evolution-safe — a single footer could miss columns that
    * only older or newer files carry); every later scan of the same
    * immutable version answers O(1) from the sidecar — the plan-time
    * zero-file-IO premise holds for the steady state. Best-effort
    * write (a lost cache just re-infers). */
  private def schemaOf(spark: SparkSession, root: String, v: Long,
                       paths: Seq[String]): StructType = {
    val f = new java.io.File(root, s"_schema.v$v.json")
    VersionedTable.readSchemaSidecar(root, v).getOrElse {
      val s0 = incrementalSchema(spark, root, v, paths).getOrElse(
        VersionedTable.readParquetMerged(spark, paths).schema)
      // DECLARED-COLUMN CARRY: a metadata-only ALTER's column may live
      // in no data file yet — the nearest delta-reachable sidecar is
      // the declaration, and a footer sweep (or a one-step incremental
      // miss) must not silently drop it. The union is cached below, so
      // the declaration re-materializes into this version's sidecar.
      val s = VersionedTable.declaredSchemaAt(root, v) match {
        case Some(d) =>
          val mapped = d.fields.exists(f =>
            VersionedTable.physicalName(f) != f.name)
          val retired = if (VersionedTable.isColumnMapped(root))
            VersionedTable.retiredColumns(root) else Set.empty[String]
          if (!mapped && retired.isEmpty) {
            // declared TYPES override the footer types when the
            // declaration is the WIDER one (ALTER COLUMN TYPE): the
            // scan serves the declared type over every file vintage
            // and the vectorized reader up-casts per file. Guarded by
            // isWideningCast so a stale declaration can never narrow.
            // Declared METADATA (column DEFAULTs) carries too — the
            // cached sidecar is the next version's declaration, and a
            // footer-swept field (metadata-free by construction) must
            // not strip it.
            val byName = d.fields.map(f => f.name.toLowerCase -> f).toMap
            val have = s0.fieldNames.map(_.toLowerCase).toSet
            StructType(s0.fields.map { f0 =>
              byName.get(f0.name.toLowerCase) match {
                case Some(df0) =>
                  val dt = if (VersionedTable.isWideningCast(
                      f0.dataType, df0.dataType)) df0.dataType
                    else f0.dataType
                  f0.copy(dataType = dt, metadata = df0.metadata)
                case None => f0
              }
            } ++ d.fields.filterNot(df0 =>
              have.contains(df0.name.toLowerCase)))
          } else {
            // COLUMN MAPPING in play: the declaration is authoritative
            // (logical names + physical metadata); footer fields join
            // only when they are genuinely NEW (schema evolution by
            // append) — a field matching a declared PHYSICAL slot is
            // already served through its logical name, and a RETIRED
            // field is dropped-column residue that must never
            // resurrect into the schema
            val physLower = d.fields.map(f =>
              VersionedTable.physicalName(f).toLowerCase).toSet
            val logLower = d.fields.map(_.name.toLowerCase).toSet
            StructType(d.fields ++ s0.fields.filterNot { f0 =>
              val fl = f0.name.toLowerCase
              physLower.contains(fl) || logLower.contains(fl) ||
                retired.contains(fl)
            })
          }
        case None => s0
      }
      var tmp: java.nio.file.Path = null
      try {
        tmp = java.nio.file.Files.createTempFile(
          new java.io.File(root).toPath, "_schema", ".tmp")
        java.nio.file.Files.write(tmp,
          s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case _: java.io.IOException => // best-effort cache; no tmp litter
          if (tmp != null) java.nio.file.Files.deleteIfExists(tmp)
          ()
      }
      s
    }
  }

  /** METADATA-ONLY aggregates (the Delta OptimizeMetadataOnlyQuery
    * role): a bare, unfiltered, ungrouped Aggregate over a manifest
    * scan folds to a one-row LocalRelation when EVERY aggregate
    * answers from the manifest — `count(1)` from the recorded row
    * totals, `min/max(col)` from the per-file stats (numeric or
    * string) when every file records the column (a stats-less or
    * all-null file could hide the true extremum, so any gap
    * disqualifies — same conservatism as `statsRange`). The classic
    * table-profile `SELECT min(x), max(x), count(*)` at 100 TB
    * answers from the listing, zero file opens. Any Filter, grouping,
    * DISTINCT, or other aggregate leaves the plan alone. */
  private object CountFromManifest extends Rule[LogicalPlan] {

    /** The manifest index under a chain of PURE-ATTRIBUTE Projects —
      * column selection/reorder only. A Project that ALIASES or
      * COMPUTES anything disqualifies: an expression re-published
      * under a stats column's name (e.g. `(k+100).as("k")`) would
      * otherwise fold the RAW column's manifest stats into a silently
      * wrong answer. Filter, Sample, joins, … disqualify too. */
    private def indexOf(plan: LogicalPlan): Option[GraftFileIndex] =
      plan match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(ps, child)
            if ps.forall(_.isInstanceOf[AttributeReference]) =>
          indexOf(child)
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          r.location match {
            case g: GraftFileIndex => Some(g)
            case _ => None
          }
        case _ => None
      }

    /** The manifest's answer for one aggregate, as a catalyst value —
      * None disqualifies the whole fold. The FILTER slot must be
      * empty: `count(1) FILTER (WHERE …)` keeps its predicate inside
      * the AggregateExpression, and folding it to the UNFILTERED
      * manifest total would be silently wrong. */
    private def valueOf(g: GraftFileIndex,
                        e: Expression): Option[Any] = e match {
      case AggregateExpression(Count(Seq(Literal(1, _))), _, false,
          None, _) =>
        g.totalRows
      case AggregateExpression(Min(a: AttributeReference), _, false,
          None, _) =>
        g.columnRange(a.name, a.dataType).map(_._1)
      case AggregateExpression(Max(a: AttributeReference), _, false,
          None, _) =>
        g.columnRange(a.name, a.dataType).map(_._2)
      // SUM from the manifest's per-file `sum:` stats (integral
      // columns only — the writer records the exact BIGINT sum).
      // totalRows must be known-positive: SQL SUM over zero rows is
      // NULL, which the fold cannot represent.
      case AggregateExpression(Sum(a: AttributeReference, _), _, false,
          None, _)
          if a.dataType == org.apache.spark.sql.types.LongType ||
            a.dataType == org.apache.spark.sql.types.IntegerType =>
        if (g.totalRows.exists(_ > 0)) g.columnSum(a.name) else None
      case _ => None
    }

    /** Every aggregate's manifest value, or None if ANY disqualifies —
      * evaluated ONCE per rule application. */
    private def foldable(child: LogicalPlan,
                         exprs: Seq[NamedExpression]): Option[Seq[Any]] =
      indexOf(child).flatMap { g =>
        val vals = exprs.map {
          case Alias(ae: AggregateExpression, _) => valueOf(g, ae)
          case _ => None
        }
        if (vals.nonEmpty && vals.forall(_.isDefined)) Some(vals.map(_.get))
        else None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case agg @ Aggregate(Nil, exprs, child, _) =>
        foldable(child, exprs) match {
          case Some(vals) =>
            LocalRelation(agg.output, Seq(InternalRow.fromSeq(vals)))
          case None => agg
        }
      case other => other
    }
  }

  /** Manifest-backed file index: one immutable version's files with
    * their stats; `listFiles` is where Catalyst's pushed filters meet
    * the manifest — partitionFilters against the path-parsed partition
    * values (whole `col=value` directories skipped at plan time),
    * dataFilters against the per-file [min, max]/bloom stats.
    * Extends [[PartitioningAwareFileIndex]] (not bare [[FileIndex]])
    * so the SAME index serves both integration surfaces: the V1
    * `HadoopFsRelation` scan here and the DSv2 `ParquetScanBuilder`
    * behind [[GraftCatalog]] — `listFiles` is overridden wholesale, so
    * both paths get identical manifest pruning. */
  private[graft] final class GraftFileIndex(session: classic.SparkSession,
                                            files: Seq[ScanFile],
                                            val totalRows: Option[Long],
                                            partSchema: StructType)
      extends org.apache.spark.sql.execution.datasources
        .PartitioningAwareFileIndex(session, Map.empty, None) {

    private val statuses: Seq[(ScanFile, FileStatus)] = files.map { f =>
      val jf = new java.io.File(f.path)
      f -> new FileStatus(f.bytes.getOrElse(jf.length()), false, 1,
        128L << 20, jf.lastModified(), new Path(jf.toURI))
    }

    /** Partition groups: (values-as-Seq for grouping equality, the
      * catalyst row, that partition's files). One group with the empty
      * row when unpartitioned. */
    private lazy val groups: Seq[(InternalRow, Seq[(ScanFile, FileStatus)])] =
      if (partSchema.isEmpty) Seq(InternalRow.empty -> statuses)
      else statuses
        .groupBy { case (f, _) => partValuesOf(f.path, partSchema) }
        .toSeq.map { case (vals, fs) =>
          InternalRow.fromSeq(vals) -> fs
        }

    override def partitionSpec(): org.apache.spark.sql.execution
        .datasources.PartitionSpec =
      if (partSchema.isEmpty)
        org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
      else org.apache.spark.sql.execution.datasources.PartitionSpec(
        partSchema,
        groups.map { case (row, fs) =>
          org.apache.spark.sql.execution.datasources.PartitionPath(
            row, fs.head._2.getPath.getParent)
        })

    // lazy vals: the parent consults these repeatedly during DSv2
    // planning (allFiles/inputFiles/sizeInBytes) and the file set is
    // immutable — never rebuild per call
    override protected lazy val leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
      statuses.foreach { case (_, st) => m.put(st.getPath, st) }
      m
    }

    override protected lazy val leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] =
      statuses.groupBy(_._2.getPath.getParent)
        .map { case (d, fs) => d -> fs.map(_._2).toArray }

    override def rootPaths: Seq[Path] =
      statuses.map(_._2.getPath.getParent).distinct

    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionPredicate(partitionFilters)
      groups.collect {
        case (row, fs) if keep(row) =>
          PartitionDirectory(row, fs.collect {
            case (f, st) if dataFilters.forall(mayMatch(f, _)) => st
          }.toArray)
      }
    }

    /** The partitionFilters bound (BY NAME, as Spark's own
      * PartitioningAwareFileIndex does) against the partition-values
      * row. Any shape that fails to bind or evaluate keeps every
      * partition — pruning is an optimization, never a semantics
      * change. */
    private def partitionPredicate(
        filters: Seq[Expression]): InternalRow => Boolean =
      if (partSchema.isEmpty || filters.isEmpty) _ => true
      else try {
        val bound = filters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partSchema.fieldIndex(a.name)
            BoundReference(i, partSchema(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        row => try pred.eval(row) catch { case _: Exception => true }
      } catch {
        case _: Exception => _ => true
      }

    override def inputFiles: Array[String] =
      statuses.map(_._2.getPath.toString).toArray

    override def refresh(): Unit = () // immutable snapshot

    override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

    override def partitionSchema: StructType = partSchema

    /** The table's exact SUM of `name` from the per-file `sum:` stats
      * — `None` unless EVERY file records one. */
    def columnSum(name: String): Option[Long] = {
      val rs = files.map(_.stats.get(s"sum:$name"))
      if (rs.nonEmpty && rs.forall(_.isDefined)) Some(rs.flatten.map(_._1).sum)
      else None
    }

    /** Fold the per-file [min, max] of `name` into the table's range,
      * as CATALYST values of `dt` — `None` unless EVERY file records
      * the stat (a stats-less or all-null file could hide the true
      * extremum) and the type round-trips the manifest encoding.
      * Timestamp folds to epoch micros, date to epoch days (both
      * exactly catalyst's internal values); float bounds widen/narrow
      * exactly through double. */
    def columnRange(name: String,
                    dt: org.apache.spark.sql.types.DataType): Option[(Any, Any)] = {
      def foldLong(get: ScanFile => Option[(Long, Long)]): Option[(Long, Long)] = {
        val rs = files.map(get)
        if (rs.nonEmpty && rs.forall(_.isDefined)) {
          val f = rs.flatten
          Some((f.map(_._1).min, f.map(_._2).max))
        } else None
      }
      def foldDbl: Option[(Double, Double)] = {
        val rs = files.map(_.dblStats.get(name))
        if (rs.nonEmpty && rs.forall(_.isDefined)) {
          val f = rs.flatten
          Some((f.map(_._1).min, f.map(_._2).max))
        } else None
      }
      dt match {
        case org.apache.spark.sql.types.LongType => foldLong(_.stats.get(name))
        case org.apache.spark.sql.types.IntegerType =>
          foldLong(_.stats.get(name)).map { case (lo, hi) => (lo.toInt, hi.toInt) }
        case org.apache.spark.sql.types.TimestampType =>
          foldLong(_.tsRange(name))
        case org.apache.spark.sql.types.DateType =>
          foldLong(_.dateRange(name)).map { case (lo, hi) => (lo.toInt, hi.toInt) }
        case org.apache.spark.sql.types.DoubleType => foldDbl
        case org.apache.spark.sql.types.FloatType =>
          foldDbl.map { case (lo, hi) => (lo.toFloat, hi.toFloat) }
        case org.apache.spark.sql.types.StringType =>
          val rs = files.map(_.strStats.get(name))
          if (rs.nonEmpty && rs.forall(_.isDefined)) {
            val f = rs.flatten
            // UTF-8 byte order — the order the stats were written in
            Some((UTF8String.fromString(
              f.map(_._1).reduce(graft.sources.Utf8Order.min)),
              UTF8String.fromString(
                f.map(_._2).reduce(graft.sources.Utf8Order.max))))
          } else None
        case _ => None
      }
    }
  }

  /** The file's partition values parsed from its `col=value` path
    * segments (Hive layout, Spark's own escaping), typed per the
    * recorded partition schema — the values Catalyst's
    * partitionFilters evaluate against and the scan injects into the
    * rows. Missing segment or `__HIVE_DEFAULT_PARTITION__` → null. */
  private def partValuesOf(path: String, schema: StructType): Seq[Any] = {
    val segs = path.split('/')
    schema.fields.toSeq.map { f =>
      val pref = f.name + "="
      segs.find(_.startsWith(pref)) match {
        case Some(seg) =>
          val raw = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(seg.substring(pref.length))
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else f.dataType match {
            case org.apache.spark.sql.types.StringType =>
              UTF8String.fromString(raw)
            case org.apache.spark.sql.types.LongType => raw.toLong
            case org.apache.spark.sql.types.IntegerType => raw.toInt
            case org.apache.spark.sql.types.ShortType => raw.toShort
            case org.apache.spark.sql.types.ByteType => raw.toByte
            case dt => sys.error(s"unsupported partition type $dt (${f.name})")
          }
        case None => null
      }
    }
  }

  /** Could any row of file `f` satisfy `e`? True (keep) whenever the
    * answer isn't provably no — missing stats, unsupported shapes, and
    * non-literal operands all keep the file. Equality shapes
    * additionally consult the file's BLOOM sketch when the column
    * carries one (`VersionedTable.Write.bloom`), fed by Catalyst's own
    * pushed filters. */
  private def mayMatch(f: ScanFile, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case Or(l, r) => mayMatch(f, l) || mayMatch(f, r)
    case EqualTo(a: AttributeReference, l: Literal) =>
      inRange(f, a, l, l) && bloomMayContain(f, a.name, l)
    case EqualTo(l: Literal, a: AttributeReference) =>
      inRange(f, a, l, l) && bloomMayContain(f, a.name, l)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => hiAtLeast(f, a, l, strict = false)
    case GreaterThan(a: AttributeReference, l: Literal) => hiAtLeast(f, a, l, strict = true)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => loAtMost(f, a, l, strict = false)
    case LessThan(a: AttributeReference, l: Literal) => loAtMost(f, a, l, strict = true)
    // literal-on-left flips the comparison
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => loAtMost(f, a, l, strict = false)
    case GreaterThan(l: Literal, a: AttributeReference) => loAtMost(f, a, l, strict = true)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => hiAtLeast(f, a, l, strict = false)
    case LessThan(l: Literal, a: AttributeReference) => hiAtLeast(f, a, l, strict = true)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { v =>
        val l = v.asInstanceOf[Literal]
        inRange(f, a, l, l) && bloomMayContain(f, a.name, l)
      }
    case InSet(a: AttributeReference, vs) =>
      vs.exists { v =>
        val l = Literal.create(v, a.dataType)
        val rangeOk = v match {
          case n: java.lang.Number if integralStats(a.dataType) =>
            f.stats.get(a.name).forall { case (lo, hi) =>
              n.longValue >= lo && n.longValue <= hi }
          case s: UTF8String if a.dataType ==
              org.apache.spark.sql.types.StringType =>
            f.strStats.get(a.name).forall { case (lo, hi) =>
              graft.sources.Utf8Order.lteq(lo, s.toString) &&
                graft.sources.Utf8Order.lteq(s.toString, hi) }
          case n: java.lang.Number
              if typedLongRange(f, a.dataType, a.name).isDefined =>
            typedLongRange(f, a.dataType, a.name).get.forall {
              case (lo, hi) => n.longValue >= lo && n.longValue <= hi }
          case n: java.lang.Number if isFractional(a.dataType) &&
              !n.doubleValue.isNaN => // NaN member: keep (see dblOf)
            f.dblStats.get(a.name).forall { case (lo, hi) =>
              n.doubleValue >= lo && n.doubleValue <= hi }
          case _ => true
        }
        rangeOk && bloomMayContain(f, a.name, l)
      }
    case _ => true // IsNotNull, UDFs, casts, … — cannot prune, keep
  }

  /** The manifest's bare-name numeric stats were recorded via
    * `cast(col as long)` (`VersionedTable.statLines`), a FAITHFUL
    * [min, max] bound only for integral columns. For TimestampType the
    * cast yields epoch SECONDS while a catalyst timestamp literal
    * carries MICROSECONDS (off by 1e6 — pruning on it would skip every
    * file); for Float/Double the cast truncates toward zero. Those
    * types never prune on the bare-name long stats — they prune ONLY
    * through their TYPED manifest keys (`__ts_`/`__dt_`/`__dbl_`,
    * faithful units by construction; a legacy manifest without them
    * keeps every file, conservative). */
  private def integralStats(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The typed [min, max] lookup for an attribute whose LONG-valued
    * catalyst literals compare against a typed manifest key: timestamp
    * literals carry epoch micros (vs [[graft.sources.VersionedTable.TsPrefix]]
    * stats), date literals epoch days. None = not such a type. */
  private def typedLongRange(f: ScanFile,
                             dt: org.apache.spark.sql.types.DataType,
                             name: String): Option[Option[(Long, Long)]] =
    dt match {
      case org.apache.spark.sql.types.TimestampType => Some(f.tsRange(name))
      // NTZ literals carry unadjusted wall-clock micros — compared
      // ONLY against the __ntz_ kind (an instant-semantics __ts_ bound
      // differs by the writer's zone offset; cross-pruning would skip
      // live files)
      case org.apache.spark.sql.types.TimestampNTZType =>
        Some(f.ntzRange(name))
      case org.apache.spark.sql.types.DateType => Some(f.dateRange(name))
      case _ => None
    }

  private def isFractional(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.DoubleType ||
      dt == org.apache.spark.sql.types.FloatType

  /** Bloom test for an equality probe: definite-absence skips the
    * file; no bloom for the column keeps it. Hash mirrors the writer
    * (xxhash64 over the column's own type — the analyzed literal
    * carries it). */
  private def bloomMayContain(f: ScanFile, col: String,
                              l: Literal): Boolean =
    f.blooms.get(col) match { // decoded once per file, lazily
      case Some(bf) =>
        val h = new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
        bf.mightContainLong(h)
      case None => true
    }

  private def longOf(l: Literal): Option[Long] = l.value match {
    case n: java.lang.Number => Some(n.longValue)
    case _ => None
  }

  private def strOf(l: Literal): Option[String] = l.value match {
    case s: UTF8String => Some(s.toString)
    case _ => None
  }

  /** Exact double of a fractional-typed literal (floats widen exactly;
    * integral literals against a double column arrive pre-cast by
    * Catalyst's coercion, so Double/Float covers the analyzed shapes).
    * A NaN literal returns None — Spark SQL orders NaN ABOVE every
    * double (`col <= NaN` matches all rows), while IEEE comparisons
    * against the stats bounds are all-false and would wrongly skip
    * every file; parquet's own pushdown refuses NaN for the same
    * reason. None keeps the file (conservative). */
  private def dblOf(l: Literal): Option[Double] = l.value match {
    case d: java.lang.Double => Some(d.doubleValue).filterNot(_.isNaN)
    case f: java.lang.Float => Some(f.toDouble).filterNot(_.isNaN)
    case _ => None
  }

  /** Keep iff the file's [lo, hi] could contain a value in [a, b].
    * Bare-name numeric stats apply only to integral attributes (see
    * [[integralStats]]); string stats to StringType; timestamp/date
    * and float/double compare against their TYPED manifest keys. */
  private def inRange(f: ScanFile, attr: AttributeReference, a: Literal,
                      b: Literal): Boolean =
    if (integralStats(attr.dataType)) (longOf(a), longOf(b)) match {
      case (Some(x), Some(y)) =>
        f.stats.get(attr.name).forall { case (lo, hi) => y >= lo && x <= hi }
      case _ => true
    } else if (attr.dataType == org.apache.spark.sql.types.StringType)
      (strOf(a), strOf(b)) match {
        case (Some(x), Some(y)) =>
          // UTF-8 byte order (see graft.sources.Utf8Order)
          f.strStats.get(attr.name).forall { case (lo, hi) =>
            graft.sources.Utf8Order.lteq(lo, y) &&
              graft.sources.Utf8Order.lteq(x, hi) }
        case _ => true
      }
    else typedLongRange(f, attr.dataType, attr.name) match {
      case Some(range) => (longOf(a), longOf(b)) match {
        case (Some(x), Some(y)) =>
          range.forall { case (lo, hi) => y >= lo && x <= hi }
        case _ => true
      }
      case None if isFractional(attr.dataType) =>
        (dblOf(a), dblOf(b)) match {
          case (Some(x), Some(y)) =>
            f.dblStats.get(attr.name).forall { case (lo, hi) =>
              y >= lo && x <= hi }
          case _ => true
        }
      case None => true
    }

  /** Keep iff the file's MAX could satisfy `col > / >= v`. */
  private def hiAtLeast(f: ScanFile, attr: AttributeReference, l: Literal,
                        strict: Boolean): Boolean =
    if (integralStats(attr.dataType)) longOf(l).forall { v =>
      f.stats.get(attr.name).forall { case (_, hi) =>
        if (strict) hi > v else hi >= v }
    } else if (attr.dataType == org.apache.spark.sql.types.StringType)
      strOf(l).forall { v =>
        f.strStats.get(attr.name).forall { case (_, hi) =>
          if (strict) graft.sources.Utf8Order.lt(v, hi)
          else graft.sources.Utf8Order.lteq(v, hi) }
      }
    else typedLongRange(f, attr.dataType, attr.name) match {
      case Some(range) => longOf(l).forall { v =>
        range.forall { case (_, hi) => if (strict) hi > v else hi >= v }
      }
      case None if isFractional(attr.dataType) => dblOf(l).forall { v =>
        f.dblStats.get(attr.name).forall { case (_, hi) =>
          if (strict) hi > v else hi >= v }
      }
      case None => true
    }

  /** Keep iff the file's MIN could satisfy `col < / <= v`. */
  private def loAtMost(f: ScanFile, attr: AttributeReference, l: Literal,
                       strict: Boolean): Boolean =
    if (integralStats(attr.dataType)) longOf(l).forall { v =>
      f.stats.get(attr.name).forall { case (lo, _) =>
        if (strict) lo < v else lo <= v }
    } else if (attr.dataType == org.apache.spark.sql.types.StringType)
      strOf(l).forall { v =>
        f.strStats.get(attr.name).forall { case (lo, _) =>
          if (strict) graft.sources.Utf8Order.lt(lo, v)
          else graft.sources.Utf8Order.lteq(lo, v) }
      }
    else typedLongRange(f, attr.dataType, attr.name) match {
      case Some(range) => longOf(l).forall { v =>
        range.forall { case (lo, _) => if (strict) lo < v else lo <= v }
      }
      case None if isFractional(attr.dataType) => dblOf(l).forall { v =>
        f.dblStats.get(attr.name).forall { case (lo, _) =>
          if (strict) lo < v else lo <= v }
      }
      case None => true
    }
}
