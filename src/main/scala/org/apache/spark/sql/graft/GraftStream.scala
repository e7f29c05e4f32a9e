package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** STREAMING read from the Catalyst-integrated scan (the DeltaSource
  * role): micro-batches are VERSION-PINNED — each batch is exactly the
  * files committed between two manifest versions, resolved from the
  * log (never a directory walk), read through the same manifest-backed
  * FileIndex as [[GraftScan]] — so a streaming consumer gets the
  * batch scan's pruning contract: an ordinary `.filter(...)` on the
  * stream pushes into each micro-batch's file listing and skips
  * non-intersecting files from the manifest stats/blooms, per batch.
  *
  * Offsets are table VERSIONS (checkpointed by Spark), and a version
  * range resolves to a deterministic file list — a replayed batch
  * re-reads exactly the same rows, the exactly-once contract
  * `readChangesStream`'s directory listing approximates but cannot
  * pin (it discovers files, not commits). Append-only history
  * required, checked per batch — with one carve-out: commits MARKED
  * data-preserving in the manifest (bin-packing `compact`, the
  * z-order re-layout `compactZOrderedK`) are SKIPPED, because their
  * delta contributes no new rows (a 100 TB table gets compacted while
  * streams run; Delta's dataChange=false plays the same role). A
  * genuine rewrite (MERGE/DELETE/UPDATE/overwrite) still fails the
  * stream rather than silently re-serving rewritten rows.
  *
  * Admission control (`maxVersionsPerTrigger` / `maxBytesPerTrigger`,
  * the Delta maxFilesPerTrigger role): the source caps the end offset
  * it OFFERS so one micro-batch admits a bounded number of commits /
  * added bytes — a 100 TB backlog drains as bounded batches under a
  * ProcessingTime trigger instead of one giant catch-up job. V1-source
  * caveats (Delta's V1 path shares them): the cap anchors on the last
  * batch this source instance served, so the FIRST batch of a freshly
  * (re)started stream — the initial snapshot load, or a restart with
  * no in-flight batch to recover — is uncapped; and Trigger.AvailableNow
  * captures ONE offered offset per run, so a capped AvailableNow run
  * processes at most one cap's worth and leaves the rest for the next
  * run (exactly-once either way — the checkpoint governs).
  *
  * Use via [[graft.sources.VersionedTable.scanStream]]. */
class GraftStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    ("graft-table", GraftStreamSource.schemaFor(ctx.sparkSession,
      GraftStreamSource.rootOf(parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftStreamSource(ctx.sparkSession,
      GraftStreamSource.rootOf(parameters),
      GraftStreamSource.startingVersionOf(parameters),
      GraftStreamSource.longOpt(parameters, "maxVersionsPerTrigger"),
      GraftStreamSource.longOpt(parameters, "maxBytesPerTrigger"))

  /** NATIVE streaming WRITE (the DeltaSink role): every micro-batch
    * lands as one exactly-once commit (`VersionedTable.Write.txn`) —
    * data files, stats, and the `(appId, batchId)` txn marker
    * in ONE atomic manifest commit, so a kill-and-restart replay of
    * the last batch is recognized and skipped by the table itself, not
    * by sink-side bookkeeping. Routes:
    *
    * {{{
    *   df.writeStream.format("graft-table").option("root", root)...
    *   df.writeStream.format("graft-table").toTable("graft.db.t")
    * }}}
    *
    * (the second through [[GraftTableV2]]'s V1 fallback, which passes
    * the table location as `path`). The exactly-once appId is, in
    * order: the `txnAppId` option, else the query's checkpoint
    * location (stable across restarts — the same checkpoint IS the
    * same logical stream), else a fresh UUID (no checkpoint = no
    * replay to dedup). Append mode appends; Complete overwrites per
    * batch (same txn stamping); Update is refused. Partitioned tables
    * land in their Hive layout automatically. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = GraftStreamSource.rootOf(parameters)
    require(outputMode == OutputMode.Append() ||
      outputMode == OutputMode.Complete(),
      s"graft-table sink supports Append and Complete, got $outputMode")
    val tableParts = VersionedTable.partitionSchema(root).fieldNames.toSeq
    require(partitionColumns.isEmpty || partitionColumns == tableParts,
      s"partitionBy(${partitionColumns.mkString(",")}) differs from the " +
        s"table's partitioning ${tableParts.mkString(",")}")
    // refuse at SINK CONSTRUCTION, not at the first addBatch — both
    // facts are known here, and failing after batch 0's offsets were
    // checkpointed is a noisier death
    require(outputMode != OutputMode.Complete() || tableParts.isEmpty,
      "Complete-mode overwrite of a partitioned table is not " +
        "supported — use Append, or a foreachBatch door")
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("txnappid"))
      .orElse(parameters.get("checkpointLocation"))
      .orElse(parameters.get("checkpointlocation"))
      .getOrElse(java.util.UUID.randomUUID().toString)
    val statsCols = parameters.get("statsCols")
      .orElse(parameters.get("statscols"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // schema-evolution dial (the Delta autoMerge role): a micro-batch
    // carrying columns the table does not declare REFUSES by default;
    // option("mergeSchema", true) evolves the table instead
    val evolve = parameters.get("mergeSchema")
      .orElse(parameters.get("mergeschema")).exists(_.toBoolean)
    new GraftStreamSink(root, appId, statsCols,
      complete = outputMode == OutputMode.Complete(), evolve = evolve)
  }
}

/** V1 streaming Sink onto the engine's exactly-once txn commits. The
  * incoming micro-batch frame is STREAMING-flagged (the V1 contract);
  * it re-wraps over its already-planned RDD as a batch frame before
  * the write — never re-planned, never double-computed beyond the
  * write's own passes. */
private[graft] class GraftStreamSink(root: String, appId: String,
                                     statsCols: Seq[String],
                                     complete: Boolean,
                                     evolve: Boolean = false) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val cs = data.sparkSession.asInstanceOf[classic.SparkSession]
    val batch = cs.internalCreateDataFrame(
      data.asInstanceOf[classic.DataFrame].queryExecution.toRdd,
      data.schema, isStreaming = false)
    // SCHEMA-EVOLUTION CONTRACT (append modes; Complete overwrites the
    // schema wholesale by design): a batch carrying columns the table
    // does not declare refuses LOUDLY unless mergeSchema=true, which
    // routes through a metadata-only ALTER ADD COLUMNS and then the
    // txn append. Exactly-once holds across the ALTER+append pair: a
    // replayed batch finds the columns already declared (the ALTER
    // no-ops by construction — only genuinely-new names are added) and
    // the append no-ops on its (appId, batchId) txn marker. A fresh
    // root (no versions) takes the first batch's schema as-is.
    if (!complete && VersionedTable.latestVersion(root).isDefined) {
      val declared = VersionedTable.writeSchema(cs, root)
      val have = declared.fieldNames.map(_.toLowerCase).toSet
      val extra = batch.schema.fields
        .filterNot(f => have.contains(f.name.toLowerCase))
      if (extra.nonEmpty) {
        require(evolve,
          s"micro-batch $batchId carries column(s) " +
            s"${extra.map(_.name).mkString(", ")} the table at $root " +
            "does not declare — drop them upstream, or set " +
            "option(\"mergeSchema\", \"true\") on the writeStream to " +
            "evolve the table (a metadata-only ALTER ADD COLUMNS, " +
            "then the append)")
        VersionedTable.alterAddColumns(cs, root, extra.map(f =>
          org.apache.spark.sql.types.StructField(
            f.name, f.dataType, nullable = true)).toSeq)
      }
    }
    // an append lands in the table's own layout (flat or partitioned)
    val w = VersionedTable.Write(stats = Some(statsCols),
      txn = Some(appId -> batchId))
    if (complete) VersionedTable.overwrite(batch, root, w)
    else VersionedTable.append(batch, root, w)
    ()
  }

  override def toString: String = s"GraftStreamSink[$root]"
}

private[graft] object GraftStreamSource {

  def rootOf(parameters: Map[String, String]): String =
    parameters.get("root")
      // `path` is how the catalog's V1 fallback (`.toTable`) hands the
      // table LOCATION over — a file: URI string; ONE normalizer with
      // the catalog's CREATE-TABLE path resolution
      .orElse(parameters.get("path").map(GraftCatalog.localPath))
      .getOrElse(
        sys.error("graft-table stream needs option 'root' (or 'path')"))

  /** The Delta `startingVersion` option: serve only commits AFTER this
    * version (None = full first-snapshot load). Spark lower-cases
    * DataSource option keys — accept both spellings. */
  def startingVersionOf(parameters: Map[String, String]): Option[Long] =
    parameters.get("startingVersion").orElse(parameters.get("startingversion"))
      .map(_.trim.toLong)

  /** Positive long option, accepted in both spellings (Spark
    * lower-cases DataSource option keys). */
  def longOpt(parameters: Map[String, String], key: String): Option[Long] = {
    val v = parameters.get(key).orElse(parameters.get(key.toLowerCase))
      .map(_.trim.toLong)
    v.foreach(n => require(n > 0, s"$key must be positive, got $n"))
    v
  }

  /** Full output schema: data columns plus (for Hive-layout tables)
    * the path-derived partition columns, appended last exactly as the
    * batch scan serves them. */
  def schemaFor(spark: SparkSession, root: String): StructType = {
    val v = VersionedTable.latestVersion(root)
      .getOrElse(sys.error(s"no versions at $root"))
    VersionedTable.readVersion(spark, root, v).schema
  }
}

private[graft] class GraftStreamSource(spark: SparkSession, root: String,
                                       startingVersion: Option[Long] = None,
                                       maxVersionsPerTrigger: Option[Long] = None,
                                       maxBytesPerTrigger: Option[Long] = None)
    extends Source {

  private val partSchema = VersionedTable.partitionSchema(root)
  private val schema0 = GraftStreamSource.schemaFor(spark, root)
  private val dataSchema0 = org.apache.spark.sql.types.StructType(
    schema0.filterNot(f => partSchema.fieldNames.contains(f.name)))

  override def schema: StructType = schema0

  /** The last END this source served (or the tail seed) — the anchor
    * the per-trigger admission caps measure from. Recovery-safe: on a
    * restart Spark replays the last checkpointed batch through
    * [[getBatch]] BEFORE asking for a new offset, which re-seats this
    * anchor; the only uncapped batch is a brand-new stream's initial
    * snapshot load (Delta's V1 source accepts the same carve-out). */
  @volatile private var lastEnd: Option[Long] = startingVersion

  /** Admission control (the Delta maxFilesPerTrigger role, expressed
    * in this log's units): cap the offered end offset so one
    * micro-batch admits at most `maxVersionsPerTrigger` commits /
    * `maxBytesPerTrigger` bytes of ADDED files (always at least one
    * commit, or a single oversized commit could wedge the stream). A
    * 100 TB backlog then drains as bounded batches instead of one
    * giant catch-up job. */
  override def getOffset: Option[Offset] = {
    val latest = VersionedTable.latestVersion(root)
    (latest, lastEnd) match {
      case (Some(l), Some(e))
          if l > e && (maxVersionsPerTrigger.isDefined ||
            maxBytesPerTrigger.isDefined) =>
        val capV = maxVersionsPerTrigger
          .map(c => math.min(l, e + c)).getOrElse(l)
        val capped = maxBytesPerTrigger match {
          case None => capV
          case Some(budget) =>
            // walk commits, admit whole versions until the byte budget
            // is spent — preserving commits add nothing and are free,
            // and the first BYTE-CARRYING commit always admits even
            // oversized (or a single big commit would wedge the stream)
            var w = e
            var acc = 0L
            var open = true
            while (w < capV && open) {
              val add = VersionedTable
                .scanListingDelta(root, Some(w), w + 1)
                .map(f => f.bytes.getOrElse(
                  new java.io.File(f.path).length())).sum
              if (acc + add <= budget || acc == 0L) { acc += add; w += 1 }
              else open = false // budget spent — stop admitting
            }
            w
        }
        Some(LongOffset(capped))
      case (l, _) => l.map(LongOffset(_))
    }
  }

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a fresh stream (no checkpointed start) begins at startingVersion
    // when given — tail-from-here semantics, commits AFTER it only;
    // once Spark checkpoints an offset, that governs (the option only
    // seeds the FIRST batch, exactly Delta's contract)
    val from = start.map(versionOf).orElse(startingVersion)
    lastEnd = Some(versionOf(end))
    val files = VersionedTable.scanListingDelta(root, from, versionOf(end))
    // COLUMN MAPPING: files store PHYSICAL names; serve the LOGICAL
    // view. Physical names are immutable from a column's birth, so the
    // END version's declaration maps every file in the span. A rename
    // committed MID-STREAM changes the logical schema and fails the
    // run loudly (batch schema ≠ source schema — the Delta stance);
    // streams started on an already-mapped table run fine.
    val logical = VersionedTable.logicalDataSchemaFor(spark, root,
      versionOf(end), dataSchema0)
    val physical = org.apache.spark.sql.types.StructType(
      logical.fields.map(f => org.apache.spark.sql.types.StructField(
        VersionedTable.physicalName(f), f.dataType, f.nullable)))
    val raw = GraftScan.ofFiles(spark, files, physical, isStreaming = true,
      partSchema = partSchema)
    GraftScan.projectLogical(raw, physical,
      org.apache.spark.sql.types.StructType(logical.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable))),
      partSchema)
  }

  override def stop(): Unit = ()
}
