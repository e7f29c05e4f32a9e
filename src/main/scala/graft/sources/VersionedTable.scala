package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal manifest-log table format — the engine's standalone stand-in
  * for the Delta transaction log the reference builds on
  * (SURVEY.md §1.1; Delta jars are unavailable here, and the semantics
  * the pipelines rely on are exactly these):
  *
  *  - **atomic commits**: a version is a JSON manifest listing its data
  *    files; committing = writing `_log/<version>.manifest` via
  *    create-new (fails if the version already exists → natural
  *    optimistic concurrency, last committer of a version wins nothing);
  *  - **snapshot isolation / time travel**: readers resolve one
  *    manifest and read only its file list — concurrent commits never
  *    change a running query's input (`readVersion`);
  *  - **append without rewrite**: new data files are added under
  *    `data/` and the new manifest inherits the previous file list —
  *    O(new data), like a Delta append;
  *  - **copy-on-write MERGE**: `merge` upserts by key and commits the
  *    rewritten table as a new version (the `DeltaTable.merge` role,
  *    idempotent replacement for the reference's blind appends);
  *  - **RESTORE**: `restore` commits a new version that points at an
  *    old version's files — history is preserved, rollback is
  *    roll-forward;
  *  - **VACUUM**: `vacuum` deletes data files unreachable from the
  *    retained manifests.
  *
  * Scale design: the manifest holds file paths only (O(files), like a
  * Delta checkpoint); data file moves are renames, never copies; reads
  * hand Spark the exact file list so partition pruning and parquet
  * row-group stats work unchanged. Multi-writer safety comes from the
  * create-new manifest semantics: two writers racing to commit version
  * N+1 → exactly one wins, the loser re-reads and retries (documented
  * single-JVM here; on an object store the same protocol needs a
  * put-if-absent primitive, which S3/GCS/ABFS all provide).
  */
object VersionedTable {

  private def logDir(root: String) = new File(root, "_log")
  private def dataDir(root: String) = new File(root, "data")

  /** Every `.parquet` file under `dir`, Hive partition directories
    * included; paths keep the form staging records in a listing
    * (`new File(parent, name).getPath`), so they compare as strings. */
  private def parquetFilesUnder(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFilesUnder(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    }

  private def manifestFile(root: String, v: Long): File =
    new File(logDir(root), f"$v%012d.manifest")

  private def checkpointFile(root: String, v: Long): File =
    new File(logDir(root), f"$v%012d.checkpoint")

  /** Existing versions, ascending; empty if the table doesn't exist. */
  def versions(root: String): Seq[Long] = {
    val d = logDir(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().filter(_.getName.endsWith(".manifest"))
      .map(_.getName.stripSuffix(".manifest").toLong).sorted.toSeq
  }

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  /** Timestamp time travel (the Delta `TIMESTAMP AS OF` role): the
    * latest version whose manifest was committed at or before
    * `tsMillis` — commit times come from the manifest files' own
    * mtimes (the log IS the clock; an object store would read object
    * creation times the same way). None if the table didn't exist
    * yet. Commit times are wall-clock, so this is an OPERATIONAL
    * surface ("what did the dashboard read at 9am"), not a
    * deterministic one — oracle-checkable queries pin versions. */
  def versionAsOf(root: String, tsMillis: Long): Option[Long] =
    versions(root)
      .filter(v => manifestFile(root, v).lastModified() <= tsMillis)
      .lastOption

  /** Raw lines of one manifest FILE (full listing or delta directives —
    * use [[readListing]] for the resolved file list of a version). */
  private def readManifest(root: String, v: Long): Seq[String] = {
    val txt = new String(
      Files.readAllBytes(manifestFile(root, v).toPath), StandardCharsets.UTF_8)
    txt.linesIterator.filter(_.nonEmpty).toSeq
  }

  // -------------------------------------------------------------------
  // Delta log + checkpoints (the Delta-Lake _last_checkpoint role).
  //
  // A manifest file is either a FULL listing (every line `path[\tstats]`
  // — the only format before round 6, still written by overwrite/
  // restore whose content is inherently their own file set) or a DELTA:
  // a `#delta` header followed by `-\t<path>` (file removed vs the
  // previous version) and `+\t<line>` (file added, stats kept on the
  // line). Append-family commits write O(batch) delta bytes instead of
  // re-writing the whole listing — at 10^6 accumulated files a daily
  // append no longer writes (and every reader no longer parses) a
  // ~100 MB listing per commit.
  //
  // Readers resolve a version by walking back at most
  // `checkpointInterval` manifests: every Nth delta commit also writes
  // `<v>.checkpoint`, the full resolved listing at v (side file, not
  // the commit — commit-file bytes stay O(batch) for EVERY commit; the
  // checkpoint is deterministic from the log, so a best-effort
  // overwrite is safe and a crashed checkpoint write costs only a
  // longer walk). Old tables (all-full manifests) resolve on the first
  // file touched. Checkpoint writes are amortized O(total/N).
  // -------------------------------------------------------------------

  private val DeltaHeader = "#delta"

  /** Manifest annotation (a standalone line) marking a commit as
    * DATA-PRESERVING: it removes and adds files, but every row of the
    * previous version is present in the new version exactly once —
    * bin-packing [[compact]] and the z-order re-layout
    * [[compactZOrderedK]] qualify; MERGE/DELETE/UPDATE/overwrite do
    * NOT. The version-offset streaming source SKIPS marked commits
    * (their delta contributes no new rows — earlier batches' rows are
    * still served from their original, still-on-disk files) while a
    * genuine rewrite keeps failing the stream; the Delta analogue is
    * compaction under `ignoreChanges`-free streams, which Delta solves
    * the same way (dataChange=false actions). Filtered out of file
    * resolution like the `#txn` namespace. */
  private[sources] val PreservingMarker = "#preserving"

  /** Marker line: this commit's DECLARATION lives in its
    * `_schema.v{v}.json` sidecar, written immediately AFTER the
    * manifest commit wins (sidecar-first would let a racing loser's
    * sidecar land under the winner's version — the reverse tear).
    * Schema resolution treats marker-without-sidecar as IN FLIGHT:
    * [[declaredSchemaAt]] spins briefly for the sidecar and then fails
    * LOUDLY, so (a) a writer that lost an ALTER race and retries
    * against base+1 can never resolve the stale pre-ALTER declaration
    * and silently erase the winner's rename/drop/add, and (b) a crash
    * between commit and sidecar (restore's window) surfaces as an
    * explicit torn-declaration error instead of physical names served
    * from a footer sweep. Filtered out of file resolution like
    * [[PreservingMarker]]. */
  private[sources] val DeclaredMarker = "#declared"

  /** Declaration-commit INTENT breadcrumb (`_declintent.<nonce>` at
    * the table root): created immediately before a [[DeclaredMarker]]
    * manifest commit, mtime-refreshed before every retry attempt, and
    * deleted once the `_schema.v{v}.json` sidecar lands. Purpose:
    * [[declaredSchemaAt]] on a table with NO sidecar at-or-below `v`
    * would otherwise read EVERY delta manifest down the chain hunting
    * for a torn marker — O(chain) IO on long never-ALTERed append
    * chains, spent guarding a microseconds-wide crash window. The
    * breadcrumb inverts the cost: no intent in the directory listing
    * (already fetched) → no in-flight or torn declaration is possible
    * → O(1) short-circuit; intent present → the full walk runs (rare,
    * transient on a healthy writer). Creation strictly happens-before
    * the manifest commit and deletion strictly after the sidecar move,
    * so a reader that can observe a marker-without-sidecar manifest
    * also observes the intent. A writer that crashed BEFORE its commit
    * leaves pure litter — [[vacuum]] reclaims intents older than
    * [[declIntentStaleMs]], but only after proving no retained
    * marker-bearing commit is missing its sidecar (a post-commit tear
    * keeps its intent until the table is repaired). */
  private[sources] val DeclIntentPrefix = "_declintent."

  /** Intent-staleness horizon for [[vacuum]]'s reclamation (test
    * seam): generous on purpose — a live ALTER refreshes its intent's
    * mtime right before each commit attempt, so anything older than
    * this with no torn marker in sight is a crashed writer's litter. */
  private[sources] var declIntentStaleMs: Long = 600000L

  /** Every Nth commit gets a checkpoint (Delta's default is 10). */
  private[sources] val checkpointInterval: Long = 10L

  private def isDelta(lines: Seq[String]): Boolean =
    lines.headOption.contains(DeltaHeader)

  private def deltaContent(removed: Seq[String], added: Seq[String]): Seq[String] =
    DeltaHeader +: (removed.map(p => s"-\t${pathOf(p)}") ++ added.map("+\t" + _))

  /** Resolved file list (manifest LINES, stats preserved) of version
    * `v`: nearest checkpoint-or-full-manifest at-or-below `v`, plus the
    * delta suffix replayed oldest→newest. */
  private[sources] def readListing(root: String, v: Long): Seq[String] = {
    var deltas = List.empty[Seq[String]] // newest..oldest → prepend = replay order
    var cur = v
    var base: Seq[String] = null
    while (base == null) {
      val ckpt = checkpointFile(root, cur)
      if (ckpt.exists()) {
        // checkpoints carry #txn state lines (see txnStateAt) — file
        // resolution stays txn-blind, like full manifests
        base = rawCheckpointLines(root, cur).filterNot(l =>
          l.startsWith(TxnPrefix) || l.startsWith(FeaturePrefix) ||
            l.startsWith(ConstraintPrefix) || l.startsWith(IdentityPrefix) ||
            l == PreservingMarker || l == DeclaredMarker)
      } else {
        val lines = readManifest(root, cur)
        if (isDelta(lines)) {
          require(cur > 0, s"version 0 of $root cannot be a delta")
          deltas ::= lines.tail
          cur -= 1
        } else base = lines.filterNot(l =>
          l.startsWith(TxnPrefix) || l.startsWith(FeaturePrefix) ||
            l.startsWith(ConstraintPrefix) || l.startsWith(IdentityPrefix) ||
            l == PreservingMarker || l == DeclaredMarker)
      }
    }
    deltas.foldLeft(base) { (listing, delta) =>
      val removed = delta.collect { case l if l.startsWith("-\t") => l.drop(2) }.toSet
      val added = delta.collect { case l if l.startsWith("+\t") => l.drop(2) }
      (if (removed.isEmpty) listing
       else listing.filterNot(l => removed.contains(pathOf(l)))) ++ added
    }
  }

  private def rawCheckpointLines(root: String, v: Long): Seq[String] = {
    val txt = new String(
      Files.readAllBytes(checkpointFile(root, v).toPath), StandardCharsets.UTF_8)
    txt.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** The newest `#txn` line per appId as of version `v`, folded by
    * walking manifests newest→oldest and stopping at the first OLDER
    * checkpoint (which, by this same rule, already aggregates
    * everything below it). Checkpoints persist this state so that
    * [[vacuum]]'s manifest expiry cannot lose an idempotent writer's
    * progress marker — exactly why Delta carries SetTransaction
    * actions into its checkpoints. */
  private def txnStateAt(root: String, v: Long): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def absorb(lines: Seq[String]): Unit = lines.foreach { l =>
      if (l.startsWith(TxnPrefix + "\t")) {
        val parts = l.split('\t')
        if (parts.length == 3 && !seen.contains(parts(1)))
          seen(parts(1)) = parts(2).toLong
      }
    }
    val existing = versions(root).toSet
    var cur = v
    var stop = false
    while (!stop && cur >= 0 && existing.contains(cur)) {
      absorb(readManifest(root, cur))
      if (cur != v && checkpointFile(root, cur).exists()) {
        val lines = rawCheckpointLines(root, cur)
        absorb(lines)
        // only a txn-AWARE checkpoint (marker present) aggregates the
        // state below it; a legacy checkpoint carries file lines only —
        // keep walking or its history's txn stamps would be dropped
        // and baked out of every future checkpoint
        if (lines.contains(TxnCkptMarker)) stop = true
      }
      cur -= 1
    }
    seen.toSeq.map { case (a, n) => s"$TxnPrefix\t$a\t$n" }
  }

  /** Best-effort full-listing checkpoint for `v` (idempotent — content
    * is deterministic from the log; REPLACE_EXISTING is safe). Carries
    * the aggregated `#txn` state (see [[txnStateAt]]) after the file
    * lines; [[readListing]] filters them back out. */
  private def writeCheckpoint(root: String, v: Long): Unit = {
    // TxnCkptMarker is written even when the txn state is EMPTY: it is
    // what lets readers distinguish "aggregates everything below me"
    // from a legacy (pre-txn-aware) checkpoint that proves nothing
    val listing = readListing(root, v) ++
      (TxnCkptMarker +: txnStateAt(root, v)) ++
      (FeatCkptMarker +: featureLinesAt(root, v)) ++
      (ConstraintCkptMarker +: constraintOpLinesAt(root, v)) ++
      (IdentityCkptMarker +: identityLinesAt(root, v))
    val tmp = Files.createTempFile(logDir(root).toPath, s"_ckpt$v", ".inprogress")
    Files.write(tmp, listing.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, checkpointFile(root, v).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def maybeCheckpoint(root: String, v: Long): Unit =
    if (v > 0 && v % checkpointInterval == 0) writeCheckpoint(root, v)

  /** Atomic commit of `files` as version `v`. Fails if someone else
    * committed `v` first (optimistic concurrency) — callers retry from
    * a fresh read.
    *
    * Exclusivity comes from `Files.createLink` (link(2)): hard-linking
    * the fully-written temp manifest onto the target fails with
    * FileAlreadyExistsException if the target exists — atomically, in
    * the filesystem. An exists()-then-rename would be a TOCTOU race:
    * POSIX rename(2) silently REPLACES an existing target, so two
    * same-version committers inside the check window would both
    * "succeed" and the loser's manifest would be silently overwritten.
    * Readers never see a partial manifest: content is complete before
    * the link springs into existence. (On an object store the same
    * role is played by put-if-absent.) */
  private def commitManifest(root: String, v: Long, files: Seq[String]): Long = {
    // the single write gate: a writer that cannot resolve the log it
    // extends (unknown reader OR writer feature at the base version)
    // must not commit. Checked against v-1 — the new commit may itself
    // be the one INTRODUCING a requirement.
    if (v > 0) requireWritable(root, v - 1)
    logDir(root).mkdirs()
    val target = manifestFile(root, v)
    val tmp = Files.createTempFile(logDir(root).toPath, s"_tmp$v", ".inprogress")
    Files.write(tmp, files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    try Files.createLink(target.toPath, tmp)
    catch {
      case _: UnsupportedOperationException =>
        // filesystem without link(2) (some network mounts / overlay edge
        // cases): fall back to exists-check + ATOMIC_MOVE. Weaker — the
        // check/move window is a TOCTOU race — but on such filesystems
        // it is the strongest primitive available, and it preserves the
        // manifest-never-partial property (move, not write-in-place).
        if (target.exists())
          throw new java.nio.file.FileAlreadyExistsException(target.getPath)
        Files.move(tmp, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    finally Files.deleteIfExists(tmp)
    v
  }

  private def nextVersion(root: String): Long =
    latestVersion(root).map(_ + 1).getOrElse(0L)

  /** A manifest line is `path` followed by zero or more `\tcol\tmin\tmax`
    * stat triples — per-file column stats for manifest-level data
    * skipping (the Delta/Iceberg role: a selective read prunes FILES
    * from the listing alone, no footer round-trips). Old path-only
    * manifests parse unchanged. */
  private def pathOf(line: String): String = line.takeWhile(_ != '\t')

  /** Non-numeric triples (e.g. [[BloomPrefix]] payloads) are skipped:
    * min/max stats and other manifest extensions share the same
    * `\tname\ta\tb` grammar without corrupting each other's parse. */
  private def statsOf(line: String): Map[String, (Long, Long)] =
    line.split('\t').drop(1).grouped(3).collect {
      case Array(c, lo, hi) if !c.startsWith(BloomPrefix) &&
          scala.util.Try(lo.toLong).isSuccess &&
          scala.util.Try(hi.toLong).isSuccess =>
        c -> (lo.toLong, hi.toLong)
    }.toMap

  /** Manifest grammar for per-file BLOOM FILTERS (the Delta bloom
    * index role, point lookups on columns min/max stats can't serve):
    * `\t__bloom_<col>\t<numBits>\t<base64(sketch)>` — one more triple
    * on the file's line, old readers skip it via the numeric guard in
    * [[statsOf]]. */
  private[sources] val BloomPrefix = "__bloom_"

  /** A line's bloom sketches, still base64-framed — the [[ScanFile]]
    * listing defers decoding to the (rare) equality probe. */
  private def bloomsB64Of(line: String): Map[String, String] =
    line.split('\t').drop(1).grouped(3).collect {
      case Array(c, _, payload) if c.startsWith(BloomPrefix) =>
        c.stripPrefix(BloomPrefix) -> payload
    }.toMap

  /** Manifest grammar for per-file STRING [min, max] stats (the typed
    * min/max Delta and Iceberg record for every column — ISO dates,
    * tenants, categories are the pruning keys a 100 TB lake actually
    * filters on, and a long-cast records nothing for them):
    * `\t__str_<col>\t<base64(min)>\t<base64(max)>` — base64 keeps the
    * tab-separated line grammar safe for arbitrary string content;
    * comparison happens on the DECODED values. Old readers skip the
    * triples via [[statsOf]]'s numeric guard (a rare all-digit base64
    * parse is harmless — the dunder-prefixed name collides with no
    * real column). Values longer than [[StrStatMaxLen]] record NO
    * stat for that file (a truncated max is not an upper bound;
    * conservative beats wrong). */
  private[sources] val StrPrefix = "__str_"

  /** Stats cap for string values: realistic pruning keys (dates,
    * tenants, categories) are short; an oversized value skips the
    * stat rather than truncate it. */
  private[sources] val StrStatMaxLen = 64

  private def strStatsOf(line: String): Map[String, (String, String)] = {
    val dec = java.util.Base64.getDecoder
    line.split('\t').drop(1).grouped(3).collect {
      case Array(c, lo, hi) if c.startsWith(StrPrefix) =>
        c.stripPrefix(StrPrefix) ->
          (new String(dec.decode(lo), StandardCharsets.UTF_8),
            new String(dec.decode(hi), StandardCharsets.UTF_8))
    }.toMap
  }

  // Manifest grammar for TYPED [min, max] stats — faithful bounds for
  // the non-integral types the long-cast triple can NOT bound (the
  // round-10 guard was correct to stop pruning on those; these keys
  // restore the pruning with honest units). Same `\tkey\tlo\thi`
  // triple shape; dunder-prefixed names collide with no real column:
  //  - `__ts_<col>`  TimestampType, epoch MICROSECONDS (the unit a
  //    catalyst timestamp literal carries — the long-cast records
  //    SECONDS, off by 1e6; see the negative spec);
  //  - `__dt_<col>`  DateType, epoch DAYS (catalyst's internal unit);
  //  - `__dbl_<col>` Float/Double, `Double.toString` of the exact
  //    bounds (round-trips bit-exact; floats widen exactly — no
  //    outward rounding needed). A file whose bound is NaN records NO
  //    stat (NaN comparisons are all-false and would wrongly skip).
  // Old readers skip `__ts_`/`__dt_` keys by the dunder name and
  // `__dbl_` additionally by [[statsOf]]'s integer guard ("1.5" is
  // not a long). The most common 100 TB slice — `ts >= '2024-06-01'`
  // — prunes files only through these.
  private[sources] val TsPrefix = "__ts_"
  private[sources] val DatePrefix = "__dt_"
  private[sources] val DblPrefix = "__dbl_"

  /** TimestampNTZType [min, max] — epoch micros of the WALL-CLOCK
    * value with NO UTC adjustment (exactly the long catalyst stores,
    * and exactly what an unadjusted parquet footer records). A
    * separate kind from [[TsPrefix]] on purpose: an instant-semantics
    * `__ts_` bound and a zone-naive `__ntz_` bound differ by the
    * writer's zone offset — cross-pruning would skip live files (the
    * round-12 micros-vs-seconds trap, one type over). */
  private[sources] val NtzPrefix = "__ntz_"

  private def dblStatsOf(line: String): Map[String, (Double, Double)] =
    line.split('\t').drop(1).grouped(3).collect {
      case Array(c, lo, hi) if c.startsWith(DblPrefix) &&
          scala.util.Try(lo.toDouble).isSuccess &&
          scala.util.Try(hi.toDouble).isSuccess =>
        c.stripPrefix(DblPrefix) -> (lo.toDouble, hi.toDouble)
    }.toMap

  /** The pseudo-column under which stats-recording commits keep each
    * file's ROW COUNT (as a degenerate [n, n] stat triple — old
    * manifests parse unchanged, real columns can't collide with the
    * dunder name). Powers [[countRows]], the Delta "metadata-only
    * COUNT(*)" role. */
  private[sources] val RowsKey = "__rows"

  /** The pseudo-column under which stats-recording commits keep each
    * file's ON-DISK BYTE SIZE (same degenerate [n, n] triple grammar
    * as [[RowsKey]]). Powers [[sizeBytes]] and the manifest-driven
    * broadcast decision in [[readAuto]] — the Delta CBO role where
    * file statistics, not hints, decide the join strategy. */
  private[sources] val BytesKey = "__bytes"

  /** Per-staged-file [min, max] of each `statsCols` entry PLUS the
    * file's row count under [[RowsKey]], computed with one small
    * aggregation over just the staged files. Each column records the
    * TYPED triple its data type round-trips faithfully: STRING under
    * [[StrPrefix]] (base64-framed, length-capped), TIMESTAMP under
    * [[TsPrefix]] (epoch micros), DATE under [[DatePrefix]] (epoch
    * days), FLOAT/DOUBLE under [[DblPrefix]] (exact Double.toString),
    * everything else the legacy long-cast triple under the bare name
    * (faithful for integral types only — the reader prunes on it only
    * for those). Columns whose stats come back null (all-null in that
    * file) are omitted from that file's line and never skipped on. */
  /** Remap caller-LOGICAL column names onto the staged files' PHYSICAL
    * names: a name already present in the staged schema passes through
    * (unmapped tables, overwrite batches — which stage un-renamed);
    * otherwise the table's latest mapping resolves it, so manifest
    * stats stay keyed exactly as the pruning filters arrive (physical,
    * post-alias pushdown). */
  private def remapToPhysical(staged: org.apache.spark.sql.types.StructType,
                              cols: Seq[String], root: String): Seq[String] = {
    if (cols.isEmpty || !isColumnMapped(root)) return cols
    lazy val m = mappingFor(root)
    cols.map(c =>
      if (staged.fieldNames.contains(c)) c else m.getOrElse(c.toLowerCase, c))
  }

  /** Most files a driver-side footer fold opens: above it one Spark
    * job amortizes the per-file footer reads ([[footerStatLines]],
    * `Lake.footerMaxInt`). */
  private[graft] val FooterFoldMaxFiles = 64

  /** Read `file`'s parquet footer on the driver and apply `f` to it. */
  private[graft] def withFooter[T](file: org.apache.hadoop.fs.Path,
                                   conf: org.apache.hadoop.conf.Configuration)
                                  (f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T): T = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try f(r.getFooter) finally r.close()
  }

  /** What a top-level footer column's min/max stats fold as: 'i'
    * integral (signed), 't' / 'n' MICROS timestamp (UTC-adjusted /
    * NTZ), 'd' date, 'f' float or double. `None` for every kind whose
    * footer stats are not exact values of the column: strings (parquet
    * may truncate binary stats), INT96 and NANOS timestamps, unsigned
    * annotations (they would fold mis-ordered as signed values),
    * nested and other types. */
  private[graft] def footerKind(t: org.apache.parquet.schema.Type): Option[Char] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    if (!t.isPrimitive) return None
    val pt = t.asPrimitiveType()
    (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      // NTZ MICROS: the footer long IS the unadjusted wall-clock micros
      // — exactly the __ntz_ unit (the job path's to_utc_timestamp
      // reinterpretation reads out the same value)
      case (INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.getUnit == TimeUnit.MICROS =>
        Some(if (ts.isAdjustedToUTC) 't' else 'n')
      case (INT32, _: DateLogicalTypeAnnotation) => Some('d')
      case (INT64 | INT32, null) => Some('i')
      case (INT64 | INT32, it: IntLogicalTypeAnnotation) if it.isSigned => Some('i')
      case (DOUBLE | FLOAT, _) => Some('f')
      case _ => None
    }
  }

  /** Column `c`'s (min, max) per row group of one file, from footer
    * statistics; row groups with no non-null value contribute nothing.
    * `None` when a row group lacks the column chunk, its statistics or
    * its null count, so the caller falls back to reading the data. */
  private[graft] def footerRanges(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                                  c: String): Option[Seq[(Any, Any)]] = {
    import scala.jdk.CollectionConverters._
    val perBlock = blocks.map { b =>
      val st = b.getColumns.asScala.find(_.getPath.toDotString == c)
        .getOrElse(return None).getStatistics
      if (st == null || st.getNumNulls < 0) return None // no stats / unknown nulls
      if (b.getRowCount == 0L || st.getNumNulls == b.getRowCount)
        None // all-null block contributes nothing
      else if (!st.hasNonNullValue) return None // stats absent
      else Some((st.genericGetMin, st.genericGetMax))
    }
    Some(perBlock.flatten)
  }

  /** Driver-side FOOTER fold for [[statLines]] — the commit-dense
    * fast path: a small staged set whose stats columns are all
    * exactly-footer-representable ([[footerKind]]) answers
    * rows/bytes/min-max from the parquet footers already on disk,
    * eliminating the per-commit stats JOB entirely. Every COW rewrite
    * (empty stats cols) and every small materialized-view refresh hits
    * this. `None` → the Spark-job path, on ANY doubt: more than
    * [[FooterFoldMaxFiles]] files (the job amortizes), a column
    * [[footerKind]] refuses (INT96 timestamps included — falling back
    * keeps the stat recorded rather than silently losing pruning), a
    * row group without stats, or any footer surprise. Semantics are
    * byte-identical to the job path: same key prefixes, same
    * all-null-skip, same NaN-skip, same zero-row handling. */
  private[sources] def footerStatLines(staged: Seq[String], cols0: Seq[String],
                                       mapping: Map[String, String])
      : Option[Seq[String]] = {
    if (staged.length > FooterFoldMaxFiles) return None
    import scala.jdk.CollectionConverters._
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      val lines = staged.map { p =>
        withFooter(new org.apache.hadoop.fs.Path(p), conf) { footer =>
          val schema = footer.getFileMetaData.getSchema
          val blocks = footer.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          // the remapToPhysical rule over footer fields: a name the
          // file carries passes through (unmapped tables, overwrite
          // batches); else the mapping resolves it
          val cols = cols0.map { c0 =>
            if (schema.containsField(c0)) c0
            else mapping.getOrElse(c0.toLowerCase, c0)
          }
          // per requested column: (manifest key, lo, hi) or skip; any
          // column the fold cannot answer bails the WHOLE batch
          val colParts = cols.map { c =>
            if (!schema.containsField(c)) return None
            val kind = footerKind(schema.getType(schema.getFieldIndex(c))).getOrElse(return None)
            val present = footerRanges(blocks, c).getOrElse(return None)
            if (present.isEmpty) "" // all-null column in this file: skip
            else kind match {
              case 'f' =>
                def d(x: Any): Double = x match {
                  case v: java.lang.Double => v.doubleValue()
                  case v: java.lang.Float => v.floatValue().toDouble
                  case _ => throw new IllegalStateException("footer stat")
                }
                val lo = present.map(x => d(x._1)).min
                val hi = present.map(x => d(x._2)).max
                if (lo.isNaN || hi.isNaN) ""
                else s"\t$DblPrefix$c\t$lo\t$hi"
              case k =>
                def l(x: Any): Long = x match {
                  case v: java.lang.Long => v.longValue()
                  case v: java.lang.Integer => v.longValue()
                  case _ => throw new IllegalStateException("footer stat")
                }
                val lo = present.map(x => l(x._1)).min
                val hi = present.map(x => l(x._2)).max
                val prefix = k match {
                  case 't' => TsPrefix + c
                  case 'n' => NtzPrefix + c
                  case 'd' => DatePrefix + c
                  case _ => c
                }
                s"\t$prefix\t$lo\t$hi"
            }
          }
          val bytes = new File(p).length()
          p + s"\t$RowsKey\t$rows\t$rows" + colParts.mkString +
            s"\t$BytesKey\t$bytes\t$bytes"
        }
      }
      Some(lines)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def statLines(spark: SparkSession, staged: Seq[String],
                        statsCols0: Seq[String], root: String): Seq[String] = {
    if (staged.isEmpty) return staged
    import org.apache.spark.sql.types._
    // the driver-side footer fold first: small batches with
    // footer-exact stat columns never pay the stats job. Columns are
    // remapped against the first footer's field set (staged files of
    // one batch share a schema).
    if (staged.length <= FooterFoldMaxFiles) {
      val m = if (isColumnMapped(root)) mappingFor(root)
              else Map.empty[String, String]
      footerStatLines(staged, statsCols0, m).foreach(return _)
    }
    val relation = spark.read.parquet(staged: _*)
    // column-mapping: staged files carry PHYSICAL names; a caller's
    // logical stats column is remapped exactly when the staged schema
    // lacks it and the table's mapping has it (overwrite batches,
    // which stage un-mapped, match the first branch and pass through)
    val statsCols = remapToPhysical(relation.schema, statsCols0, root)
    val kind: Map[String, Char] = statsCols.map { c =>
      c -> relation.schema.find(_.name == c).map(_.dataType match {
        case StringType => 's'
        case TimestampType => 't'
        case TimestampNTZType => 'n'
        case DateType => 'd'
        case DoubleType | FloatType => 'f'
        case _ => 'i'
      }).getOrElse('i')
    }.toMap
    val aggs = count(lit(1)).as("__n") +: statsCols.flatMap { c =>
      val probe = kind(c) match {
        case 's' => col(c)
        case 't' => unix_micros(col(c))
        // NTZ: assemble the unadjusted wall-clock micros from FIELD
        // functions, which are zone-free on TimestampNTZ (casting to
        // TIMESTAMP — even implicitly via to_utc_timestamp — would
        // shift by the session zone; the zone-pinned spec proves it).
        // date_part SECOND = seconds with fraction as DECIMAL(8,6) —
        // times 1e6 is the exact micros of the sub-minute part.
        case 'n' =>
          unix_date(col(c).cast("date")).cast("long") * lit(86400000000L) +
            hour(col(c)).cast("long") * lit(3600000000L) +
            minute(col(c)).cast("long") * lit(60000000L) +
            (date_part(lit("SECOND"), col(c)) * lit(1000000L)).cast("long")
        case 'd' => unix_date(col(c)).cast("long")
        case 'f' => col(c).cast("double")
        case _   => col(c).cast("long")
      }
      Seq(min(probe).as(s"__lo_$c"), max(probe).as(s"__hi_$c"))
    }
    val enc = java.util.Base64.getEncoder
    def b64(s: String) =
      enc.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    val byName = relation
      .groupBy(col("_metadata.file_path").as("__p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        // _metadata.file_path is a URI; staged paths are plain — key on
        // the (nonce-unique) file name
        val n = r.getLong(1)
        val suffix = s"\t$RowsKey\t$n\t$n" +
          statsCols.zipWithIndex.flatMap { case (c, i) =>
            val lo = 2 + 2 * i
            val hi = 3 + 2 * i
            if (r.isNullAt(lo)) None
            else kind(c) match {
              case 's' if r.getString(lo).length <= StrStatMaxLen &&
                  r.getString(hi).length <= StrStatMaxLen =>
                Some(s"\t$StrPrefix$c\t${b64(r.getString(lo))}" +
                  s"\t${b64(r.getString(hi))}")
              case 's' => None
              case 't' => Some(s"\t$TsPrefix$c\t${r.getLong(lo)}\t${r.getLong(hi)}")
              case 'n' => Some(s"\t$NtzPrefix$c\t${r.getLong(lo)}\t${r.getLong(hi)}")
              case 'd' => Some(s"\t$DatePrefix$c\t${r.getLong(lo)}\t${r.getLong(hi)}")
              case 'f' =>
                val (x, y) = (r.getDouble(lo), r.getDouble(hi))
                // a NaN bound compares all-false and would wrongly skip
                if (x.isNaN || y.isNaN) None
                else Some(s"\t$DblPrefix$c\t$x\t$y")
              case _ => Some(s"\t$c\t${r.getLong(lo)}\t${r.getLong(hi)}")
            }
          }.mkString
        r.getString(0).split('/').last -> suffix
      }.toMap
    // a staged file absent from the aggregate wrote zero rows; every
    // line additionally records the file's byte size (driver-side
    // stat of just-staged files — free next to the write)
    staged.map { p =>
      val bytes = new File(p).length()
      p + byName.getOrElse(p.split('/').last, s"\t$RowsKey\t0\t0") +
        s"\t$BytesKey\t$bytes\t$bytes"
    }
  }

  /** Manifest key for per-file COLUMN SUMS: `sum:<col>` with the sum
    * duplicated in both triple slots (same (key, lo, hi) grammar, so
    * old readers parse and ignore it). The summed value is the row's
    * `col` CAST TO LONG — callers pre-quantize non-integral measures
    * (e.g. decimal cents) so the per-file sum is exact BIGINT. */
  private def sumKey(c: String): String = s"sum:$c"

  /** Per-staged-file sums of each `sumCols` entry appended to the stat
    * lines (one aggregation over just the staged files, like
    * [[statLines]]). A zero-row file records sum 0; a file whose
    * column is entirely null records NO sum (conservative — callers of
    * [[sumTotal]] get `None` rather than a wrong total). */
  private def sumLines(spark: SparkSession, lines: Seq[String],
                       sumCols0: Seq[String], root: String): Seq[String] = {
    if (lines.isEmpty || sumCols0.isEmpty) return lines
    val paths = lines.map(_.split('\t').head)
    // remap only when the table is column-mapped: the schema argument
    // is a footer-inference pass, and unmapped tables (the common
    // case) must not pay it per commit
    val sumCols =
      if (!isColumnMapped(root)) sumCols0
      else remapToPhysical(
        spark.read.parquet(paths: _*).schema, sumCols0, root)
    val aggs = sumCols.map(c => sum(col(c).cast("long")).as(s"__s_$c"))
    val byName = spark.read.parquet(paths: _*)
      .groupBy(col("_metadata.file_path").as("__p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val suffix = sumCols.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(1 + i) =>
            s"\t${sumKey(c)}\t${r.getLong(1 + i)}\t${r.getLong(1 + i)}"
        }.mkString
        r.getString(0).split('/').last -> suffix
      }.toMap
    lines.map { ln =>
      val name = ln.split('\t').head.split('/').last
      ln + byName.getOrElse(name,
        sumCols.map(c => s"\t${sumKey(c)}\t0\t0").mkString)
    }
  }

  // ---------------------------------------------------------------
  // Table CHECK constraints (the Delta ALTER TABLE ADD CONSTRAINT
  // role): `_constraints.json` at the table root maps constraint name
  // → Spark SQL boolean expression text. EVERY writer enforces them
  // IN the write job at stage time — one pass, per-row, codegen'd —
  // so an INSERT/MERGE/UPDATE/CDC batch (or a COW rewrite) carrying a
  // violating row fails before any manifest commit, at any scale
  // (a separate validation pass would double-read a 100 TB batch).
  // restore() re-points at already-committed files without staging —
  // rows that predate a constraint are not re-validated (the Delta
  // stance: ADD CONSTRAINT validates existing rows once, at add time).
  // ---------------------------------------------------------------

  private def constraintsFile(root: String) = new File(root, "_constraints.json")
  private def legacyConstraintsFile(root: String) = new File(root, "_constraints")

  /** Per-table-root RMW guard for the constraints sidecar: two
    * concurrent adds must not lose each other's entry (the commit
    * protocol's documented concurrency domain is single-JVM — this
    * lock closes the read-modify-write race inside it; cross-process
    * administration stays a documented single-administrator op, as
    * [[setConstraints]] always said). */
  private val constraintsLock = new Object

  // Round 15: the MUTATING verbs ([[addConstraint]]/[[dropConstraint]])
  // moved INTO the versioned commit chain — a constraint change is a
  // commit (`#constraint\t+\t<name>\t<expr>` / `#constraint\t-\t<name>`
  // state lines, preserving delta), so the manifest CAS serializes it
  // against every data writer and the round-12 accepted residual (a
  // writer that read the constraint set pre-persist committing after
  // the post-persist re-validation) is structurally closed. The JSON/
  // legacy sidecars remain the LEGACY BASE of resolution (tables
  // configured before round 15, and the [[setConstraints]] single-
  // administrator surface) — manifest ops override them per name.

  private[sources] val ConstraintPrefix = "#constraint"

  /** Aggregation-boundary marker for constraint state in checkpoints —
    * same role as [[FeatCkptMarker]]. */
  private[sources] val ConstraintCkptMarker = s"$ConstraintPrefix-aware\t1"

  private def constraintAddLine(name: String, exprText: String): String =
    s"$ConstraintPrefix\t+\t$name\t${escapeJson(exprText)}"

  private def constraintDropLine(name: String): String =
    s"$ConstraintPrefix\t-\t$name"

  /** Newest constraint op per name as of `v`: Some(expr) = active add,
    * None = dropped. Walk bounded at the first checkpoint — like
    * feature lines (and unlike `#txn` state), constraint ops did not
    * exist before this protocol, so any checkpoint proves the history
    * below it op-free; aware checkpoints additionally carry the
    * aggregated ops across vacuum. */
  /** (root, version) → resolved constraint ops — immutable once the
    * version exists (the featureCache argument), so memoizable: every
    * stage-time enforcement resolves constraints(root), and an
    * uncached walk per write would re-read the same manifests
    * forever. Size-capped with a full clear. */
  private val constraintCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Map[String, Option[String]]]()

  private def constraintOpsAt(root: String,
                              v: Long): Map[String, Option[String]] = {
    val hit = constraintCache.get((root, v))
    if (hit != null) return hit
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[String]]
    def absorb(lines: Seq[String]): Unit = lines.foreach { l =>
      if (l.startsWith(ConstraintPrefix + "\t")) {
        val parts = l.split('\t')
        parts(1) match {
          case "+" if parts.length == 4 =>
            if (!seen.contains(parts(2)))
              seen(parts(2)) = Some(unescapeJson(parts(3)))
          case "-" if parts.length == 3 =>
            if (!seen.contains(parts(2))) seen(parts(2)) = None
          case _ => ()
        }
      }
    }
    val existing = versions(root).toSet
    var cur = v
    var stop = false
    while (!stop && cur >= 0 && existing.contains(cur)) {
      absorb(readManifest(root, cur))
      if (cur != v && checkpointFile(root, cur).exists()) {
        absorb(rawCheckpointLines(root, cur))
        stop = true
      }
      cur -= 1
    }
    val res = seen.toMap
    if (constraintCache.size > 16384) constraintCache.clear()
    constraintCache.put((root, v), res)
    res
  }

  /** The constraint op lines of `v`, for checkpoint carry. DROP ops
    * carry too — a '-' must keep shadowing a legacy-sidecar entry
    * after the manifest that recorded it expires. */
  private def constraintOpLinesAt(root: String, v: Long): Seq[String] =
    constraintOpsAt(root, v).toSeq.sortBy(_._1).map {
      case (n, Some(e)) => constraintAddLine(n, e)
      case (n, None) => constraintDropLine(n)
    }

  /** The CHECK constraints in force AS OF version `v`: the legacy
    * sidecar base overridden by the newest manifest op per name. */
  def constraintsAt(root: String, v: Long): Map[String, String] =
    constraintOpsAt(root, v).foldLeft(sidecarConstraints(root)) {
      case (m, (n, Some(e))) => m + (n -> e)
      case (m, (n, None)) => m - n
    }

  /** The table's CHECK constraints in force NOW (latest version's
    * resolution; the sidecar alone for a not-yet-created root). */
  def constraints(root: String): Map[String, String] =
    latestVersion(root) match {
      case Some(v) => constraintsAt(root, v)
      case None => sidecarConstraints(root)
    }

  /** The LEGACY constraint base, name → expression text: entries from
    * the original tab-grammar `_constraints` sidecar (the
    * [[setConstraints]] surface) and the JSON sidecar read together
    * (JSON wins a name collision) — tables configured through EITHER
    * pre-round-15 surface stay enforced; manifest ops override per
    * name in [[constraintsAt]]. */
  private def sidecarConstraints(root: String): Map[String, String] = {
    val legacy = legacyConstraintsOf(root).toMap
    val f = constraintsFile(root)
    if (!f.exists()) legacy
    else {
      val txt = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      // one flat JSON object of string → string, written by us: extract
      // every JSON string ESCAPE-AWARE (a '\"' inside a key or value
      // must not terminate it — the old line-splitting reader truncated
      // such keys and mis-sliced values, leaving the table unwritable)
      // and pair them positionally (k1,v1,k2,v2,…); both sides unescape
      // symmetrically with [[escapeJson]].
      val strings = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < txt.length) {
        if (txt.charAt(i) == '"') {
          val b = new StringBuilder
          i += 1
          while (i < txt.length && txt.charAt(i) != '"') {
            if (txt.charAt(i) == '\\' && i + 1 < txt.length) {
              b += txt.charAt(i); b += txt.charAt(i + 1); i += 2
            } else { b += txt.charAt(i); i += 1 }
          }
          strings += unescapeJson(b.toString)
        }
        i += 1
      }
      require(strings.length % 2 == 0,
        s"corrupt constraints sidecar at $f: odd string count")
      legacy ++ strings.grouped(2).map(p => p(0) -> p(1)).toMap
    }
  }

  private def legacyConstraintsOf(root: String): Seq[(String, String)] = {
    val f = legacyConstraintsFile(root)
    if (!f.exists()) Seq.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split('\n').filter(_.nonEmpty).toSeq.map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      }
  }

  private def escapeJson(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c => c.toString
    }

  private def unescapeJson(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b += '\n'
          case 't' => b += '\t'
          case 'r' => b += '\r'
          case o => b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Persist the FULL unified constraint map (callers hold
    * [[constraintsLock]] and pass `constraints(root) ± change`, so
    * legacy tab-sidecar entries fold in); the JSON file becomes the
    * single authority after any write — the legacy sidecar is
    * retired here. */
  private def writeConstraints(root: String,
                               cs: Map[String, String]): Unit = {
    new File(root).mkdirs()
    if (cs.nonEmpty) {
      val body = cs.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${escapeJson(k)}": "${escapeJson(v)}""""
      }.mkString("{\n", ",\n", "\n}")
      val tmp = Files.createTempFile(new File(root).toPath, "_constraints", ".tmp")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, constraintsFile(root).toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else constraintsFile(root).delete()
    legacyConstraintsFile(root).delete()
    ()
  }

  /** ADD CONSTRAINT name CHECK (exprText): validates EVERY existing
    * live row once (through [[scan]], so pending MOR overlays count),
    * then COMMITS the constraint into the versioned chain — all later
    * writes enforce it in-job. NULL results count as violations (the
    * SQL CHECK convention is null-passes; Delta's is null-fails —
    * this engine takes Delta's: a constraint that silently ignores
    * null rows protects nothing at 100 TB). Fails if the name exists
    * with a DIFFERENT expression (idempotent re-adds are no-ops).
    *
    * CONCURRENCY (round 15 — the round-12 residual closed): the ADD
    * is optimistic-CAS like every writer. Validate the snapshot at
    * `base`, attempt the `#constraint +` commit at `base+1`; a CAS
    * win PROVES the validated snapshot was the immediately-pre-commit
    * state (nothing interleaved), a loss re-reads and re-validates
    * against the winner's state. Data writers mirror it in the only
    * two retry loops: [[commitWithRetry]] enforces at stage time and
    * re-validates the call's own staged rows before any attempt a
    * constraint commit interleaved with; [[commitRewrite]] re-stages
    * (enforcing the current set) after every loss its rebase cannot
    * prove harmless, and the rebase classifiers force that recompute
    * on any `#constraint` interleave. Either interleaving of
    * ADD-vs-violating-append therefore refuses — never a committed
    * violation. MOR overlay patches commit OUTSIDE this chain
    * ([[Tombstones]] stores), so a post-commit overlay re-scan below
    * closes their common window loudly (withdraw + error); an overlay
    * landing after that re-scan remains the documented MOR residual. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprText: String, maxRetries: Int = 64,
                    beforeCommit: () => Unit = () => ()): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be a bare identifier, got '$name'")
    if (latestVersion(root).isEmpty) {
      // not-yet-created root: the legacy sidecar is the only store
      // (pre-creation configuration, the setConstraints admin shape).
      // RESIDUAL (documented): a sidecar write cannot join the
      // manifest CAS, so a first-version commit racing THIS branch in
      // the microseconds between the writer's set capture and its
      // commit can still land unvalidated rows (the re-check below
      // closes the common interleaving). For a fully-serialized ADD,
      // create the table first — createEmpty() commits v0, and every
      // later ADD is a CAS commit with zero windows.
      constraintsLock.synchronized {
        val existing = constraints(root)
        existing.get(name).foreach { prev =>
          if (prev == exprText) return
          sys.error(s"constraint $name already exists as: $prev")
        }
        writeConstraints(root, existing + (name -> exprText))
      }
      // CREATION-race closer: a writer staging the table's FIRST
      // version captured its enforced set BEFORE this sidecar landed;
      // its commit-time set comparison revalidates (commitWithRetry),
      // but a v0 that COMMITTED between our empty-table check above
      // and the sidecar write saw neither side. Re-check now that the
      // constraint is visible: a violating v0 withdraws the add loudly
      // (the old post-persist pattern, scoped to the birth window).
      if (latestVersion(root).isDefined &&
          scan(org.apache.spark.sql.classic.SparkSession.active, root)
            .filter(!coalesce(expr(exprText).cast("boolean"), lit(false)))
            .limit(1).count() != 0L) {
        constraintsLock.synchronized {
          writeConstraints(root, constraints(root) - name)
        }
        sys.error(s"CHECK constraint $name: a concurrent table " +
          "creation landed violating rows during ADD — constraint " +
          s"withdrawn, re-run after cleaning ($exprText)")
      }
      return
    }
    def violating(): Boolean =
      scan(spark, root)
        .filter(!coalesce(expr(exprText).cast("boolean"), lit(false)))
        .limit(1).count() != 0L
    // a lost race re-plans: the interleaved writer's rows re-validate
    var added = false
    val v = commitWithRetry(root, maxRetries) { v =>
      val base = v - 1
      val prev = constraintsAt(root, base).get(name)
      prev.filter(_ != exprText).foreach(p =>
        sys.error(s"constraint $name already exists as: $p"))
      added = prev.isEmpty
      if (!added) None
      else {
        require(!violating(),
          s"cannot add CHECK constraint $name: existing rows violate ($exprText)")
        beforeCommit() // race-injection seam (post-validation, pre-CAS)
        Some(deltaContent(Seq.empty, Seq.empty) ++
          Seq(PreservingMarker, constraintAddLine(name, exprText)) ++
          newFeatureLines(root, base, Seq(("w", "check-constraints"))))
      }
    }
    if (added) {
      maybeCheckpoint(root, v)
      // MOR-overlay closer: an overlay patch staged pre-commit could
      // carry violating rows past the chain-side guards — surface it
      // instead of claiming a validated table
      if (Tombstones.hasPending(root) && violating()) {
        dropConstraint(root, name)
        sys.error(s"CHECK constraint $name: a concurrent MOR overlay " +
          "landed violating rows during ADD — constraint withdrawn, " +
          s"re-run after cleaning ($exprText)")
      }
    }
  }

  /** DROP CONSTRAINT name (missing names are a no-op, like Delta's
    * IF EXISTS) — a `#constraint -` commit, so it serializes against
    * writers and shadows legacy-sidecar entries durably. */
  def dropConstraint(root: String, name: String, maxRetries: Int = 64): Unit = {
    if (latestVersion(root).isEmpty) {
      constraintsLock.synchronized {
        writeConstraints(root, constraints(root) - name)
      }
      return
    }
    var dropped = false
    val v = commitWithRetry(root, maxRetries) { v =>
      dropped = constraintsAt(root, v - 1).contains(name)
      // the drop records the same writer feature the add does: its
      // '-' op must never be dropped by a feature-blind build's
      // checkpoint (a vacuum would then resurrect a dropped
      // legacy-sidecar constraint)
      if (!dropped) None
      else Some(deltaContent(Seq.empty, Seq.empty) ++
        Seq(PreservingMarker, constraintDropLine(name)) ++
        newFeatureLines(root, v - 1, Seq(("w", "check-constraints"))))
    }
    if (dropped) maybeCheckpoint(root, v)
  }

  /** `df` with the table's CHECK constraints enforced PER ROW inside
    * whatever job consumes it: each violating row raises with the
    * constraint name and expression; passing rows stream through
    * unchanged. The filter's predicate is `assert_true(...) IS NULL`
    * — always true when no row violates — kept from being folded away
    * by assert_true's non-foldable, error-raising semantics. */
  private[sources] def enforceConstraints(df: DataFrame, root: String): DataFrame = {
    val cs = constraints(root)
    if (cs.isEmpty) df
    else cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, t)) =>
      d.filter(assert_true(
        coalesce(expr(t).cast("boolean"), lit(false)),
        lit(s"CHECK constraint $n violated: $t")).isNull)
    }
  }

  /** Rename a batch's LOGICAL column names to the table's PHYSICAL
    * storage names before staging (no-op for unmapped tables — one
    * file-exists probe). Columns outside the declaration stage under
    * their own name (schema evolution by append), EXCEPT retired names:
    * adopting one would resurrect dropped/renamed column data into
    * every file that still physically carries it. */
  private def toPhysicalStage(df: DataFrame, root: String): DataFrame = {
    if (!isColumnMapped(root)) return df
    val decl = latestVersion(root).flatMap(v =>
      readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v)))
    // NO reachable declaration while mapping mode is on means a
    // non-empty `overwrite` reset the world after the last ALTER (a
    // full manifest with no sidecar is the only way that happens —
    // every ALTER writes its sidecar loudly, restore re-plants one):
    // logical == physical again, EVERY name is legal (the overwrite
    // evicted the files that physically carried retired data), and
    // none of the guards below may bite — regardless of whether some
    // read has cached the overwrite version's sidecar yet.
    if (decl.isEmpty) return df
    // logical → physical (non-identity entries only)
    val m = decl.get.fields.iterator.collect {
      case f if physicalName(f) != f.name =>
        f.name.toLowerCase -> physicalName(f)
    }.toMap
    // a declared LOGICAL name is always legal to stage — including a
    // name an `overwrite` re-legitimized after an old DROP (post-
    // overwrite sidecars declare it identity-mapped)
    val declaredLogical = decl.get.fieldNames.map(_.toLowerCase).toSet
    val retired = retiredColumns(root)
    val livePhys = m.values.map(_.toLowerCase).toSet
    df.columns.foreach { c =>
      val cl = c.toLowerCase
      require(declaredLogical.contains(cl) ||
        (!retired.contains(cl) && !livePhys.contains(cl)),
        s"column '$c' names a retired or remapped physical slot " +
          "(a previous DROP/RENAME COLUMN) — old file data would " +
          "resurrect under it; ALTER ADD COLUMNS first (it assigns a " +
          "fresh physical slot) or pick another name")
    }
    if (m.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(m.getOrElse(c.toLowerCase, c))): _*)
  }

  /** The checks and renames every staging pass runs before its write
    * job; returns the frame to write. */
  private def preStage(df0: DataFrame, root: String, mapNames: Boolean,
                       identityFill: Boolean): DataFrame = {
    // refuse a feature-fenced table BEFORE writing the batch: the
    // commit-side gate (commitManifest) stays the authority, but
    // staging first would orphan a batch-sized file set per attempt
    latestVersion(root).foreach(b => requireWritable(root, b))
    // record the constraint set this staging pass enforces BEFORE
    // enforcing it — commitWithRetry's guard revalidates exactly when
    // the set in force at commit time differs
    stagedConstraintSet.get()(root) = constraints(root)
    // an identity table's appended batches refuse in BOTH directions
    // unless this staging IS the engine's own fill or a row-preserving
    // rewrite (identityFill): a batch WITHOUT the column would land
    // null keys no high-water mark covers, and a batch WITH it would
    // mint manual keys the mark never advanced over (a later fill
    // would collide). append() fills; overwrite-family staging
    // (mapNames = false) is a declaration boundary and exempt.
    if (mapNames && !identityFill)
      identityColumnIfMarked(df0.sparkSession, root).foreach { f =>
        if (df0.columns.exists(_.equalsIgnoreCase(f.name)))
          refuseIdentitySurface(df0.sparkSession, root,
            s"supplying ${f.name} in an appended batch")
        else sys.error(
          s"table at $root declares identity column ${f.name}: write " +
            "through append()/INSERT (the engine assigns the keys)")
      }
    val df1 = enforceConstraints(df0, root)
    // partition columns are never mapped (ALTER refuses them), so a
    // partitioned write's partitionBy names stay valid after the rename
    if (mapNames) toPhysicalStage(df1, root) else df1
  }

  /** Write `df`'s rows as new data files under `data/`, returning their
    * paths (staged via a temp dir, then renamed in — never copied).
    * Names carry a writer-unique nonce besides the target version: two
    * writers racing toward the same version must never stage onto the
    * same path, or the commit loser's cleanup would delete the winner's
    * data (exactly the Delta/Iceberg convention of UUID part files). */
  private def stageDataFiles(df0: DataFrame, root: String, v: Long,
                             mapNames: Boolean = true,
                             identityFill: Boolean = false): Seq[String] = {
    val df = preStage(df0, root, mapNames, identityFill)
    requireFlat(root)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new File(root, s"_staging_v$v-$nonce")
    // a failed write job (a CHECK constraint fired) leaves no staging dir
    try df.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    catch { case e: Throwable => Lake.deleteRecursively(staging); throw e }
    dataDir(root).mkdirs()
    val moved = staging.listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.map { case (f, i) =>
        val dst = new File(dataDir(root), f"v$v%05d-$nonce-$i%05d.parquet")
        Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.getPath
      }.toSeq
    Lake.deleteRecursively(staging)
    moved
  }

  /** A Hive-partitioned table's values live in the PATH; flat staging
    * would commit files whose partition columns read back NULL (and a
    * partition filter would silently prune the new rows away). Refuse
    * loudly — partitioned tables stage through [[stagePartitioned]];
    * the COW rewrites stage through [[stageAuto]], which lays
    * partitions back out. */
  private def requireFlat(root: String): Unit =
    require(partitionSchema(root).isEmpty,
      s"table at $root is Hive-partitioned: flat staging would lose the " +
        "partition values — overwrite with Write(partitionBy = ...) " +
        "to re-lay it out")

  /** The stage-once commit loop, one of the two retry loops every
    * versioned commit after version 0 goes through ([[commitRewrite]]
    * is the other): appends, overwrites, [[deleteAt]], [[compact]],
    * [[compactZOrderedK]], [[restore]], the constraint, feature and
    * ALTER commits. `staged` are the listing lines of the data files
    * this call wrote (none for a metadata commit); they are
    * version-independent (nonce-named), so a lost race re-plans
    * without re-staging. `beforeCommit` fires once, before the first
    * attempt. Each attempt runs `plan(v)` for target version `v` =
    * latest + 1 — None is a no-op and returns the latest version —
    * and CAS-commits its lines at `v`; a lost race counts one attempt.
    *
    * Constraint-race guard (the data-writer arm of the
    * constraint-commit protocol): the staged rows were enforced
    * against the constraint SET in force when this call staged; when
    * the set in force at `v - 1` differs (a `#constraint` commit
    * interleaved, or a pre-version sidecar landed on a table being
    * created), the staged rows — and only those — are re-validated
    * against it before the CAS. A win at `v` proves nothing further
    * interleaved; losers loop back here, so every commit saw every
    * earlier constraint.
    *
    * Giving up — retries exhausted, `plan` throws, or the guard
    * refuses — deletes the staged files before rethrowing. */
  private def commitWithRetry(root: String, maxRetries: Int,
                              staged: Seq[String] = Seq.empty,
                              beforeCommit: () => Unit = () => ())
                             (plan: Long => Option[Seq[String]]): Long = {
    // taken before `beforeCommit` runs: a writer nested in the seam
    // stages and commits through its own entry
    val enforced = stagedConstraintSet.get().remove(root)
    def giveUp(e: Throwable): Nothing = {
      staged.foreach(p => Files.deleteIfExists(new File(pathOf(p)).toPath))
      throw e
    }
    beforeCommit()
    var attempt = 0
    while (true) {
      val v = nextVersion(root)
      val lines = try plan(v) catch { case e: Throwable => giveUp(e) }
      if (lines.isEmpty) return v - 1
      enforced.foreach { cs =>
        val now = if (v == 0) constraints(root) else constraintsAt(root, v - 1)
        if (now != cs)
          try revalidateStaged(root, now, staged)
          catch { case e: Throwable => giveUp(e) }
      }
      try return commitManifest(root, v, lines.get)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          if (attempt > maxRetries) giveUp(e)
      }
    }
    -1L // unreachable
  }

  /** A copy-on-write writer's plan for one base version: the listing
    * lines it replaces, the rows that replace them, the columns whose
    * stats the staged files record, and extra manifest lines (a `#txn`
    * line). */
  private final case class Rewrite(removed: Seq[String], rows: DataFrame,
                                   statKeys: Seq[String] = Seq.empty,
                                   extraLines: Seq[String] = Seq.empty)

  /** The re-staging commit loop, one of the two retry loops every
    * versioned commit after version 0 goes through
    * ([[commitWithRetry]] is the other): every copy-on-write writer
    * ([[replaceWhere]], [[merge]], [[mergeActions]], [[applyChanges]],
    * [[applyChangesGuarded]], [[delete]], [[update]]) and the identity
    * append. Read the latest snapshot, run `plan(base, listing lines)`
    * — None is a no-op and returns the base version — stage the
    * rewrite in the table's own layout with its stats, fire
    * `beforeCommit` (once per computed plan), and commit the delta
    * `-removed +staged` at base + 1.
    *
    * A lost race counts one attempt. When `rebase(base, cur, removed
    * paths)` proves the interleaved commits `(base, cur]` cannot change
    * the plan, the SAME delta re-commits on the new head with the staged
    * files kept; otherwise they are deleted and the plan recomputes
    * against the winner's snapshot. Past `maxRetries` the staged files
    * are deleted and the conflict rethrown. */
  private def commitRewrite(spark: SparkSession, root: String,
                            maxRetries: Int,
                            beforeCommit: () => Unit = () => (),
                            rebase: (Long, Long, Set[String]) => Boolean =
                              (_, _, _) => false)
                           (plan: (Long, Seq[String]) => Option[Rewrite])
      : Long = {
    var attempt = 0
    while (true) {
      val base = latestVersion(root).getOrElse(sys.error(s"no versions at $root"))
      val files = readListing(root, base) // listing LINES (stats kept on carry)
      val rw = plan(base, files)
      if (rw.isEmpty) return base
      val Rewrite(removed, rows, statKeys, extraLines) = rw.get
      val staged = statLines(spark, stageAuto(rows, root, base + 1), statKeys, root)
      beforeCommit()
      val removedPaths = removed.map(pathOf).toSet
      var commitAt = base + 1
      while (commitAt > 0) {
        try {
          // delta commit: O(touched + staged) bytes, not O(total files)
          val committed = commitManifest(root, commitAt,
            deltaContent(removed, staged) ++ extraLines)
          maybeCheckpoint(root, committed)
          return committed
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            attempt += 1
            val cur = latestVersion(root).getOrElse(-1L)
            if (attempt <= maxRetries && cur >= commitAt &&
                rebase(commitAt - 1, cur, removedPaths)) commitAt = cur + 1
            else {
              staged.foreach(p =>
                Files.deleteIfExists(new File(pathOf(p)).toPath))
              if (attempt > maxRetries) throw e
              commitAt = -1L // recompute against the winner's snapshot
            }
        }
      }
    }
    -1L // unreachable
  }

  /** Phase 1 (prune) of the copy-on-write writers: the lines of
    * `files` whose data file holds a row of `probe(target)` — one pass
    * over `target`, column-pruned to what the probe reads plus the file
    * path. Only these files are re-read and rewritten; every other line
    * carries into the next version as-is, stats included (at 100 TB a
    * merge touching 0.1% of keys rewrites ~0.1% of files). */
  private def touchedLines(files: Seq[String], target: DataFrame)
                          (probe: DataFrame => DataFrame): Seq[String] = {
    val names = probe(target.withColumn("__file", col("_metadata.file_path")))
      .select(col("__file")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    files.filter(f => names.contains(pathOf(f).split('/').last))
  }

  /** root → the constraint SET the CURRENT thread's latest staging
    * pass enforced (set by [[stageDataFiles]]/[[stagePartitioned]],
    * taken and cleared by [[commitWithRetry]]). Thread-local is sound
    * because staging and committing are one driver-side flow on one
    * thread — the same assumption the optimistic loops themselves
    * make. */
  private val stagedConstraintSet
      : ThreadLocal[scala.collection.mutable.Map[String, Map[String, String]]] =
    ThreadLocal.withInitial(() => scala.collection.mutable.Map.empty)

  /** Re-validate STAGED (not yet committed) lines against constraint
    * set `cs` — loud on the first violation, naming the constraint.
    * Reads only the staged batch. */
  private def revalidateStaged(root: String, cs: Map[String, String],
                               staged: Seq[String]): Unit = {
    if (cs.isEmpty || staged.isEmpty) return
    val spark = org.apache.spark.sql.classic.SparkSession.active
    val v = latestVersion(root).getOrElse(-1L)
    val df = readLinesDeclared(spark, root, math.max(v, 0L), staged)
    cs.toSeq.sortBy(_._1).foreach { case (n, t) =>
      if (df.filter(!coalesce(expr(t).cast("boolean"), lit(false)))
          .limit(1).count() != 0L)
        sys.error(s"CHECK constraint $n was added concurrently with " +
          s"this write and the staged rows violate it ($t) — nothing " +
          "committed; clean the batch and retry")
    }
  }

  /** Stats recorded BY DEFAULT by the plain writers: every top-level
    * integral or string field, in schema order, capped here — a table
    * written without foresight still gets [[countRows]], plan-time
    * pruning, and the metadata-only profile fold from [[scan]], the
    * Delta stance where the first 32 columns collect stats unless told
    * otherwise. An explicit `Write.stats` keeps full control (its
    * column list is recorded verbatim, nothing else); blooms stay
    * opt-in. One small aggregation over just-staged files (or none:
    * see [[footerStatLines]]). */
  private[sources] val MaxAutoStatsCols = 8

  private def autoStatsCols(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case f if !f.name.contains('.') && !f.name.contains('`') &&
          (f.dataType == org.apache.spark.sql.types.StringType ||
            f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.ShortType ||
            f.dataType == org.apache.spark.sql.types.ByteType ||
            f.dataType == org.apache.spark.sql.types.TimestampType ||
            f.dataType == org.apache.spark.sql.types.DateType ||
            f.dataType == org.apache.spark.sql.types.DoubleType ||
            f.dataType == org.apache.spark.sql.types.FloatType) => f.name
    }.take(MaxAutoStatsCols)

  /** CREATE TABLE: an EMPTY version 0 — no data files, the schema
    * recorded in the `_schema.v0.json` sidecar (the read path serves
    * zero rows with that schema until the first insert), and, when
    * `partCols` is non-empty, the Hive-layout partition sidecar
    * written UP FRONT so the first partitioned insert finds a
    * partitioned table instead of the flat-history guard. Fails if the
    * root already holds versions (put-if-absent commit). */
  def createEmpty(root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partCols: Seq[String] = Seq.empty): Long = {
    partCols.foreach { c =>
      val dt = schema(c).dataType
      require(dt == org.apache.spark.sql.types.StringType ||
        dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
        s"partition column $c must be string or integral, got $dt")
    }
    // the guard BEFORE any sidecar publish: a table-global partition
    // sidecar over existing flat versions would make their partition
    // values read back NULL (the stagePartitioned hazard), and a
    // failed CREATE must never leave one behind
    require(latestVersion(root).isEmpty,
      s"createEmpty: $root already holds versions")
    // a RE-CREATED root (manually cleared, then createEmpty — the only
    // legal fresh-table path; createTable/CTAS refuse non-empty
    // locations) must not serve a previous incarnation's memoized
    // feature requirements or constraint ops
    featureCache.keySet.removeIf(_._1 == root)
    constraintCache.keySet.removeIf(_._1 == root)
    new File(root).mkdirs()
    var linkedSidecar = false
    if (partCols.nonEmpty) {
      val pSchema = org.apache.spark.sql.types.StructType(
        partCols.map(c => schema(c).copy(nullable = true)))
      val tmp = Files.createTempFile(new File(root).toPath, "_pschema", ".tmp")
      try {
        Files.write(tmp, pSchema.json.getBytes(StandardCharsets.UTF_8))
        try {
          Files.createLink(partitionSchemaFile(root).toPath, tmp)
          linkedSidecar = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            require(partitionSchema(root) == pSchema,
              s"root $root already records a different partition schema")
        }
      } finally Files.deleteIfExists(tmp)
    }
    try {
      // a partitioned birth records the `partitioning` reader feature
      // in its v0 manifest: foreign readers must derive the partition
      // values from paths or they serve NULLs
      val v = commitManifest(root, 0L,
        if (partCols.nonEmpty) Seq(featureLine("r", "partitioning"))
        else Seq.empty) // throws if v0 exists
      writeEmptySchemaSidecar(root, v, schema)
      v
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        // lost the v0 race (a concurrent writer created the table):
        // withdraw OUR sidecar — the winner's files may be flat, and a
        // stranded partition sidecar would corrupt their reads
        if (linkedSidecar)
          Files.deleteIfExists(partitionSchemaFile(root).toPath)
        throw e
    }
  }

  /** How [[append]] and [[overwrite]] lay out, describe and guard one
    * batch; `Write()` is the plain write.
    *  - `stats`: per-file manifest stat columns. `None` records the
    *    default set ([[autoStatsCols]] minus partition columns, or the
    *    z-order columns of a z-ordered write); `Some(cols)` records
    *    exactly `cols` (empty: row and byte counts only).
    *  - `sums`: per-file column sums, cast to long per row
    *    ([[sumTotal]]).
    *  - `bloom`: a per-file bloom filter of one column, which the scan
    *    consults for equality and IN predicates.
    *  - `partitionBy`: Hive-layout partition columns. An append always
    *    takes the table's own (its `_partition_schema.json`); an
    *    overwrite lays out exactly these.
    *  - `zorder`: cluster the batch on a 2..6-column Morton key first.
    *  - `onto`: append only — the committed content is this base
    *    version plus the batch, never whatever is latest.
    *  - `txn`: `(appId, n)` stamped into the same atomic commit; a
    *    replay (`n` ≤ the recorded latest for `appId`) is a no-op, and
    *    an empty append batch commits nothing.
    *  - `expect`: named boolean AGGREGATE predicates over the batch, all
    *    evaluated in one job ([[Write.everyRow]] encodes a row CHECK).
    *  - `unique`: key columns that must be unique within the batch and
    *    absent from the current snapshot.
    * A failed `expect`/`unique` check rejects the whole batch before
    * anything is staged and names what failed. */
  final case class Write(
      stats: Option[Seq[String]] = None,
      sums: Seq[String] = Seq.empty,
      bloom: Option[Write.Bloom] = None,
      partitionBy: Seq[String] = Seq.empty,
      zorder: Option[Write.ZOrder] = None,
      onto: Option[Long] = None,
      txn: Option[(String, Long)] = None,
      expect: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
      unique: Seq[String] = Seq.empty)

  object Write {
    /** A write recording exactly `cols` as per-file stats (no
      * columns: row and byte counts only). */
    def stats(cols: String*): Write = Write(stats = Some(cols))

    /** Bloom filter of `col`, sized for `expectedPerFile` distinct
      * values at a 1% false-positive rate. */
    final case class Bloom(col: String, expectedPerFile: Long = 200000)

    /** Morton clustering on `cols` into `numFiles` files; `buckets <= 0`
      * picks `min(1024, 2^(63/k - 1))` quantile buckets per column. */
    final case class ZOrder(cols: Seq[String], numFiles: Int, buckets: Int = 0)

    /** A row-level CHECK as an aggregate expectation: true iff every
      * row satisfies `c` (NULL violates, like SQL CHECK; a zero-row
      * batch passes). */
    def everyRow(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(bool_and(coalesce(c, lit(false))), lit(true))
  }

  /** Full overwrite → new version referencing only the new files.
    * Overwrite carries no read-dependency on the previous state, so a
    * commit conflict only means renumbering — the staged files are
    * reused as-is. It is a declaration boundary: the batch stages
    * un-mapped and lays out `w.partitionBy` (flat when empty). */
  def overwrite(df: DataFrame, root: String, w: Write = Write()): Long =
    commit(df, root, w, overwrite = true, () => ())

  /** Append → new version inheriting the previous file list plus the
    * new files; existing data is not rewritten. The previous file list
    * is re-read inside the retry loop: losing a commit race means the
    * winner's files must appear in ours (append-vs-append commutes, so
    * retrying with the fresh manifest is always safe). A plain append
    * to a GENERATED ALWAYS AS IDENTITY table fills the column; any
    * other [[Write]] refuses there. `beforeCommit` is the
    * race-injection seam (fires between stage and CAS). */
  def append(df: DataFrame, root: String, w: Write = Write(),
             beforeCommit: () => Unit = () => ()): Long = {
    // Marker-gated: the common (no-identity) table pays zero IO here.
    if (w == Write()) identityColumnIfMarked(df.sparkSession, root) match {
      case Some(f) if df.columns.exists(_.equalsIgnoreCase(f.name)) =>
        sys.error(s"column ${f.name} is GENERATED ALWAYS AS IDENTITY — " +
          "the engine assigns it; drop it from the batch")
      case Some(f) => return appendIdentity(df, root, f.name, beforeCommit)
      case None => ()
    }
    commit(df, root, w, overwrite = false, beforeCommit)
  }

  /** The one commit path of [[append]] and [[overwrite]]. */
  private def commit(df0: DataFrame, root: String, w: Write,
                     overwrite: Boolean, beforeCommit: () => Unit): Long = {
    val spark = df0.sparkSession
    val txnLines = w.txn.map { case (a, n) => txnLine(a, n) } // validates appId
    // txn replay: the batch already landed, or (append) has no rows
    for ((appId, n) <- w.txn)
      if (latestTxn(root, appId).exists(_ >= n) || (!overwrite && df0.isEmpty))
        return latestVersion(root).getOrElse(-1L)
    require(w.onto.isEmpty || !overwrite,
      "an overwrite cannot build onto a base version")
    w.onto.foreach(b => require(b >= 0 && manifestFile(root, b).exists(),
      s"base version $b does not exist at $root"))
    checkBatch(df0, root, w)
    val df = w.zorder.fold(df0)(z =>
      zClusterK(df0, z.cols, z.numFiles, z.buckets))
    // an append keeps the table's recorded partitioning (a new table
    // takes the Write's)
    val tableParts = partitionSchema(root).fieldNames.toSeq
    val partCols =
      if (overwrite || tableParts.isEmpty) w.partitionBy else tableParts
    require(w.partitionBy.isEmpty || w.partitionBy == partCols,
      s"an append lays out the table's own partitions ($partCols), " +
        s"not ${w.partitionBy}")
    val statsCols = w.stats.getOrElse(w.zorder.map(_.cols).getOrElse(
      autoStatsCols(df0).filterNot(partCols.contains)))
    require(!statsCols.exists(partCols.contains),
      "stats columns must be non-partition columns (partition values " +
        "prune from the path)")
    val wasPartitioned = tableParts.nonEmpty
    val staged =
      try {
        if (partCols.isEmpty)
          stageDataFiles(df, root, nextVersion(root), mapNames = !overwrite)
        else stagePartitioned(df, root, partCols, mapNames = !overwrite)
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw brokenConstraints(df0, root).getOrElse(e)
      }
    val withSums = sumLines(spark, statLines(spark, staged, statsCols, root),
      w.sums, root)
    val lines = w.bloom.fold(withSums)(b =>
      bloomLines(spark, withSums, b.col, b.expectedPerFile, root))
    val v = commitWithRetry(root, maxRetries = 5, lines, beforeCommit) { v =>
      if (partCols.nonEmpty)
        requireFirstPartitionedAtZero(root, v, wasPartitioned)
      // append: a delta (O(batch) bytes regardless of accumulated file
      // count); onto a base that is no longer latest: a full listing
      val content = w.onto match {
        case _ if overwrite => lines
        case Some(b) if v != b + 1 => readListing(root, b) ++ lines
        case _ => if (v == 0) lines else deltaContent(Seq.empty, lines)
      }
      // the v0 birth commit of a partitioned table records the
      // `partitioning` reader feature
      Some(content ++ txnLines ++
        (if (partCols.nonEmpty && v == 0) Seq(featureLine("r", "partitioning"))
         else Nil))
    }
    if (staged.isEmpty && (overwrite || v == 0))
      writeEmptySchemaSidecar(root, v, df0.schema)
    maybeCheckpoint(root, v)
    v
  }

  /** The pre-stage checks of a [[Write]]: every expectation in one
    * aggregation job, then the key check. */
  private def checkBatch(df: DataFrame, root: String, w: Write): Unit = {
    if (w.expect.nonEmpty) {
      val row = df.agg(
        w.expect.head._2.cast("boolean").as(w.expect.head._1),
        w.expect.tail.map { case (n, c) => c.cast("boolean").as(n) }: _*)
        .collect().head
      val failed = w.expect.map(_._1).zipWithIndex.collect {
        case (n, i) if row.isNullAt(i) || !row.getBoolean(i) => n
      }
      if (failed.nonEmpty)
        throw new IllegalArgumentException(
          s"expectations failed for batch: ${failed.mkString(", ")}")
    }
    if (w.unique.nonEmpty) {
      // enforced against the snapshot read at check time — single
      // writer per key domain; concurrent writers of one key race
      val kc = w.unique.map(col)
      val dup = df.groupBy(kc: _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"unique key: batch duplicates key ${dup.head.mkString("(", ",", ")")}")
      if (latestVersion(root).isDefined) {
        val hit = read(df.sparkSession, root).select(kc: _*)
          .join(df.select(kc: _*), w.unique, "left_semi").limit(1).collect()
        require(hit.isEmpty,
          s"unique key: key already present ${hit.head.mkString("(", ",", ")")}")
      }
    }
  }

  /** After a failed staging pass: the stored constraints the batch
    * breaks, all evaluated in ONE aggregation (SQL CHECK semantics —
    * NULL violates), as one error naming every broken one. `None` when
    * the table has no constraints or the batch breaks none (the
    * staging failure had another cause). */
  private def brokenConstraints(df: DataFrame,
                                root: String): Option[IllegalArgumentException] = {
    val cs = constraintsOf(root)
    if (cs.isEmpty) return None
    val failed = scala.util.Try {
      val aggs = cs.map { case (n, e) =>
        min(coalesce(expr(e), lit(false)).cast("long")).as(n) }
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      cs.map(_._1).zipWithIndex.collect {
        case (n, i) if !row.isNullAt(i) && row.getLong(i) == 0L => n
      }
    }.getOrElse(Seq.empty)
    if (failed.isEmpty) None
    else Some(new IllegalArgumentException(
      s"stored constraints violated by batch: ${failed.mkString(", ")}"))
  }
  /** The `_schema.v{v}.json` sidecar, decoded — ONE reader for the
    * convention shared by the scan's cache, the empty-version path,
    * and the incremental-schema shortcut. */
  def readSchemaSidecar(
      root: String, v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val f = new File(root, s"_schema.v$v.json")
    if (!f.exists()) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** An EMPTY-batch commit records its schema in the version sidecar —
    * the read path has no footer to infer from, and "CREATE then
    * insert later" / "overwrite with an (unexpectedly) empty frame"
    * must stay readable. Best-effort, like the scan's cache. */
  private[sources] def writeEmptySchemaSidecar(
      root: String, v: Long,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    try {
      val tmp = Files.createTempFile(new File(root).toPath, "_schema", ".tmp")
      Files.write(tmp, schema.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, new File(root, s"_schema.v$v.json").toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: java.io.IOException => () }
  }

  // ---------------------------------------------------------------
  // COLUMN MAPPING (the Delta column-mapping role): DROP/RENAME COLUMN
  // are metadata-only commits. Each declared field may carry the
  // PHYSICAL column name (the name data files actually store) in its
  // StructField metadata under [[PhysicalKey]]; logical == physical
  // when the metadata is absent (every pre-mapping table, zero
  // overhead). A RENAME changes the LOGICAL name and pins the physical
  // one; a DROP removes the field from the declaration and RETIRES its
  // physical name in the `_retired_cols` registry so (a) footer sweeps
  // never resurrect it into the schema and (b) a re-added column of
  // the same name gets a FRESH physical slot — old data stays
  // invisible forever. Readers project physical → logical at plan
  // time (filters push through the aliases, so manifest pruning keeps
  // working against the physically-keyed stats); writers rename
  // logical → physical at the staging choke points; COW rewrites
  // drop retired physical data from the files they re-stage. The
  // registry file doubles as the mode flag: absent (the common case)
  // means every mapping code path is a no-op probe.
  // ---------------------------------------------------------------

  /** StructField-metadata key carrying a column's PHYSICAL name. */
  val PhysicalKey = "graft.physical"

  private def retiredColsFile(root: String) = new File(root, "_retired_cols")
  private val retiredLock = new Object

  /** The PHYSICAL column name of a declared field (its own name unless
    * a rename pinned the original storage name in the metadata). */
  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** Physical column names RETIRED by DROP/RENAME (lower-cased):
    * possibly present in data files but banned from (re)entering the
    * logical schema — by footer sweep or by a plain append. */
  def retiredColumns(root: String): Set[String] = {
    val f = retiredColsFile(root)
    if (!f.exists()) Set.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split('\n').map(_.trim).filter(_.nonEmpty).map(_.toLowerCase).toSet
  }

  /** True when the table has EVER dropped or renamed a column — the
    * O(1) probe every mapping code path is gated on. */
  def isColumnMapped(root: String): Boolean = retiredColsFile(root).exists()

  /** Append names to the retired registry (creating it even for an
    * empty batch — the file's EXISTENCE is the mapping-mode flag).
    * Loud on IO failure: a lost retirement would let a later append or
    * footer sweep resurrect dropped data. */
  private def retireColumns(root: String, names: Seq[String]): Unit =
    retiredLock.synchronized {
      val merged = retiredColumns(root) ++ names.map(_.toLowerCase)
      val tmp = Files.createTempFile(new File(root).toPath, "_retired", ".tmp")
      Files.write(tmp, merged.toSeq.sorted.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, retiredColsFile(root).toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** logical(lower-cased) → physical for every NON-identity mapping in
    * the table's latest declaration; empty for unmapped tables (one
    * file-exists probe) and after an `overwrite` (declaration
    * boundary — a full rewrite starts a fresh logical=physical world). */
  private[sources] def mappingFor(root: String): Map[String, String] = {
    if (!isColumnMapped(root)) return Map.empty
    latestVersion(root).flatMap(v =>
      readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v))) match {
      case Some(s) => s.fields.iterator.collect {
        case f if physicalName(f) != f.name =>
          f.name.toLowerCase -> physicalName(f)
      }.toMap
      case None => Map.empty
    }
  }

  /** The table's logical schema at version `v` WITH mapping metadata:
    * the version's sidecar, else the declaration walk-back, else one
    * footer-sweeping read (which caches the sidecar for next time). */
  private def logicalSchemaAt(spark: SparkSession, root: String,
                              v: Long): org.apache.spark.sql.types.StructType =
    readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v)).getOrElse {
      val s = readVersion(spark, root, v).schema
      readSchemaSidecar(root, v).getOrElse(s)
    }

  /** The LOGICAL data schema (mapping metadata included) governing
    * version `v`'s files — the streaming source's per-batch view:
    * `fallback` (the source-start schema; zero extra IO) for unmapped
    * tables or when no declaration reaches `v`. */
  def logicalDataSchemaFor(spark: SparkSession, root: String, v: Long,
                           fallback: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    if (!isColumnMapped(root)) return fallback
    val part = partitionSchema(root).fieldNames.toSet
    readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v)) match {
      case Some(s) => org.apache.spark.sql.types.StructType(
        s.fields.filterNot(f => part.contains(f.name)))
      case None => fallback
    }
  }

  /** Word-boundary probe: does any stored CHECK constraint reference
    * `name`? (The Delta stance — dropping/renaming a constrained
    * column would make every later write throw on a broken
    * expression.) */
  private def constraintReferences(root: String, name: String): Option[String] =
    constraints(root).collectFirst {
      case (n, t) if ("(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
          "(?![A-Za-z0-9_])").r.findFirstIn(t).isDefined => n
    }

  /** The shared metadata-only ALTER commit cycle (rename/drop/add):
    * `declare` recomputes the new FULL field list (and the physical
    * names to retire; `None` = this verb never touches the registry)
    * against each attempt's base version; the commit is an empty
    * data-preserving delta, published through [[commitDeclaration]].
    * The registry persists BEFORE the sidecar (a crash in between
    * leaves mapping mode on with an identity mapping, harmless — the
    * reverse order could let an append adopt a freed name). */
  private def commitAlterDeclaration(root: String, maxRetries: Int,
      features: Seq[(String, String)] = Seq.empty,
      stateLines: Long => Seq[String] = _ => Seq.empty)(
      declare: Long => (Seq[org.apache.spark.sql.types.StructField],
        Option[Seq[String]])): Long = {
    import org.apache.spark.sql.types.StructType
    var retire: Option[Seq[String]] = None
    val v = commitDeclaration(root, maxRetries,
      () => retire.foreach(names => retireColumns(root, names))) { v =>
      val base = v - 1
      if (base < 0) sys.error(s"no versions at $root")
      val (fields, r) = declare(base)
      retire = r
      // the feature requirement (column-mapping / type-widening /
      // column-defaults / …) lands INSIDE the declaring commit — no
      // window where the capability is in effect unrecorded
      (deltaContent(Seq.empty, Seq.empty) ++
        Seq(PreservingMarker, DeclaredMarker) ++
        newFeatureLines(root, base, features) ++ stateLines(base),
        StructType(fields))
    }
    maybeCheckpoint(root, v)
    v
  }

  /** The one declaration publish of the ALTER verbs and [[restore]]:
    * create the intent breadcrumb (see [[DeclIntentPrefix]]); commit
    * `plan(v)`'s lines — which carry the [[DeclaredMarker]] — through
    * [[commitWithRetry]], refreshing the intent's mtime before each
    * attempt (`plan` can be arbitrarily slow, and vacuum's stale-intent
    * reclamation keys on mtime); run `afterWin`; write the winning
    * attempt's declaration to `_schema.v{v}.json` LOUDLY (no
    * best-effort catch: a schema change that did not persist must
    * fail); and delete the intent unless the declaration is torn.
    *
    * The sidecar lands AFTER the commit: a sidecar written first could
    * land under a racing winner's version. Until it lands, anyone
    * resolving this version's declaration (a racing ALTER's retry, an
    * append's mappingFor) spins in [[declaredSchemaAt]] instead of
    * walking back to the stale pre-commit sidecar; a crash in between
    * is a TORN declaration, which keeps its intent (readers
    * short-circuit on its absence) and fails reads loudly. */
  private def commitDeclaration(root: String, maxRetries: Int,
      afterWin: () => Unit = () => ())(
      plan: Long => (Seq[String], org.apache.spark.sql.types.StructType))
      : Long = {
    val intent =
      Files.createTempFile(new File(root).toPath, DeclIntentPrefix, "")
    var declared: org.apache.spark.sql.types.StructType = null
    var torn = false
    try {
      val v = commitWithRetry(root, maxRetries) { v =>
        val (lines, schema) = plan(v)
        declared = schema
        intent.toFile.setLastModified(System.currentTimeMillis())
        Some(lines)
      }
      torn = true // until the sidecar move below completes
      afterWin()
      val tmp = Files.createTempFile(new File(root).toPath, "_schema", ".tmp")
      Files.write(tmp, declared.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, new File(root, s"_schema.v$v.json").toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      torn = false
      v
    } finally if (!torn) Files.deleteIfExists(intent)
  }

  /** Metadata-only ALTER TABLE RENAME COLUMN (the Delta column-mapping
    * role): commits a data-preserving empty delta whose schema sidecar
    * carries the new LOGICAL name with the original PHYSICAL name
    * pinned in the field metadata — zero files moved at any table
    * size. Readers of this and later versions project the physical
    * column under the new name; earlier versions time-travel with
    * their old names (each version's sidecar is its own declaration).
    * The old logical name is RETIRED when it names the physical slot,
    * so a later ADD COLUMNS of the same name gets a fresh physical
    * column and never resurrects the renamed data. Refused for
    * partition columns (path-derived — a rename would need a directory
    * rewrite), under pending MOR overlays (their frames carry the old
    * names), and for columns referenced by CHECK constraints. */
  def alterRenameColumn(spark: SparkSession, root: String,
                        from: String, to: String,
                        maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"new column name must be a bare identifier, got '$to'")
    require(!from.equalsIgnoreCase(to), s"RENAME to the same name: '$from'")
    require(!Tombstones.hasPending(root),
      "RENAME COLUMN with pending MOR tombstones/patches would strand " +
        "their old-name frames — purge() first")
    constraintReferences(root, from).foreach(n => sys.error(
      s"cannot rename $from: CHECK constraint $n references it — drop " +
        "the constraint first"))
    require(!partitionSchema(root).fieldNames.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column $from (values live in paths)")
    commitAlterDeclaration(root, maxRetries,
      features = Seq(("r", "column-mapping"))) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        sys.error(s"no column $from in table at $root"))
      require(!f.metadata.contains(IdentityKey),
        s"cannot rename identity column $from: the high-water mark is " +
          "keyed by name — drop the identity property first")
      require(!fields.exists(_.name.equalsIgnoreCase(to)),
        s"column $to already exists in the table")
      val phys = physicalName(f)
      val renamed = fields.map { g =>
        if (g.name.equalsIgnoreCase(from)) {
          val md = new MetadataBuilder().withMetadata(
            Metadata.fromJson(g.metadata.json))
            .putString(PhysicalKey, phys).build()
          g.copy(name = to, metadata = md)
        } else g
      }
      // retire the freed logical name only when it names the physical
      // slot (old files carry it); an always-Some keeps the registry
      // file — the mapping-mode flag — present either way
      (renamed.toSeq,
        Some(if (phys.equalsIgnoreCase(from)) Seq(from) else Seq.empty))
    }
  }

  /** Metadata-only ALTER TABLE DROP COLUMN: a data-preserving empty
    * delta whose sidecar declaration no longer carries the field; the
    * PHYSICAL name is retired, so footer sweeps exclude the orphaned
    * data and a later same-name ADD COLUMNS maps to a FRESH physical
    * slot (old values never resurrect). The data itself stays in the
    * files until COW rewrites/compaction re-stage them (the rewrite
    * read projects retired columns away — dropped data erodes with
    * table churn, exactly Delta's story before a VACUUM-style rewrite).
    * Same refusals as [[alterRenameColumn]], plus the last data column
    * (a table must keep at least one). */
  def alterDropColumn(spark: SparkSession, root: String, name: String,
                      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.StructType
    require(!Tombstones.hasPending(root),
      "DROP COLUMN with pending MOR tombstones/patches would strand " +
        "their full-schema frames — purge() first")
    constraintReferences(root, name).foreach(n => sys.error(
      s"cannot drop $name: CHECK constraint $n references it — drop " +
        "the constraint first"))
    val partNames = partitionSchema(root).fieldNames
    require(!partNames.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column $name (values live in paths)")
    // a footer-sweeping reader blind to the declaration would
    // RESURRECT the dropped column from still-on-disk files — the same
    // logical-vs-physical divergence rename creates, same feature
    commitAlterDeclaration(root, maxRetries,
      features = Seq(("r", "column-mapping"))) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      require(fields.count(g =>
        !partNames.exists(_.equalsIgnoreCase(g.name))) > 1,
        s"cannot drop $name: it is the table's last data column")
      (fields.filterNot(_.name.equalsIgnoreCase(name)).toSeq,
        Some(Seq(physicalName(f))))
    }
  }

  /** Metadata-only ALTER TABLE ADD COLUMNS (the Delta role): commits a
    * new version with the SAME file listing — an empty, data-preserving
    * delta (version-offset streams skip it, zero data moved at any
    * table size) — whose schema sidecar declares the added NULLABLE
    * columns, appended after the existing data columns (partition
    * columns stay last, the table's declared order). Existing rows
    * read typed NULL; COW rewrites and compaction read through
    * [[widenDeclared]] and MATERIALIZE the column into files they
    * stage, so the declaration survives any later history (an
    * `overwrite` replaces the schema wholesale — the intentional drop).
    *
    * Commit-then-sidecar ordering: the manifest must be WON first — a
    * lost race writing the sidecar first would plant this ALTER's
    * schema under someone else's commit. The sidecar write after a won
    * commit propagates errors (unlike the best-effort cache) — a
    * schema change that didn't persist must fail loudly, and the
    * listing-identical manifest is harmless to leave behind. Returns
    * the committed version. */
  /** `spark.read.option("mergeSchema").parquet(paths)` tolerant of
    * WIDENED histories: parquet's own schema merge refuses
    * INT32-vs-INT64 (etc.) across files, but a metadata-only
    * [[alterWidenColumn]] legitimately mixes vintages in one listing
    * (old files at the narrow type, post-ALTER appends at the wide
    * one). On a merge failure the per-file footers are re-merged with
    * [[isWideningCast]] resolving type conflicts — the wider type
    * wins, every value up-casts exactly, and the read retries with the
    * explicit schema (the vectorized reader up-casts per file). A
    * conflict widening can't explain rethrows the ORIGINAL error. The
    * happy path (no widen in history) is byte-identical to the plain
    * read. */
  def readParquetMerged(spark: SparkSession,
                                         paths: Seq[String]): DataFrame =
    try spark.read.option("mergeSchema", "true").parquet(paths: _*)
    catch {
      case scala.util.control.NonFatal(e) =>
        import org.apache.spark.sql.types.StructType
        def widenMerge(a: StructType, b: StructType): StructType =
          StructType(
            a.fields.map { fa =>
              b.find(_.name.equalsIgnoreCase(fa.name)) match {
                case Some(fb) if fa.dataType == fb.dataType =>
                  fa.copy(nullable = fa.nullable || fb.nullable)
                case Some(fb) if isWideningCast(fa.dataType, fb.dataType) =>
                  fa.copy(dataType = fb.dataType,
                    nullable = fa.nullable || fb.nullable)
                case Some(fb) if isWideningCast(fb.dataType, fa.dataType) =>
                  fa.copy(nullable = fa.nullable || fb.nullable)
                case Some(_) => throw e // genuinely incompatible
                case None => fa.copy(nullable = true)
              }
            } ++ b.fields.filterNot(fb =>
              a.fields.exists(_.name.equalsIgnoreCase(fb.name)))
              .map(_.copy(nullable = true)))
        val merged =
          try paths.map(p => Lake.read(spark, p).schema)
            .reduceLeft(widenMerge)
          catch { case scala.util.control.NonFatal(_) => throw e }
        spark.read.schema(merged).parquet(paths: _*)
    }

  /** Is `from` → `to` a WIDENING type change — every `from` value
    * exactly representable as `to`, and (the pruning contract) every
    * recorded manifest stat bound still a faithful bound under `to`
    * comparisons? Integral up-casts (byte→short→int→long: the
    * long-cast stat triples are unchanged), float→double (exact
    * embedding; `__dbl_` triples were computed as doubles already),
    * and same-scale decimal precision growth (values and their
    * truncating long-cast stats unchanged). Everything else —
    * including any narrowing, long→double (inexact above 2^53), and
    * scale changes (value-rewriting) — is refused. */
  def isWideningCast(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Metadata-only ALTER TABLE ALTER COLUMN TYPE — WIDENING only (the
    * Delta type-widening role): a data-preserving empty delta whose
    * sidecar declares the column at the wider type; zero files moved
    * at any table size. Readers up-cast old files at scan time (the
    * vectorized parquet reader reads INT32 into a LongType column
    * natively — [[org.apache.spark.sql.graft.GraftScan]] serves the
    * DECLARED type over every file vintage); appends after the ALTER
    * stage at the wide type; COW rewrites and compaction MATERIALIZE
    * the wide type into the files they re-stage ([[widenDeclared]]
    * casts), so the declaration survives full-manifest re-layouts.
    * Old versions time-travel with their old types (each version's
    * sidecar is its own declaration). Manifest stats stay faithful
    * bounds by [[isWideningCast]]'s contract — pruning is untouched.
    * Refused for narrowing (rewrite the table), partition columns
    * (path-derived text), and under pending MOR overlays (their
    * key-matched frames carry the old type). A RUNNING version-offset
    * stream rides across the ALTER itself (an empty preserving commit
    * contributes no files) but fails loudly at the first batch staged
    * at the wider type and recovers on restart with the new schema —
    * the Delta stream-schema-change stance. */
  def alterWidenColumn(spark: SparkSession, root: String, name: String,
                       to: org.apache.spark.sql.types.DataType,
                       maxRetries: Int = 5): Long = {
    require(!Tombstones.hasPending(root),
      "ALTER COLUMN TYPE with pending MOR tombstones/patches would " +
        "strand their old-type frames — purge() first")
    require(!partitionSchema(root).fieldNames.exists(_.equalsIgnoreCase(name)),
      s"cannot retype partition column $name (values live in paths)")
    commitAlterDeclaration(root, maxRetries,
      features = Seq(("r", "type-widening"))) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      require(!f.metadata.contains(IdentityKey),
        s"cannot retype identity column $name: allocation is keyed by " +
          "the declared type — drop the identity property first")
      require(f.dataType != to,
        s"column $name is already ${to.simpleString}")
      require(isWideningCast(f.dataType, to),
        s"ALTER COLUMN TYPE only widens: ${f.dataType.simpleString} -> " +
          s"${to.simpleString} is not a widening cast " +
          "(byte/short/int up-casts, float->double, decimal precision " +
          "growth at the same scale) — rewrite the table instead")
      (fields.map(g =>
        if (g.name.equalsIgnoreCase(name)) g.copy(dataType = to) else g)
        .toSeq, None) // never touches the mapping registry
    }
  }

  /** StructField-metadata key carrying a column's DEFAULT expression
    * text — Spark's OWN key (`ResolveDefaultColumns`), so a declared
    * default flows through `CatalogV2Util.structTypeToV2Columns` and
    * the analyzer fills DSv2 INSERT column-lists natively. */
  val CurrentDefaultKey = "CURRENT_DEFAULT"

  /** Spark's existing-rows key. Always declared as NULL here — the
    * Delta stance: a default affects FUTURE writes only; rows that
    * predate it (and files that never materialized the column) read
    * NULL, never a retroactive constant. */
  val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** The fill expression for an unlisted INSERT/merge-insert column:
    * its declared DEFAULT when one exists, else typed NULL (plain SQL
    * semantics). */
  private[sources] def defaultOrNull(
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column =
    if (f.metadata.contains(CurrentDefaultKey))
      expr(f.metadata.getString(CurrentDefaultKey)).cast(f.dataType)
    else lit(null).cast(f.dataType)

  /** The table's CURRENT declared schema WITH its metadata (column
    * mapping, defaults) — the schema WRITE paths consult; the scan
    * serves a metadata-stripped copy for plan cleanliness. */
  def writeSchema(spark: SparkSession,
                  root: String): org.apache.spark.sql.types.StructType =
    logicalSchemaAt(spark, root,
      latestVersion(root).getOrElse(sys.error(s"no versions at $root")))

  // -------------------------------------------------------------------
  // IDENTITY columns (the Delta GENERATED ALWAYS AS IDENTITY role —
  // the TRANSACTIONAL fix for the reference's surrogate-key protocol,
  // to_silver.py:106,130-132: its max-key probe + row_number, ported
  // faithfully in operators/KeyGen.scala, sits OUTSIDE any commit, so
  // two concurrent appenders can mint colliding keys). Here the
  // high-water mark lives in the manifest (`#identity\t<col>\t<hw>`
  // state line) and allocation happens INSIDE the commit: the filled
  // rows and the new mark land in one atomic CAS, a lost race re-reads
  // the winner's mark and re-stages with fresh keys — dense and
  // collision-free by construction, at any writer count.
  // -------------------------------------------------------------------

  /** StructField-metadata key marking a column GENERATED ALWAYS AS
    * IDENTITY (value = the declared START WITH, informational). */
  val IdentityKey = "graft.identity"

  private[sources] val IdentityPrefix = "#identity"

  /** Aggregation-boundary marker, as [[FeatCkptMarker]]. */
  private[sources] val IdentityCkptMarker = s"$IdentityPrefix-aware\t1"

  private def identityLine(c: String, hw: Long): String =
    s"$IdentityPrefix\t${c.toLowerCase}\t$hw"

  /** Fast-path HINT that a table MAY declare an identity column (the
    * `_retired_cols` pattern): written by [[alterSetIdentity]] BEFORE
    * its commit (a false positive after a lost/crashed ALTER merely
    * costs the next append one schema read; a false negative is
    * impossible), carried by clones. Without it every append would pay
    * a declaration resolution — a footer sweep per commit on the
    * hottest write path — just to learn the common answer: no. */
  private def identityMarkerFile(root: String): File =
    new File(root, "_identity")

  /** The declared identity column, resolved ONLY when the marker hints
    * one may exist — None on marker-less tables at zero IO. */
  private def identityColumnIfMarked(spark: SparkSession, root: String)
      : Option[org.apache.spark.sql.types.StructField] =
    if (!identityMarkerFile(root).exists()) None
    else latestVersion(root)
      .map(v => logicalSchemaAt(spark, root, v))
      .flatMap(identityColumnOf)

  /** GENERATED ALWAYS refusal for verbs that would SUPPLY or REWRITE
    * the identity column (`what` names the verb in the error):
    * Delta's stance — the engine is the only writer of that column. */
  private def refuseIdentitySurface(spark: SparkSession, root: String,
                                    what: String): Unit =
    identityColumnIfMarked(spark, root).foreach(f => sys.error(
      s"table at $root declares identity column ${f.name} " +
        s"(GENERATED ALWAYS): $what is not supported — the engine is " +
        "the only writer of that column (drop the identity property " +
        "first: ALTER COLUMN ... DROP IDENTITY)"))

  /** The declared identity column of `schema`, if any (at most one —
    * [[alterSetIdentity]] enforces it). */
  def identityColumnOf(schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructField] =
    schema.fields.find(_.metadata.contains(IdentityKey))

  /** The identity high-water mark of `col` as of version `v` (the
    * highest key allocated at-or-below it): newest `#identity` line
    * wins; any checkpoint bounds the walk (identity lines cannot
    * predate this protocol); aware checkpoints carry the mark across
    * vacuum. */
  def identityHighWater(root: String, v: Long,
                        col: String): Option[Long] = {
    val prefix = s"$IdentityPrefix\t${col.toLowerCase}\t"
    def hitIn(lines: Seq[String]): Option[Long] = lines.collectFirst {
      case l if l.startsWith(prefix) => l.substring(prefix.length).toLong
    }
    val existing = versions(root).toSet
    var cur = v
    while (cur >= 0 && existing.contains(cur)) {
      val hit = hitIn(readManifest(root, cur))
      if (hit.isDefined) return hit
      if (cur != v && checkpointFile(root, cur).exists())
        return hitIn(rawCheckpointLines(root, cur))
      cur -= 1
    }
    None
  }

  /** Every column's newest identity mark at `v`, for checkpoint
    * carry. */
  private def identityLinesAt(root: String, v: Long): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def absorb(lines: Seq[String]): Unit = lines.foreach { l =>
      if (l.startsWith(IdentityPrefix + "\t")) {
        val parts = l.split('\t')
        if (parts.length == 3 && !seen.contains(parts(1)))
          seen(parts(1)) = parts(2).toLong
      }
    }
    val existing = versions(root).toSet
    var cur = v
    var stop = false
    while (!stop && cur >= 0 && existing.contains(cur)) {
      absorb(readManifest(root, cur))
      if (cur != v && checkpointFile(root, cur).exists()) {
        absorb(rawCheckpointLines(root, cur))
        stop = true
      }
      cur -= 1
    }
    seen.toSeq.map { case (c, hw) => identityLine(c, hw) }
  }

  /** `ALTER TABLE ... ALTER COLUMN c SET GENERATED ALWAYS AS IDENTITY
    * [START WITH n]`: declares the column engine-assigned. The
    * declaring commit seeds the high-water mark at
    * max(existing values, startWith − 1) — computed against the same
    * base version the CAS wins, so pre-existing keys can never
    * collide with future allocations. Integral columns only; at most
    * one identity column per table; partition columns, renames, and
    * type changes of identity columns refuse (the mark is keyed by
    * name and allocation is keyed by type). */
  def alterSetIdentity(spark: SparkSession, root: String, name: String,
                       startWith: Long = 1L, maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types._
    require(!partitionSchema(root).fieldNames.exists(_.equalsIgnoreCase(name)),
      s"cannot make partition column $name an identity column " +
        "(values live in paths)")
    // the hint lands BEFORE the commit: the safe false-positive order
    // (see identityMarkerFile)
    Files.write(identityMarkerFile(root).toPath,
      name.getBytes(StandardCharsets.UTF_8))
    commitAlterDeclaration(root, maxRetries,
      features = Seq(("w", "identity-columns")),
      stateLines = base => {
        // the seed scan pins to BASE — the version this attempt's CAS
        // serializes against; a lost race recomputes against the new
        // base, so an interleaved append's keys are always covered
        val existingMax = readVersion(spark, root, base)
          .agg(max(col(name).cast("long"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getLong(0))
          }
        // any PREVIOUS mark (a drop-then-reset cycle) also floors the
        // seed: deleted rows' keys are never re-minted, the SQL
        // identity-counter stance
        Seq(identityLine(name, Seq(
          existingMax.getOrElse(Long.MinValue),
          identityHighWater(root, base, name).getOrElse(Long.MinValue),
          startWith - 1L).max))
      }) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case dt => sys.error(
          s"identity column $name must be integral, got ${dt.simpleString}")
      }
      identityColumnOf(StructType(fields)).foreach(g =>
        sys.error(s"table already has identity column ${g.name} — " +
          "at most one per table"))
      (fields.map { g =>
        if (!g.name.equalsIgnoreCase(name)) g
        else g.copy(nullable = false, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(g.metadata)
            .putString(IdentityKey, startWith.toString).build())
      }.toSeq, None)
    }
  }

  /** `ALTER COLUMN c DROP IDENTITY` — remove the GENERATED ALWAYS
    * property (the verb the rename/retype refusals direct to): the
    * column becomes an ordinary integral column, batches supply it
    * again, rename/widen unlock. The high-water line and the hint
    * file stay behind harmlessly (resolution keys on the declaration
    * metadata; the hint's false positive costs one schema read) — so
    * a later SET IDENTITY resumes from max(recorded mark, existing
    * values), never re-minting old keys. Refuses when no identity is
    * declared (like DROP DEFAULT). */
  def alterDropIdentity(spark: SparkSession, root: String, name: String,
                        maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    commitAlterDeclaration(root, maxRetries) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      require(f.metadata.contains(IdentityKey),
        s"column $name is not an identity column")
      (fields.map { g =>
        if (!g.name.equalsIgnoreCase(name)) g
        else {
          val kept = Metadata.fromJson(g.metadata.json) // copy
          val b = new MetadataBuilder().withMetadata(kept)
          b.remove(IdentityKey)
          g.copy(nullable = true, metadata = b.build())
        }
      }.toSeq, None)
    }
  }

  /** GENERATED ALWAYS AS IDENTITY append: fill `c` with
    * hw+1 … hw+n and commit rows + the advanced mark atomically.
    * Dense two-pass numbering (per-partition counts, then
    * partition-offset row_number — no global sort, the scale path the
    * reference's global-window protocol lacks); keys follow the
    * batch's partition-row order, so sort-and-coalesce the batch
    * first when a specific order matters. A lost CAS deletes the
    * staged files and re-stages against the winner's mark — retries
    * cost O(batch), the price of density under contention. */
  private def appendIdentity(df0: DataFrame, root: String, c: String,
                             beforeCommit: () => Unit,
                             maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.expressions.Window
    requireFlat(root) // the numbering stages flat
    val spark = df0.sparkSession
    val declared = writeSchema(spark, root)
    val f = declared.fields.find(_.name.equalsIgnoreCase(c)).get
    // pinned: the per-partition counts and the numbering pass must see
    // the same rows in the same partition order
    val df = df0.localCheckpoint(true)
    val withPid = df.withColumn("__graft_pid", spark_partition_id())
    val counts = withPid.groupBy(col("__graft_pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init).toMap
    // the winner of a lost race may have advanced the mark: its plan's
    // keys are void, so every loss re-stages against the new mark
    commitRewrite(spark, root, maxRetries, beforeCommit) { (base, _) =>
      val hw = identityHighWater(root, base, f.name).getOrElse(sys.error(
        s"identity column ${f.name} at $root has no recorded high-water " +
          "mark — the declaring commit always seeds one; was the chain " +
          "hand-edited?"))
      val filled =
        if (n == 0L) withPid.drop("__graft_pid")
          .withColumn(f.name, lit(null).cast(f.dataType))
        else withPid
          .withColumn("__graft_mid", monotonically_increasing_id())
          .withColumn(f.name,
            (row_number().over(Window.partitionBy(col("__graft_pid"))
              .orderBy(col("__graft_mid"))).cast("long") +
              element_at(typedLit(offsets), col("__graft_pid")) +
              lit(hw)).cast(f.dataType))
          .drop("__graft_pid", "__graft_mid")
      // the declared type must HOLD the new range — a narrow identity
      // column near its max would otherwise wrap silently (non-ANSI
      // cast), minting colliding keys while the mark kept counting
      val cap = f.dataType match {
        case org.apache.spark.sql.types.ByteType => Byte.MaxValue.toLong
        case org.apache.spark.sql.types.ShortType => Short.MaxValue.toLong
        case org.apache.spark.sql.types.IntegerType => Int.MaxValue.toLong
        case _ => Long.MaxValue
      }
      require(n <= cap - hw, // overflow-safe spelling of hw + n <= cap
        s"identity column ${f.name} exhausts its declared " +
          s"${f.dataType.simpleString} range (mark $hw + $n new keys > " +
          s"$cap) — DROP IDENTITY, widen the column, re-SET IDENTITY")
      Some(Rewrite(Nil, filled, autoStatsCols(filled),
        Seq(identityLine(f.name, hw + n))))
    }
  }

  /** `lowercased name -> DEFAULT expression text` of the current
    * declaration — O(one sidecar read), session-free: the accessor
    * [[org.apache.spark.sql.graft.GraftCatalog]]'s table card
    * re-attaches defaults to its reported schema with. */
  def columnDefaults(root: String): Map[String, String] =
    latestVersion(root).flatMap(v =>
      readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v))) match {
      case Some(s) => s.fields.iterator.collect {
        case f if f.metadata.contains(CurrentDefaultKey) =>
          f.name.toLowerCase -> f.metadata.getString(CurrentDefaultKey)
      }.toMap
      case None => Map.empty
    }

  /** Metadata-only `ALTER TABLE ... ALTER COLUMN c SET DEFAULT expr`
    * (the Delta column-default role): the declaration sidecar pins the
    * expression text; INSERT column-lists and merge-INSERT clauses
    * fill it for unlisted columns from then on. EXISTING rows are
    * untouched — they serve their stored values (or NULL where the
    * column never materialized), never a retroactive constant. The
    * expression must resolve self-contained (no column references —
    * validated by resolving it against an empty frame); CURRENT_DATE
    * and friends are fine. */
  def alterSetDefault(spark: SparkSession, root: String, name: String,
                      sqlText: String, maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.MetadataBuilder
    commitAlterDeclaration(root, maxRetries,
      features = Seq(("w", "column-defaults"))) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      // resolve against a ZERO-COLUMN single-row frame: a column
      // reference (or a typo) must fail HERE, not at the first INSERT
      // that needs the fill. range(1) would expose an `id` column, so
      // `SET DEFAULT id` would pass validation as a column reference —
      // drop it before resolving
      try spark.range(1).drop("id").select(expr(sqlText).cast(f.dataType))
        .collect()
      catch {
        case e: Exception => sys.error(
          s"DEFAULT for $name must be a self-contained expression " +
            s"castable to ${f.dataType.simpleString}: '$sqlText' " +
            s"failed to resolve (${e.getMessage})")
      }
      (fields.map { g =>
        if (!g.name.equalsIgnoreCase(name)) g
        else g.copy(metadata = new MetadataBuilder()
          .withMetadata(g.metadata)
          .putString(CurrentDefaultKey, sqlText)
          .putString(ExistsDefaultKey, "NULL").build())
      }.toSeq, None)
    }
  }

  /** Remove a column's declared DEFAULT (unlisted INSERT columns fill
    * NULL again). No-op-by-refusal when none is declared. */
  def alterDropDefault(spark: SparkSession, root: String, name: String,
                       maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    commitAlterDeclaration(root, maxRetries) { base =>
      val fields = logicalSchemaAt(spark, root, base).fields
      val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        sys.error(s"no column $name in table at $root"))
      require(f.metadata.contains(CurrentDefaultKey),
        s"column $name has no declared DEFAULT")
      (fields.map { g =>
        if (!g.name.equalsIgnoreCase(name)) g
        else {
          val kept = Metadata.fromJson(g.metadata.json) // copy
          val b = new MetadataBuilder().withMetadata(kept)
          b.remove(CurrentDefaultKey)
          b.remove(ExistsDefaultKey)
          g.copy(metadata = b.build())
        }
      }.toSeq, None)
    }
  }

  def alterAddColumns(spark: SparkSession, root: String,
                      adds: Seq[org.apache.spark.sql.types.StructField],
                      maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.types.StructType
    require(adds.nonEmpty, "ALTER ADD COLUMNS needs at least one column")
    adds.foreach(f => require(f.nullable,
      s"added column ${f.name} must be NULLABLE (existing rows read NULL)"))
    require(adds.map(_.name.toLowerCase).distinct.length == adds.length,
      s"ALTER ADD COLUMNS repeats a column: ${adds.map(_.name)}")
    commitAlterDeclaration(root, maxRetries) { base =>
      // the CURRENT declared schema, through the scan machinery (the
      // sidecar when present, else one cached footer sweep) — WITH its
      // column-mapping metadata, which the new declaration must carry
      // forward; partition columns surface LAST and stay last
      val full = logicalSchemaAt(spark, root, base)
      val partNames = partitionSchema(root).fieldNames.toSet
      val dataFields = full.fields.filterNot(f => partNames.contains(f.name))
      val partFields = full.fields.filter(f => partNames.contains(f.name))
      val haveNames = full.fieldNames.map(_.toLowerCase).toSet
      adds.foreach(f => require(!haveNames.contains(f.name.toLowerCase),
        s"column ${f.name} already exists in the table"))
      // column-mapping: a re-added name whose PHYSICAL slot is retired
      // (a previous DROP) or live under another logical column (the
      // pre-rename storage name) maps to a FRESH physical slot —
      // `<name>__r<v>` is unique because exactly one ALTER wins
      // version base+1 — so old file data NEVER resurrects into the
      // new column (it reads typed NULL until writes fill it)
      val retired = retiredColumns(root)
      val livePhys = full.fields.map(f =>
        physicalName(f).toLowerCase).toSet
      val mappedAdds = adds.map { f =>
        val taken = retired.contains(f.name.toLowerCase) ||
          livePhys.contains(f.name.toLowerCase)
        if (!taken) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(PhysicalKey, s"${f.name}__r${base + 1}").build())
      }
      // ALTER ADD never touches the retirement registry (None): a
      // never-mapped table must not enter mapping mode here
      ((dataFields ++ mappedAdds ++ partFields).toSeq, None)
    }
  }

  // -------------------------------------------------------------------
  // Hive-layout PARTITIONED tables under the manifest log: data files
  // live in `data/<col>=<value>/...` directories, a `_partition_schema
  // .json` sidecar records the partition columns' names and types
  // (they are NOT stored in the files, exactly Spark's partitionBy
  // convention), and the Catalyst scan surfaces them through the
  // FileIndex's partitionSchema — so one plan-time index prunes on the
  // partition dimension AND the per-file [min, max]/bloom stats, the
  // Delta partitioned-table role. Manifest lines, time travel, stats
  // and vacuum are unchanged: a partitioned file is just a file whose
  // path carries `col=value` segments.
  // -------------------------------------------------------------------

  private def partitionSchemaFile(root: String): File =
    new File(root, "_partition_schema.json")

  /** The table's partition columns (empty schema when unpartitioned). */
  def partitionSchema(root: String): org.apache.spark.sql.types.StructType = {
    val f = partitionSchemaFile(root)
    if (!f.exists()) org.apache.spark.sql.types.StructType(Nil)
    else org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Stage `df` partitioned by `partCols` (Hive layout preserved under
    * `data/`), returning the staged file paths. Partition values must
    * be string or integral — the types the scan's path parser and the
    * manifest stats both round-trip. */
  private def stagePartitioned(df0: DataFrame, root: String,
                               partCols: Seq[String],
                               mapNames: Boolean = true,
                               identityFill: Boolean = false): Seq[String] = {
    val df = preStage(df0, root, mapNames, identityFill)
    require(partCols.nonEmpty, "partitioned write needs partition columns")
    partCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == org.apache.spark.sql.types.StringType ||
        dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
        s"partition column $c must be string or integral, got $dt")
    }
    val pSchema = org.apache.spark.sql.types.StructType(
      partCols.map(c => df.schema(c).copy(nullable = true)))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new File(root, s"_staging_p-$nonce")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(staging.getPath)
    catch { case e: Throwable => Lake.deleteRecursively(staging); throw e }
    dataDir(root).mkdirs()
    val moved = parquetFilesUnder(staging)
      .sortBy(_.getPath).zipWithIndex.map { case (f, i) =>
        val rel = staging.toPath.relativize(f.getParentFile.toPath).toString
        val dstDir = new File(dataDir(root), rel)
        dstDir.mkdirs()
        val dst = new File(dstDir, f"p-$nonce-$i%05d.parquet")
        Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.getPath
      }
    Lake.deleteRecursively(staging)
    // sidecar before the commit: a reader resolving the new version
    // must already know the partition columns. Idempotent content —
    // the key-set check below makes repeated writes agree.
    val existing = partitionSchema(root)
    require(existing.isEmpty || existing == pSchema,
      s"partition schema $pSchema differs from the table's $existing")
    if (existing.isEmpty) {
      // the sidecar is table-GLOBAL (not versioned): if flat-file
      // versions already exist, publishing it would make every read of
      // them wrong — the scan filters the physically-present partition
      // column out of dataSchema and path parsing yields NULL, so time
      // travel serves NULL partition values and partition filters
      // silently prune those rows. Refuse: partitioned layout starts at
      // version 0 (or takes a new root). Delta/Iceberg version
      // partition metadata per snapshot for exactly this reason; the
      // manifest-global sidecar buys its simplicity with this guard.
      require(latestVersion(root).isEmpty,
        s"table at $root already has flat-file versions: a partitioned " +
          "layout would make their partition values read back NULL — " +
          "write partitioned from version 0 or use a new root")
      // put-if-absent publish (hard link, the commitManifest primitive;
      // NEVER a replacing move): two racing FIRST partitioned writers
      // must agree on ONE schema — the loser re-reads the winner's
      // sidecar and aborts on mismatch instead of silently replacing
      // the layout the winner's committed files were parsed under
      val tmp = Files.createTempFile(new File(root).toPath, "_pschema", ".tmp")
      try {
        Files.write(tmp, pSchema.json.getBytes(StandardCharsets.UTF_8))
        try Files.createLink(partitionSchemaFile(root).toPath, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val winner = partitionSchema(root)
            require(winner == pSchema,
              s"lost the partition-schema race: the winner recorded " +
                s"$winner, this writer laid out $pSchema — aborting " +
                "(nothing committed)")
          case e: UnsupportedOperationException =>
            // no link(2): an exists-check + move would be a TOCTOU race
            // on the one file whose last-writer-wins is data loss
            throw new IllegalStateException(
              "partition-schema publish requires hard-link support " +
                "(link(2)); this filesystem lacks it", e)
        }
      } finally Files.deleteIfExists(tmp)
    }
    moved
  }

  /** The FIRST partitioned commit must be version 0: the sidecar check
    * in [[stagePartitioned]] is check-then-act, so a concurrent FLAT
    * writer can land version 0 inside the window — committing the
    * partitioned files as version 1 would put flat history under a
    * partition sidecar (NULL partition values on time travel). The
    * closure re-checks at each commit attempt; losers abort loudly
    * and delete their staged files. A same-schema
    * concurrent partitioned writer loses too — the Delta metadata-
    * conflict stance: first writers don't silently interleave. */
  private def requireFirstPartitionedAtZero(root: String, v: Long,
                                            wasPartitioned: Boolean): Unit =
    require(v == 0 || wasPartitioned,
      s"a concurrent writer committed version ${v - 1} to $root while " +
        "this FIRST partitioned write staged: committing would mix " +
        "flat and partitioned versions under one partition sidecar — " +
        "aborting")

  /** METADATA-ONLY `SUM(sumCol)` — folded from the per-file sums in
    * the listing, zero data reads (the [[countRows]] story for the
    * third aggregate; AVG = sumTotal / countRows at the caller).
    * `None` when ANY file of the version lacks a recorded sum (staged
    * by a non-sum writer, or its column was entirely null there) —
    * conservative, fall back to a scan. Takes no SparkSession: a scan
    * is impossible by construction. */
  def sumTotal(root: String, sumCol: String,
               version: Option[Long] = None): Option[Long] = {
    version.orElse(latestVersion(root)) match {
      case None => None
      case Some(v) =>
        val sums = readListing(root, v)
          .map(ln => statsOf(ln).get(sumKey(sumCol)).map(_._1))
        if (sums.nonEmpty && sums.forall(_.isDefined)) Some(sums.flatten.sum)
        else None
    }
  }

  /** Per-staged-file BLOOM of `bloomCol`, appended to the stat lines as
    * [[BloomPrefix]] triples. One aggregation over just the staged
    * files; the hash domain is `xxhash64(bloomCol)` — the scan's
    * equality probe ([[org.apache.spark.sql.graft.GraftScan]]) hashes
    * the identical way, so write and read agree by construction. Sized
    * for `expectedPerFile` items at [[BloomFpp]] (bits = -n·ln p / ln²2,
    * the standard optimum); the whole sketch lands
    * inline on the manifest line (compact at these settings — a
    * production table with万-file listings would side-file them, as
    * Delta does, without changing the read contract). */
  /** False-positive rate every per-file bloom is sized for. */
  private val BloomFpp = 0.01

  private def bloomLines(spark: SparkSession, lines: Seq[String],
                         bloomCol0: String, expectedPerFile: Long,
                         root: String): Seq[String] = {
    if (lines.isEmpty) return lines
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val bloomCol =
      if (!isColumnMapped(root)) bloomCol0
      else remapToPhysical(
        spark.read.parquet(lines.map(pathOf): _*).schema,
        Seq(bloomCol0), root).head
    val numBits = math.max(64L, math.ceil(
      -expectedPerFile * math.log(BloomFpp) / (math.log(2) * math.log(2))).toLong)
    val agg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col(bloomCol))),
      Literal(expectedPerFile), Literal(numBits)).toAggregateExpression())
    val byName = spark.read.parquet(lines.map(pathOf): _*)
      .groupBy(col("_metadata.file_path").as("__p"))
      .agg(agg.as("__bf"))
      .collect().collect {
        case r if !r.isNullAt(1) =>
          r.getString(0).split('/').last ->
            java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](1))
      }.toMap
    lines.map { ln =>
      byName.get(pathOf(ln).split('/').last) match {
        case Some(b64) => s"$ln\t$BloomPrefix$bloomCol\t$numBits\t$b64"
        case None => ln // empty file: no bloom, conservative keep on read
      }
    }
  }

  /** k-column quantile bucketing (one approxQuantile scan — skew-proof
    * boundaries), round-robin bit-interleave ([[graft.plans.ZOrderK]]),
    * range-partition + sort on the Morton key. `buckets <= 0` picks
    * `min(1024, 2^(63/k - 1))` — the most the bit budget allows. */
  private def zClusterK(df: DataFrame, cols: Seq[String], numFiles: Int,
                        buckets: Int): DataFrame = {
    require(cols.length >= 2 && cols.length <= 6,
      "zClusterK supports 2..6 columns")
    val nb =
      if (buckets > 0) buckets
      else math.min(1024, 1 << (63 / cols.length - 1))
    // fanOutPinned: three passes consume the input (quantile scan,
    // range sampling, shuffle map) — each would otherwise re-run the
    // single-task scan stage of a single-file input (guide §2.5);
    // pass-through (no repartition, no materialization) on a
    // parallel input
    val dfp = graft.core.FanOut.fanOutPinned(df)
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val qNames = cols.indices.map(i => s"__q$i")
    val allBounds = dfp
      .select(cols.zip(qNames).map { case (c, q) =>
        col(c).cast("double").as(q)
      }: _*)
      .stat.approxQuantile(qNames.toArray, probs, 1.0 / (4 * nb))
      .map(_.map(_.toLong).distinct.toSeq).toSeq
    val z = graft.plans.ZOrderK(cols.map(c => col(c).cast("long")), allBounds)
    dfp.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** METADATA-ONLY `(min, max)` of a STRING stats column — the
    * [[statsRange]] twin over the [[StrPrefix]] grammar; `Some` only
    * when EVERY file records the stat (conservative). */
  def statsRangeString(root: String, statsCol: String,
                       version: Option[Long] = None): Option[(String, String)] = {
    version.orElse(latestVersion(root)) match {
      case None => None
      case Some(v) =>
        val ranges = readListing(root, v).map(ln => strStatsOf(ln).get(statsCol))
        if (ranges.nonEmpty && ranges.forall(_.isDefined)) {
          val rs = ranges.flatten
          // fold in UTF-8 byte order — the order the stats carry
          Some((rs.map(_._1).reduce(Utf8Order.min),
            rs.map(_._2).reduce(Utf8Order.max)))
        } else None
    }
  }

  /** METADATA-ONLY row count (the Delta/Iceberg `SELECT COUNT(*)`
    * optimization): `Some(total)` when every file of the version
    * records [[RowsKey]] — answered from the listing alone, zero data
    * or footer reads. At 100 TB that is O(manifest) against a full
    * scan. `None` when any file predates count recording or was staged
    * by a non-stats writer (conservative: the caller falls back to
    * `read(...).count()`). Counts stay valid across append/compact/
    * z-order/clone because inherited lines keep their stats; rewriting
    * commits (MERGE/DELETE) re-stat their replacement files, so the
    * invariant "line stats describe the file" holds by construction. */
  def countRows(root: String, version: Option[Long] = None): Option[Long] = {
    version.orElse(latestVersion(root)) match {
      case None => None // no versions yet: nothing to count
      case Some(v) =>
        val counts = readListing(root, v)
          .map(ln => statsOf(ln).get(RowsKey).map(_._1))
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
    }
  }

  /** CATALYST-INTEGRATED scan ([[org.apache.spark.sql.graft.GraftScan]],
    * the Delta TahoeFileIndex role): ordinary `.filter(...)`s — or the
    * same predicates in SQL over a temp view — prune files at PLAN time
    * through a manifest-backed FileIndex (numeric AND string stats),
    * and the manifest's byte total feeds Catalyst's auto-broadcast
    * decision; the physical scan stays a normal vectorized parquet
    * read. Equality and IN predicates additionally prune on per-file
    * blooms (`Write.bloom`).
    *
    * MERGE-ON-READ aware (the Delta reader-understands-DVs contract): a
    * LATEST-state scan of a table with pending [[Tombstones]] deletes
    * or patches composes the same overlay as [[Tombstones.readActive]]
    * over the pruning base — a GDPR takedown landed via `deleteMor` is
    * invisible here too, not only through `readActive`. Base-column
    * filters still push through the overlay to the file index, and
    * metadata-only aggregate folds disable themselves (the plan is no
    * longer a bare manifest relation — manifest totals would count
    * deleted rows). A VERSION-PINNED scan reads that snapshot raw:
    * time travel serves history by contract, exactly as
    * [[readVersion]] does. */
  def scan(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val base = org.apache.spark.sql.graft.GraftScan.scan(spark, root, version)
    if (version.isEmpty && Tombstones.hasPending(root))
      Tombstones.overlay(spark, root, base)
    else base
  }

  /** One data file of a committed version with its manifest stats —
    * the integration surface the Catalyst-side scan
    * ([[org.apache.spark.sql.graft.GraftScan]]) builds its FileIndex
    * from. `rows`/`bytes` come from the [[RowsKey]]/[[BytesKey]] stats
    * when recorded (carried here so the scan never re-walks the
    * manifest for totals). `bloomsB64` stays base64-ENCODED — every
    * snapshot read builds a listing, while only equality point probes
    * ever consult a bloom, so decoding is deferred to the probe. */
  final case class ScanFile(path: String,
                            stats: Map[String, (Long, Long)],
                            strStats: Map[String, (String, String)],
                            dblStats: Map[String, (Double, Double)],
                            rows: Option[Long],
                            bytes: Option[Long],
                            bloomsB64: Map[String, String]) {
    /** Typed [min, max] for a TimestampType column — epoch MICROS,
      * recorded under [[TsPrefix]]. The legacy long-cast triple under
      * the bare name is epoch SECONDS and must never prune timestamps
      * (off by 1e6 — it would skip every file). */
    def tsRange(c: String): Option[(Long, Long)] = stats.get(TsPrefix + c)

    /** Typed [min, max] for a DateType column — epoch DAYS (catalyst's
      * internal date unit), recorded under [[DatePrefix]]. */
    def dateRange(c: String): Option[(Long, Long)] = stats.get(DatePrefix + c)

    /** Typed [min, max] for a TimestampNTZType column — UNADJUSTED
      * wall-clock epoch micros under [[NtzPrefix]]. Never served for
      * TimestampType probes (and vice versa): the two kinds differ by
      * the writer's zone offset. */
    def ntzRange(c: String): Option[(Long, Long)] = stats.get(NtzPrefix + c)

    /** Decoded sketches, materialized ONCE per file on the first
      * equality probe — an IN-list over a bloom-carrying table probes
      * per (file × value), and re-deserializing a multi-KB sketch per
      * probe would dominate planning. */
    @transient lazy val blooms: Map[String, org.apache.spark.util.sketch.BloomFilter] =
      bloomsB64.map { case (c, b64) =>
        c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b64)))
      }
  }

  /** The resolved file PATHS of a version — the cheap accessor the
    * scan's incremental-schema shortcut diffs versions with. */
  def listingPaths(root: String, v: Long): Seq[String] =
    readListing(root, v).map(pathOf)

  /** The resolved file listing of a version WITH its per-file stats —
    * everything a planning-time file-pruning index needs, O(manifest). */
  def scanListing(root: String,
                  version: Option[Long] = None): Seq[ScanFile] = {
    val v = version.orElse(latestVersion(root))
      .getOrElse(sys.error(s"no versions at $root"))
    // the user-facing read gate: every GraftScan-planned read (read /
    // readVersion / scan / DSv2 / SQL / streaming source) resolves its
    // listing here — refuse a snapshot requiring unknown reader
    // features BEFORE serving possibly-misread data. Internal writer
    // reads (readLines over an already-resolved base) are gated at
    // their commit instead (commitManifest → requireWritable).
    requireReadable(root, v)
    readListing(root, v).map(scanFileOf)
  }

  private def scanFileOf(ln: String): ScanFile = {
    val st = statsOf(ln)
    ScanFile(pathOf(ln), st - RowsKey - BytesKey, strStatsOf(ln),
      dblStatsOf(ln),
      st.get(RowsKey).map(_._1), st.get(BytesKey).map(_._1),
      bloomsB64Of(ln))
  }

  /** Read an EXPLICIT set of listing lines, partition columns injected
    * when the table is Hive-partitioned — the read surface of every
    * COW rewrite (delete/update/merge/applyChanges/replaceWhere), so
    * their predicates can reference partition columns and their
    * rewritten rows carry the values [[stageAuto]] lays back out.
    * Plain tables keep the direct parquet read. */
  private def readLines(spark: SparkSession, root: String,
                        lines: Seq[String]): DataFrame =
    if (lines.isEmpty)
      // an EMPTY snapshot (CREATE TABLE pre-insert, a full delete):
      // zero rows with the table's recorded schema — DML against it
      // degenerates correctly (merge = pure insert, delete/update
      // touch nothing)
      read(spark, root)
    else if (partitionSchema(root).isEmpty)
      readParquetMerged(spark, lines.map(pathOf))
    else org.apache.spark.sql.graft.GraftScan.ofScanFiles(
      spark, root, lines.map(scanFileOf))

  /** The schema DECLARED at version `v`: the nearest schema sidecar
    * at-or-below `v` that is reachable from `v` through DELTA commits
    * only. Appends and COW rewrites (delta manifests) inherit the
    * declaration — a metadata-only [[alterAddColumns]] must survive a
    * chain of appends that nobody read in between (no sidecar gets
    * cached, so an exact-version lookup would silently drop the
    * column). A FULL manifest (overwrite / restore) is a declaration
    * boundary: it replaces the schema wholesale, and walking past it
    * would resurrect dropped columns. O(1) when no sidecars exist
    * (one directory list); O(gap) manifest reads otherwise — reads
    * cache sidecars per version, so gaps stay short in mixed
    * workloads, and [[vacuum]] materializes the declaration onto the
    * oldest retained version before expiring the chain below it. */
  def declaredSchemaAt(
      root: String, v: Long): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.StructType
    var spins = 0
    while (true) {
      val names = new File(root).list()
      if (names == null) return None
      // two sidecar kinds participate: the AUTHORITATIVE per-version
      // cache/declaration (`_schema.vN.json` — the full schema of N) and
      // the DECLARATION-ONLY marker (`_schema.declared.vN.json`, written
      // by vacuum/clone to keep an expired chain's declaration alive —
      // never the full schema, so schemaOf must not serve it verbatim)
      val Auth = """_schema\.v(\d+)\.json""".r
      val Decl = """_schema\.declared\.v(\d+)\.json""".r
      val below = names.collect {
        case Auth(n) => n.toLong
        case Decl(n) => n.toLong
      }.filter(_ <= v)
      // O(1) short-circuit on never-ALTERed chains: with no sidecar
      // at-or-below v AND no declaration-commit intent breadcrumb in
      // the listing (see [[DeclIntentPrefix]]), no marker-bearing
      // commit can be awaiting — or have torn — its sidecar, so the
      // walk below could only ever return None; skip its O(chain)
      // manifest reads
      if (below.isEmpty && !names.exists(_.startsWith(DeclIntentPrefix)))
        return None
      val w = if (below.isEmpty) -1L else below.max
      // walk v down to the sidecar (or to a full-manifest boundary),
      // watching for a [[DeclaredMarker]] commit whose sidecar hasn't
      // landed: resolving PAST it would serve the stale pre-ALTER
      // declaration (the lost-ALTER-race eraser) or a footer sweep
      // (restore's torn-declaration window) — spin for it instead,
      // loud after the timeout
      var x = v
      var pending = -1L
      var boundary = below.isEmpty // full walk needs a manifest boundary
      var done = false
      while (x > w && !done) {
        if (!manifestFile(root, x).exists()) { boundary = true; done = true }
        else {
          val lines = readManifest(root, x)
          if (lines.contains(DeclaredMarker) &&
              readSchemaSidecar(root, x).isEmpty) { pending = x; done = true }
          // a FULL manifest between the sidecar and v replaces the schema
          else if (!isDelta(lines)) { boundary = true; done = true }
          else x -= 1
        }
      }
      if (pending >= 0) {
        awaitDeclarationSidecar(root, pending)
        spins += 1
        require(spins <= 4,
          s"declaration sidecars at $root keep appearing mid-walk — " +
            "giving up after 4 restarts")
        // restart resolution: the awaited sidecar may now be the max
      } else if (boundary || below.isEmpty) return None
      else {
        val auth = readSchemaSidecar(root, w)
        val decl = readDeclaredSidecar(root, w)
        return (auth, decl) match {
          case (Some(a), Some(d)) =>
            val have = a.fieldNames.map(_.toLowerCase).toSet
            Some(StructType(a.fields ++
              d.fields.filterNot(f => have.contains(f.name.toLowerCase))))
          case (a, d) => a.orElse(d)
        }
      }
    }
    None // unreachable
  }

  /** Spin budget for [[awaitDeclarationSidecar]] — test seam only. */
  private[sources] var declarationSpinMillis: Long = 10000L

  /** Spin (25 ms steps, [[declarationSpinMillis]] budget) for the
    * `_schema.v{v}.json` sidecar a [[DeclaredMarker]] commit promised.
    * The in-flight window between a won manifest commit and its
    * sidecar move is microseconds on a healthy writer — a timeout
    * means the writer CRASHED between the two, and the table's
    * declaration at `v` is torn: fail loudly (the schema served
    * otherwise would be silently wrong — physical names, resurrected
    * columns) and name the repair. */
  private def awaitDeclarationSidecar(root: String, v: Long): Unit = {
    val deadline = System.nanoTime() + declarationSpinMillis * 1000000L
    while (readSchemaSidecar(root, v).isEmpty) {
      if (System.nanoTime() > deadline) sys.error(
        s"version $v of $root committed a declaration (ALTER/RESTORE) " +
          "whose _schema sidecar never landed — the writer crashed " +
          "between manifest commit and sidecar write. Repair: restore() " +
          "to the previous version, or re-run the ALTER to re-plant the " +
          "declaration")
      Thread.sleep(25)
    }
  }

  private def readDeclaredSidecar(
      root: String, v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val f = new File(root, s"_schema.declared.v$v.json")
    if (!f.exists()) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** LOUD on failure (unlike the best-effort schema cache): the
    * declaration-only sidecar is written exactly when the declaration
    * would otherwise be LOST — vacuum expiring the declaring chain, a
    * clone leaving the source behind — and a swallowed IO error there
    * is the silent-column-loss bug class this sidecar kind exists to
    * close. */
  private def writeDeclaredSidecar(
      root: String, v: Long,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = Files.createTempFile(new File(root).toPath, "_schemad", ".tmp")
    Files.write(tmp, schema.json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, new File(root, s"_schema.declared.v$v.json").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `df` widened to version `v`'s DECLARED schema: columns the
    * declaration carries but `df` lacks (a metadata-only
    * [[alterAddColumns]] declares columns no data file carries yet)
    * are appended as typed NULLs. The COW rewrite paths read through
    * this so their re-staged files MATERIALIZE the declared column —
    * without it, the rewritten version's footer sweep would silently
    * drop a column ALTER added. A missing or footer-consistent
    * declaration makes this the identity. */
  private def widenDeclared(df: DataFrame, root: String,
                            v: Long): DataFrame =
    declaredSchemaAt(root, v) match {
      case Some(s) =>
        // partition columns are PATH-derived, never widened: a raw
        // footer read of a partitioned table lacks them by design
        val part = partitionSchema(root).fieldNames.map(_.toLowerCase).toSet
        val mapped = s.fields.exists(f => physicalName(f) != f.name)
        val retired = if (isColumnMapped(root)) retiredColumns(root)
                      else Set.empty[String]
        if (!mapped && retired.isEmpty) {
          // fast path (no mapping in play): add declared-but-missing
          // columns as typed NULL, and MATERIALIZE declared type
          // widenings (ALTER COLUMN TYPE) into the rewrite — a
          // full-manifest re-layout (z-order) is a declaration
          // boundary, so a widen left un-materialized there would be
          // silently lost to the next footer sweep. Guarded by
          // [[isWideningCast]]: this can never narrow data staged at
          // a wider footer type than some stale declaration.
          val dfByName = df.schema.fields
            .map(f => f.name.toLowerCase -> f).toMap
          s.fields.filterNot(f => part.contains(f.name.toLowerCase))
            .foldLeft(df) { (d, f) =>
              dfByName.get(f.name.toLowerCase) match {
                case None => d.withColumn(f.name, lit(null).cast(f.dataType))
                case Some(g) if isWideningCast(g.dataType, f.dataType) =>
                  d.withColumn(g.name, col(g.name).cast(f.dataType))
                case Some(_) => d
              }
            }
        } else {
          // column-mapping projection: the physical frame becomes the
          // LOGICAL view — renamed columns read their physical slot,
          // declared-but-unmaterialized columns read typed NULL, and
          // RETIRED physical columns are dropped (so every COW rewrite
          // physically erodes dropped-column data from the files it
          // re-stages). Footer extras outside the declaration (schema
          // evolution by plain append) carry as themselves.
          val dfLower = df.columns.map(_.toLowerCase).toSet
          val declData = s.fields.filterNot(f =>
            part.contains(f.name.toLowerCase))
          val declPhysLower = declData.map(f =>
            physicalName(f).toLowerCase).toSet
          val declLogLower = declData.map(_.name.toLowerCase).toSet
          val dfTypes = df.schema.fields
            .map(f => f.name.toLowerCase -> f.dataType).toMap
          val dataCols = declData.map { f =>
            val p = physicalName(f)
            dfTypes.get(p.toLowerCase) match {
              // materialize declared type widenings, as the fast path
              case Some(t) if isWideningCast(t, f.dataType) =>
                col(p).cast(f.dataType).as(f.name)
              case Some(_) => col(p).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }.toSeq
          val extras = df.columns.filter { c =>
            val cl = c.toLowerCase
            !declPhysLower.contains(cl) && !declLogLower.contains(cl) &&
              !retired.contains(cl) && !part.contains(cl)
          }.map(col).toSeq
          val partCols = df.columns
            .filter(c => part.contains(c.toLowerCase)).map(col).toSeq
          df.select(dataCols ++ extras ++ partCols: _*)
        }
      case None => df
    }

  /** [[readLines]] widened to base version `v`'s declared schema —
    * the read surface for every COW rewrite (delete/update/merge/
    * applyChanges/compact): see [[widenDeclared]]. */
  private def readLinesDeclared(spark: SparkSession, root: String, v: Long,
                                lines: Seq[String]): DataFrame =
    widenDeclared(readLines(spark, root, lines), root, v)

  /** Stage a rewrite's output in the table's OWN layout: Hive
    * `col=value` directories for partitioned tables (the partition
    * columns live in `df` — [[readLines]] injected them), flat files
    * otherwise. */
  private def stageAuto(df: DataFrame, root: String, v: Long): Seq[String] = {
    val ps = partitionSchema(root)
    // identityFill: COW rewrites CARRY the engine-assigned keys of the
    // rows they preserve — the verbs that could CHANGE them (UPDATE
    // SET, merge UPDATE clauses, applyChanges, replaceWhere) refuse at
    // their own entry instead
    if (ps.isEmpty) stageDataFiles(df, root, v, identityFill = true)
    else stagePartitioned(df, root, ps.fieldNames.toSeq,
      identityFill = true)
  }

  /** The files ADDED between version `from` (exclusive; None = from
    * scratch) and `to` (inclusive), with their stats — one streaming
    * micro-batch's deterministic file set, resolved by walking the
    * COMMITS in the range:
    *  - an append delta contributes its `+` lines;
    *  - a commit marked [[PreservingMarker]] (compaction / z-order
    *    re-layout — data-preserving by construction) contributes
    *    NOTHING and is skipped: its rows were all committed earlier,
    *    and rows appended within this same range still serve from
    *    their original files (on disk until vacuum);
    *  - any other removing/rewriting commit (MERGE/DELETE/UPDATE/
    *    overwrite/restore) fails the call — serving it would silently
    *    re-serve rewritten rows ([[readChangesStream]]'s contract,
    *    enforced per batch here).
    * A 100 TB table gets compacted while streams run; this is what
    * lets the version-offset source ride across OPTIMIZE. */
  def scanListingDelta(root: String, from: Option[Long],
                       to: Long): Seq[ScanFile] = {
    from match {
      case None => scanListing(root, Some(to))
      case Some(v0) =>
        require(v0 <= to, s"scanListingDelta range ($v0, $to] is empty")
        val have = versions(root).toSet
        val range = (v0 + 1) to to
        require(range.forall(have.contains),
          s"scanListingDelta needs every manifest in ($v0, $to] at " +
            s"$root — some were vacuumed; restart the stream from a " +
            "fresh load")
        val added = scala.collection.mutable.ArrayBuffer.empty[String]
        range.foreach { w =>
          val lines = readManifest(root, w)
          val preserving = lines.contains(PreservingMarker)
          if (isDelta(lines)) {
            if (!preserving) {
              val removed = lines.exists(_.startsWith("-\t"))
              require(!removed,
                s"scanListingDelta requires an append-only history at " +
                  s"$root: version $w removed/rewrote files " +
                  "(MERGE/DELETE/UPDATE); use diffVersions instead")
              added ++= lines.collect { case l if l.startsWith("+\t") =>
                l.drop(2) }
            } // preserving delta: compaction — no new rows
          } else if (!preserving) sys.error(
            s"scanListingDelta requires an append-only history at $root: " +
              s"version $w is a full rewrite (overwrite/restore); " +
              "use diffVersions instead")
          // preserving full manifest: z-order re-layout — no new rows
        }
        added.map(scanFileOf).toSeq
    }
  }

  /** STREAMING read through the Catalyst scan
    * ([[org.apache.spark.sql.graft.GraftStreamProvider]]): version-
    * pinned micro-batches — each batch is the files committed between
    * two manifest versions — through the same pruning FileIndex as
    * [[scan]], so an ordinary `.filter(...)` on the stream skips
    * non-intersecting files per batch from the manifest stats. Spark
    * checkpoints the version offsets: a replayed batch re-reads
    * exactly the same rows. Append-only history required per batch —
    * with data-preserving maintenance commits (compact / z-order
    * re-layout) skipped, so streams ride across OPTIMIZE.
    *
    * `startingVersion` (the Delta option of the same name): serve only
    * commits AFTER that version — a new consumer of a huge table tails
    * fresh arrivals instead of replaying the whole snapshot (the
    * default, `None`, serves the full current snapshot as the first
    * batch, then the deltas). The named version must still exist
    * (not vacuumed) when the first batch resolves. */
  def scanStream(spark: SparkSession, root: String,
                 startingVersion: Option[Long] = None,
                 maxVersionsPerTrigger: Option[Long] = None,
                 maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    val r0 = spark.readStream
      .format(classOf[org.apache.spark.sql.graft.GraftStreamProvider].getName)
      .option("root", root)
    val r1 = startingVersion.fold(r0)(v =>
      r0.option("startingVersion", v.toString))
    val r2 = maxVersionsPerTrigger.fold(r1)(v =>
      r1.option("maxVersionsPerTrigger", v.toString))
    maxBytesPerTrigger.fold(r2)(v =>
      r2.option("maxBytesPerTrigger", v.toString))
      .load()
  }

  /** METADATA-ONLY file count of a version: the listing's length, zero
    * data or footer reads — the input to fragmentation/auto-compaction
    * triggers (`df.inputFiles` would build a relation and read every
    * footer just to count). 0 when the table has no versions yet. */
  def fileCount(root: String, version: Option[Long] = None): Int =
    version.orElse(latestVersion(root)) match {
      case None => 0
      case Some(v) => readListing(root, v).size
    }

  /** METADATA-ONLY `(min, max)` of `statsCol`: folded from the per-file
    * [min, max] already in the listing — `Some` only when EVERY file
    * records stats for the column (a stats-less or all-null file could
    * hide the true extremum, so any gap → `None`, conservative). Same
    * O(manifest) vs O(scan) story as [[countRows]]. NULL semantics
    * match SQL MIN/MAX only when no file is entirely null-valued in
    * `statsCol` (such files record no stat triple and force `None`
    * rather than a wrong answer). */
  def statsRange(root: String, statsCol: String,
                 version: Option[Long] = None): Option[(Long, Long)] = {
    version.orElse(latestVersion(root)) match {
      case None => None
      case Some(v) =>
        val ranges = readListing(root, v).map(ln => statsOf(ln).get(statsCol))
        if (ranges.nonEmpty && ranges.forall(_.isDefined)) {
          val rs = ranges.flatten
          Some((rs.map(_._1).min, rs.map(_._2).max))
        } else None
    }
  }

  /** METADATA-ONLY table size in bytes: folded from the per-file
    * [[BytesKey]] stats — `Some` only when EVERY file of the version
    * records its size (lines staged before byte recording force
    * `None`, conservative). The O(manifest) input to the broadcast
    * decision in [[readAuto]]; on an object store this is the whole
    * point — no per-file HEAD round-trips to size a join side. */
  def sizeBytes(root: String, version: Option[Long] = None): Option[Long] = {
    version.orElse(latestVersion(root)) match {
      case None => None
      case Some(v) =>
        val sizes = readListing(root, v)
          .map(ln => statsOf(ln).get(BytesKey).map(_._1))
        if (sizes.nonEmpty && sizes.forall(_.isDefined))
          Some(sizes.flatten.sum)
        else None
    }
  }

  /** STATS-DRIVEN read (the manifest-fed CBO role): the latest
    * snapshot, wrapped in a `broadcast()` hint iff the MANIFEST's
    * recorded byte total is positive and ≤ the threshold — small
    * versioned dims broadcast into joins with NO manual hint, large
    * ones shuffle, and the decision costs one listing read.
    *
    * Threshold: `thresholdBytes` ≥ 0 wins; −1 (default) uses the
    * session's `spark.sql.autoBroadcastJoinThreshold`. The manifest
    * records COMPRESSED parquet bytes while Spark's threshold speaks
    * in-memory bytes — the same mismatch Spark's own file-source
    * sizeInBytes has, handled the same way (the threshold is the
    * dial). A table without complete byte stats (pre-recording
    * versions, rewritten files) falls back to a driver-side stat of
    * the listed files — exact on a filesystem, and the conservative
    * price only old tables pay; new stats-recording commits answer
    * from the manifest alone.
    *
    * Why a hint and not a custom `LogicalPlan` stats rule: the scan
    * Spark builds over the resolved file list already carries file
    * sizes; what Spark CANNOT know is that this table format's
    * snapshot = this exact file list (it sees whatever paths we pass).
    * The broadcast decision is the one planning input the manifest
    * adds, and `broadcast()` is the native Catalyst way to assert it —
    * ResolveJoinStrategyHints turns it into the same
    * BroadcastHashJoin the CBO would pick with perfect stats. */
  def readAuto(spark: SparkSession, root: String,
               thresholdBytes: Long = -1L): DataFrame = {
    val v = latestVersion(root).getOrElse(sys.error(s"no versions at $root"))
    val bytes = sizeBytes(root, Some(v)).getOrElse(
      readListing(root, v).map(ln => new File(pathOf(ln)).length()).sum)
    val thr =
      if (thresholdBytes >= 0) thresholdBytes
      else spark.sessionState.conf.autoBroadcastJoinThreshold
    val df = readVersion(spark, root, v)
    if (bytes > 0 && thr > 0 && bytes <= thr) broadcast(df) else df
  }

  /** DESCRIBE HISTORY role, metadata-only: one (version, files, rows)
    * row per commit, folded from the manifests alone — `rows` is
    * `None` for versions containing any file that predates row-count
    * recording (same conservatism as [[countRows]]). O(versions ×
    * listing), zero data reads: at 100 TB the audit question "what did
    * each commit do to the row count" must not cost one scan per
    * version. */
  def history(root: String): Seq[(Long, Int, Option[Long])] =
    versions(root).map { v =>
      (v, readListing(root, v).size, countRows(root, Some(v)))
    }

  /** [[history]] with each version's COMMIT TIME and whether it sits
    * inside a retention horizon — the view an operator consults before
    * a [[vacuum]]: `(version, files, rows, commitMillis, retained)`
    * where `retained` is true iff the version's commit is newer than
    * `now - retainMillis` (the versions a horizon-respecting vacuum
    * will never reclaim, so pinned readers inside the horizon are
    * safe by the retention contract). */
  def historyWithRetention(root: String, retainMillis: Long,
                           nowMillis: Long = System.currentTimeMillis())
      : Seq[(Long, Int, Option[Long], Long, Boolean)] =
    versions(root).map { v =>
      val t = manifestFile(root, v).lastModified()
      (v, readListing(root, v).size, countRows(root, Some(v)), t,
        t > nowMillis - retainMillis)
    }

  /** PERSISTED table constraints (the Delta `ALTER TABLE ... ADD
    * CONSTRAINT` role), the ADMIN surface: replace the table's WHOLE
    * constraint set in one write — no existing-row validation (the
    * per-constraint [[addConstraint]] surface validates; this one is
    * the single-administrator bulk op, as before). ONE store with
    * [[addConstraint]]/[[constraints]]: every writer enforces these
    * at stage time, whichever surface set them. */
  def setConstraints(root: String,
                     constraints: Seq[(String, String)]): Unit = {
    // same name discipline as addConstraint: the sidecar is keyed by
    // name, and a bare identifier survives any serialization round-trip
    // (the escape-aware reader handles arbitrary names defensively, but
    // the public surfaces never mint them)
    constraints.foreach { case (n, _) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"constraint name must be a bare identifier, got '$n'")
    }
    constraintsLock.synchronized {
      writeConstraints(root, constraints.toMap)
    }
  }

  /** The table's stored constraints (empty if none were ever set),
    * name-ordered — the unified store, both surfaces' entries. */
  def constraintsOf(root: String): Seq[(String, String)] =
    constraints(root).toSeq.sortBy(_._1)

  /** REPLACE WHERE (the Delta `overwrite` + `replaceWhere` option):
    * atomically swap the rows matching `predicate` for the rows of
    * `batch` — the idempotent partition-reload primitive (re-landing
    * one day of a date-partitioned fact must replace exactly that day,
    * in one commit a reader either sees entirely or not at all; a
    * delete-then-append composition exposes the torn middle).
    *
    * Same prune-then-rewrite shape as [[delete]]; by default every
    * batch row must itself satisfy the predicate (Delta's guard — a
    * mis-scoped reload silently leaking rows into other partitions is
    * the bug this catches), disable via `validateBatch = false`. */
  def replaceWhere(spark: SparkSession, root: String,
                   predicate: org.apache.spark.sql.Column,
                   batch: DataFrame,
                   validateBatch: Boolean = true,
                   maxRetries: Int = 5): Long = {
    // GENERATED ALWAYS: the replacement batch carries whole rows —
    // the replaced rows' keys cannot be reassigned in place
    refuseIdentitySurface(spark, root, "INSERT REPLACE WHERE")
    if (validateBatch) {
      val leak = batch.filter(!coalesce(predicate, lit(false))).take(1)
      if (leak.nonEmpty)
        throw new IllegalArgumentException(
          s"replaceWhere batch row outside the predicate scope: ${leak.head}")
    }
    commitRewrite(spark, root, maxRetries) { (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      val touched0 = touchedLines(files, target)(_.filter(predicate))
      val outCols = target.columns.toSeq
      val survivorsPlusBatch =
        if (touched0.isEmpty) batch.select(outCols.map(col): _*)
        else readLinesDeclared(spark, root, base, touched0)
          .filter(!coalesce(predicate, lit(false)))
          .unionByName(batch.select(outCols.map(col): _*),
            allowMissingColumns = true)
          .select(outCols.map(col): _*)
      Some(Rewrite(touched0, survivorsPlusBatch))
    }
  }

  // -------------------------------------------------------------------
  // Idempotent-writer transactions (the Delta txnAppId/txnVersion
  // protocol): a commit may carry a `#txn\t<appId>\t<n>` line INSIDE
  // its manifest, so the data files and the writer's progress marker
  // land in the ONE atomic link — no sidecar, no crash window between
  // "data committed" and "progress recorded". A restarted foreachBatch
  // writer asks latestTxn(root, appId) and skips batch ids already
  // recorded; the replayed append becomes a no-op instead of a
  // duplicate. readListing filters the txn lines out of file
  // resolution (full manifests explicitly; delta tails ignore any
  // non +/- line by construction), so checkpoints and every reader
  // stay txn-blind.
  // -------------------------------------------------------------------

  private val TxnPrefix = "#txn"

  /** Stamped into every txn-aware checkpoint (even with zero txn
    * lines): readers may STOP a newest→oldest txn walk only at a
    * checkpoint carrying this marker — a legacy checkpoint without it
    * aggregates nothing, so pre-upgrade tables keep their idempotency
    * markers after checkpoints resume. Filtered from file resolution
    * with the rest of the `#txn` namespace. */
  private val TxnCkptMarker = s"$TxnPrefix-aware\t1"

  private def txnLine(appId: String, n: Long): String = {
    require(!appId.contains('\t') && !appId.contains('\n'),
      "txn appId must contain no tab or newline")
    s"$TxnPrefix\t$appId\t$n"
  }

  // -------------------------------------------------------------------
  // Table protocol / feature versioning (the Delta PROTOCOL.md
  // reader/writer table-feature role): a commit that first USES an
  // engine capability third-party or older readers may not understand
  // carries a `#feature\t<r|w>\t<name>` line INSIDE its manifest —
  // atomically with the change itself, so there is no window where the
  // capability is in effect but unrecorded. Requirements accumulate
  // monotonically (never dropped); checkpoints aggregate them exactly
  // like `#txn` state, so they survive vacuum's manifest expiry.
  // Readers refuse to SERVE a snapshot requiring an unknown READER
  // feature; writers refuse to COMMIT onto a table requiring any
  // unknown feature at all (a writer that cannot correctly read the
  // log cannot correctly extend it — Delta's stance). Resolution is
  // PER SNAPSHOT: time travel to a version before a feature landed is
  // unaffected. Legacy tables carry no lines and resolve to empty
  // requirement sets — they keep opening everywhere.
  //
  // Why this exists NOW: the durable catalog makes tables outlive the
  // JVM (and build) that created them, so version skew between the
  // table format and the engine reading it is no longer hypothetical.
  // An older build opening a column-mapped table would silently serve
  // PHYSICAL column names; one opening a widened table would serve the
  // narrow footer types. Refusing loudly with the feature name is the
  // only safe behavior — exactly what Delta's protocol action
  // (minReaderVersion/minWriterVersion + readerFeatures/writerFeatures
  // in PROTOCOL.md) guards against.
  // -------------------------------------------------------------------

  private[sources] val FeaturePrefix = "#feature"

  /** Stamped into every feature-aware checkpoint (even with zero
    * feature lines): the aggregation-boundary marker, mirroring
    * [[TxnCkptMarker]] — a legacy checkpoint without it proves
    * nothing, so the walk continues past it. */
  private[sources] val FeatCkptMarker = s"$FeaturePrefix-aware\t1"

  /** Reader features this build understands. `mor-overlays` is in the
    * registry but never auto-required: pending overlays are transient
    * side-store state (purge folds them away), the DSv2 surface
    * already refuses under them, and a PERMANENT requirement would
    * keep refusing legacy readers after purge returned the table to
    * plain parquet — callers who hand feature-blind readers a table
    * with live overlays can opt in via [[requireFeature]]. */
  private[sources] val SupportedReaderFeatures: Set[String] = Set(
    "column-mapping", "type-widening", "partitioning", "mor-overlays")

  /** Writer features include every reader feature: a writer must
    * resolve the log it extends. */
  private[sources] val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set(
      "column-defaults", "check-constraints", "identity-columns")

  private def featureLine(kind: String, name: String): String = {
    require(kind == "r" || kind == "w",
      s"feature kind must be 'r' (reader+writer) or 'w' (writer): $kind")
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"feature name must be non-empty and tab/newline-free: '$name'")
    s"$FeaturePrefix\t$kind\t$name"
  }

  /** (root, version) → required (reader, writer) features — immutable
    * once the version exists, so memoizable forever; the map is
    * size-capped with a full clear (re-resolution is one bounded
    * walk). */
  private val featureCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Set[String], Set[String])]()

  /** The (readerFeatures, writerFeatures) REQUIRED as of version `v`:
    * the union of `#feature` lines walking newest→oldest, stopping at
    * the first feature-aware checkpoint (which aggregates everything
    * below it). O(checkpointInterval) manifest reads cold, O(1)
    * memoized. */
  def requiredFeatures(root: String, v: Long): (Set[String], Set[String]) = {
    val key = (root, v)
    val hit = featureCache.get(key)
    if (hit != null) return hit
    val r = scala.collection.mutable.Set.empty[String]
    val w = scala.collection.mutable.Set.empty[String]
    def absorb(lines: Seq[String]): Unit = lines.foreach { l =>
      if (l.startsWith(FeaturePrefix + "\t")) {
        val parts = l.split('\t')
        if (parts.length == 3)
          (if (parts(1) == "r") r else w) += parts(2)
      }
    }
    val existing = versions(root).toSet
    var cur = v
    var stop = false
    while (!stop && cur >= 0 && existing.contains(cur)) {
      absorb(readManifest(root, cur))
      if (cur != v && checkpointFile(root, cur).exists()) {
        // ANY checkpoint bounds the walk — unlike `#txn` state (which
        // pre-upgrade builds wrote, so a legacy checkpoint proves
        // nothing there), feature lines did not exist before this
        // protocol shipped: every build that emits them also writes
        // feature-aware checkpoints, so a legacy checkpoint can only
        // sit ABOVE a feature-free history. This keeps cold feature
        // resolution O(checkpointInterval) on arbitrarily long legacy
        // chains. Aware checkpoints additionally carry the aggregated
        // lines (vacuum-surviving state).
        absorb(rawCheckpointLines(root, cur))
        stop = true
      }
      cur -= 1
    }
    val res = (r.toSet, w.toSet)
    if (featureCache.size > 16384) featureCache.clear()
    featureCache.put(key, res)
    res
  }

  /** The aggregated feature lines of `v`, for checkpoint carry. */
  private def featureLinesAt(root: String, v: Long): Seq[String] = {
    val (r, w) = requiredFeatures(root, v)
    r.toSeq.sorted.map(featureLine("r", _)) ++
      w.toSeq.sorted.map(featureLine("w", _))
  }

  /** Refuse to SERVE version `v` when it requires a reader feature
    * this build does not understand — serving anyway could mean
    * physical column names, narrow types, or silently-missing
    * semantics. Named loudly so the operator knows WHAT to upgrade. */
  private[sources] def requireReadable(root: String, v: Long): Unit = {
    val unknown = requiredFeatures(root, v)._1 -- SupportedReaderFeatures
    if (unknown.nonEmpty) sys.error(
      s"table at $root requires reader table-feature(s) " +
        s"[${unknown.toSeq.sorted.mkString(", ")}] (as of version $v) " +
        "that this engine build does not support — refusing to read; " +
        "upgrade the engine, or time-travel below the requiring commit")
  }

  /** Refuse to COMMIT onto a table whose BASE version requires ANY
    * feature (reader or writer) this build does not understand. */
  private def requireWritable(root: String, base: Long): Unit = {
    val (r, w) = requiredFeatures(root, base)
    val unknown = (r ++ w) -- SupportedWriterFeatures
    if (unknown.nonEmpty) sys.error(
      s"table at $root requires table-feature(s) " +
        s"[${unknown.toSeq.sorted.mkString(", ")}] (as of version $base) " +
        "that this engine build does not support — refusing to write " +
        "(a writer that cannot resolve the log cannot extend it); " +
        "upgrade the engine")
  }

  /** Record that this table REQUIRES feature `name` from here on — the
    * upgrade verb (Delta: `ALTER TABLE ... SET TBLPROPERTIES
    * ('delta.feature.X' = 'supported')`). kind `"r"`: readers (and
    * therefore writers) must understand it; `"w"`: writers only.
    * Feature-introducing engine ops record their own requirement
    * inside their own commit; this explicit form exists for opt-in
    * names (`mor-overlays`) and forward-compat fencing. Idempotent —
    * an already-required name commits nothing. The commit itself is
    * checked against the BASE version's requirements, so fencing a
    * table with a future feature name succeeds exactly once and then
    * locks the build out, by design. */
  def requireFeature(root: String, kind: String, name: String,
                     maxRetries: Int = 5): Long = {
    val line = featureLine(kind, name)
    var required = false
    val v = commitWithRetry(root, maxRetries) { v =>
      if (v == 0) sys.error(s"no versions at $root")
      val (r, w) = requiredFeatures(root, v - 1)
      required = !(if (kind == "r") r.contains(name) else w.contains(name))
      if (!required) None
      else Some(deltaContent(Seq.empty, Seq.empty) :+ PreservingMarker :+ line)
    }
    if (required) maybeCheckpoint(root, v)
    v
  }

  /** The feature lines a feature-introducing commit must carry: the
    * requested (kind, name) pairs MINUS what the base version already
    * requires (idempotent across repeated ALTERs). */
  private def newFeatureLines(root: String, base: Long,
                              wanted: Seq[(String, String)]): Seq[String] =
    if (wanted.isEmpty) Seq.empty
    else {
      val (r, w) = requiredFeatures(root, base)
      wanted.collect {
        case ("r", n) if !r.contains(n) => featureLine("r", n)
        case ("w", n) if !w.contains(n) => featureLine("w", n)
      }
    }

  /** The newest recorded transaction version for `appId`, scanning
    * manifests newest→oldest (early exit on the first hit — for a
    * steady single-writer stream that is the head commit). The walk is
    * BOUNDED at the newest checkpoint: checkpoints aggregate the txn
    * state of everything below them ([[txnStateAt]]), so a cold table
    * with a long non-stamped history costs O(checkpointInterval)
    * manifest reads, not O(versions) — and txn state survives
    * [[vacuum]]'s manifest expiry via the oldest retained version's
    * checkpoint. */
  def latestTxn(root: String, appId: String): Option[Long] = {
    val prefix = s"$TxnPrefix\t$appId\t"
    def hitIn(lines: Seq[String]): Option[Long] = lines.collectFirst {
      case l if l.startsWith(prefix) => l.substring(prefix.length).toLong
    }
    versions(root).reverseIterator.foreach { v =>
      val hit = hitIn(readManifest(root, v))
      if (hit.isDefined) return hit
      if (checkpointFile(root, v).exists()) {
        val lines = rawCheckpointLines(root, v)
        val ckptHit = hitIn(lines)
        if (ckptHit.isDefined) return ckptHit
        // a txn-aware checkpoint with no line for appId is authoritative
        // ("never stamped below here"); a LEGACY checkpoint carries no
        // txn state at all — keep walking, or a pre-upgrade table's
        // stamps would be invisible and a replayed batch re-appended
        if (lines.contains(TxnCkptMarker)) return None
      }
    }
    None
  }

  /** OPTIMIZE-style k-dim Z-order compaction: fold the CURRENT
    * snapshot — however fragmented by z-ordered appends with
    * batch-local boundaries — into ONE freshly clustered layout
    * (a `Write.zorder` overwrite of the live rows, a new version; time
    * travel keeps the old layout readable). Inter-batch overlap is
    * what accumulates under incremental z-ordered ingestion; this is
    * the maintenance pass that restores tight per-file boxes, run on
    * the compaction cadence like [[compact]]. */
  def compactZOrderedK(spark: SparkSession, root: String,
                       cols: Seq[String], numFiles: Int,
                       buckets: Int = 0): Long = {
    // pinned base + single-shot commit: the re-layout's content
    // derives from `base`, and it claims data-preserving in the
    // manifest — silently renumbering past a concurrent append would
    // drop the appended rows while claiming nothing changed. Losing the
    // race aborts; callers re-run against the new snapshot (the
    // compact() stance).
    val base = latestVersion(root).getOrElse(sys.error(s"no versions at $root"))
    val clustered = zClusterK(readVersion(spark, root, base), cols,
      numFiles, buckets)
    val lines = statLines(spark, stageDataFiles(clustered, root, base + 1),
      cols, root)
    // the one retry only re-plans: the head is then past `base`
    commitWithRetry(root, maxRetries = 1, lines) { v =>
      if (v != base + 1) throw new java.util.ConcurrentModificationException(
        s"a writer committed to $root during the z-order re-layout; " +
          "aborting — re-run against the new snapshot")
      Some(lines :+ PreservingMarker)
    }
  }

  /** Snapshot read of a specific version (time travel), THROUGH the
    * Catalyst-integrated FileIndex ([[scan]]'s base, raw — no MOR
    * overlay: time travel and engine-internal readers serve the
    * snapshot as committed): every ordinary read gets plan-time
    * stats/bloom/partition pruning and manifest-fed sizeInBytes for
    * free, and the one index is exercised under every plan shape in
    * the gate instead of a few dedicated queries. mergeSchema
    * semantics unchanged — an appended batch may carry added nullable
    * columns (the Delta `mergeSchema` role); the union schema comes
    * from the version's file footers, cached per immutable version,
    * old files reading null for new columns. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    // GraftScan resolves the listing once and requires it non-empty
    org.apache.spark.sql.graft.GraftScan.scan(spark, root, Some(v))

  /** Read the latest snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(root).getOrElse(sys.error(s"no versions at $root")))

  /** `df` with every column it shares with `schema` CAST to the
    * schema's type (SQL write semantics: values land in the TABLE's
    * types). Without this, an insert-only MERGE/CDC batch — no touched
    * files, so no union with stored rows to coerce it — would stage
    * the source's own (possibly narrower) types and commit files whose
    * footers break the snapshot's mergeSchema read (INT files in a
    * BIGINT table). Columns absent from `schema` (schema evolution)
    * keep their own type. */
  private def alignTypes(df: DataFrame,
                         schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val want = schema.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.toSeq.map { c =>
      want.get(c) match {
        case Some(dt) if df.schema(c).dataType != dt => col(c).cast(dt).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** Copy-on-write MERGE (upsert) with file-level pruning and
    * optimistic-commit retry — the Delta `DeltaTable.merge` role the
    * reference relies on (spark_config.py:20-24):
    *
    *  - **phase 1 (prune)**: a semi-join of the target against the
    *    distinct source keys, carrying only the `_metadata.file_path`
    *    column, finds the files that actually contain a matched key.
    *    Untouched files are carried into the new manifest AS-IS — never
    *    re-read, never rewritten (at 100 TB a merge touching 0.1% of
    *    keys rewrites ~0.1% of files, not the table);
    *  - **phase 2 (rewrite)**: only the touched files are re-read;
    *    matched rows are dropped (anti-join) and the full source
    *    (updates + inserts) is appended to the rewrite;
    *  - **commit**: optimistic — if another writer committed the target
    *    version first, the staged files are discarded and the WHOLE
    *    merge re-runs against the new snapshot (recomputing, not just
    *    re-committing: the conflicting commit may have changed rows this
    *    merge must see), up to `maxRetries` times.
    *
    * `beforeCommit` is a test seam fired immediately before each commit
    * attempt (lets a spec inject a racing writer deterministically).
    * Rows of `source` replace target rows sharing `keyCols`; unmatched
    * source rows are inserted. Returns the committed version. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            keyCols: Seq[String], maxRetries: Int = 5,
            beforeCommit: () => Unit = () => (),
            evolveSchema: Boolean = false): Long = {
    // GENERATED ALWAYS: the canonical merge replaces matched rows
    // wholesale FROM THE SOURCE (which must carry every column —
    // including the identity key) and inserts unmatched source rows
    // verbatim — both directions supply the engine-assigned column
    refuseIdentitySurface(spark, root, "the canonical keyed merge()")
    // materialized once — reused by the prune semi-join and the rewrite
    // anti-join on every attempt; blocks free on GC (no CacheManager leak)
    val srcKeys = source.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true)
    commitRewrite(spark, root, maxRetries, beforeCommit) { (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      // schema evolution (the Delta mergeSchema role): source-only
      // columns are appended to the table schema; untouched files simply
      // lack them and read back null via the mergeSchema snapshot read —
      // no rewrite of old data, exactly like Delta
      val outCols =
        if (evolveSchema)
          target.columns.toSeq ++
            source.columns.filterNot(target.columns.toSet)
        else target.columns.toSeq
      // touched files are re-read by path; untouched lines are never
      // listed in the delta commit at all (they carry their stats)
      val touched0 =
        touchedLines(files, target)(_.join(srcKeys, keyCols, "left_semi"))
      // loud, actionable refusal (SQL's own UPDATE SET * stance): the
      // canonical merge REPLACES matched rows wholesale, so a source
      // lacking a table column — often one a metadata-only ALTER or an
      // evolution append added after the feed was written — would
      // otherwise die in an opaque unresolved-column AnalysisException
      // (silently null-filling here would CLEAR that column on every
      // matched row instead)
      val missing = outCols.filterNot(c =>
        source.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"merge source lacks table column(s) ${missing.mkString(", ")}: " +
          "the canonical merge replaces matched rows wholesale — carry " +
          "every table column (null-fill explicitly), or use " +
          "mergeActions with explicit SET/INSERT column maps")
      val src = alignTypes(source.select(outCols.map(col): _*), target.schema)
      val rewritten =
        if (touched0.isEmpty) src // pure insert — nothing to rewrite
        else readLinesDeclared(spark, root, base, touched0)
          .join(srcKeys, keyCols, "left_anti")
          // allowMissingColumns covers the KEPT side: outCols comes from
          // EVERY file's footer, so touched files written before a later
          // schema evolution may lack columns the union must null-fill
          // (the source side is always complete — select(outCols) above)
          .unionByName(src, allowMissingColumns = true)
          .select(outCols.map(col): _*)
      // stats on the INTEGRAL merge keys (footer-exact, so small
      // batches fold driver-side): keeps countRows() metadata-
      // answerable AND lets a rival merge's rebase probe prove
      // key-disjointness against THIS commit's output from manifest
      // stats alone ([[rebaseKeyDisjoint]]); other columns stay
      // conservative (no stat, never wrong)
      Some(Rewrite(touched0, rewritten, integralStatKeys(target.schema, keyCols)))
    }
  }

  /** One MERGE action clause — the general (Delta-style) MERGE form
    * [[mergeActions]] executes. Conditions and value expressions may
    * reference the target and source rows through the aliases passed
    * to [[mergeActions]] (e.g. `expr("s.price > t.price")`); they are
    * unresolved Columns, resolved against the matched pair at plan
    * time. */
  sealed trait MergeClause { def cond: Option[org.apache.spark.sql.Column] }
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET ... — an empty `set`
      * means `SET *` (every target column from the source column of
      * the same name; the source must then carry them all). Columns
      * absent from an explicit `set` keep their target value. */
    final case class Update(cond: Option[org.apache.spark.sql.Column],
                            set: Map[String, org.apache.spark.sql.Column])
        extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    final case class Delete(cond: Option[org.apache.spark.sql.Column])
        extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT ... — an empty
      * `values` means `INSERT *` (by name; target columns the source
      * lacks take NULL). Explicitly listed columns get their
      * expression; unlisted target columns take NULL (SQL INSERT
      * column-list semantics). */
    final case class Insert(cond: Option[org.apache.spark.sql.Column],
                            values: Map[String, org.apache.spark.sql.Column])
        extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... —
      * the Delta full-sync/mirror clause family: applies to TARGET
      * rows with NO source match. `set` must be explicit (there is no
      * `SET *` — no source row exists to take values from) and, like
      * `cond`, may reference the TARGET alias only: the source side of
      * an unmatched row is all-NULL, so a source reference could only
      * ever be a bug (checked loudly at plan time). */
    final case class UpdateBySource(
        cond: Option[org.apache.spark.sql.Column],
        set: Map[String, org.apache.spark.sql.Column])
        extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — drop target
      * rows with no source match (the mirror idiom: one commit syncs
      * the table to exactly the source snapshot). `cond` may reference
      * the target alias only, as in [[UpdateBySource]]. */
    final case class DeleteBySource(
        cond: Option[org.apache.spark.sql.Column])
        extends MergeClause
  }

  /** General MERGE (the Delta `whenMatched(cond).update/delete` +
    * `whenNotMatched(cond).insert` surface) — the conditional
    * superset of [[merge]]'s canonical upsert:
    *
    *  - matched target rows take the FIRST matched clause (declared
    *    order) whose condition is TRUE — update or delete; no clause
    *    true → the row carries unchanged (NULL conditions are not
    *    true, SQL semantics);
    *  - unmatched target rows take the FIRST not-matched-BY-SOURCE
    *    clause whose condition is TRUE (update or delete — the Delta
    *    full-sync clause family); none declared or none true → they
    *    carry unchanged;
    *  - unmatched SOURCE rows insert iff the not-matched clause's
    *    condition passes; no insert clause → they are dropped;
    *  - a source row whose key matches MULTIPLE target rows applies to
    *    each (join semantics); multiple SOURCE rows sharing a key that
    *    matches a target row are REJECTED when a matched clause exists
    *    (the Delta multiple-source-matches error — which of the two
    *    updates wins would be arbitrary).
    *
    * Same scale mechanics as [[merge]]: phase-1 `_metadata.file_path`
    * semi-join finds the touched files (untouched manifest lines carry
    * as-is, stats included — a merge touching 0.1% of keys rewrites
    * 0.1% of files); insert-only clause sets skip the rewrite
    * entirely (touched files stay untouched — only the key probe
    * reads them, column-pruned); optimistic delta commit, full
    * recompute on a lost race. `keyCols` is the ON equi-key
    * conjunction — the pruning key, as in [[merge]]. Updated/inserted
    * values CAST to the table column types ([[update]]'s rule).
    * Returns the committed version (the base version unchanged when
    * the statement is a complete no-op).
    *
    * BY SOURCE clauses change the PRUNING SET, not the mechanics: the
    * files that must rewrite are those holding a matched key (matched
    * clauses) UNION those holding at least one row with NO source
    * match (by-source clauses) — one combined probe pass computes
    * both. A full mirror (`DELETE` by source over a disjoint
    * snapshot) therefore rewrites every file, which is what the
    * statement means; a trickle-sync whose source covers most keys
    * rewrites only the files holding strays. When NO matched clause
    * needs source VALUES (by-source/insert-only merges), the rewrite
    * joins the distinct source KEYS instead of the source rows — a
    * duplicate-keyed source cannot duplicate carried target rows. */
  def mergeActions(spark: SparkSession, root: String, source: DataFrame,
                   keyCols: Seq[String], clauses: Seq[MergeClause],
                   targetAlias: String = "t", sourceAlias: String = "s",
                   maxRetries: Int = 5,
                   beforeCommit: () => Unit = () => ()): Long = {
    import MergeClause._
    require(clauses.nonEmpty, "MERGE needs at least one action clause")
    require(clauses.count(_.isInstanceOf[Update]) <= 1 &&
      clauses.count(_.isInstanceOf[Delete]) <= 1 &&
      clauses.count(_.isInstanceOf[Insert]) <= 1 &&
      clauses.count(_.isInstanceOf[UpdateBySource]) <= 1 &&
      clauses.count(_.isInstanceOf[DeleteBySource]) <= 1,
      "at most one clause of each kind (matched UPDATE/DELETE, " +
        "not-matched INSERT, by-source UPDATE/DELETE)")
    require(targetAlias != sourceAlias,
      s"target and source aliases must differ, got '$targetAlias' twice")
    val matchedClauses = clauses.filter(c =>
      c.isInstanceOf[Update] || c.isInstanceOf[Delete])
    val bySourceClauses = clauses.filter(c =>
      c.isInstanceOf[UpdateBySource] || c.isInstanceOf[DeleteBySource])
    val insertClause = clauses.collectFirst { case i: Insert => i }
    bySourceClauses.collectFirst { case u: UpdateBySource => u }.foreach(u =>
      require(u.set.nonEmpty,
        "BY SOURCE UPDATE needs an explicit SET list (there is no " +
          "source row to take `SET *` values from)"))
    // pinned ONCE: the dup-key guard, the key probe, the matched join
    // and the insert anti-join must all see the SAME rows across every
    // commit retry (and a large SELECT source must not re-run per use)
    val src0 = source.localCheckpoint(true)
    val srcKeys = src0.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true)
    // computed only if a commit race ever needs the rebase probe
    lazy val srcKeyRanges = integralKeyRanges(srcKeys, keyCols)
    def condOf(c: Option[org.apache.spark.sql.Column]) =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    // CONFLICT-AWARE RECONCILIATION (the Delta conflict-class role):
    // a lost commit race does NOT automatically recompute phases
    // 1-2. When every interleaved commit is a pure APPEND whose
    // added files PROVABLY hold no source-key matches (manifest stat
    // ranges disjoint from the source's key range — stronger than
    // Delta's blind-append allowance: zero anomaly, not an accepted
    // one), the SAME delta rebases onto the new head: removed files
    // still exist (appends never remove), staged files are reused,
    // appended rows carry through the interleaved commit itself. At
    // 100 TB with streaming ingest + MERGE running concurrently,
    // full recompute retries are the first thing that melts — this
    // is what keeps them for the cases that genuinely need them
    // (overlapping keys, rewrites, ALTERs, by-source clauses, which
    // must SEE interleaved rows).
    commitRewrite(spark, root, maxRetries, beforeCommit,
      rebase = (base, cur, removed) => bySourceClauses.isEmpty &&
        rebaseKeyDisjoint(root, base, cur, srcKeyRanges, removed)) {
      (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      val outCols = target.columns.toSeq
      val schema = target.schema
      require(!outCols.contains("__graft_m"),
        "mergeActions reserves the column name __graft_m")
      matchedClauses.collectFirst { case u: Update => u }.foreach { u =>
        if (u.set.isEmpty)
          outCols.foreach(c =>
            require(src0.columns.exists(_.equalsIgnoreCase(c)),
              s"UPDATE SET * needs source column '$c'"))
        else u.set.keys.foreach(k =>
          require(outCols.exists(_.equalsIgnoreCase(k)),
            s"SET column '$k' not in table"))
      }
      insertClause.foreach(i => i.values.keys.foreach(k =>
        require(outCols.exists(_.equalsIgnoreCase(k)),
          s"INSERT column '$k' not in table")))
      // GENERATED ALWAYS AS IDENTITY: merge-INSERT would have to fill
      // the identity column (NULL/default — both wrong) or let the
      // source supply it (forbidden). The transactional fill lives on
      // the append path; refuse here rather than mint unsound keys.
      if (insertClause.nonEmpty)
        identityColumnIfMarked(spark, root).foreach(f =>
          sys.error(
          s"table declares identity column ${f.name}: MERGE INSERT " +
            "clauses are not supported — split the not-matched rows " +
            "out and append() them (the engine assigns the keys)"))
      // ... and no clause may REWRITE the key (SET * replaces every
      // column, including it, from the source — equally refused)
      identityColumnIfMarked(spark, root).foreach { f =>
        val setsIdentity = clauses.exists {
          case u: Update =>
            u.set.isEmpty || u.set.keys.exists(_.equalsIgnoreCase(f.name))
          case u: UpdateBySource =>
            u.set.keys.exists(_.equalsIgnoreCase(f.name))
          case _ => false
        }
        if (setsIdentity) refuseIdentitySurface(spark, root,
          s"a MERGE UPDATE clause writing ${f.name} (SET * included)")
      }
      bySourceClauses.collectFirst { case u: UpdateBySource => u }
        .foreach(u => u.set.keys.foreach(k =>
          require(outCols.exists(_.equalsIgnoreCase(k)),
            s"BY SOURCE SET column '$k' not in table")))
      // BY SOURCE clauses act on rows with NO source match — the
      // source side is all-NULL there, so a source reference could
      // only ever evaluate over NULLs (a silent-wrong-answer trap:
      // `s.x IS NULL` would be vacuously true). Refuse SEMANTICALLY:
      // each by-source condition/SET expression must resolve against
      // the TARGET columns alone (plan-time analysis of an empty
      // aliased frame — no job runs; this also catches misspelled
      // columns with the clause named, before any file is staged).
      if (bySourceClauses.nonEmpty) {
        val probe = target.limit(0).alias(targetAlias)
        bySourceClauses.foreach { cl =>
          val exprs = cl.cond.toSeq ++ (cl match {
            case u: UpdateBySource => u.set.values.toSeq
            case _ => Seq.empty
          })
          exprs.foreach { c =>
            try { probe.select(c).queryExecution.analyzed; () }
            catch {
              case e: org.apache.spark.sql.AnalysisException =>
                throw new IllegalArgumentException(
                  "BY SOURCE clauses may reference the target only — " +
                    "the source side of an unmatched row is all-NULL " +
                    s"(failed to resolve against the target: ${e.getMessage})")
            }
          }
        }
      }
      // phase 1 (prune): the ONLY full-table pass, column-pruned to
      // the keys + file metadata. Without by-source clauses: files
      // containing a matched key (semi-join, as merge()). With them,
      // the pruning set is genuinely DIFFERENT — by-source clauses
      // rewrite files holding at least one row with NO source match —
      // so ONE combined outer-join pass computes both per-file flags
      // (two separate probes would double-read the table).
      val (touched0, unmatched): (Seq[String], Seq[String]) =
        if (bySourceClauses.isEmpty)
          (touchedLines(files, target)(_.join(srcKeys, keyCols, "left_semi")),
            Seq.empty)
        else {
          val rows = target
            .withColumn("__file", col("_metadata.file_path"))
            .join(srcKeys.withColumn("__graft_m", lit(true)),
              keyCols, "left_outer")
            .groupBy(col("__file"))
            .agg(max(col("__graft_m").isNotNull.cast("int")).as("__m"),
              max(col("__graft_m").isNull.cast("int")).as("__u"))
            .collect()
          def flagged(i: Int) = {
            val names = rows.filter(_.getInt(i) == 1)
              .map(_.getString(0).split('/').last).toSet
            files.filter(f => names.contains(pathOf(f).split('/').last))
          }
          (flagged(1), flagged(2))
        }
      // matched keys for the insert anti-join: every matched key's
      // rows live in a touched file by construction, so the probe
      // reads only those files, key columns only
      val matchedKeys =
        if (touched0.isEmpty) srcKeys.limit(0)
        else srcKeys.join(
          readLinesDeclared(spark, root, base, touched0).select(keyCols.map(col): _*),
          keyCols, "left_semi")
      if (matchedClauses.nonEmpty && touched0.nonEmpty) {
        // the Delta multiple-source-matches error: two source rows
        // sharing a key that matches a target row — which update/delete
        // wins would be arbitrary; insert-only merges tolerate dup keys
        val dup = src0.join(matchedKeys, keyCols, "left_semi")
          .groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).count()
        require(dup == 0L,
          s"MERGE source has multiple rows per key ${keyCols.mkString(",")} " +
            "matching the same target row — deduplicate the source")
      }
      // phase 2 (rewrite) — skipped wholesale for insert-only merges;
      // the rewrite set is matched files (matched clauses) UNION
      // unmatched-row files (by-source clauses)
      val rewriteFiles = files.filter(
        (if (matchedClauses.isEmpty) Set.empty[String] else touched0.toSet) ++
          unmatched)
      val touchedPart: Option[DataFrame] =
        if (rewriteFiles.isEmpty) None
        else {
          val t = readLinesDeclared(spark, root, base, rewriteFiles).alias(targetAlias)
          // matched clauses may reference source VALUES; without any,
          // join the distinct KEYS instead — a duplicate-keyed source
          // must not duplicate carried target rows (the dup guard only
          // arms when a matched clause exists)
          val srcSide = if (matchedClauses.nonEmpty) src0 else srcKeys
          val s = srcSide.withColumn("__graft_m", lit(true)).alias(sourceAlias)
          val joinCond = keyCols.map(k =>
            col(s"$targetAlias.$k") === col(s"$sourceAlias.$k"))
            .reduce(_ && _)
          val j = t.join(s, joinCond, "left_outer")
          val isMatched = col("__graft_m").isNotNull
          // first-true-clause guards, declared order — each family
          // (matched / by-source) sequences independently: a row is in
          // exactly one family by construction
          val guards: Seq[(MergeClause, org.apache.spark.sql.Column)] =
            matchedClauses.zipWithIndex.map { case (cl, i) =>
              val notPrev = matchedClauses.take(i).map(p => !condOf(p.cond))
              (cl, (Seq(isMatched, condOf(cl.cond)) ++ notPrev)
                .reduce(_ && _))
            }
          val guardsB: Seq[(MergeClause, org.apache.spark.sql.Column)] =
            bySourceClauses.zipWithIndex.map { case (cl, i) =>
              val notPrev = bySourceClauses.take(i).map(p => !condOf(p.cond))
              (cl, (Seq(!isMatched, condOf(cl.cond)) ++ notPrev)
                .reduce(_ && _))
            }
          val delGuard =
            (guards.collectFirst { case (_: Delete, g) => g } ++
              guardsB.collectFirst { case (_: DeleteBySource, g) => g })
              .reduceOption(_ || _).getOrElse(lit(false))
          val updGuard = guards.collectFirst { case (u: Update, g) => (u, g) }
          val updBGuard =
            guardsB.collectFirst { case (u: UpdateBySource, g) => (u, g) }
          val kept = j.filter(!delGuard)
          Some(kept.select(outCols.map { c =>
            val tc = col(s"$targetAlias.$c")
            val matchedCase = updGuard.map { case (u, g) =>
              val newV =
                if (u.set.isEmpty) col(s"$sourceAlias.$c")
                else u.set.collectFirst {
                  case (k, v) if k.equalsIgnoreCase(c) => v
                }.getOrElse(tc)
              g -> newV
            }
            val bySourceCase = updBGuard.flatMap { case (u, g) =>
              u.set.collectFirst {
                case (k, v) if k.equalsIgnoreCase(c) => g -> v
              }
            }
            val cases = matchedCase.toSeq ++ bySourceCase.toSeq
            if (cases.isEmpty) tc.as(c)
            else cases.tail
              .foldLeft(when(cases.head._1, cases.head._2)) {
                case (acc, (g, v)) => acc.when(g, v)
              }
              .otherwise(tc).cast(schema(c).dataType).as(c)
          }: _*))
        }
      val insertPart: Option[DataFrame] = insertClause.map { ins =>
        val unmatched = src0.alias(sourceAlias)
          .join(matchedKeys, keyCols, "left_anti")
          .filter(condOf(ins.cond))
        // unlisted INSERT columns fill their declared DEFAULT (the
        // declaration carries the metadata; target.schema is a plan
        // schema and doesn't), else typed NULL — SQL column-list
        // semantics on both the INSERT * and explicit-list arms
        val declByName = logicalSchemaAt(spark, root, base).fields
          .map(f => f.name.toLowerCase -> f).toMap
        def fillFor(c: String): org.apache.spark.sql.Column =
          declByName.get(c.toLowerCase).map(defaultOrNull)
            .getOrElse(lit(null)).cast(schema(c).dataType)
        unmatched.select(outCols.map { c =>
          val dt = schema(c).dataType
          if (ins.values.isEmpty) {
            if (src0.columns.exists(_.equalsIgnoreCase(c)))
              col(s"$sourceAlias.$c").cast(dt).as(c)
            else fillFor(c).as(c)
          } else ins.values.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c) => v.cast(dt).as(c)
          }.getOrElse(fillFor(c).as(c))
        }: _*)
      }
      // no clause can have any effect, or a complete no-op (nothing
      // rewritten, nothing inserted): commit no version — DML that
      // changes nothing must not churn history
      (touchedPart.toSeq ++ insertPart.toSeq).reduceOption(_ unionByName _)
        .filterNot(rewritten => rewriteFiles.isEmpty && rewritten.isEmpty)
        // integral-key stats, as in merge(): countRows() stays
        // metadata-answerable, rival rebase probes get provable
        // key-disjointness, other columns stay conservative
        .map(Rewrite(rewriteFiles, _, integralStatKeys(schema, keyCols)))
    }
  }

  /** The merge keys eligible for rebase-probe (and pruning) stats:
    * integral target columns — footer-exact and long-castable, exactly
    * the shape [[rebaseKeyDisjoint]] compares. */
  private def integralStatKeys(schema: org.apache.spark.sql.types.StructType,
                               keyCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types._
    keyCols.filter(c => schema.fields
      .find(_.name.equalsIgnoreCase(c)).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
  }

  /** The source's per-key-column [min, max] as exact longs — the
    * rebase disjointness probe's query side. `None` when any key
    * column is non-integral (bare manifest stats are only exact for
    * integral columns) or the source is empty: no rebase, recompute. */
  private def integralKeyRanges(srcKeys: DataFrame, keyCols: Seq[String])
      : Option[Map[String, (Long, Long)]] = {
    import org.apache.spark.sql.types._
    val integral = keyCols.forall(c =>
      srcKeys.schema.fields.find(_.name.equalsIgnoreCase(c))
        .exists(_.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }))
    if (!integral) return None
    val aggs = keyCols.flatMap(c => Seq(
      min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = srcKeys.agg(aggs.head, aggs.tail: _*).head()
    if (keyCols.indices.exists(i => r.isNullAt(2 * i))) None // empty src
    else Some(keyCols.zipWithIndex.map { case (c, i) =>
      c.toLowerCase -> (r.getLong(2 * i), r.getLong(2 * i + 1))
    }.toMap)
  }

  /** Conflict classification of the interleaved commits `(base, cur]`
    * — the shared precondition of every rebase path, generalized
    * beyond pure appends (round-14 covered appends only; at 100 TB
    * compaction and streaming MERGE run continuously, so append-only
    * rebase covers half the races). Some((appendAdded, rewriteAdded,
    * removedPaths)) when every interleaved commit is a DELTA carrying
    * no declaration change:
    *
    *  - a PURE APPEND contributes its `+` lines to `appendAdded`;
    *  - a PRESERVING delta (bin-packing [[compact]]; [[requireFeature]]'s
    *    empty commit) contributes its removed paths ONLY — its added
    *    files hold rows that already existed somewhere (data-preserving
    *    by contract), so content checks on them are redundant: a
    *    pre-existing row either lived in a file the loser rewrote
    *    (caught by the removed-path overlap check at the caller) or
    *    was already accounted for by the loser's full phase-1 pass,
    *    and an interleave-APPENDED row folded in by the compaction is
    *    checked through the append's own manifest lines above;
    *  - a REWRITE-class delta (a winning MERGE/DELETE/UPDATE/
    *    applyChanges) contributes its `+` lines to `rewriteAdded` —
    *    genuinely NEW row content that must pass the same checks as
    *    appended rows — and its removed paths (the Delta
    *    rewrite-vs-rewrite file-disjointness reconciliation).
    *
    * `None` (recompute) on a full manifest (overwrite/restore/z-order
    * re-layout), a [[DeclaredMarker]] commit (the declaration the
    * loser computed under changed), or a vacuumed gap. */
  private def interleavedDeltaClasses(root: String, base: Long, cur: Long)
      : Option[(Seq[String], Seq[String], Set[String])] = {
    val appendAdded = Seq.newBuilder[String]
    val rewriteAdded = Seq.newBuilder[String]
    val removed = Set.newBuilder[String]
    var ok = true
    var w = base + 1
    while (ok && w <= cur) {
      if (!manifestFile(root, w).exists()) ok = false
      else {
        val lines = readManifest(root, w)
        if (!isDelta(lines) || lines.contains(DeclaredMarker) ||
            !lines.tail.forall(l =>
              l.startsWith("+\t") || l.startsWith("-\t") ||
                l.startsWith(TxnPrefix) || l.startsWith(FeaturePrefix) ||
                l.startsWith(IdentityPrefix) ||
                l == PreservingMarker)) ok = false
        else {
          val adds = lines.tail.collect {
            case l if l.startsWith("+\t") => l.drop(2) }
          val rems = lines.tail.collect {
            case l if l.startsWith("-\t") => l.drop(2) }
          if (lines.contains(PreservingMarker)) removed ++= rems
          else if (rems.isEmpty) appendAdded ++= adds
          else { rewriteAdded ++= adds; removed ++= rems }
        }
      }
      w += 1
    }
    if (ok) Some((appendAdded.result(), rewriteAdded.result(),
      removed.result()))
    else None
  }

  /** Can a lost MERGE race rebase over versions `(base, cur]` without
    * recompute? True iff [[interleavedDeltaClasses]] resolves AND
    * (a) no interleaved commit removed a file the loser's delta also
    * removes — a compaction or rival rewrite consumed rows the loser
    * rewrote, so replaying the delta would duplicate or resurrect
    * them — AND (b) every NEW-content file's manifest stats prove
    * key-disjointness from the source: some key column's file range
    * misses the source range entirely (so the loser's match/insert
    * decisions are unchanged under serial execution). Stats-less
    * files and non-integral keys fail SAFE (recompute).
    * O(interleaved manifests), zero data reads. */
  private def rebaseKeyDisjoint(root: String, base: Long, cur: Long,
                                ranges: Option[Map[String, (Long, Long)]],
                                loserRemoves: Set[String])
      : Boolean = (ranges, interleavedDeltaClasses(root, base, cur)) match {
    case (Some(rs), Some((appAdded, rwAdded, removed))) =>
      removed.intersect(loserRemoves).isEmpty &&
        (appAdded ++ rwAdded).map(scanFileOf).forall(sf => rs.exists {
          case (c, (slo, shi)) =>
            sf.stats.get(c).exists { case (flo, fhi) =>
              fhi < slo || flo > shi }
        })
    case _ => false
  }

  /** Can a lost DELETE/UPDATE race rebase over `(base, cur]`? The
    * interleave must classify ([[interleavedDeltaClasses]]), no
    * interleaved commit may have removed a file the loser's delta
    * removes, AND none of the interleaved NEW rows (appends + rival
    * rewrites' outputs) may match `predicate` — under serializable
    * semantics a matching row belongs to this rewrite, so finding one
    * forces the recompute. The probe reads ONLY the interleaved
    * batches' files (O(new content), never O(table)) — the exact
    * evaluation of Delta's read-predicate conflict check. */
  private def rebasePredicateFree(spark: SparkSession, root: String,
                                  base: Long, cur: Long,
                                  predicate: org.apache.spark.sql.Column,
                                  loserRemoves: Set[String])
      : Boolean =
    interleavedDeltaClasses(root, base, cur) match {
      case Some((appAdded, rwAdded, removed)) =>
        removed.intersect(loserRemoves).isEmpty && {
          val fresh = appAdded ++ rwAdded
          fresh.isEmpty ||
            (try readLinesDeclared(spark, root, cur, fresh)
              .filter(coalesce(predicate, lit(false)))
              .limit(1).collect().isEmpty
            catch { case scala.util.control.NonFatal(_) => false })
        }
      case None => false
    }

  /** A change feed's net effect: each key's latest row by `seqCol`,
    * ties to the largest op (U > I > D), and the distinct keys the feed
    * touches. Both are pinned once, so every commit retry folds the
    * same rows (blocks free on GC, the merge() localCheckpoint
    * discipline). */
  private def netChanges(feed: DataFrame, keyCols: Seq[String],
                         seqCol: String, opCol: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, upper(col(opCol)).desc)
    val latest = feed
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)
    (latest, latest.select(keyCols.map(col): _*).distinct().localCheckpoint(true))
  }

  /** APPLY CHANGES INTO (the Delta Live Tables `apply_changes` /
    * Debezium-sink role): fold an ORDERED change feed — rows tagged
    * I(nsert)/U(psert)/D(elete) in `opCol`, ordered per key by
    * `seqCol` — into the table as ONE atomic copy-on-write commit.
    *
    * Net effect first: only each key's LATEST op applies (a key
    * updated five times then deleted is just a delete), so the rewrite
    * is O(touched files + net keys), never O(feed length). Sequence
    * ties break to the lexicographically largest op (U > I > D) —
    * documented so replays and re-partitioned feeds fold identically;
    * feeds with a genuinely total (key, seq) order never hit the rule.
    *
    *  - **phase 1 (prune)**: the MERGE `_metadata.file_path` semi-join
    *    against ALL net-affected keys (upserted and deleted alike) —
    *    untouched files carry as-is, stats included;
    *  - **phase 2 (rewrite)**: touched files minus every affected key,
    *    plus the net upsert rows (a delete whose key is absent is a
    *    no-op by construction — nothing matches, nothing is added);
    *  - **commit**: one optimistic delta entry, retry recomputes
    *    against the winner's snapshot like every writer.
    *
    * Deletes and upserts land in the SAME version: a reader never
    * observes the delete applied but the upserts missing (the
    * two-commit delete-then-merge composition would expose exactly
    * that torn state). Returns the committed version. */
  def applyChanges(spark: SparkSession, root: String, feed: DataFrame,
                   keyCols: Seq[String], seqCol: String, opCol: String,
                   maxRetries: Int = 5,
                   beforeCommit: () => Unit = () => ()): Long = {
    // GENERATED ALWAYS: a CDC feed carries its own rows wholesale —
    // upserts would supply (or rewrite) the engine-assigned column
    refuseIdentitySurface(spark, root, "applyChanges (CDC upsert)")
    val (latest, affectedKeys) = netChanges(feed, keyCols, seqCol, opCol)
    val upserts = latest.filter(upper(col(opCol)) =!= "D")
      .drop(opCol).drop(seqCol)
    commitRewrite(spark, root, maxRetries, beforeCommit) { (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      val touched0 = touchedLines(files, target)(
        _.join(affectedKeys, keyCols, "left_semi"))
      val outCols = target.columns.toSeq
      // merge()'s refusal, CDC-worded: a feed missing a table column
      // (ALTER-declared or evolution-appended after the feed's schema
      // froze) fails actionably, never as an opaque unresolved column
      val missing = outCols.filterNot(c =>
        upserts.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"CDC feed lacks table column(s) ${missing.mkString(", ")}: " +
          "upserts replace rows wholesale — carry every table column " +
          "(null-fill explicitly in the feed)")
      val src = alignTypes(upserts.select(outCols.map(col): _*), target.schema)
      val rewritten =
        if (touched0.isEmpty) src // pure insert / all-absent deletes
        else readLinesDeclared(spark, root, base, touched0)
          .join(affectedKeys, keyCols, "left_anti")
          .unionByName(src, allowMissingColumns = true)
          .select(outCols.map(col): _*)
      // __rows-only stats: countRows() stays metadata-answerable
      Some(Rewrite(touched0, rewritten))
    }
  }

  /** [[applyChanges]] with CROSS-BATCH sequence enforcement (the Delta
    * DLT model where the applied sequence PERSISTS in the target): the
    * table stores `seqCol` as a regular column, and a feed row only
    * replaces a stored row when its sequence is strictly newer — a
    * later micro-batch carrying an OLDER sequence for a key (an
    * out-of-order multi-file feed) leaves the newer stored state
    * intact, where plain [[applyChanges]] (which drops the sequence at
    * write time and can only order WITHIN one feed) would silently
    * regress it. Equal sequences resolve to the feed row (byte-
    * identical replays fold to the same state). Deletes obey the same
    * guard: a stale tombstone cannot remove newer state. The target's
    * schema must contain `seqCol`; bootstrap the table with the first
    * feed's net upserts INCLUDING their sequence. Same prune /
    * rewrite / optimistic-commit mechanics as [[applyChanges]].
    *
    * `txnAppId`/`txn` (the `Write.txn` protocol): when given, the
    * writer's progress marker lands INSIDE this same atomic commit,
    * and a replay (`txn` ≤ the recorded latest) returns without
    * writing — exactly-once for a streaming apply door in one
    * commit.
    *
    * DELETE ordering and `deletedCol`: without it, a delete physically
    * removes the key, so its SEQUENCE is forgotten — delete ordering
    * is then only enforced against rows the table still stores (a
    * delete at seq 10 followed, in a LATER batch, by a stale upsert at
    * seq 5 re-inserts the row). Pass `deletedCol` (a boolean column of
    * the target schema) to persist deletes as TOMBSTONE rows — key +
    * sequence kept, payload columns nulled, flag true — so the stale
    * upsert loses the same seq race as any other stale row and the key
    * stays dead. Live rows are the latest snapshot filtered on
    * `!coalesce(col(deletedCol), lit(false))` (a null flag, on rows
    * written before the column existed, counts as live); reclaim aged
    * tombstones via [[vacuumTombstones]] (after which ordering
    * guarantees for those keys age out with them, the standard CDC
    * retention trade). */
  def applyChangesGuarded(spark: SparkSession, root: String, feed: DataFrame,
                          keyCols: Seq[String], seqCol: String, opCol: String,
                          maxRetries: Int = 5,
                          beforeCommit: () => Unit = () => (),
                          txnAppId: String = null,
                          txn: Long = -1L,
                          deletedCol: String = null): Long = {
    if (txnAppId != null && txn >= 0 &&
        latestTxn(root, txnAppId).exists(_ >= txn))
      return latestVersion(root).getOrElse(
        sys.error(s"txn recorded but no versions at $root"))
    val txnLines =
      if (txnAppId != null && txn >= 0) Seq(txnLine(txnAppId, txn))
      else Seq.empty
    val (latest, affectedKeys) = netChanges(feed, keyCols, seqCol, opCol)
    commitRewrite(spark, root, maxRetries, beforeCommit) { (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      require(target.columns.contains(seqCol),
        s"guarded apply needs the target to store '$seqCol'")
      val touched0 = touchedLines(files, target)(
        _.join(affectedKeys, keyCols, "left_semi"))
      val outCols = target.columns.toSeq
      if (deletedCol != null)
        require(outCols.contains(deletedCol),
          s"tombstone mode needs the target to store '$deletedCol'")
      // deletedCol is DERIVED from the op column, never fed
      val missingG = outCols.filterNot(c => c == deletedCol ||
        latest.columns.exists(_.equalsIgnoreCase(c)))
      require(missingG.isEmpty,
        s"CDC feed lacks table column(s) ${missingG.mkString(", ")}: " +
          "upserts replace rows wholesale — carry every table column " +
          "(null-fill explicitly in the feed)")
      // stored rows compete as live upserts at their RECORDED sequence;
      // __src breaks seq ties toward the feed (replay idempotence).
      // Tombstone mode projects feed DELETES as flagged rows (key +
      // seq kept, payload nulled) so a delete's sequence persists.
      val feedProj: Seq[org.apache.spark.sql.Column] =
        if (deletedCol == null) outCols.map(col)
        else {
          val isDel = upper(col(opCol)) === "D"
          outCols.map { c =>
            if (c == deletedCol) isDel.as(c)
            else if (keyCols.contains(c) || c == seqCol) col(c)
            else when(isDel, lit(null).cast(target.schema(c).dataType))
              .otherwise(col(c)).as(c)
          }
        }
      val feedCand = latest
        .select((feedProj :+ upper(col(opCol)).as("__op")): _*)
        .withColumn("__src", lit(1))
      // winners: tombstone mode KEEPS delete winners (as tombstone
      // rows); plain mode drops them (the key physically disappears)
      val winnerPred =
        if (deletedCol == null) col("__rn") === 1 && col("__op") =!= "D"
        else col("__rn") === 1
      val rewritten =
        if (touched0.isEmpty)
          alignTypes(feedCand.filter(
            if (deletedCol == null) col("__op") =!= "D" else lit(true))
            .select(outCols.map(col): _*), target.schema)
        else {
          val stored = readLinesDeclared(spark, root, base, touched0)
          val storedCand = stored
            .join(affectedKeys, keyCols, "left_semi")
            .select((outCols.map(col) :+ lit("U").as("__op")): _*)
            .withColumn("__src", lit(0))
          val w2 = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy(col(seqCol).desc, col("__src").desc, col("__op").desc)
          val winners = storedCand.unionByName(feedCand)
            .withColumn("__rn",
              org.apache.spark.sql.functions.row_number().over(w2))
            .filter(winnerPred)
            .select(outCols.map(col): _*)
          stored.join(affectedKeys, keyCols, "left_anti")
            .select(outCols.map(col): _*)
            .unionByName(winners)
        }
      Some(Rewrite(touched0, rewritten, extraLines = txnLines))
    }
  }

  /** Reclaim tombstones with sequence ≤ `horizon` — the CDC retention
    * sweep (Delta's tombstone retention role). After it, out-of-order
    * protection for the reclaimed keys ages out with them: any feed
    * row older than `horizon` must already be impossible upstream
    * (the standard retention contract). Returns the committed
    * version (unchanged if no tombstone qualified). */
  def vacuumTombstones(spark: SparkSession, root: String, deletedCol: String,
                       seqCol: String, horizon: Long): Long =
    delete(spark, root,
      coalesce(col(deletedCol), lit(false)) && col(seqCol) <= lit(horizon))

  /** Row-level DELETE WHERE (copy-on-write) — the Delta `DELETE FROM`
    * role, and the table format's data-removal story (takedown /
    * right-to-be-forgotten requests against a training corpus must
    * remove rows FROM THE TABLE, not just filter at read time):
    *
    *  - **phase 1 (prune)**: one metadata-column scan finds the files
    *    that actually contain a matching row (parquet row-group stats
    *    prune beneath it); files without matches are never read again
    *    and their manifest lines — stats included — are untouched;
    *  - **phase 2 (rewrite)**: only the touched files are re-read and
    *    their NON-matching rows staged as replacement files;
    *  - **commit**: one delta entry (`-` touched, `+` survivors),
    *    O(touched + survivors) bytes, optimistic retry like every
    *    writer. Old versions still time-travel to the pre-delete rows
    *    (physical removal of historical copies = `vacuum` after the
    *    retention window, exactly Delta's model).
    *
    * SQL semantics: rows where the predicate is TRUE are deleted; rows
    * where it is NULL are kept. A predicate matching nothing commits
    * no new version (returns the current one). */
  def delete(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column,
             maxRetries: Int = 5,
             beforeCommit: () => Unit = () => ()): Long =
    // conflict-aware reconciliation, as in mergeActions: a lost race
    // against pure appends whose rows provably don't match the
    // predicate (probed by reading ONLY the appended files) rebases
    // the same delta onto the new head — no O(table) recompute
    commitRewrite(spark, root, maxRetries, beforeCommit,
      rebase = rebasePredicateFree(spark, root, _, _, predicate, _)) {
      (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      val touched0 = touchedLines(files, target)(_.filter(predicate))
      // keep when NOT(true): null-predicate rows survive, per SQL;
      // __rows-only stats, as in merge: deletes stay metadata-countable
      if (touched0.isEmpty) None
      else Some(Rewrite(touched0, readLinesDeclared(spark, root, base, touched0)
        .filter(!coalesce(predicate, lit(false)))))
    }

  /** [[delete]] pinned at BASE version `baseV`: the committed version's
    * content derives from `baseV`'s listing minus the matching rows —
    * never from latest (the `Write.onto` stance for the COW delete).
    * An optimistic pointer-CAS caller ([[graft.operators.TextIndex.delete]])
    * must stage a rewrite that is deterministic from the version it
    * recorded: acting on latest could absorb a concurrent writer's
    * unpublished rows into the rewrite (publishing them without their
    * stats) or rewrite files the recorded version never had. Commits an
    * O(touched + survivors) delta when the base IS the previous
    * version; a full listing (manifest bytes only) otherwise. Returns
    * `baseV` unchanged when nothing matches. */
  def deleteAt(spark: SparkSession, root: String, baseV: Long,
               predicate: org.apache.spark.sql.Column,
               beforeCommit: () => Unit = () => ()): Long = {
    require(manifestFile(root, baseV).exists(),
      s"deleteAt base version $baseV does not exist at $root")
    val files = readListing(root, baseV)
    val touched0 = touchedLines(files,
      readLinesDeclared(spark, root, baseV, files))(_.filter(predicate))
    if (touched0.isEmpty) return baseV
    val survivors = readLinesDeclared(spark, root, baseV, touched0)
      .filter(!coalesce(predicate, lit(false)))
    val staged = statLines(spark,
      stageAuto(survivors, root, baseV + 1), Seq.empty, root)
    val untouched = files.filterNot(touched0.toSet)
    val v = commitWithRetry(root, maxRetries = 5, staged, beforeCommit) { v =>
      Some(if (v == baseV + 1) deltaContent(touched0, staged)
           else untouched ++ staged)
    }
    maybeCheckpoint(root, v)
    v
  }

  /** Row-level UPDATE ... SET (copy-on-write) — the Delta
    * `UPDATE table SET col = expr WHERE pred` role, completing the DML
    * triad (MERGE upserts by key, DELETE removes rows, UPDATE rewrites
    * columns in place). Same two-phase shape as [[delete]]:
    *
    *  - **phase 1 (prune)**: one metadata-column scan finds files
    *    containing a matching row; all other manifest lines — stats
    *    included — carry untouched;
    *  - **phase 2 (rewrite)**: touched files re-read once; matching
    *    rows get each `set` expression applied, non-matching rows pass
    *    through byte-equal; commit is one optimistic delta entry.
    *
    * SQL semantics: the SET applies where the predicate is TRUE; NULL
    * predicates leave the row unchanged. `set` expressions may
    * reference the row's own pre-update columns (they are evaluated
    * against the scanned row, exactly like SQL UPDATE). A predicate
    * matching nothing commits no new version. */
  def update(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             maxRetries: Int = 5,
             beforeCommit: () => Unit = () => ()): Long =
    // conflict-aware reconciliation (see delete/mergeActions): rows
    // appended by a racing writer that match the predicate would
    // belong to this UPDATE under serializable semantics — probe
    // ONLY the appended files; a clean probe rebases, a hit recomputes
    commitRewrite(spark, root, maxRetries, beforeCommit,
      rebase = rebasePredicateFree(spark, root, _, _, predicate, _)) {
      (base, files) =>
      val target = readLinesDeclared(spark, root, base, files)
      require(set.keySet.subsetOf(target.columns.toSet),
        s"SET columns ${set.keySet.diff(target.columns.toSet)} not in table")
      // GENERATED ALWAYS: the engine-assigned key may not be rewritten
      identityColumnIfMarked(spark, root)
        .filter(f => set.keys.exists(_.equalsIgnoreCase(f.name)))
        .foreach(f => refuseIdentitySurface(spark, root,
          s"UPDATE SET ${f.name}"))
      val touched0 = touchedLines(files, target)(_.filter(predicate))
      val hit = coalesce(predicate, lit(false))
      if (touched0.isEmpty) None
      else Some(Rewrite(touched0, readLinesDeclared(spark, root, base, touched0)
        .select(target.columns.toSeq.map { c =>
          set.get(c) match {
            // cast back to the COLUMN's type (SQL UPDATE semantics):
            // when/otherwise coerces to the common type, and a wider
            // SET expression would otherwise widen the rewritten
            // files' footer type away from the untouched files'
            case Some(e) => when(hit, e).otherwise(col(c))
              .cast(target.schema(c).dataType).as(c)
            case None    => col(c)
          }
        }: _*)))
    }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` role):
    * a new table at `dst` whose version 0 references the SOURCE's
    * current data files by path — zero data copied, stats lines
    * carried as-is, so manifest pruning works immediately. Writes to
    * the clone stage into the clone's own data dir and never touch the
    * source; the clone's history starts fresh at v0 (time travel into
    * the source's past is the source's job). Like Delta shallow
    * clones, a `vacuum` ON THE SOURCE can reclaim files the clone
    * still references — deep-copy (read + overwrite) when the source's
    * retention is not under your control. */
  def shallowClone(src: String, dst: String): Long =
    shallowCloneAt(src, dst, None)

  /** [[shallowClone]] pinned to a HISTORICAL version — zero-copy
    * branching off any point in the source's history (the Delta
    * `CLONE ... VERSION AS OF` role): debugging yesterday's pipeline
    * against yesterday's table, or forking an experiment from the
    * last known-good snapshot, without blocking the source's writers.
    * The clone-at-past caveat sharpens: the source's `vacuum` may
    * reclaim files ONLY old versions reference — deep-copy if the
    * source's retention is shorter than the experiment. */
  def shallowCloneAt(src: String, dst: String,
                     version: Option[Long]): Long = {
    val base = version.getOrElse(
      latestVersion(src).getOrElse(sys.error(s"no versions at $src")))
    require(versions(src).contains(base), s"version $base not in $src history")
    require(latestVersion(dst).isEmpty, s"clone target $dst already exists")
    new File(dst).mkdirs()
    // table-level sidecars CARRY, before the manifest commit makes the
    // clone readable: a partitioned source's clone must know the
    // partition schema or the partition columns silently VANISH from
    // its reads (footers don't carry them — the paths do); CHECK
    // constraints inherit, both stores (the Delta clone-properties
    // stance); the source's DECLARATION at the pinned version becomes
    // the clone's v0 declaration-only sidecar, so ALTER-declared
    // columns survive the clone (declaration-ONLY: the cloned listing
    // may carry evolution columns the declaration does not know).
    val ps = partitionSchemaFile(src)
    if (ps.exists())
      Files.copy(ps.toPath, partitionSchemaFile(dst).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    val cf = constraintsFile(src)
    if (cf.exists())
      Files.copy(cf.toPath, constraintsFile(dst).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    val lcf = legacyConstraintsFile(src)
    if (lcf.exists())
      Files.copy(lcf.toPath, legacyConstraintsFile(dst).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    // the column-mapping registry carries too: without it the clone's
    // footer sweeps would resurrect dropped columns and its appends
    // would stage under logical instead of physical names
    val rc = retiredColsFile(src)
    if (rc.exists())
      Files.copy(rc.toPath, retiredColsFile(dst).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    // the identity fast-path hint carries (the mark itself rides the
    // v0 manifest below)
    val im = identityMarkerFile(src)
    if (im.exists())
      Files.copy(im.toPath, identityMarkerFile(dst).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    declaredSchemaAt(src, base).foreach(s =>
      writeDeclaredSidecar(dst, 0, s))
    // the source's required table FEATURES and manifest-committed
    // constraint ops (as of the pinned version) land INSIDE the
    // clone's v0 manifest: a clone of a column-mapped/widened table
    // must fence feature-blind readers exactly like its source, and a
    // constraint added (or a legacy one dropped) through the commit
    // protocol must bind/unbind the clone's writers too
    commitManifest(dst, 0, readListing(src, base) ++
      featureLinesAt(src, base) ++ constraintOpLinesAt(src, base) ++
      identityLinesAt(src, base))
  }

  /** Merge an APPEND-ONLY branch (created by [[shallowClone]]) back
    * into its source — the lakeFS/Nessie "Git-for-data" close of the
    * branch workflow: everything the branch added since the clone
    * point (its version 0) lands on `srcRoot` as ONE append commit.
    * Source and branch may have appended CONCURRENTLY — append-only
    * histories are conflict-free by construction (the data
    * fast-forward), so divergence needs no three-way resolution. The
    * branch must not have REWRITTEN clone-point files (delete / merge
    * / compact): checked from the manifests alone — every clone-point
    * file still present at the branch head — and refused otherwise,
    * because a rewrite's row-level effects cannot be replayed as an
    * append. O(manifest) check + O(branch additions) data read; the
    * shared clone-point files never move or copy. */
  def mergeBranch(spark: SparkSession, branchRoot: String,
                  srcRoot: String): Long = {
    val bHead = latestVersion(branchRoot)
      .getOrElse(sys.error(s"no versions at $branchRoot"))
    val cloneFiles = readListing(branchRoot, 0).map(pathOf).toSet
    val headFiles = readListing(branchRoot, bHead).map(pathOf).toSet
    val rewritten = cloneFiles.diff(headFiles)
    require(rewritten.isEmpty,
      s"branch rewrote ${rewritten.size} clone-point file(s) " +
        "(delete/merge/compact) — not an append-only branch; " +
        "merge back manually via diffVersions")
    if (bHead == 0) return latestVersion(srcRoot)
      .getOrElse(sys.error(s"no versions at $srcRoot"))
    val delta = readChangesBetween(spark, branchRoot, 0, bHead)
    append(delta, srcRoot)
  }

  /** Incremental consumption (the Delta CDF / Iceberg incremental-read
    * role for append-style tables): read only the data files ADDED
    * after version `sinceV`, so a downstream job consumes each
    * committed batch exactly once without rescanning the table. Files
    * rewritten by a MERGE appear too (their rows are "changed");
    * merge-dropped rows are not tombstoned — document-level CDC for
    * copy-on-write deletes would need a diff of row sets, which callers
    * can do across snapshots via [[readVersion]]. */
  def readChangesSince(spark: SparkSession, root: String,
                       sinceV: Long): DataFrame =
    readChangesBetween(spark, root, sinceV,
      latestVersion(root).getOrElse(sys.error(s"no versions at $root")))

  /** [[readChangesSince]] with an EXPLICIT upper bound: files added in
    * (sinceV, untilV]. Consumers that record the version they covered
    * must read with that version as the bound — an unbounded read races
    * a concurrent commit landing after the version probe, silently
    * covering rows the recorded version doesn't admit (the
    * MaterializedView double-count). */
  def readChangesBetween(spark: SparkSession, root: String,
                         sinceV: Long, untilV: Long): DataFrame = {
    val before = readListing(root, sinceV).map(pathOf).toSet
    val added = readListing(root, untilV).map(pathOf).filterNot(before)
    if (added.isEmpty) readVersion(spark, root, untilV).limit(0)
    else readParquetMerged(spark, added)
  }

  /** STREAMING changes feed for an APPEND-ONLY table — the streaming
    * twin of [[readChangesSince]]: a Structured Streaming source over
    * the table's data directory, so every committed append's files
    * surface as new micro-batch input, checkpointable like any stream
    * (a consumer with a checkpoint resumes at exactly the first unseen
    * file — process-each-commit-once without tracking versions by
    * hand). Data files are staged under a temp name and moved into
    * `data/` atomically at commit (stageDataFiles), so the file source
    * never observes a half-written file.
    *
    * Append-only contract, enforced at call time rather than
    * discovered as duplicates downstream: MERGE/OPTIMIZE/Z-order
    * rewrite survivors into NEW files that a file stream would replay
    * as fresh rows. Tables with rewriting history need the batch
    * [[readChangesSince]]/[[diffVersions]] path. (One residual gap a
    * listing check cannot see: an append that exhausted its commit
    * retries leaves staged-but-unreferenced files in `data/` — that
    * append THREW at the writer, so the failure is visible there, and
    * `vacuum` reclaims the orphans.)
    *
    * Scale shape: the source lists `data/` (file-source listing, same
    * cost class as any streaming lake ingestion); each micro-batch
    * reads only the new files — O(batch), never O(table). */
  def readChangesStream(spark: SparkSession, root: String): DataFrame = {
    val latest = latestVersion(root).getOrElse(sys.error(s"no versions at $root"))
    // every version's listing must be contained in the next — true for
    // overwrite-at-v0 + appends; false as soon as anything rewrote
    val listings = versions(root).map(v => readListing(root, v).map(pathOf).toSet)
    listings.sliding(2).foreach {
      case Seq(a, b) => require(a.subsetOf(b),
        s"readChangesStream requires an append-only history at $root: " +
          "a version removed/rewrote files (MERGE/OPTIMIZE/Z-order); " +
          "use readChangesSince/diffVersions instead")
      case _ =>
    }
    val schema = readVersion(spark, root, latest).schema
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("mergeSchema", "true")
      .parquet(dataDir(root).getPath)
  }

  /** Row-level snapshot diff (the companion to [[readChangesSince]]'s
    * file-level read): rows of version `v2` not present in `v1` tagged
    * `insert`, rows of `v1` gone from `v2` tagged `delete` — an update
    * appears as its delete + insert pair, multiset semantics
    * (`exceptAll`, so duplicate rows diff by count). File-level pruning
    * applies first: files common to both manifests cancel exactly and
    * are never read. */
  def diffVersions(spark: SparkSession, root: String,
                   v1: Long, v2: Long): DataFrame = {
    val f1 = readListing(root, v1).map(pathOf).toSet
    val f2 = readListing(root, v2).map(pathOf).toSet
    def readOr(paths: Seq[String], other: Seq[String]): DataFrame =
      if (paths.nonEmpty)
        readParquetMerged(spark, paths)
      else // empty side: same schema, zero rows
        readParquetMerged(spark, other).limit(0)
    val only1 = (f1 -- f2).toSeq.sorted
    val only2 = (f2 -- f1).toSeq.sorted
    if (only1.isEmpty && only2.isEmpty)
      return readVersion(spark, root, v2).limit(0)
        .withColumn("_change", lit("insert"))
    val d1 = readOr(only1, only2)
    val d2 = readOr(only2, only1)
    // exceptAll is positional — align both sides by NAME over the union
    // of their columns (typed nulls fill the gaps) so a schema-evolving
    // merge/append between the diffed versions (a supported mergeSchema
    // path) diffs instead of throwing, old rows reading null for
    // later-added columns exactly as a snapshot read would
    val allCols = (d1.columns ++ d2.columns.filterNot(d1.columns.contains)).toSeq
    def aligned(df: DataFrame) = df.select(allCols.map { c =>
      if (df.columns.contains(c)) col(c)
      else {
        val dt = (if (d1.columns.contains(c)) d1 else d2).schema(c).dataType
        lit(null).cast(dt).as(c)
      }
    }: _*)
    val a1 = aligned(d1); val a2 = aligned(d2)
    a2.exceptAll(a1).withColumn("_change", lit("insert"))
      .unionByName(a1.exceptAll(a2).withColumn("_change", lit("delete")))
  }

  /** OPTIMIZE (bin-packing compaction): coalesce the latest snapshot's
    * small files (< `targetBytes`) into ~`targetBytes` files and commit
    * the new layout as a new version — the Delta `OPTIMIZE` role that
    * keeps append-heavy tables from degenerating into a small-files
    * swamp. Rows are untouched: the new manifest is the carried-over
    * big files plus the packed rewrites, so every read answers exactly
    * as before, and older versions still time-travel to the old layout
    * (vacuum reclaims the loose files once their manifests age out).
    *
    * With `statsCols` the packed rows are range-clustered and sorted on
    * those columns and the new manifest lines carry recomputed
    * [min, max] stats, so [[scan]] pruning stays tight across the
    * compaction (inter-batch overlap from many appends TIGHTENS, the
    * OPTIMIZE ZORDER-lite effect). File sizes come from the filesystem
    * listing — O(files) driver-side stat calls, the same cost class as
    * reading the manifest.
    *
    * Commit is optimistic with an append-commutes rule: a concurrent
    * APPEND's lines are inherited on retry, but if a concurrent writer
    * REWROTE any file this compaction packed (a merge), committing
    * would resurrect its dropped rows — the compaction aborts instead
    * (staged files cleaned), callers re-run against the new snapshot.
    * `beforeCommit` is the test seam for injecting that race.
    * Returns the committed version, or the current one if there was
    * nothing to pack. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L << 20,
              statsCols: Seq[String] = Seq.empty,
              maxRetries: Int = 5,
              beforeCommit: () => Unit = () => ()): Long = {
    val base = latestVersion(root).getOrElse(sys.error(s"no versions at $root"))
    val lines = readListing(root, base)
    val (smallLines, _) =
      lines.partition(ln => new File(pathOf(ln)).length() < targetBytes)
    if (smallLines.length <= 1) return base // nothing to pack
    val smallPaths = smallLines.map(pathOf)
    val smallSet = smallPaths.toSet
    val totalBytes = smallPaths.map(new File(_).length()).sum
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // widened to the declared schema: packed files must materialize a
    // column a metadata-only ALTER declared, or the post-compaction
    // footer sweep would drop it (the COW-rewrite rule)
    val df = widenDeclared(
      readParquetMerged(spark, smallPaths),
      root, base)
    val packed =
      if (statsCols.nonEmpty)
        df.repartitionByRange(numFiles, statsCols.map(col): _*)
          .sortWithinPartitions(statsCols.map(col): _*)
      else df.repartition(numFiles)
    val staged = stageDataFiles(packed, root, base + 1,
      identityFill = true) // row-preserving: keys carry untouched
    val newLines = statLines(spark, staged, statsCols, root)
    val v = commitWithRetry(root, maxRetries, newLines) { v =>
      if (!smallSet.subsetOf(listingPaths(root, v - 1).toSet))
        throw new java.util.ConcurrentModificationException(
          s"file compacted from $root was rewritten concurrently; " +
            "aborting compaction — re-run against the new snapshot")
      beforeCommit()
      // delta commit: `-` the packed small files, `+` their replacement;
      // marked data-preserving so version-offset streams skip it
      Some(deltaContent(smallLines, newLines) :+ PreservingMarker)
    }
    maybeCheckpoint(root, v)
    v
  }

  /** RESTORE: commit a new version whose manifest is version `v`'s file
    * list — the table's latest state becomes the old snapshot while
    * history (and audit) is preserved. */
  def restore(root: String, v: Long): Long = {
    // full listing on purpose: a restore's content IS the old file set,
    // and the full manifest doubles as a walk-back barrier
    val files = readListing(root, v)
    // the restored-to version's DECLARATION restores with it: the full
    // manifest blocks the sidecar walk-back, so without re-planting it
    // a column-mapped table would serve PHYSICAL names (and resurrect
    // dropped columns) from the post-restore footer sweep. One attempt:
    // a lost race surfaces as the raw version conflict.
    readSchemaSidecar(root, v).orElse(declaredSchemaAt(root, v)) match {
      case Some(s) =>
        commitDeclaration(root, maxRetries = 0)(_ => (files :+ DeclaredMarker, s))
      case None => commitWithRetry(root, maxRetries = 0)(_ => Some(files))
    }
  }

  /** Integrity audit (the fsck / Delta FSCK role): cross-check every
    * version's listing against the data directory.
    *  - `missing`: paths some version references but the disk lacks —
    *    CORRUPTION (that version, and time travel to it, is broken);
    *  - `orphans`: `.parquet` files on disk no version references —
    *    crashed-writer leftovers, safe to reclaim (vacuum removes
    *    them along with expired versions).
    * Metadata + one recursive listing of `data/` (partition
    * directories included), zero data reads — the audit an
    * operator runs before trusting a 100 TB table, priced O(manifest).
    * An empty/missing table reports clean (nothing referenced, nothing
    * on disk). */
  def fsck(root: String): (Seq[String], Seq[String]) = {
    val referenced = versions(root)
      .flatMap(v => readListing(root, v).map(pathOf)).distinct
    val onDisk = parquetFilesUnder(dataDir(root)).map(_.getPath)
    val diskSet = onDisk.toSet
    val refSet = referenced.toSet
    (referenced.filterNot(diskSet).sorted, onDisk.filterNot(refSet).sorted)
  }

  /** VACUUM: drop manifests older than the last `retainVersions` and
    * delete data files no retained manifest references. The oldest
    * RETAINED version gets a checkpoint first — a retained delta
    * manifest must stay resolvable once the older manifests it would
    * walk back through are gone. (Like the commit protocol, vacuum is
    * documented single-JVM: a reader that began a walk-back BEFORE the
    * checkpoint existed and reaches a just-deleted manifest fails and
    * retries its read — on an object store the same role is played by
    * a retention grace period, as in Delta's VACUUM.) Returns the
    * number of data files deleted.
    *
    * `retainMillis` is the RETENTION HORIZON (the Delta
    * `deletedFileRetentionDuration` role, here applied to whole
    * versions): a version committed within the last `retainMillis` is
    * NEVER reclaimed, regardless of `retainVersions` — the rule that
    * makes version-pinned readers (`scan(v)`, `shallowCloneAt`,
    * streaming offsets) safe to run concurrently with maintenance: pin
    * only versions inside the horizon you operate vacuum with, and a
    * racing vacuum cannot delete the files under you. Defaults to 0
    * (pure version-count retention, the historical behavior);
    * `nowMillis` is a test seam. */
  def vacuum(root: String, retainVersions: Int = 1,
             retainMillis: Long = 0L,
             nowMillis: Long = System.currentTimeMillis()): Int = {
    val vs = versions(root)
    val cut = math.max(0, vs.length - retainVersions)
    // widen the keep-set to every version inside the time horizon:
    // versions are committed in order, so the retained suffix stays a
    // suffix (manifest mtimes are the log's clock, as in versionAsOf)
    val horizonStart = vs.indexWhere(v =>
      manifestFile(root, v).lastModified() > nowMillis - retainMillis)
    val split =
      if (retainMillis <= 0L || horizonStart < 0) cut
      else math.min(cut, horizonStart)
    val (drop, keep) = vs.splitAt(split)
    // the oldest RETAINED version always gets a (re)checkpoint before
    // manifests below it disappear: it keeps a delta manifest
    // resolvable AND preserves the aggregated #txn state recorded in
    // the about-to-expire manifests (an existing checkpoint may
    // predate newer txn stamps below `oldest`, so recompute)
    keep.headOption.foreach { oldest =>
      if (drop.nonEmpty || !checkpointFile(root, oldest).exists())
        writeCheckpoint(root, oldest)
      // materialize the DECLARATION onto the oldest retained version
      // before the chain below it (which may hold the only sidecar —
      // a metadata-only ALTER's) expires: written as the
      // DECLARATION-ONLY kind, never the authoritative per-version
      // schema — files committed after the declaring version may
      // carry evolution columns the declaration does not know, and an
      // authoritative sidecar would hide them from every later read
      if (drop.nonEmpty && readSchemaSidecar(root, oldest).isEmpty)
        declaredSchemaAt(root, oldest).foreach(s =>
          writeDeclaredSidecar(root, oldest, s))
    }
    val live = keep.flatMap(readListing(root, _).map(pathOf)).toSet
    val dead = parquetFilesUnder(dataDir(root)).filterNot(f => live.contains(f.getPath))
    dead.foreach(_.delete())
    drop.foreach { v =>
      manifestFile(root, v).delete()
      checkpointFile(root, v).delete()
      // the Catalyst scan's per-version schema cache ages out with
      // its version (best-effort cache — a miss just re-infers; the
      // declaration was materialized onto the oldest retained version
      // above before this chain expired)
      new File(root, s"_schema.v$v.json").delete()
      new File(root, s"_schema.declared.v$v.json").delete()
    }
    // reclaim crashed declaration-commit intents (see
    // [[DeclIntentPrefix]]): safe exactly when no RETAINED
    // marker-bearing commit is missing its sidecar — then any intent
    // older than the staleness horizon is a pre-commit crash's pure
    // litter (a live ALTER refreshes its intent's mtime right before
    // each commit attempt). A genuine tear keeps every intent in
    // place: the short-circuit in declaredSchemaAt must keep seeing
    // one until the table is repaired.
    val tornRetained = keep.exists(v =>
      readManifest(root, v).contains(DeclaredMarker) &&
        readSchemaSidecar(root, v).isEmpty)
    if (!tornRetained)
      Option(new File(root).list()).getOrElse(Array.empty)
        .filter(_.startsWith(DeclIntentPrefix)).foreach { n =>
          val f = new File(root, n)
          if (nowMillis - f.lastModified() > declIntentStaleMs) f.delete()
        }
    dead.length
  }
}
