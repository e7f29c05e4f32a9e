package org.apache.spark.sql.graft

import java.util

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableWritePrivilege}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Tombstones, VersionedTable}

/** DataSource V2 CATALOG over [[graft.sources.VersionedTable]] roots —
  * the DeltaCatalog role: once registered (or CREATEd), `spark.sql`
  * plans `graft.db.t` NATIVELY, including Spark's own time-travel
  * syntax and the insert verbs,
  *
  * {{{
  *   GraftCatalog.register(spark, "db", "t", root)
  *   spark.sql("SELECT * FROM graft.db.t WHERE k > 5")
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-01-01'")
  *   spark.sql("CREATE TABLE graft.db.n (k BIGINT, s STRING) LOCATION '...'")
  *   spark.sql("INSERT INTO graft.db.n SELECT ...")      // append commit
  *   spark.sql("INSERT OVERWRITE graft.db.n SELECT ...") // overwrite commit
  * }}}
  *
  * with the SAME manifest-backed pruning index underneath as
  * [[GraftScan.scan]]: `loadTable` returns a table whose
  * `newScanBuilder` is Spark's own `ParquetScanBuilder` over the
  * [[GraftScan.GraftFileIndex]], so pushed filters meet the per-file
  * [min, max]/bloom/partition stats identically on both surfaces and
  * the physical scan stays a vectorized parquet read. Writes are a
  * [[V1Write]] onto the engine's own append/overwrite (atomic manifest
  * commits, default stats, partition layout preserved);
  * `DELETE FROM graft.db.t WHERE <translatable predicate>` plans
  * natively (SupportsDelete → the file-pruned COW delete);
  * `ALTER TABLE graft.db.t ADD COLUMNS (...)` is the metadata-only
  * schema evolution (an empty preserving commit + sidecar); UPDATE and
  * MERGE text stay on [[graft.sources.GraftSql]]. Other ALTER verbs
  * are rejected loudly; DROP removes the NAME only (external-table
  * stance — the versioned data stays until vacuumed).
  *
  * MOR safety: a LATEST read refuses while tombstones/patches pend —
  * the raw snapshot would silently serve deleted rows (a GDPR hazard);
  * read through `VersionedTable.scan` (which overlays) or [[Tombstones.purge]]
  * first. Version/timestamp-pinned reads serve the RAW snapshot by the
  * time-travel contract, exactly like `scan(v)`.
  *
  * The registry CACHE is JVM-global (one catalog instance is
  * constructed by Spark per session via reflection and must see tables
  * registered before it existed). With a `warehouse` option the
  * catalog is DURABLE: names persist in a CAS-guarded store under
  * `<warehouse>/_catalog` ([[graft.sources.CatalogStore]] — the
  * metastore role the reference delegates to Hive, see
  * `hive/Dockerfile:1-5`), every resolution re-syncs from it, and
  * create/drop/rename write through — `graft.db.t` and `SHOW TABLES`
  * survive a fresh JVM, and racing CREATEs across JVMs serialize
  * through the CAS. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catName = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catName

  /** `CREATE TABLE (c TYPE DEFAULT expr)` is accepted: Spark plants
    * the default into the column metadata (CURRENT_DEFAULT) of the
    * schema handed to createTable, the engine persists it in the
    * declaration sidecar, and the analyzer fills INSERT column-lists
    * from the reported schema. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The catalog's DURABLE registry (the metastore role): present
    * exactly when the catalog was installed with a `warehouse` option.
    * Every name resolution re-syncs from it (one directory listing
    * when unchanged — [[GraftCatalog.syncStore]]), every
    * create/drop/rename writes through, so `graft.db.t` and
    * `SHOW TABLES` survive a fresh SparkSession in a fresh JVM and
    * racing writers in other JVMs serialize through the CAS. */
  private def storeDir: Option[java.io.File] =
    warehouse.map(w =>
      new java.io.File(GraftCatalog.localPath(w), "_catalog"))

  private def sync(): Unit = storeDir.foreach(GraftCatalog.syncStore(catName, _))

  private def rootOf(ident: Identifier): String = {
    sync()
    val r = GraftCatalog.registry.get(bound(ident))
    if (r == null) throw new NoSuchTableException(ident)
    r
  }

  /** This catalog's bound names (`db.t`), synced from its store. */
  private def boundNames(): Seq[String] = {
    sync()
    import scala.jdk.CollectionConverters._
    val prefix = GraftCatalog.key(catName, "")
    GraftCatalog.registry.keySet.asScala.toSeq
      .collect { case k if k.startsWith(prefix) => k.stripPrefix(prefix) }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val db = namespace.mkString(".")
    val names = boundNames()
    val found = names.sorted.collect {
      case k if k.stripSuffix("." + k.split('.').last) == db =>
        Identifier.of(namespace, k.split('.').last)
    }
    if (found.isEmpty && names.nonEmpty)
      throw new NoSuchNamespaceException(namespace)
    found.toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    sync()
    GraftCatalog.registry.containsKey(bound(ident))
  }

  // -------------------------------------------------------------
  // Namespaces (the SHOW TABLES IN graft.db / SHOW NAMESPACES role):
  // namespaces are IMPLICIT — exactly the databases of registered
  // tables (the registry is the metastore). Creation/alteration are
  // no-ops-by-refusal: a namespace exists iff a table uses it.
  // -------------------------------------------------------------

  private def allNamespaces(): Seq[Array[String]] =
    boundNames().map(_.split('.').dropRight(1)).distinct.sortBy(_.mkString("."))

  override def listNamespaces(): Array[Array[String]] =
    allNamespaces().toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    // single-level namespaces: nothing nests below an existing one
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Array.empty
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    allNamespaces().exists(_.sameElements(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are implicit: CREATE a table under the " +
        "namespace instead")

  override def alterNamespace(
      namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "graft namespaces are implicit: DROP the tables instead")

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    // latest-state reads must not silently serve MOR-deleted rows
    if (Tombstones.hasPending(root))
      throw new IllegalStateException(
        s"table ${key(ident)} has pending merge-on-read overlays " +
          "(tombstones/patches): a raw catalog read would serve deleted " +
          "rows — purge() them or read via VersionedTable.scan")
    new GraftTableV2(key(ident), root, None, catName)
  }

  /** `VERSION AS OF n` — Spark routes the version string here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new NoSuchTableException(ident)
    }
    require(VersionedTable.versions(root).contains(v),
      s"table ${key(ident)} has no version $v")
    new GraftTableV2(s"${key(ident)}@v$v", root, Some(v), catName)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    val v = VersionedTable.versionAsOf(root, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftTableV2(s"${key(ident)}@v$v", root, Some(v), catName)
  }

  /** Write-intent load (Spark routes INSERT/OVERWRITE here): skips the
    * pending-MOR refusal — appending while tombstones pend is
    * legitimate (the overlay composes over the new rows too). */
  override def loadTable(ident: Identifier,
                         writePrivileges: util.Set[TableWritePrivilege]): Table =
    new GraftTableV2(key(ident), rootOf(ident), None, catName)

  /** Root resolution shared by CREATE TABLE and the staged (CTAS)
    * paths: the `location` property (Spark normalizes it to a file:
    * URI; the engine's roots are local paths — convert, or
    * java.io.File would treat "file:/x" as a relative path and
    * staging would vanish), else `<warehouse>/<ns>/<name>`. */
  private def resolveRoot(ident: Identifier,
                          properties: util.Map[String, String]): String =
    Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(GraftCatalog.localPath).getOrElse {
        val base = warehouse.getOrElse(sys.error(
          s"CREATE TABLE ${key(ident)} needs a LOCATION, or set " +
            s"spark.sql.catalog.$catName.warehouse"))
        (Seq(base) ++ ident.namespace() :+ ident.name()).mkString("/")
      }

  /** Identity partition transforms → column names, declared-LAST
    * validated (the Spark partitionBy convention — data columns come
    * from file footers, partition values from paths; silently
    * reordering would make positional INSERTs land values in the
    * wrong columns). */
  private def partColsOf(schema: StructType,
                         partitions: Array[Transform]): Seq[String] = {
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"only identity PARTITIONED BY columns are supported, got $t")
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in the table schema"))
    require(schema.fieldNames.takeRight(partCols.length).toSeq ==
      partCols.toSeq,
      s"partition columns ${partCols.toSeq} must be declared LAST in " +
        "the table schema (they surface last in the read/write schema, " +
        "the Spark partitionBy convention)")
    partCols.toSeq
  }

  /** CREATE TABLE (the write-path start): a fresh VersionedTable root
    * at the `location` property (or `<warehouse>/<ns>/<name>` from the
    * catalog's `warehouse` option) holding an EMPTY version 0 whose
    * schema lives in the `_schema.v0.json` sidecar; identity-partition
    * transforms record the Hive-layout `_partition_schema.json`
    * sidecar up front, so the first partitioned INSERT finds a
    * partitioned table (never the flat-history guard). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val root = resolveRoot(ident, properties)
    require(VersionedTable.versions(root).isEmpty,
      s"location $root already holds a versioned table")
    val partCols = partColsOf(schema, partitions)
    VersionedTable.createEmpty(root, schema, partCols)
    bindName(ident, root)
    new GraftTableV2(key(ident), root, None, catName)
  }

  /** Publish `ident` → `root`: durable-first (the CAS serializes
    * racing CREATEs across JVMs — exactly one wins the name; the
    * loser's just-created empty root is a harmless orphan, named in
    * the error), then the in-memory cache. */
  private def bindName(ident: Identifier, root: String): Unit = {
    storeDir.foreach { d =>
      if (!graft.sources.CatalogStore.createExclusive(d, key(ident), root))
        throw new TableAlreadyExistsException(ident)
    }
    GraftCatalog.registry.put(bound(ident), root)
    ()
  }

  // ---------------------------------------------------------------
  // ATOMIC CTAS / RTAS (the StagingTableCatalog role): Spark routes
  // `CREATE TABLE ... AS SELECT` / `[CREATE OR] REPLACE TABLE ... AS
  // SELECT` here when the catalog stages. CREATE stages a fresh root
  // whose NAME is registered only at commit — an aborted CTAS (a
  // failing query, a mid-write error) leaves no half-table: the name
  // never existed and the staged root is deleted. REPLACE is the
  // engine-native OVERWRITE into the SAME root — location and history
  // preserved (the pre-replace table stays time-travelable) — with
  // abort = RESTORE to the pre-replace version, so a failed RTAS
  // leaves the old table intact by commit protocol, not by luck.
  // ---------------------------------------------------------------

  override def stageCreate(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stagedCreate(ident, info)
  }

  override def stageReplace(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stagedReplace(ident, info)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (tableExists(ident)) stagedReplace(ident, info)
    else stagedCreate(ident, info)

  private def stagedCreate(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = resolveRoot(ident, info.properties())
    // abort cleans the root RECURSIVELY — require it empty up front so
    // the cleanup can never eat pre-existing user files
    val f = new java.io.File(root)
    require(!f.exists() || Option(f.list()).forall(_.isEmpty),
      s"CTAS staging location $root is not empty — point LOCATION at " +
        "a fresh directory (an aborted CTAS deletes it recursively)")
    val schema = info.schema()
    val partCols = partColsOf(schema, info.partitions())
    VersionedTable.createEmpty(root, schema, partCols)
    val k = key(ident)
    new GraftStagedTable(k, root, partCols, schema,
      overwriteOnWrite = false,
      onCommit = () => bindName(ident, root),
      onAbort = _ => {
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory)
            Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete()
          ()
        }
        rm(f)
      })
  }

  private def stagedReplace(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = rootOf(ident)
    val schema = info.schema()
    val partCols = partColsOf(schema, info.partitions())
    val existing = VersionedTable.partitionSchema(root).fieldNames.toSeq
    // the partition sidecar is table-global: a REPLACE cannot change
    // the partitioning without strandling old versions' reads
    require(partCols == existing,
      s"REPLACE TABLE cannot change partitioning (table has $existing, " +
        s"statement declares $partCols) — CREATE a new table instead")
    val base = VersionedTable.latestVersion(root)
    val k = key(ident)
    new GraftStagedTable(k, root, partCols, schema,
      overwriteOnWrite = true,
      onCommit = () => (),
      onAbort = committedV => base.foreach { v =>
        // undo an overwrite that already landed (the V1 write commits
        // during the write phase): one restore commit re-points at the
        // pre-replace file set, schema declaration included. The
        // restore fires ONLY when the table's latest version IS the
        // exact version this RTAS committed — a concurrent writer's
        // commit that landed on top must not be silently reverted
        // along with the replace (fail loudly, leave state for the
        // operator); and an RTAS that never committed its write has
        // nothing to undo, whatever else landed meanwhile.
        if (committedV >= 0) {
          val latest = VersionedTable.latestVersion(root)
          if (latest.contains(committedV)) {
            VersionedTable.restore(root, v)
            ()
          } else sys.error(
            s"aborting REPLACE TABLE at $root: commits landed after " +
              s"the replace (latest=${latest.getOrElse(-1L)}, the " +
              s"replace wrote $committedV) — not auto-restoring; " +
              s"RESTORE to version $v manually after inspecting the " +
              "interleaved commits")
        }
      })
  }

  /** `db.t`: the table's name inside this catalog and its key in the
    * durable store. */
  private def key(ident: Identifier): String = GraftCatalog.name(ident)

  /** The table's registry key, which carries this catalog's name. */
  private def bound(ident: Identifier): String = GraftCatalog.key(catName, key(ident))

  /** Metadata-only ALTERs (the Delta column-lifecycle role):
    * `ADD COLUMNS (c TYPE, ...)` appends NULLABLE declarations
    * ([[VersionedTable.alterAddColumns]]); `DROP COLUMN c` and
    * `RENAME COLUMN a TO b` are column-MAPPING commits
    * ([[VersionedTable.alterDropColumn]]/[[VersionedTable.alterRenameColumn]])
    * — zero data moved at any table size, old versions time-travel
    * with their old names, dropped data never resurrects (a re-added
    * name maps to a fresh physical slot). Retype/position stay
    * rejected loudly — they would rewrite history. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val root = rootOf(ident)
    val spark = classic.SparkSession.active
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"only top-level $what is supported, got nested field " +
          fieldNames.mkString("."))
      fieldNames(0)
    }
    val adds = changes.flatMap {
      case a: TableChange.AddColumn =>
        val n = topLevel(a.fieldNames(), "ADD COLUMNS")
        require(a.isNullable,
          s"added column $n must be nullable (existing rows read NULL)")
        require(a.position() == null,
          "column position is not supported: added columns append " +
            "after the existing data columns")
        Some(org.apache.spark.sql.types.StructField(
          n, a.dataType(), nullable = true))
      case d: TableChange.DeleteColumn =>
        VersionedTable.alterDropColumn(spark, root,
          topLevel(d.fieldNames(), "DROP COLUMN"))
        None
      case r: TableChange.RenameColumn =>
        VersionedTable.alterRenameColumn(spark, root,
          topLevel(r.fieldNames(), "RENAME COLUMN"), r.newName())
        None
      case u: TableChange.UpdateColumnType =>
        VersionedTable.alterWidenColumn(spark, root,
          topLevel(u.fieldNames(), "ALTER COLUMN TYPE"), u.newDataType())
        None
      case d: TableChange.UpdateColumnDefaultValue =>
        val c = topLevel(d.fieldNames(), "ALTER COLUMN DEFAULT")
        // Spark's convention: empty string = DROP DEFAULT
        if (d.newDefaultValue() == null || d.newDefaultValue().isEmpty)
          VersionedTable.alterDropDefault(spark, root, c)
        else VersionedTable.alterSetDefault(spark, root, c,
          d.newDefaultValue())
        None
      case c => throw new UnsupportedOperationException(
        "GraftCatalog ALTER supports ADD/DROP/RENAME COLUMN and " +
          s"ALTER COLUMN TYPE (widening) only, got $c")
    }
    if (adds.nonEmpty)
      VersionedTable.alterAddColumns(spark, root, adds)
    new GraftTableV2(key(ident), root, None, catName)
  }

  /** DROP = remove the NAME from the catalog; the versioned data stays
    * on disk (the external-table stance — history remains
    * time-travelable by root until vacuumed away). */
  override def dropTable(ident: Identifier): Boolean = {
    val durable = storeDir.exists(d =>
      graft.sources.CatalogStore.remove(d, key(ident)))
    val cached = GraftCatalog.registry.remove(bound(ident)) != null
    durable || cached
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    sync()
    val r = GraftCatalog.registry.get(bound(oldIdent))
    if (r == null) throw new NoSuchTableException(oldIdent)
    if (GraftCatalog.registry.containsKey(bound(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    storeDir match {
      case Some(d) if graft.sources.CatalogStore.load(d)._2
          .contains(key(oldIdent)) =>
        // one CAS commit renames atomically; racing binds of the new
        // name lose the generation and surface here
        try graft.sources.CatalogStore.rename(d, key(oldIdent),
          key(newIdent))
        catch { case e: IllegalArgumentException =>
          if (e.getMessage != null && e.getMessage.contains("already bound"))
            throw new TableAlreadyExistsException(newIdent)
          else throw new NoSuchTableException(oldIdent)
        }
        GraftCatalog.registry.put(bound(newIdent), r)
        GraftCatalog.registry.remove(bound(oldIdent))
      case _ =>
        // session-local binding (the register() helper on a durable
        // catalog, or no warehouse at all): memory-only rename
        if (GraftCatalog.registry.putIfAbsent(bound(newIdent), r) != null)
          throw new TableAlreadyExistsException(newIdent)
        GraftCatalog.registry.remove(bound(oldIdent))
    }
    ()
  }

  /** The catalog's warehouse directory (for LOCATION-less CREATE):
    * `spark.sql.catalog.<name>.warehouse`. */
  private var warehouse: Option[String] = None
}

object GraftCatalog {

  // keyed by `key(catalog, "db.t")`: two catalogs that bind the same
  // `db.t` hold two entries
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // durable-store merge state, per (catalog, store directory): the
  // generation the cache reflects and the registry keys that CAME from
  // the store (so a name dropped by another JVM leaves the cache on the
  // next sync, while session-local register() bindings are never swept)
  private val storeGens =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
  private val storeOwned =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Set[String]]()

  /** Merge a durable registry into the in-memory cache when its
    * generation moved (one directory listing when it didn't — the
    * cheap per-resolution staleness probe). Names the store no longer
    * carries are evicted from the cache; everything it carries wins
    * over stale cached roots. */
  private[graft] def syncStore(catalog: String,
                                dir: java.io.File): Unit = this.synchronized {
    val p = (catalog, dir.getPath)
    val g = graft.sources.CatalogStore.gen(dir)
    if (storeGens.getOrDefault(p, -1L) == g) return
    val (g2, m) = graft.sources.CatalogStore.load(dir)
    // the store keeps `db.t`; the catalog prefix is added only here
    val loaded = m.map { case (k, v) => key(catalog, k) -> v }
    (storeOwned.getOrDefault(p, Set.empty) -- loaded.keySet)
      .foreach(registry.remove)
    loaded.foreach { case (k, v) => registry.put(k, v) }
    storeOwned.put(p, loaded.keySet)
    storeGens.put(p, g2)
    ()
  }

  /** Forget every cached binding and sync watermark — the
    * fresh-JVM simulation seam (the next resolution reloads from the
    * durable store) and the ops "REFRESH CATALOG" surface. */
  def resetCache(): Unit = this.synchronized {
    registry.clear()
    storeGens.clear()
    storeOwned.clear()
  }

  /** `file:` URI → local path, anything else verbatim — the ONE
    * normalizer between Spark-normalized LOCATIONs and the engine's
    * java.io roots (CREATE TABLE, CTAS staging, the streaming sink's
    * `path` option all route here; java.io.File would treat "file:/x"
    * as a relative path and staging would vanish). */
  private[graft] def localPath(loc: String): String =
    try {
      val u = new java.net.URI(loc)
      if (u.getScheme == "file") java.nio.file.Paths.get(u).toString
      else loc
    } catch { case _: Exception => loc }

  private def name(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".").toLowerCase

  /** The registry key of `catalog`'s binding of `name` (`db.t`). */
  private def key(catalog: String, name: String): String =
    s"$catalog.${name.toLowerCase}"

  /** Install the catalog in the session without registering a table —
    * what a CREATE TABLE-first workflow needs (catalog instances are
    * constructed lazily by Spark on first reference; setting the conf
    * at runtime is the supported path). */
  def install(spark: org.apache.spark.sql.SparkSession,
              catalog: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog",
      classOf[GraftCatalog].getName)
    ()
  }

  /** Register `catalog.db.table` → a VersionedTable root and install
    * the catalog in the session. */
  def register(spark: org.apache.spark.sql.SparkSession, db: String,
               table: String, root: String,
               catalog: String = "graft"): Unit = {
    require(db.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      table.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"db and table must be bare identifiers, got '$db'.'$table'")
    install(spark, catalog)
    registry.put(key(catalog, s"$db.$table"), root)
    ()
  }

  def unregister(db: String, table: String, catalog: String = "graft"): Unit = {
    registry.remove(key(catalog, s"$db.$table"))
    ()
  }

  /** V1 source Filter → Column, total over the filters Spark's own
    * translator emits (anything it can't express never reaches the
    * sink as a Filter). None = untranslatable (a nested V2 reference
    * this engine doesn't model) → `canDeleteWhere` refuses and Spark
    * surfaces the clean "cannot delete" error instead of a wrong
    * delete. */
  private[graft] def filterColumn(
      f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case Not(c) => filterColumn(c).map(not)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

/** One pinned (or latest) snapshot as a DSv2 [[Table]]: schema from
  * the version's cached sidecar, partition columns surfaced as
  * identity transforms, `newScanBuilder` = Spark's
  * `ParquetScanBuilder` over the manifest-pruning index — DSv2 pushes
  * its filters into `listFiles` exactly as the V1 scan does — and
  * `newWriteBuilder` = a [[V1Write]] landing on the engine's own
  * writers (append / overwrite, partition-layout-aware), so
  * `INSERT INTO graft.db.t` and `INSERT OVERWRITE` get the same
  * atomic manifest commits, default stats, and optimistic retry as
  * the Scala API. Version-pinned tables are read-only (time travel). */
private[graft] class GraftTableV2(ident: String, root: String,
                                  version: Option[Long],
                                  catalogName: String = "graft")
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // -------------------------------------------------------------
  // SHOW PARTITIONS (SupportsPartitionManagement, read-only subset):
  // partition identifiers parse from the MANIFEST's file paths —
  // metadata-only at any table size, exactly the pruning index's
  // information. Mutation verbs refuse: partitions exist exactly when
  // data in them exists (the Hive-layout writers own that).
  // -------------------------------------------------------------

  override def partitionSchema(): StructType = partSchema

  override def listPartitionIdentifiers(
      names: Array[String],
      partIdent: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.unsafe.types.UTF8String
    val ps = partitionSchema()
    require(names.length == partIdent.numFields,
      "names and partIdent must have the same length")
    val wanted = names.map(ps.fieldIndex)
    def valueOf(i: Int, raw: String): Any = {
      val s = ExternalCatalogUtils.unescapePathName(raw)
      if (s == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else ps.fields(i).dataType match {
        case org.apache.spark.sql.types.StringType => UTF8String.fromString(s)
        case org.apache.spark.sql.types.LongType => s.toLong
        case org.apache.spark.sql.types.IntegerType => s.toInt
        case org.apache.spark.sql.types.ShortType => s.toShort
        case org.apache.spark.sql.types.ByteType => s.toByte
        case dt => sys.error(s"unsupported partition type $dt")
      }
    }
    val tuples = idx.inputFiles.toSeq.flatMap { p =>
      val segs = p.split('/')
      val vals = ps.fields.zipWithIndex.map { case (f, i) =>
        segs.collectFirst {
          case seg if seg.startsWith(f.name + "=") =>
            valueOf(i, seg.substring(f.name.length + 1))
        }
      }
      if (vals.forall(_.isDefined)) Some(vals.map(_.get).toSeq) else None
    }.distinct
    tuples.filter { t =>
      wanted.zipWithIndex.forall { case (fieldIdx, j) =>
        val want = partIdent.get(j, ps.fields(fieldIdx).dataType)
        val got = t(fieldIdx)
        (want == null && got == null) || (want != null && want == got)
      }
    }.map(t =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        t.toArray)).toArray
  }

  override def createPartition(
      partIdent: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions exist exactly when data in them exists — " +
        "INSERT rows instead")

  override def dropPartition(
      partIdent: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "drop partitions by DELETE FROM t WHERE <partition predicate>")

  override def replacePartitionMetadata(
      partIdent: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no metadata")

  override def loadPartitionMetadata(
      partIdent: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = java.util.Collections.emptyMap()

  /** STREAMING writes (`df.writeStream.format("graft-table")
    * .toTable("graft.db.t")`): Spark's V1 fallback routes the table's
    * provider + location into [[GraftStreamProvider.createSink]] —
    * every micro-batch becomes one exactly-once txn-stamped append
    * commit. Batch reads/writes never consult this. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(version.isEmpty,
      s"$ident is a pinned time-travel snapshot: read-only")
    val parts = ident.split('.')
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last, parts.dropRight(1).lastOption, Some(catalogName)),
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(locationUri = Some(new java.io.File(root).toURI)),
      schema = schema(),
      provider = Some("graft-table"))
  }

  private lazy val (idx, dataSchema, partSchema, logicalSchema) =
    GraftScan.indexFor(classic.SparkSession.active, root, version)

  /** A RENAME COLUMN left logical names diverging from the physical
    * storage names — reads must project through the mapping. */
  private def mapped: Boolean =
    !dataSchema.fieldNames.sameElements(logicalSchema.fieldNames)

  override def name(): String = ident

  /** Declared column DEFAULTs, resolved ONCE per table instance:
    * Spark calls [[schema]] repeatedly during analysis, and a sidecar
    * read (worst case a declaration walk) per call is pure waste.
    * Pinned time-travel snapshots skip the lookup entirely — they are
    * read-only (no INSERT fill to serve) and the latest version's
    * defaults would be WRONG for them anyway. */
  private lazy val colDefaults: Map[String, String] =
    if (version.isDefined) Map.empty
    else VersionedTable.columnDefaults(root)

  override def schema(): StructType = {
    // re-attach declared column DEFAULTs (the plan-side schemas are
    // deliberately metadata-stripped): structTypeToV2Columns turns
    // CURRENT_DEFAULT into the V2 column default, which is how the
    // analyzer fills INSERT column-lists for this table
    val base = StructType(logicalSchema.fields ++ partSchema.fields)
    val defaults = colDefaults
    if (defaults.isEmpty) base
    else StructType(base.fields.map { f =>
      defaults.get(f.name.toLowerCase) match {
        case Some(d) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(VersionedTable.CurrentDefaultKey, d)
            .putString(VersionedTable.ExistsDefaultKey, "NULL").build())
        case None => f
      }
    })
  }

  override def partitioning(): Array[Transform] =
    partSchema.fieldNames.map(Expressions.identity(_): Transform)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** Unmapped tables (the common case) plan straight onto Spark's
    * vectorized `ParquetScanBuilder` over the pruning index. MAPPED
    * snapshots route through a [[V1Scan]] fallback wrapping the
    * engine's own mapped scan — pushed filters (logical names) land
    * INSIDE that scan, where Catalyst rewrites them through the
    * rename aliases onto the physical attributes, so manifest pruning
    * holds on both surfaces. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (!mapped)
      ParquetScanBuilder(classic.SparkSession.active, idx, schema(),
        dataSchema, options)
    else new GraftMappedScanBuilder(root, version, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"$ident is a pinned time-travel snapshot: read-only")
    new GraftWriteBuilder(root, partSchema.fieldNames.toSeq)
  }

  /** `DELETE FROM graft.db.t WHERE <condition>` through Spark's own
    * planner (the SupportsDelete route): the condition arrives as V1
    * source Filters — exactly when it is a source-translatable
    * predicate — and lands on [[VersionedTable.delete]]'s file-pruned
    * copy-on-write path. A condition Spark cannot translate (an
    * arithmetic predicate, a UDF) fails its DELETE loudly; route those
    * through [[graft.sources.GraftSql]], which parses the full
    * predicate text. No WHERE → empty filter array → full-table
    * delete (the table stays readable via its schema sidecar). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftCatalog.filterColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(version.isEmpty,
      s"$ident is a pinned time-travel snapshot: read-only")
    // the invariant is LOCAL, not delegated to the caller's
    // canDeleteWhere discipline: silently dropping an untranslatable
    // conjunct would delete a SUPERSET of the requested rows
    val cols = filters.toSeq.map(f => f -> GraftCatalog.filterColumn(f))
    val bad = cols.collect { case (f, None) => f }
    require(bad.isEmpty,
      s"untranslatable DELETE filters: ${bad.mkString(", ")} — " +
        "route the statement through GraftSql")
    val cond = cols.flatMap(_._2).reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    VersionedTable.delete(classic.SparkSession.active, root, cond)
    ()
  }
}

/** A staged (CTAS/RTAS) table: the underlying [[GraftTableV2]] plus
  * the commit/abort callbacks the staging catalog wired. REPLACE
  * tables force their V1 write into OVERWRITE mode (Spark writes a
  * staged table as if it were new — the engine expresses that as one
  * overwrite commit into the same root). */
private[graft] final class GraftStagedTable(
    ident: String, root: String, partCols: Seq[String],
    declared: StructType, overwriteOnWrite: Boolean,
    onCommit: () => Unit, onAbort: Long => Unit)
    extends GraftTableV2(ident, root, None)
    with org.apache.spark.sql.connector.catalog.StagedTable {

  /** The REQUESTED schema, not the root's current one: Spark aligns
    * the CTAS/RTAS query output against the staged table's reported
    * schema — a REPLACE reporting the pre-replace schema would make
    * Spark rename the new columns positionally onto the old names. */
  override def schema(): StructType = declared

  /** The exact version this staged table's write committed (-1 until
    * it lands) — the abort's restore target guard. */
  private[graft] val writeCommittedV =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val b = new GraftWriteBuilder(root, partCols, writeCommittedV)
    if (overwriteOnWrite) b.truncate()
    b
  }

  override def commitStagedChanges(): Unit = onCommit()

  override def abortStagedChanges(): Unit = onAbort(writeCommittedV.get())
}

/** DSv2 ScanBuilder for COLUMN-MAPPED snapshots: captures pushed
  * filters and the pruned projection, then builds a [[V1Scan]] whose
  * relation applies them on the engine's mapped scan
  * ([[GraftScan.scan]] — physical parquet read + logical projection).
  * Filters are applied EXACTLY (only source-translatable ones are
  * claimed), so returning the untranslatable residue is the whole
  * re-evaluation story. Top-level class — no outer pointers for the
  * V1 fallback to trip on. */
private[graft] final class GraftMappedScanBuilder(
    root: String, version: Option[Long], full: StructType)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (ok, residual) =
      filters.partition(f => GraftCatalog.filterColumn(f).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    ()
  }

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new GraftMappedV1Scan(root, version, required, pushed)
}

private[graft] final class GraftMappedV1Scan(
    root: String, version: Option[Long], required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends org.apache.spark.sql.connector.read.V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        import org.apache.spark.sql.functions.col
        // the engine's mapped scan: raw snapshot (pinned or latest —
        // the catalog's loadTable already refused pending MOR), with
        // the claimed filters applied inside it so Catalyst pushes
        // them through the rename aliases into the manifest index
        var df = GraftScan.scan(context.sparkSession, root, version)
        pushed.flatMap(GraftCatalog.filterColumn)
          .foreach(c => df = df.filter(c))
        df.select(required.fieldNames.toSeq.map(col): _*).rdd
      }
    }.asInstanceOf[T]
}

/** Append by default; `truncate()` (Spark's INSERT OVERWRITE route)
  * flips to a full overwrite. Top-level classes on purpose — no outer
  * pointers for the V1 fallback writer to trip on. */
private[graft] final class GraftWriteBuilder(
    root: String, partCols: Seq[String],
    committed: java.util.concurrent.atomic.AtomicLong = null)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write =
    new GraftV1Write(root, partCols, overwrite, committed)
}

private[graft] final class GraftV1Write(
    root: String, partCols: Seq[String], overwrite: Boolean,
    committed: java.util.concurrent.atomic.AtomicLong) extends V1Write {
  override def toInsertableRelation: InsertableRelation =
    new GraftInsertableRelation(root, partCols, overwrite, committed)
}

/** The engine's own writers behind the DSv2 V1 fallback: atomic
  * manifest commits, default stats (partition columns excluded), Hive
  * layout preserved for partitioned tables. `committed` (nullable —
  * only the staged RTAS path wires it) receives the exact version this
  * write landed, so the staging catalog's abort can restore PRECISELY
  * that commit and never revert an unrelated concurrent writer's
  * version. */
private[graft] final class GraftInsertableRelation(
    root: String, partCols: Seq[String], overwrite: Boolean,
    committed: java.util.concurrent.atomic.AtomicLong)
    extends InsertableRelation {

  override def insert(data: DataFrame, ow: Boolean): Unit = {
    val full = overwrite || ow
    // an append takes the table's own partitioning from its sidecar
    val v =
      if (full) VersionedTable.overwrite(data, root,
        VersionedTable.Write(partitionBy = partCols))
      else VersionedTable.append(data, root)
    if (committed != null) committed.set(v)
    ()
  }
}
