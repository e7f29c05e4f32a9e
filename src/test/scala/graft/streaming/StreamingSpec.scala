package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables
import graft.streaming.StreamingJobs.Event

class StreamingSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Every code line of src/main (comment lines dropped) as
    * (file, nearest enclosing def, line). */
  private lazy val mainCode: Seq[(String, String, String)] = {
    // `<project>/target/scala-x/classes` holds the engine's classes
    val classes = Paths.get(StreamingJobs.getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI)
    val src = classes.getParent.getParent.getParent.resolve("src/main/scala")
    assert(Files.isDirectory(src), s"no sources at $src")
    val Def = """.*\bdef\s+(\w+).*""".r
    Files.walk(src).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap { p =>
        var enclosing = ""
        Files.readAllLines(p).asScala.toSeq.flatMap { line =>
          val t = line.trim
          if (t.isEmpty || t.startsWith("//") || t.startsWith("*") ||
              t.startsWith("/*")) None
          else {
            line match { case Def(d) => enclosing = d; case _ => }
            Some((p.getFileName.toString, enclosing, line))
          }
        }
      }
  }

  private def sitesOf(needle: String): Seq[String] =
    mainCode.collect { case (f, d, l) if l.contains(needle) => s"$f:$d" }

  test("the bounded-run policy is written once, in StreamingJobs' helpers") {
    assert(sitesOf("processAllAvailable(") == Seq("StreamingJobs.scala:drain"))
    assert(sitesOf("format(\"memory\")") ==
      Seq("StreamingJobs.scala:drainToMemory"))
    assert(sitesOf("\"maxFilesPerTrigger\", 1") ==
      Seq("StreamingJobs.scala:readDrops"))
  }

  test(".unpersist( is called only where it frees blocks: Dedup.release, " +
    "Bench.dropAllBlocks and ScaleProbe") {
    // Dataset.unpersist frees nothing on a localCheckpoint'ed frame
    assert(sitesOf(".unpersist(").filterNot(_.startsWith("ScaleProbe.scala:"))
      .toSet == Set("Dedup.scala:release", "Bench.scala:dropAllBlocks"))
  }

  test("a batch that throws fails the caller and leaves no query running") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_drain_fail").resolve("in").toString
    Seq((1L, "view", 1.0)).toDF("event_id", "event_type", "value")
      .coalesce(1).write.parquet(in)
    val root = Files.createTempDirectory("graft_drain_fail_t").toString
    val gates = Seq("boom" ->
      (count(lit(1)) > 0 && raise_error(lit("gate blew up")).isNull))
    val e = intercept[Exception] {
      StreamingJobs.runExpectOrQuarantineAvailableNow(spark, in,
        s"$root/main", s"$root/quar", gates)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("gate blew up"))), e)
    assert(spark.streams.active.isEmpty)
  }

  test("a memory-sink run stays registered as a temp view under its " +
    "query name (q171)") {
    val out = graft.SparkEntry.queries("q171_changes_stream")(spark, sf)
    val views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name)
    assert(views.contains("graft_changes_stream"))
    assert(spark.table("graft_changes_stream").count() == out.count())
    assert(out.count() > 0)
  }

  test("AvailableNow hourly agg equals the batch aggregation") {
    val streamed = StreamingJobs
      .runHourlyAvailableNow(spark, sf, "graft_test_hourly")
      .collect().map(_.toSeq).toSet
    val batch = Tables(spark, sf, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
        .as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer stream-stream join: unmatched views emit null rows " +
    "after eviction; equals the batch left interval join; replay no-op") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ssj_spec").resolve("t").toString
    val got = StreamingJobs
      .runStreamStreamLeftOuterAvailableNow(spark, sf, root)
      .collect().map(_.toSeq).toSet
    val v = Tables(spark, sf, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val p = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val batch = v.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.exists(r => r(2) == null), "null-emission rows must exist")
    assert(got.exists(r => r(2) != null), "matched rows must exist")
    // replay: same checkpoint, no new source files → txn-stamped sink
    // appends nothing and the table version stands
    val vBefore = graft.sources.VersionedTable.latestVersion(root).get
    StreamingJobs.runStreamStreamLeftOuterAvailableNow(spark, sf, root)
    assert(graft.sources.VersionedTable.latestVersion(root).get == vBefore)
  }

  test("the sessionize and left-outer join doors delete their sentinel " +
    "directories") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def sentinelDirs(): Set[String] = tmp.list().toSet.filter(n =>
      n.startsWith("graft_sessionize_sentinels") ||
        n.startsWith("graft_ssj_sentinels"))
    val before = sentinelDirs()
    assert(StreamingJobs.runSessionizeAvailableNow(spark, sf,
      "graft_test_sentinel_cleanup").count() > 0)
    assert(sentinelDirs() == before)
    val root = Files.createTempDirectory("graft_ssj_cleanup")
      .resolve("t").toString
    assert(StreamingJobs.runStreamStreamLeftOuterAvailableNow(spark, sf, root)
      .count() > 0)
    assert(sentinelDirs() == before)
  }

  test("flatMapGroups sessionization equals the window-function formulation") {
    import spark.implicits._
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val stateful = StreamingJobs.sessionizeBatchComplete(events, gapMinutes = 30)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    val windowed = BatchSessionize.sessions(Tables(spark, sf, "events"), 30)
      .collect().map(_.toSeq).toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }

  test("flatMapGroupsWithState emits closed sessions in a streaming query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val t0 = 1700000000000L
    mem.addData(
      Event(1, new Timestamp(t0), 1L, "click", 1.0),
      Event(2, new Timestamp(t0 + 60000), 1L, "click", 1.0),
      // 2h gap closes the first session
      Event(3, new Timestamp(t0 + 7200000), 1L, "click", 1.0))
    val q = StreamingJobs.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_test_sessions")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val closed = spark.table("graft_test_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    // one closed session (2 events); the open one stays in state
    assert(closed == Seq((1L, 2L)))
  }

  test("streaming as-of enrichment equals the batch as-of join") {
    val sf = "/root/testdata/sf0.001"
    val got = StreamingJobs.runAsOfEnrichAvailableNow(spark, sf, "graft_test_asof")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    val ev = Tables(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
    val want = graft.operators.AsOfJoin.asOf(clicks, purchases, "user_id", "ts")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(got.nonEmpty && got == want)
  }

  test("streaming as-of: state advances by event time, late purchases never regress it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingJobs.Event]
    val t0 = 1700000000000L
    def run(): Map[Long, Any] = {
      val q = StreamingJobs.asOfEnrich(mem.toDS())
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("graft_test_asof_mem")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      spark.table("graft_test_asof_mem").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    }
    // batch 1: purchase@10, tie-click@10 (sees it), click@20
    mem.addData(
      StreamingJobs.Event(1, new Timestamp(t0 + 10000), 1L, "purchase", 5.0),
      StreamingJobs.Event(2, new Timestamp(t0 + 10000), 1L, "click", 0.0),
      StreamingJobs.Event(3, new Timestamp(t0 + 20000), 1L, "click", 0.0))
    val out1 = run()
    assert(out1 == Map(2L -> 5.0, 3L -> 5.0))
    // batch 2: an out-of-order purchase OLDER than the state must not
    // regress it; a newer one advances it
    mem.addData(
      StreamingJobs.Event(4, new Timestamp(t0 + 5000), 1L, "purchase", 1.0),
      StreamingJobs.Event(5, new Timestamp(t0 + 30000), 1L, "click", 0.0),
      StreamingJobs.Event(6, new Timestamp(t0 + 40000), 1L, "purchase", 9.0),
      StreamingJobs.Event(7, new Timestamp(t0 + 50000), 1L, "click", 0.0))
    val out2 = run()
    assert(out2.get(5L).contains(5.0), s"late purchase regressed state: $out2")
    assert(out2.get(7L).contains(9.0))
  }

  test("streaming ingest dedups each batch against the accumulated corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val docsDir = s"$root/incoming"
    new java.io.File(docsDir).mkdirs()
    // 35-token base text: a 1-token edit keeps 3-gram Jaccard ≈ 0.83 ≥ 0.8
    val base = (1 to 34).map(i => s"w$i").mkString(" ")
    val other = (1 to 34).map(i => s"x$i").mkString(" ")
    def drop(dir: String, name: String, mtime: Long,
             rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/stage_$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime) // file-source batch order = mtime order
    }
    val t0 = System.currentTimeMillis() - 60000
    drop(docsDir, "f1", t0, Seq(
      1L -> (base + " ending"), 2L -> other,
      3L -> (base + " ending"))) // in-batch exact dup of doc 1
    drop(docsDir, "f2", t0 + 5000, Seq(
      10L -> other, // exact dup of corpus doc 2
      11L -> (base + " changed"), // near-dup of corpus doc 1 (J ≈ 0.86)
      12L -> (1 to 34).map(i => s"z$i").mkString(" "))) // genuinely new
    // f3: two docs that are near-dups OF EACH OTHER but of nothing in
    // the corpus — the within-batch near-dup pass must keep only the
    // min doc_id; without it both commit permanently
    val fresh = (1 to 34).map(i => s"v$i").mkString(" ")
    drop(docsDir, "f3", t0 + 10000, Seq(
      20L -> (fresh + " alpha"), 21L -> (fresh + " beta")))
    val corpusRoot = s"$root/corpus"
    val indexRoot = s"$root/index"
    val out = StreamingJobs.runIngestDedupAvailableNow(
      spark, docsDir, corpusRoot, indexRoot, threshold = 0.8)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 12L, 20L))
    // one atomic version per non-empty batch: v0={1,2}, v1=+{12}, v2=+{20}
    assert(graft.sources.VersionedTable.versions(corpusRoot) == Seq(0L, 1L, 2L))
    assert(graft.sources.VersionedTable.readVersion(spark, corpusRoot, 0)
      .count() == 2)
    // the persisted door indexes advanced in step with the corpus: one
    // bands version and one digest version per surviving batch, and the
    // digest table holds exactly the four admitted docs' digests
    assert(graft.sources.VersionedTable.versions(s"$indexRoot/bands")
      == Seq(0L, 1L, 2L))
    assert(graft.sources.VersionedTable
      .read(spark, s"$indexRoot/digests").count() == 4)
  }

  test("atomic publish: an all-empty input neither crashes nor publishes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pub0").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    // zero-row events file with the full schema: the stream fires an
    // empty micro-batch against a not-yet-bootstrapped facts table —
    // the door must not crash on the version-less tables
    val tmp = s"$root/stage"
    Seq.empty[(Long, String, Double, java.sql.Timestamp)]
      .toDF("event_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath)
    val grp = s"$root/grp"
    val out = graft.streaming.StreamingJobs
      .runAtomicPublishAvailableNow(spark, dir, grp)
    assert(out.count() == 0)
    assert(graft.sources.SnapshotGroup.current(grp).isEmpty,
      "nothing must publish for an all-empty input")
    assert(graft.sources.VersionedTable
      .latestVersion(new java.io.File(grp, "facts").getPath).isEmpty,
      "an empty batch must not bootstrap a version-less facts table")
  }

  test("streaming ingest: empty first file commits nothing, corpus still works") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest0").toString
    val docsDir = s"$root/incoming"
    new java.io.File(docsDir).mkdirs()
    def drop(name: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/stage_$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(docsDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    // a zero-row first file: committing it would write a v0 manifest
    // referencing no parquet files, breaking every later read
    drop("f0", t0, Seq.empty[(Long, String)])
    drop("f1", t0 + 5000, Seq(
      1L -> (1 to 34).map(i => s"w$i").mkString(" ")))
    val corpusRoot = s"$root/corpus"
    val out = StreamingJobs.runIngestDedupAvailableNow(
      spark, docsDir, corpusRoot, s"$root/index", threshold = 0.8)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // exactly one committed version — the empty batch left no v0
    assert(graft.sources.VersionedTable.versions(corpusRoot) == Seq(0L))
  }

  test("streaming span-strip ingest: corpus-known spans removed at the door, index accumulates") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_spaningest").toString
    val docsDir = s"$root/incoming"
    new java.io.File(docsDir).mkdirs()
    def drop(name: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/stage_$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(docsDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one 8-token span
    drop("f1", t0, Seq(1L -> s"intro $boiler outro"))
    // f2: doc 10 repeats f1's boilerplate around NOVEL text; doc 11 is
    // nothing but corpus-known text -> stripped empty -> dropped
    val novel = (1 to 8).map(i => s"n$i").mkString(" ")
    drop("f2", t0 + 5000, Seq(
      10L -> s"$boiler $novel",
      11L -> boiler))
    // f3: repeats doc 10's NOVEL run -> stripped because the index
    // accumulated the f2 batch's post-strip spans
    drop("f3", t0 + 10000, Seq(20L -> s"$novel tail words here"))
    val out = StreamingJobs.runSpanStripIngestAvailableNow(
      spark, docsDir, s"$root/corpus", s"$root/index")
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == s"intro $boiler outro") // seed batch intact
    assert(got(10L) == novel) // boilerplate stripped, novel text kept
    assert(!got.contains(11L)) // fully corpus-known -> dropped
    assert(got(20L) == "tail words here") // f2's novel run now indexed
    assert(got.size == 3)
    // one version per surviving batch
    assert(graft.sources.VersionedTable.versions(s"$root/corpus")
      == Seq(0L, 1L, 2L))
  }
}
