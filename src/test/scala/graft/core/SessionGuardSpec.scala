package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSuite}
import graft.operators.{Dedup, SetSimJoin}

/** `GraftSession` is the only code that builds or sets up a session:
  * one `SparkSession.builder` (in `GraftSession.local`), function
  * registration only through `GraftSession.tune`, and four CLI mains.
  * Operators and queries never write the caller's session conf: a
  * `conf.set(` outside set-up code must be on a private session from
  * `newSession()`. A profiler main with its own session, an operator
  * that re-registers functions per call, or one that rewrites a conf
  * around its body fails here. */
class SessionGuardSpec extends SparkSuite {

  /** `<project>/target/scala-x/classes`, where the engine's classes are. */
  private lazy val classesDir: Path =
    Paths.get(GraftSession.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)

  private lazy val mainSources: Seq[(String, String)] = {
    val src = classesDir.getParent.getParent.getParent.resolve("src/main/scala")
    assert(Files.isDirectory(src), s"no sources at $src")
    Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
  }

  private def filesContaining(needle: String): Set[String] =
    mainSources.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("src/main has exactly one SparkSession.builder, in GraftSession.local") {
    val hits = mainSources.flatMap { case (f, text) =>
      "SparkSession\\s*\\.\\s*builder".r.findAllIn(text).map(_ => f)
    }
    assert(hits == Seq("GraftSession.scala"), hits)
  }

  test("functions are registered only by GraftSession.tune") {
    assert(filesContaining("createOrReplaceTempFunction") ==
      Set("GraftFunctions.scala"))
    assert(filesContaining("GraftFunctions.registerAll") == Set("GraftSession.scala"))
  }

  test("the CLI mains are exactly Bench, Verify, ScaleProbe and RecallProbe") {
    val loader = getClass.getClassLoader
    val mains = Files.walk(classesDir).iterator.asScala
      .map(classesDir.relativize(_).toString)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(_.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
      .filter { name =>
        Class.forName(name, false, loader).getMethods.exists { m =>
          m.getName == "main" &&
          java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))
        }
      }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.ScaleProbe",
      "graft.RecallProbe"), mains)
  }

  test("tune is idempotent: a second call changes no strategy, rule, " +
    "function or conf") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def state = (classic.experimental.extraStrategies,
      classic.experimental.extraOptimizations,
      classic.sessionState.functionRegistry.listFunction().map(_.funcName).toSet,
      spark.conf.getAll)
    val before = state
    GraftSession.tune(spark)
    assert(state == before)
    assert(graft.plans.GraftFunctions.names.toSet.subsetOf(before._3))
    assert(before._1 == Seq(graft.plans.AsOfJoinStrategy))
    assert(before._2 == Seq(graft.plans.AsOfJoinFilterPushdown,
      org.apache.spark.sql.graft.GraftScan.CountFromManifest))
    // set from session start, not by the first events read
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  private val sf = "/root/testdata/sf0.001"

  private def lineOf(text: String, pos: Int): Int =
    text.substring(0, pos).count(_ == '\n') + 1

  test("conf.set( appears only in GraftSession, GraftCatalog.install and " +
    "on sessions from newSession()") {
    assert(filesContaining("ShuffleScale").isEmpty)
    val bad = mainSources.flatMap { case (f, text) =>
      "(\\w+)\\.conf\\.set\\(".r.findAllMatchIn(text).filterNot { m =>
        val before = text.substring(0, m.start)
        val recv = java.util.regex.Pattern.quote(m.group(1))
        // the receiver's nearest binding: a val, or a lambda parameter
        lazy val binding = s"\\bval\\s+$recv\\b[^\\n]*|\\(\\s*$recv\\s*,|\\b$recv\\s*=>".r
          .findAllMatchIn(before).toSeq.lastOption.map(_.matched)
        lazy val enclosingDef = "\\bdef\\s+(\\w+)".r.findAllMatchIn(before)
          .toSeq.lastOption.map(_.group(1))
        f == "GraftSession.scala" ||
          (f == "GraftCatalog.scala" && enclosingDef.contains("install")) ||
          binding.exists(_.contains("newSession()"))
      }.map(m => s"$f:${lineOf(text, m.start)}")
    }
    assert(bad.isEmpty, bad)
  }

  test("read.parquet( appears only in Lake.read's fallback and in " +
    "VersionedTable's multi-path reads") {
    // code lines only (comment lines dropped), with their nearest def
    val Def = """.*\bdef\s+(\w+).*""".r
    val hits = mainSources.flatMap { case (f, text) =>
      var enclosing = ""
      text.linesIterator.flatMap { line =>
        val t = line.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) None
        else {
          line match { case Def(d) => enclosing = d; case _ => }
          if (line.contains("read.parquet(")) Some((f, enclosing, t)) else None
        }
      }.toSeq
    }
    assert(hits.count(_._1 == "Lake.scala") == 1, hits)
    val bad = hits.filterNot {
      case ("Lake.scala", "read", _) => true
      case ("VersionedTable.scala", _, t) =>
        "read\\.parquet\\(.*: _\\*\\)".r.findFirstIn(t).isDefined
      case _ => false
    }
    assert(bad.isEmpty, bad)
  }

  test("the six curation queries leave the session's conf and cache as " +
    "they found them") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // start from an empty cache
    val before = spark.conf.getAll
    for (q <- Seq("q119_semantic_dedup_lsh", "q66_dedup_groups",
                  "q223_text_index_bm25", "q139_span_index", "q62_tfidf",
                  "q40_cosine_topk"))
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    assert(spark.conf.getAll == before)
    assert(cache.isEmpty)
  }

  test("q324 installs its durable catalog on a private session, and reruns") {
    val before = spark.conf.getAll
    def run(): Seq[String] = SparkEntry.queries("q324_durable_catalog")(spark, sf)
      .collect().map(_.toString).toSeq.sorted
    val first = run()
    assert(first.nonEmpty && first == run())
    assert(spark.conf.getAll == before)
    assert(!spark.conf.getAll.keySet.exists(_.startsWith("spark.sql.catalog.graftdur")))
  }

  test("CC and the set-similarity join never change the shuffle width " +
    "another thread reads") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val value = spark.conf.get(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var done = false
    val sampler = new Thread(() =>
      while (!done) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    sampler.start()
    try {
      val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      assert(Dedup.minLabelComponents(chain, (0L to 12L).toDF("id"),
        maxIter = 25, bound = 0)
        .select("component").distinct().collect().length == 1)
      val sets = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c", "d")),
        (3L, Seq("x", "y"))).toDF("id", "toks")
      assert(SetSimJoin.jaccardSelfJoin(sets, 0.5).count() == 1)
    } finally { done = true; sampler.join() }
    assert(seen.asScala.toSet == Set(value))
  }

  test("q66 and q84 run from two threads give the serial results") {
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
    val names = Seq("q66_dedup_groups", "q84_incremental_dedup")
    val serial = names.map(rows)
    assert(serial.forall(_.nonEmpty))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val running = names.map(q => pool.submit(() => rows(q)))
      assert(running.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES)) ==
        serial)
    } finally pool.shutdown()
  }
}
