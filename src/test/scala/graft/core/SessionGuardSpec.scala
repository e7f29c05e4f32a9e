package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** `GraftSession` is the only code that builds or sets up a session:
  * one `SparkSession.builder` (in `GraftSession.local`), function
  * registration only through `GraftSession.tune`, and four CLI mains.
  * A profiler main with its own session, or an operator that
  * re-registers functions per call, fails here. */
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
}
