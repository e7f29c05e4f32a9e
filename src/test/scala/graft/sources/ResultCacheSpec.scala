package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class ResultCacheSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).resolve("t").toString

  test("hit serves from the cache dir — the source is not in the scan") {
    val src = tmp("graft_rc_src"); val cache = tmp("graft_rc_cache")
    VersionedTable.overwrite(
      Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "x"), src)
    def agg = VersionedTable.read(spark, src)
      .groupBy(col("k")).agg(sum(col("x")).as("sx"))
    val deps = ResultCache.depsOf(src)
    val first = ResultCache.through(agg, cache, deps)
    assert(first.as[(String, Long)].collect().toSet ==
      Set(("a", 3L), ("b", 5L)))
    // second call: every scanned file lives under the CACHE root
    val hit = ResultCache.through(agg, cache, deps)
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.forall(_.contains(cache)),
      hit.inputFiles.mkString(", "))
    assert(hit.as[(String, Long)].collect().toSet ==
      Set(("a", 3L), ("b", 5L)))
    // exactly one cache entry was materialized
    assert(new java.io.File(cache).listFiles().count(_.isDirectory) == 1)
  }

  test("a source commit changes the fingerprint: fresh entry, fresh answer") {
    val src = tmp("graft_rc_src2"); val cache = tmp("graft_rc_cache2")
    VersionedTable.overwrite(Seq(("a", 1L)).toDF("k", "x"), src)
    def agg = VersionedTable.read(spark, src)
      .groupBy(col("k")).agg(sum(col("x")).as("sx"))
    ResultCache.through(agg, cache, ResultCache.depsOf(src)).count()
    VersionedTable.append(Seq(("a", 10L)).toDF("k", "x"), src)
    val after = ResultCache.through(agg, cache, ResultCache.depsOf(src))
    assert(after.as[(String, Long)].collect().toSet == Set(("a", 11L)))
    assert(new java.io.File(cache).listFiles().count(_.isDirectory) == 2)
    // semantically-different plans never share an entry
    val other = ResultCache.through(
      VersionedTable.read(spark, src).groupBy(col("k"))
        .agg(count(lit(1)).as("sx")),
      cache, ResultCache.depsOf(src))
    assert(other.as[(String, Long)].collect().toSet == Set(("a", 2L)))
  }

  test("timestamp time travel: manifest mtimes resolve a wall-clock snapshot") {
    val root = tmp("graft_asof")
    VersionedTable.overwrite(Seq((1L, "a")).toDF("k", "v"), root)
    Thread.sleep(1100) // manifest mtime granularity is a full second
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(VersionedTable.versionAsOf(root, between).contains(0L))
    def readAsOf(ts: Long) =
      VersionedTable.readVersion(spark, root, VersionedTable.versionAsOf(root, ts).get)
    assert(readAsOf(between).count() == 1)
    assert(readAsOf(System.currentTimeMillis()).count() == 2)
    assert(VersionedTable.versionAsOf(root, 0L).isEmpty)
  }
}
