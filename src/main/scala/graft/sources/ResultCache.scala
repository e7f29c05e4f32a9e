package graft.sources

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** RESULT-SET CACHE — the Snowflake/BigQuery serving-layer role: a
  * query's materialized result is stored under a key derived from its
  * CANONICALIZED logical plan plus an explicit dependency fingerprint,
  * and an identical later query serves from the stored parquet without
  * touching the source tables.
  *
  * Correctness rests on the key, not on trust:
  *  - the plan digest uses Catalyst's `canonicalized` form, so
  *    alias/attribute-id/ordering-irrelevant rewrites of the same
  *    query share an entry while any semantic change misses;
  *  - table freshness is the CALLER-visible part of the key:
  *    [[depsOf]] folds each source's
  *    [[VersionedTable.latestVersion]] into the fingerprint, so a
  *    commit to any dependency changes the key and the stale entry is
  *    simply never addressed again (no invalidation protocol, no
  *    TTLs — version-addressed storage).
  *
  * The cache stores ROWS; output ordering is a serve-time concern
  * (re-sort after [[through]] if the consumer needs one — exactly the
  * warehouse contract). Single writer per cache root; concurrent
  * identical misses would write the same bytes to the same key.
  * Scale: a hit costs O(result) read; the win grows with the gap
  * between result size and scan size, which is the dashboard /
  * repeated-aggregate shape.
  */
object ResultCache {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Dependency fingerprint: each root pinned at its current latest
    * version. Compute it right before [[through]] — the pair is the
    * cache key's freshness half. */
  def depsOf(roots: String*): String =
    roots.map(r =>
      s"$r@${VersionedTable.latestVersion(r).getOrElse(-1L)}").mkString(",")

  /** Serve `df`'s result through the cache at `cacheRoot`: on miss,
    * materialize to parquet under the (plan, deps) key; on hit, read
    * the stored result — the source is not scanned. */
  def through(df: DataFrame, cacheRoot: String, deps: String): DataFrame = {
    val spark = df.sparkSession
    val key = md5hex(
      df.queryExecution.analyzed.canonicalized.toString + "\n" + deps)
    val dir = new File(cacheRoot, key)
    if (!new File(dir, "_SUCCESS").exists())
      df.write.mode("overwrite").parquet(dir.getPath)
    Lake.read(spark, dir.getPath)
  }
}
