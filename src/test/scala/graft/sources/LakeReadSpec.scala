package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSuite
import graft.core.{Metrics, Tables}

/** `Lake.read` reads the schema Spark's non-merging parquet inference
  * would give from one footer on the driver, so building the frame runs
  * no Spark job; where inference would behave differently it reads
  * through `spark.read.parquet` itself and so reads, or fails, the
  * same. */
class LakeReadSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Lake.read builds `path` with 0 jobs and matches spark.read.parquet
    * in schema and rows; returns the frame. */
  private def matchesSpark(path: String, s: SparkSession = spark): DataFrame = {
    val (df, run) = Metrics.measure(s)(Lake.read(s, path))
    assert(run.jobs == 0, s"$path: $run")
    val plain = s.read.parquet(path)
    assert(df.schema == plain.schema, path)
    assert(rows(df) == rows(plain), path)
    df
  }

  test("flat and Hive-partitioned tables: no job, same schema and rows") {
    import spark.implicits._
    val flat = tmp("graft_lake_flat")
    (1 to 40).map(i => (i, s"n$i", i * 0.5)).toDF("id", "name", "x")
      .repartition(3).write.parquet(flat)
    matchesSpark(flat)
    val part = tmp("graft_lake_part")
    Lake.writePartitioned(
      (1 to 30).map(i => (i, i % 3, s"s${i % 2}")).toDF("id", "g", "s"),
      part, Seq("g", "s"))
    val df = matchesSpark(part)
    assert(df.columns.toSeq == Seq("id", "g", "s"))
  }

  test("a widened append: the first data file in path order decides, " +
    "as in non-merging inference") {
    import spark.implicits._
    val t = tmp("graft_lake_widened")
    (1 to 5).toDF("id").coalesce(1).write.parquet(t)
    (6 to 9).map(i => (i, s"w$i")).toDF("id", "extra").coalesce(1)
      .write.mode("append").parquet(t)
    val files = new File(t).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(files.length == 2)
    val df = matchesSpark(t)
    assert(df.schema == spark.read.parquet(files.head).schema)
  }

  test("the nanos events layout reads as int64 under nanosAsLong; " +
    "Tables builds events with no job") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = Files.createTempDirectory("graft_lake_nanos").toFile
    val schema = MessageTypeParser.parseMessageType(
      """message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
        |required int64 user_id; required binary event_type (STRING);
        |required double value; required binary props (STRING); }""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(new File(dir, "events.parquet").getPath))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try for (i <- 1 to 3)
      w.write(g.newGroup().append("event_id", i.toLong)
        .append("ts", 1709289005123456789L + i).append("user_id", 7L)
        .append("event_type", "click").append("value", 1.5).append("props", "{}"))
    finally w.close()
    val raw = matchesSpark(new File(dir, "events.parquet").getPath)
    assert(raw.schema("ts").dataType == LongType)
    val (events, run) = Metrics.measure(spark)(Tables(spark, dir.getPath, "events"))
    assert(run.jobs == 0, run)
    assert(events.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .toSet == Set(1709289005123456L))
  }

  test("no data file: falls back and fails exactly as spark.read.parquet") {
    val empty = Files.createTempDirectory("graft_lake_empty").toFile
    val successOnly = Files.createTempDirectory("graft_lake_success").toFile
    new File(successOnly, "_SUCCESS").createNewFile()
    val missing = new File(empty, "nope").getPath
    for (p <- Seq(empty.getPath, successOnly.getPath, missing)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Lake.read(spark, p))
      assert(got.getClass == want.getClass, p)
      assert(got.getMessage == want.getMessage, p)
    }
  }

  test("schema merging on: falls back to Spark's merged inference") {
    import spark.implicits._
    val t = tmp("graft_lake_merge")
    (1 to 5).toDF("id").coalesce(1).write.parquet(t)
    (6 to 9).map(i => (i, s"w$i")).toDF("id", "extra").coalesce(1)
      .write.mode("append").parquet(t)
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val (df, run) = Metrics.measure(merging)(Lake.read(merging, t))
    assert(run.jobs > 0, "merged inference runs Spark's own job")
    val plain = merging.read.parquet(t)
    assert(df.schema == plain.schema && df.columns.toSeq == Seq("id", "extra"))
    assert(rows(df) == rows(plain))
  }
}
