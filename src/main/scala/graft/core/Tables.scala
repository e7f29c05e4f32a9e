package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All engine queries take the
  * table directory as a parameter so the same code runs at any scale
  * factor (sf0.001 smoke → sf0.1 bench → production lake paths).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) — read
      // as raw int64, since `GraftSession.tune` sets nanosAsLong — and
      // plain TIMESTAMP(MICROS) (ntz). Branch on the footer schema:
      // nanos arrive as LongType (integer-divided to micros; a double
      // division would lose precision at ns scale), micros arrive as
      // timestamp_ntz and are reinterpreted in the UTC session zone.
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view (SURVEY.md §2.1 S11). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
