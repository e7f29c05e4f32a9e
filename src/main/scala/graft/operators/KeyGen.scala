package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Surrogate-key assignment: append `keyCol` = offset+1 … offset+n over
  * the DataFrame's rows (the reference's max-key continuation protocol,
  * to_silver.py:106,130-132).
  */
trait KeyGen {
  def assign(df: DataFrame, keyCol: String, offset: Long): DataFrame
}

object KeyGen {

  /** `offset` as a column that generated code does not inline. Codegen
    * compiles a literal into the class body, so every new offset (each
    * day of the daily job) would compile classes no earlier day
    * produced; a deterministic zero-argument UDF is passed to the class
    * as a reference, so one class serves every offset. */
  private[operators] def offsetCol(offset: Long): Column =
    udf(() => offset).asNonNullable()()
}

/** Reference-parity implementation: `monotonically_increasing_id` then
  * `row_number` over a single global window (to_silver.py:130-132).
  *
  * The global (unpartitioned) window funnels every row through ONE task
  * — correct but non-scalable; use only for small daily batches or when
  * bit-exact reference numbering is required (SURVEY.md §2.5 W1).
  */
object GlobalRowNumberKeyGen extends KeyGen {
  override def assign(df: DataFrame, keyCol: String, offset: Long): DataFrame =
    df.withColumn("__tmp_id", monotonically_increasing_id())
      .withColumn(keyCol,
        (row_number().over(Window.orderBy(col("__tmp_id"))) +
          KeyGen.offsetCol(offset))
          .cast(IntegerType))
      .drop("__tmp_id")
}

/** Scale-path implementation: dense ids without a global single-task
  * sort. Two passes:
  *   1. count rows per input partition (tiny result: one row per
  *      partition, broadcast back);
  *   2. row_number *within* each partition + the partition's cumulative
  *      offset.
  *
  * The per-partition window parallelizes across partitions and is
  * skew-free by construction (partitions are input-sized). Same id set
  * {offset+1 … offset+n} as GlobalRowNumberKeyGen, different (but
  * deterministic-per-layout) row→id mapping. Callers that iterate over
  * `df` twice may want to `.persist()` it first — pass 1 and pass 2 each
  * traverse the input.
  */
object PartitionOffsetKeyGen extends KeyGen {
  override def assign(df: DataFrame, keyCol: String, offset: Long): DataFrame = {
    val withPid = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    val counts = withPid.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    val cumw = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__poff", coalesce(sum(col("__cnt")).over(cumw), lit(0L)))
      .select(col("__pid"), col("__poff"))
    withPid
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(keyCol,
        (row_number().over(
          Window.partitionBy(col("__pid")).orderBy(col("__mid")))
          + col("__poff") + KeyGen.offsetCol(offset)).cast(IntegerType))
      .drop("__pid", "__mid", "__poff")
  }
}
