package graft.operators

import graft.SparkSuite
import graft.core.Metrics

/** Both key generators must produce exactly {offset+1 … offset+n},
  * each id once (SURVEY.md §7.4 "Surrogate-key protocol"). */
class KeyGenSpec extends SparkSuite {

  private def input = {
    import spark.implicits._
    (1 to 1000).map(i => (s"row$i", i % 7)).toDF("name", "grp").repartition(8)
  }

  for ((gen, label) <- Seq(
      (GlobalRowNumberKeyGen, "GlobalRowNumberKeyGen"),
      (PartitionOffsetKeyGen, "PartitionOffsetKeyGen"))) {
    test(s"$label assigns dense unique keys continuing from offset") {
      val out = gen.assign(input, "k", offset = 500)
      val keys = out.select("k").collect().map(_.getInt(0)).sorted
      assert(keys.toSeq == (501 to 1500))
      assert(out.columns.toSeq == Seq("name", "grp", "k"))
    }
  }

  test("a new offset compiles no classes and numbers rows as a literal " +
    "offset does") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def keyed(offset: Long) =
      GlobalRowNumberKeyGen.assign(input, "k", offset)
        .collect().map(r => (r.getString(0), r.getInt(2))).toSet
    keyed(500) // compiles this plan's classes once
    val (got, run) = Metrics.measure(spark)(keyed(9000))
    assert(run.codegenCompiles == 0, run)
    val literal = input.withColumn("__tmp_id", monotonically_increasing_id())
      .withColumn("k", (row_number().over(Window.orderBy(col("__tmp_id"))) +
        lit(9000L)).cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(3))).toSet
    assert(got == literal)
    assert(got.map(_._2) == (9001 to 10000).toSet)
  }

  test("PartitionOffsetKeyGen avoids a global single-partition sort") {
    val plan = PartitionOffsetKeyGen.assign(input, "k", 0)
      .queryExecution.executedPlan.toString
    // the window must be partitioned (by __pid), not global
    assert(plan.contains("windowspecdefinition(__pid"))
  }
}
