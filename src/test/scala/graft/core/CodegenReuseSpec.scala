package graft.core

import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.SparkSuite

/** The engine's sessions keep compiled classes across queries: a plan
  * seen before, under any codegen stage id, compiles nothing new (see
  * GraftSession's scaladoc for the two settings and why). */
class CodegenReuseSpec extends SparkSuite {

  test("a second pass over ~150 distinct plans compiles 0 classes") {
    // each query differs only by a literal, which codegen inlines, so
    // each one is a distinct generated class; 150 of them overflow
    // Spark's default 100-entry class cache
    val queries = (1 to 150).map(i =>
      spark.range(10).selectExpr(s"id * ${7919L * i + 104729L}"))
    def pass(): Long =
      Metrics.measure(spark)(queries.foreach(_.collect()))._2.codegenCompiles
    val first = pass()
    val second = pass()
    assert(first >= 150, s"first pass compiled $first classes")
    assert(second == 0, s"second pass compiled $second classes")
  }

  test("one stage under two codegen stage ids generates one class body") {
    val plan = spark.range(10).selectExpr("id * 3 + 1")
      .queryExecution.executedPlan
    val wsc = plan.collectFirst { case w: WholeStageCodegenExec => w }
      .getOrElse(fail(s"no whole-stage codegen in\n$plan"))
    val Seq(a, b) = Seq(11, 12).map(id =>
      wsc.copy(child = wsc.child)(codegenStageId = id).doCodeGen()._2)
    // the stage id really differs, but only in a comment, which the
    // class cache does not compare
    assert(a.comment != b.comment)
    assert(a == b, "stage id leaked into the generated class body")
  }
}
