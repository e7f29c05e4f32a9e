package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into Spark's `private[sql]` plan plumbing (sibling of
  * [[ColumnBridge]]): wrap a hand-built `LogicalPlan` as a DataFrame and
  * register extra planner strategies. Spark 4 split the public
  * `SparkSession`/`Dataset` interfaces from the `classic` implementations;
  * `Dataset.ofRows` and `experimental` live on the classic types, so
  * whole-operator extensions (custom LogicalPlan + SparkStrategy +
  * SparkPlan, the brief's path (c)) need exactly these two hooks.
  */
object PlanBridge {

  /** Wrap an already-resolved logical plan as a DataFrame (runs the
    * analyzer over the wrapping plan). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to the session (the public
    * runtime hook for extra strategies — `SparkSessionExtensions`
    * injection needs to happen before the session is built, which an
    * engine embedded in a caller's session can't rely on). */
  def registerStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // read-modify-write on shared session state: serialize, or two
    // threads registering concurrently lose one update
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Idempotently add a logical optimizer rule to the session
    * (`spark.experimental.extraOptimizations` — the runtime counterpart
    * of `SparkSessionExtensions.injectOptimizerRule`). */
  def registerOptimization(spark: SparkSession,
                           rule: org.apache.spark.sql.catalyst.rules.Rule[
                             org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Block until every listener event posted so far has been delivered
    * (`LiveListenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
