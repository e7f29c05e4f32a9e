package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the most recent right row with
  * right.time ≤ left.time and matching key — the operator Spark lacks
  * natively (SURVEY §2.3 "Not present: … as-of joins"; time-series
  * enrichment, point-in-time lookups).
  *
  * Realized by composition, not a custom physical operator (the
  * preference order in the brief: compose built-ins first): tag and
  * union both sides, then one partitioned window pass carries the last
  * non-null right payload forward to each left row. ONE shuffle on the
  * key — a naive `l.key = r.key AND l.t >= r.t` join with a max-window
  * post-filter shuffles the same data AND materializes every
  * (left, earlier-right) pair first; the inequality-only variant even
  * plans as a nested loop.
  */
object AsOfJoin {

  /** `left` and `right` must share `keyCol` and `timeCol`; every other
    * `right` column is carried as the as-of payload (null when no right
    * row is at or before the left row's time). Ties (equal time)
    * resolve to the right row — a payload is visible at its own
    * timestamp. Output: all left columns + the payload columns. */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String,
           timeCol: String): DataFrame = {
    asOfComposed(left, right, keyCol, timeCol)
  }

  /** The composed (union + window) realization — see [[asOf]]. */
  def asOfComposed(left: DataFrame, right: DataFrame, keyCol: String,
                   timeCol: String): DataFrame = {
    val payloadCols = right.columns.filterNot(Seq(keyCol, timeCol).contains).toSeq
    val leftExtra = left.columns.filterNot(Seq(keyCol, timeCol).contains).toSeq
    val leftTagged = left.select(
      Seq(col(keyCol), col(timeCol), lit(0).as("__is_r")) ++
        leftExtra.map(col) ++
        payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rightTagged = right.select(
      Seq(col(keyCol), col(timeCol), lit(1).as("__is_r")) ++
        leftExtra.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payloadCols.map(col): _*)
    // at equal time the right row sorts first (__is_r desc) so the left
    // row at the same instant sees it
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol).asc, col("__is_r").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payloadCols.foldLeft(leftTagged.unionByName(rightTagged)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("__is_r") === 0).drop("__is_r")
  }

  /** Native physical realization of the same operator — a custom
    * Catalyst `LogicalPlan`/`SparkStrategy`/`SparkPlan`
    * ([[graft.plans.AsOfJoinExec]]): children co-partitioned on the key
    * and sorted by (key, time), then a streaming per-partition merge
    * holding one buffered right row. Same contract as [[asOf]] (payload
    * = right's non-key/time columns, nullable; ties resolve to the
    * right row). Prefer this at scale: the composed form shuffles
    * left+right unioned and carries per-payload-column window state;
    * the exec shuffles each side once on its own key and never
    * materializes candidate pairs. */
  def asOfNative(left: DataFrame, right: DataFrame, keyCol: String,
                 timeCol: String): DataFrame =
    asOfNative(left, right, keyCol, timeCol, direction = "backward",
      tolerance = None)

  /** As above with the pandas `merge_asof` knobs: `direction` =
    * "backward" (latest right at-or-before, the default), "forward"
    * (earliest right at-or-after) or "nearest" (smaller |Δtime| of the
    * two, ties preferring backward); `tolerance` = max |Δtime| for a
    * match, in the time column's underlying unit (µs for timestamp,
    * days for date, raw for integral) — the nearest candidate outside
    * it yields null. */
  def asOfNative(left: DataFrame, right: DataFrame, keyCol: String,
                 timeCol: String, direction: String,
                 tolerance: Option[Long]): DataFrame =
    asOfNative(left, right, Seq(keyCol), timeCol, direction, tolerance)

  /** Single-key variant with the pandas `allow_exact_matches` knob. */
  def asOfNative(left: DataFrame, right: DataFrame, keyCol: String,
                 timeCol: String, direction: String,
                 tolerance: Option[Long],
                 allowExactMatches: Boolean): DataFrame =
    asOfNative(left, right, Seq(keyCol), timeCol, direction, tolerance,
      allowExactMatches)

  /** Multi-key as-of (pandas `merge_asof(by=[...])`): the match must
    * agree on EVERY key column. Same plan — [[graft.plans.AsOfJoinPlan]]
    * carries Seq keys natively; the sides co-partition on the full key
    * tuple and the merge compares composite keys. */
  def asOfNative(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                 timeCol: String, direction: String,
                 tolerance: Option[Long],
                 /** pandas allow_exact_matches: false makes backward
                   * strictly-before, forward strictly-after, and
                   * excludes the exact instant from nearest. */
                 allowExactMatches: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "as-of join needs at least one key column")
    val (forward, nearest) = direction match {
      case "backward" => (false, false)
      case "forward" => (true, false)
      case "nearest" => (false, true)
      case d => throw new IllegalArgumentException(
        s"as-of direction must be backward|forward|nearest, got '$d'")
    }
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right column through a Project so the custom node
    // references FRESH exprIds: when both sides derive from the same
    // relation, the analyzer's DeduplicateRelations regenerates the
    // duplicated leaf's exprIds inside the right subtree, and it can
    // only remap expressions of nodes it knows — a custom node's stale
    // references would dangle. Alias exprIds are stable across that
    // rewrite (only their children are remapped), so the node stays
    // valid; it also guarantees output exprIds never collide with the
    // left side's.
    val rAliases = right.queryExecution.analyzed.output
      .map(a => org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)())
    val rPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAliases, right.queryExecution.analyzed)
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
             n: String) =
      out.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"as-of column '$n' not in [${out.map(_.name).mkString(", ")}]"))
    val rOut = rAliases.map(_.toAttribute)
    val payload = rOut.filterNot(a =>
      keyCols.exists(a.name.equalsIgnoreCase) || a.name.equalsIgnoreCase(timeCol))
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lPlan, rPlan,
        keyCols.map(attr(lPlan.output, _)), keyCols.map(attr(rOut, _)),
        attr(lPlan.output, timeCol), attr(rOut, timeCol), payload,
        forward, tolerance, nearest, allowExactMatches))
  }
}
