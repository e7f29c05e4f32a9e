package graft

import org.apache.spark.sql.execution.ExplainMode
import graft.sources.VersionedTable.Write

/** Physical-plan guards: the properties that make these queries hold up
  * at 100 TB must be visible in the plan, not assumed (builder prompt:
  * "explain the plan and iterate until it's the plan you'd want").
  */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: filter and projection push into the parquet scan") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(o_totalprice,150000.0)"), plan)
    // pruned read schema — only the 3 referenced columns
    assert(!plan.contains("o_orderdate"), "scan should prune unused columns")
  }

  test("q03: dim joins broadcast, no shuffle on the dim side") {
    val plan = planOf("q03_join_dims")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
  }

  test("q05: rank window is partitioned (parallel), not global") {
    val plan = planOf("q05_rank_window")
    assert(plan.contains("Window"))
    assert(plan.contains("hashpartitioning(c_nationkey"), plan)
  }

  test("q01: aggregation is two-phase (partial before shuffle)") {
    val plan = planOf("q01_group_agg")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_"), "expected map-side partial aggregation")
  }

  test("q31: near-dup join is an equi-join on the shingle key, not a cross join") {
    val plan = planOf("q31_ngram_jaccard")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q40: top-k window is partitioned per query vector") {
    val plan = planOf("q40_cosine_topk")
    assert(plan.contains("hashpartitioning(query_id"), plan)
  }

  test("q36: LIMIT plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q36_topk_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q04: the orders scan is shared via exchange reuse or stays dual-scan cheap") {
    // self-join-to-own-aggregate: both references resolve to the same
    // pruned parquet scan (2 columns) — assert the pruning held
    val plan = planOf("q04_cheapest_join")
    assert(!plan.contains("o_orderpriority"), "scan must prune unused columns")
  }

  test("whole-stage codegen spans the scalar-function pipeline") {
    val df = SparkEntry.queries("q11_string_funcs")(spark, sf)
    df.collect() // AQE finalizes codegen stages only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // codegen-stage marker
  }

  test("q67 flagship: dims broadcast, facts equi-join, no nested loops") {
    val plan = planOf("q67_star_join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the region filter must reach the region scan, not sit above a join
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)]") ||
      plan.contains("EqualTo(r_name,ASIA)"), plan)
  }

  test("q49 changelog window partitions by the compaction key") {
    val plan = planOf("q49_changelog_latest")
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("q74 chunking is map-local: no hash shuffle anywhere in the plan") {
    val plan = planOf("q74_chunking")
    // the only exchange is the final ORDER BY's range partitioning
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("q63 centroid aggregation is two-phase (map-side combine)") {
    val plan = planOf("q63_vector_centroids")
    assert(plan.contains("partial_"), plan)
  }

  test("q45 range join broadcasts the band side (fact side never shuffles)") {
    val plan = planOf("q45_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("hashpartitioning(o_totalprice"), plan)
  }

  test("q81 bigram counts: partial aggregation before the one count shuffle") {
    val plan = planOf("q81_bigram_counts")
    assert(plan.contains("partial_count"), plan)
    // top-100 must be TakeOrdered, not a global sort of all bigrams
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q82 decontamination: benchmark set broadcast, corpus never shuffled pre-agg") {
    val plan = planOf("q82_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash shuffle is the per-doc overlap aggregation
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("readAuto: manifest byte stats flip the join strategy at the " +
    "threshold — no manual hint on either side") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_autobc").resolve("t").toString
    val dim = (1 to 50).map(i => (i.toLong, s"name_$i")).toDF("k", "name")
    graft.sources.VersionedTable.append(dim, root, Write.stats())
    assert(graft.sources.VersionedTable.sizeBytes(root).exists(_ > 0),
      "a stats-recording append must record per-file bytes in the manifest")
    val fact = spark.range(20000)
      .select((col("id") % 50 + 1).as("k"), col("id").as("v"))
    // disable Spark's own size-estimate broadcast so the MANIFEST is
    // the only voice in the decision
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def planWith(thr: Long): String = fact
        .join(graft.sources.VersionedTable.readAuto(spark, root, thr), Seq("k"))
        .groupBy(col("name")).count()
        .queryExecution.executedPlan.toString
      // under the threshold: the manifest says "small" → broadcast
      val small = planWith(10L << 20)
      assert(small.contains("BroadcastHashJoin"), small)
      // over the threshold (1 byte): same table shuffles
      val big = planWith(1L)
      assert(!big.contains("BroadcastHashJoin") &&
        big.contains("SortMergeJoin"), big)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
