package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Iterative graph-centrality operators (the rank complement to
  * `Dedup.connectedComponentsStar`'s membership propagation).
  *
  * Reference anchor: the reference pipeline's analytics layer stops at
  * component membership; weighted PageRank is the beyond-reference
  * centrality op a corpus/graph pipeline needs (TextRank keyword
  * extraction, domain authority for crawl prioritization).
  */
object Graphs {

  /** Weighted PageRank over a directed edge list `(src, dst, w)`.
    *
    * pr_0(v) = 1/N;
    * pr_{i+1}(v) = (1-d)/N + d * Σ_{(u,v) ∈ E} pr_i(u) · w(u,v) / outw(u)
    *
    * where `outw(u)` is u's total outgoing weight and N the number of
    * distinct nodes (sources ∪ destinations). Dangling nodes (no
    * out-edges) contribute no mass — the standard simplification; feed
    * a symmetrized edge list (as TextRank does) when that matters.
    *
    * Scale shape: the BSP/Pregel loop — per iteration ONE equi-join of
    * the rank vector with the (localCheckpoint'ed once) edge list on
    * `src` and ONE groupBy on `dst` (map-side combinable). Lineage is
    * truncated per round exactly like
    * `Dedup.connectedComponentsStarWithRounds` — an iterated join/agg
    * plan doubles per round otherwise. The only driver-side values are
    * the two scalars N and the fixed-point base term.
    *
    * Determinism / oracle parity: the recurrence is computed entirely
    * in FIXED-POINT INTEGER arithmetic — ranks live in 1e-8 units
    * (`pr_s`, a long), the damping factor is quantized to 2 dp and
    * applied as an integer ratio d = dNum/100, and every division is a
    * floor `div`. No floating point touches the loop, so the rank
    * vector is exactly identical across partitionings, runs, and
    * engines (an iterated floating recurrence is NOT portable: Spark
    * round()/format_string and DuckDB ROUND()/printf were measured
    * disagreeing by 1 ulp at 8 dp on this corpus). Floor division
    * leaks < 1e-8 of mass per edge per iteration — ranking-irrelevant.
    * Only the final rescale to a double (`pr = pr_s / 1e8`, one exact
    * division) leaves integer space. Requires max(pr_s · w) < 2^63,
    * i.e. edge weights below ~9e10 — far past any real corpus graph.
    *
    * Returns `(node, pr)` for all N nodes, pr in [0, 1].
    */
  def weightedPageRank(edges: DataFrame, iters: Int = 5,
                       damping: Double = 0.85,
                       teleport: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dNum = math.round(damping * 100).toInt
    require(dNum > 0 && dNum < 100,
      s"damping must be in (0.005, 0.995) (2-dp fixed point), got $damping")
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // (src, dst, w, outw) — built once, reused every round
    val ew = edges.join(outw, Seq("src")).localCheckpoint(true)
    // nodes carry their teleport membership (`tele`: 1/0) — with no
    // teleport set, every node is a restart target (plain PageRank)
    val nodes = {
      val all = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      teleport match {
        case None => all.withColumn("tele", lit(1))
        case Some(t) =>
          val ts = t.select(col(t.columns.head).as("node")).distinct()
          all.join(ts.withColumn("__t", lit(1)), Seq("node"), "left")
            .select(col("node"),
              when(col("__t").isNotNull, lit(1)).otherwise(lit(0)).as("tele"))
      }
    }.localCheckpoint(true)
    // one aggregate row for both setup scalars (two separate count
    // actions were two jobs over the same materialized blocks)
    val setupRow = nodes.agg(count(lit(1)).as("n"),
      coalesce(sum(col("tele")), lit(0L)).as("s")).head()
    val n = setupRow.getLong(0)
    require(n > 0, "weightedPageRank: empty edge list")
    val s = setupRow.getLong(1)
    require(s > 0, "weightedPageRank: teleport set disjoint from graph nodes")
    // (1-d)/|S| restart mass in 1e-8 units, floor — exact long arithmetic
    val baseS = (100L - dNum) * 100000000L / (100L * s)
    var ranks = nodes
      .selectExpr("node", "tele", s"tele * ${100000000L / s} AS pr_s")
      .localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val contrib = ew.join(ranks, ew("src") === ranks("node"))
        .selectExpr("dst", "(pr_s * w) div outw AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      val next = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .selectExpr("node", "tele",
          s"tele * $baseS + ($dNum * coalesce(in_mass, 0)) div 100 AS pr_s")
        .localCheckpoint(true)
      Dedup.release(ranks)
      ranks = next
      i += 1
    }
    // the result reads only the final ranks checkpoint: free the rest
    // now instead of when GC collects their RDDs
    Dedup.release(ew)
    Dedup.release(nodes)
    ranks.select(col("node"), (col("pr_s") / lit(1.0e8)).as("pr"))
  }

  /** Exact triangle count + global clustering coefficient over an
    * UNDIRECTED edge list `(u, v)` (self-loops and duplicate/reversed
    * pairs tolerated — canonicalized internally).
    *
    * Algorithm: degree orientation (Cohen's MR triangle counting) —
    * orient every edge from the (degree, id)-smaller endpoint to the
    * larger, so each triangle is counted exactly once at its
    * lowest-degree corner and no node's oriented out-degree exceeds
    * O(sqrt(E)). Wedges are generated by self-joining the ORIENTED
    * list on `src` (Σ outdeg² work, immune to the hub blowup a raw
    * undirected wedge join suffers — a degree-10^6 hub contributes
    * 10^12 raw wedges but only its sqrt-bounded oriented fan), then
    * closed by one equi-join back to the oriented list.
    *
    * Parity: counts are exact integers; the clustering coefficient is
    * one long/long double division (3·triangles / wedges), identical
    * bits in any engine.
    *
    * Returns one row: `(n_triangles, n_wedges, global_cc)` where
    * `n_wedges` = Σ_v C(deg(v), 2) over the undirected graph and
    * `global_cc` = 3·triangles / wedges (0.0 for a wedge-free graph).
    */
  /** Multi-source BFS hop labeling over a directed edge list
    * `(src, dst, ...)`: the minimum number of hops from any seed node
    * to every graph node — reachability/distance labeling (crawl
    * depth, contamination spread, "how far is every doc from the
    * trusted set"). Feed a symmetrized edge list for undirected
    * semantics.
    *
    * Scale shape: the Pregel relaxation loop — per round one
    * dist×edges equi-join + one min-aggregation (map-side combinable)
    * + one least() update against the node list, lineage truncated per
    * round; rounds = graph diameter (≤ `maxIter`). Convergence is
    * detected exactly and for free: distances only decrease, so the
    * total distance sum is strictly monotone and equality between
    * rounds means fixpoint.
    *
    * Parity: distances are pure integers (sentinel 999999 for
    * unreached internally, emitted as -1) — an unrolled oracle of ≥
    * diameter rounds matches exactly.
    *
    * Returns `(node, hops)` for all graph nodes; unreachable → -1.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
              maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val UNSEEN = 999999L
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    try {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
      val ss = seeds.select(col(seeds.columns.head).as("node")).distinct()
        .withColumn("__s", lit(1))
      val flagged = nodes.join(ss, Seq("node"), "left")
        .select(col("node"),
          when(col("__s").isNotNull, lit(0L)).otherwise(lit(UNSEEN)).as("d"))
        .localCheckpoint(true)
      // the first round releases `flagged` when all goes well; the
      // finally covers the seed check and a round that throws
      try {
        require(!flagged.filter(col("d") === 0L).isEmpty,
          "bfsHops: no seed node appears in the graph")
        var dist = flagged
        var prevSum = dist.agg(sum(col("d"))).head().getLong(0)
        var converged = false
        var i = 0
        while (!converged && i < maxIter) {
          val prop = e.join(dist, e("src") === dist("node"))
            .select(col("dst"), (col("d") + 1L).as("pd"))
            .groupBy(col("dst")).agg(min(col("pd")).as("pd"))
          val (next, s) = Dedup.checkpointRound(dist,
            dist.join(prop, dist("node") === prop("dst"), "left")
              .select(col("node"),
                least(col("d"), coalesce(col("pd"), lit(UNSEEN))).as("d")))(
            _.agg(sum(col("d"))).head().getLong(0))
          converged = s == prevSum
          prevSum = s
          dist = next
          i += 1
        }
        dist.select(col("node"),
          when(col("d") === UNSEEN, lit(-1L)).otherwise(col("d")).as("hops"))
      } finally Dedup.release(flagged)
    } finally Dedup.release(e)
  }

  /** Adamic-Adar link prediction over an UNDIRECTED edge list
    * `(u, v)`: for every UNCONNECTED pair sharing at least one
    * neighbor, score = Σ over common neighbors z of 1/ln(deg(z)) —
    * well-connected neighbors count for little, rare shared neighbors
    * for a lot. The classic similarity/recommendation signal on a
    * dedup graph or co-occurrence graph.
    *
    * Scale shape: one adjacency self-join centered on z (Σ deg²
    * wedges) then one anti-join against the edge list and one
    * combinable groupBy. Unlike the triangle census, wedge centers
    * cannot be degree-oriented away — a hub inherently pairs all its
    * neighbors — so ultra-hub centers are dropped via `maxDegree`
    * (standard practice: a degree-10^6 hub contributes 1/ln(10^6) ≈
    * 0.07 per pair but 5·10^11 wedges; the knob is the documented
    * accuracy/cost trade).
    *
    * Parity: deg is an exact integer, each term 1/ln(deg) is a single
    * double op rounded once to 6 dp and summed through DECIMAL(18,6)
    * — the standard QueryModule contract (single-shot rounding, unlike
    * the iterated PageRank case, is engine-portable).
    *
    * Returns `(u, v, common_neighbors, aa_score)`.
    */
  def adamicAdar(pairs: DataFrame, maxDegree: Long = 10000L): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = pairs
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .union(und.select(col("v").as("z"), col("u").as("n")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val adjc = adj.join(
      deg.filter(col("deg") >= 2 && col("deg") <= maxDegree), Seq("z"))
    val l = adjc.select(col("z"), col("n").as("u"), col("deg"))
    val r = adjc.select(col("z").as("z2"), col("n").as("v"))
    val wedges = l.join(r, col("z") === col("z2") && col("u") < col("v"))
    wedges.join(und, Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1.0) / log(col("deg")), 6).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("aa_score"))
  }

  def triangleStats(pairs: DataFrame): DataFrame = {
    // pinned: und feeds the degree union (2 refs) + the orientation
    // join, deg feeds both orientation joins + the wedge census —
    // un-pinned, the whole upstream edge build re-executes per
    // reference (both frames are edge/node-list-sized, the same
    // materialization trade `oriented` below already makes)
    val und = pairs
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient u→v iff (deg(u), u) < (deg(v), v)
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"),
            col("dv").as("dt")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"),
            col("du").as("dt"))).as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"),
        col("e.dt").as("ddst"))
      .localCheckpoint(true)
    val e2 = oriented
      .select(col("src").as("src2"), col("dst").as("dst2"),
        col("ddst").as("ddst2"))
    val wedgePairs = oriented.join(e2, col("src") === col("src2") &&
      (col("ddst") < col("ddst2") ||
        (col("ddst") === col("ddst2") && col("dst") < col("dst2"))))
    val closed = wedgePairs.join(
      oriented.select(col("src").as("cs"), col("dst").as("cd")),
      col("dst") === col("cs") && col("dst2") === col("cd"), "semi"
    )
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val wedges = deg
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise((lit(3) * col("n_triangles")) / col("n_wedges"))
          .as("global_cc"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007) over an UNDIRECTED edge list `(u, v)` — the cheap
    * community structure a corpus pipeline uses to group near-topic
    * documents or co-occurring terms where connected components
    * (`Dedup.connectedComponentsStar`) is too coarse (one giant
    * component) and modularity methods are too expensive.
    *
    * Every node starts labeled with itself; each synchronous round
    * relabels every node with its neighbors' most frequent label.
    * Ties and convergence are made DETERMINISTIC: ties break to the
    * smallest label, and the loop runs a FIXED number of rounds (no
    * data-dependent stopping) — sync LPA can oscillate on bipartite
    * structures, and a fixed-round schedule is the standard remedy
    * that also makes the result engine-portable (an unrolled oracle
    * of the same depth matches exactly).
    *
    * Scale shape: the BSP/Pregel loop — per round ONE equi-join of
    * the label vector with the (localCheckpoint'ed once) symmetrized
    * edge list, ONE combinable groupBy counting (node, label) votes,
    * and ONE per-node top-1 window (bounded fan-in: |labels per node|
    * ≤ degree). Lineage truncated per round like `weightedPageRank`.
    *
    * Parity: labels are node ids (exact strings/ints), votes are
    * exact counts, the argmax is a deterministic (count desc, label
    * asc) pick — no floating point anywhere.
    *
    * Returns `(node, label)` for all graph nodes.
    */
  /** Bounded k-core PEELING on an undirected edge list `(src, dst)`:
    * `rounds` synchronous rounds of "drop every node with degree < k,
    * drop edges touching dropped nodes" — the dense-subgraph filter
    * (spam-farm detection, community cores, collocation nuclei). A
    * FIXED round count keeps the contract deterministic and
    * oracle-replayable (each round unrolls to plain SQL); graphs
    * whose peeling hasn't converged in `rounds` keep their
    * still-unpeeled nodes — callers wanting the true k-core loop
    * until the node count is stable (each round is one combinable
    * degree agg + two semi-joins, BSP-checkpointed like every
    * iterative operator here).
    *
    * Returns (node, degree) of the surviving subgraph, degrees as of
    * the surviving edge set. */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    // undirected: symmetrize once; degree = distinct neighbors
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var cur = sym
    for (_ <- 1 to rounds) {
      val deg = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("src"))
        .localCheckpoint(true)
      cur = cur
        .join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
    }
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val u = col("u"); val v = col("v")
    val raw = edges.select(col(edges.columns(0)).as("u"),
      col(edges.columns(1)).as("v"))
    // symmetrize + drop self-loops/dups: each undirected edge becomes
    // one (src, dst) row per direction, so a single src-equi-join sees
    // every neighbor of every node
    val e = raw.filter(u =!= v)
      .select(u.as("src"), v.as("dst"))
      .union(raw.filter(u =!= v).select(v.as("src"), u.as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val votes = e.join(labels, e("dst") === labels("node"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"))
        .orderBy(col("c").desc, col("label").asc)
      val next = votes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("src").as("node"), col("label"))
        .localCheckpoint(true)
      Dedup.release(labels)
      labels = next
      i += 1
    }
    Dedup.release(e)
    labels
  }
}
