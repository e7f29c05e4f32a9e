package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.wordShingles

/** Document deduplication operators for training-data pipelines: exact,
  * exact-Jaccard via inverted index, MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a hash-aggregate on a digest — one shuffle on an
  *    evenly-distributed key;
  *  - near-dup never goes O(n²): candidate generation is an equi-join on
  *    shingle / LSH-band keys, so cost is Σ bucket² not n²;
  *  - hot shingles (stopword n-grams) are the skew risk → the inverted
  *    index drops shingles above `maxShingleFreq` (standard df-cut; at
  *    100 TB this is the difference between a join and an explosion);
  *  - all hashing is Spark-native xxhash64/hash (codegen'd, no UDF).
  */
object Dedup {

  /** Exact dedup on a text digest: one row kept per distinct text
    * (min doc_id wins), plus the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** All pairs (a < b) with exact word-`n`-gram Jaccard ≥ `threshold`,
    * via the prefix-filtered set-similarity self-join
    * (graft.operators.SetSimJoin) — exact, and immune to the quadratic
    * hot-shingle blowup of a naive inverted-index join.
    *
    * `maxShingleFreq` optionally drops shingles with document frequency
    * above the cut from the *universe* (sizes and intersections alike) —
    * an approximation knob for corpora where stop-shingles carry no
    * dedup signal; None (default) keeps the result exact.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                        maxShingleFreq: Option[Int] = None,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // fanOut RE-MEASURED this round: the round-15 flat-32 fan cost
    // +0.5 s on q31/q66 (repartition+32-task stages of fixed overhead);
    // the bytes-aware fan (4-way on the gate corpus) parallelizes the
    // single-task shingling map without that tax — still a no-op on a
    // production-parallel scan (guide §2.5)
    val shingled = graft.core.FanOut.fanOut(docs)
      .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("toks"))
      .filter(size(col("toks")) > 0)
    val sets = maxShingleFreq match {
      case None => shingled
      case Some(cut) =>
        val inv = shingled.select(col("id"), explode(col("toks")).as("tok"))
        val keep = inv.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cut).select(col("tok"))
        inv.join(keep, Seq("tok"))
          .groupBy(col("id")).agg(collect_list(col("tok")).as("toks"))
    }
    SetSimJoin.jaccardSelfJoin(sets, threshold)
  }

  /** Incremental near-dup: pairs (new_id, corpus_id) with word-n-gram
    * Jaccard ≥ `threshold` — the daily-ingestion dedup shape: a (small)
    * new batch checked against the historical corpus through the
    * prefix-filtered A-vs-B join, never a corpus self-join. */
  def ngramJaccardJoin(newDocs: DataFrame, corpus: DataFrame,
                       threshold: Double, n: Int = 3,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    // bytes-aware fanOut of the shingling maps — see ngramJaccardPairs
    def sets(df: DataFrame) = graft.core.FanOut.fanOut(df)
      .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("toks"))
      .filter(size(col("toks")) > 0)
    SetSimJoin.jaccardJoin(sets(newDocs), sets(corpus), threshold)
      .select(col("id_l").as("new_id"), col("id_r").as("corpus_id"),
        col("jaccard"))
  }

  /** MinHash permutation constants (a·x+b mod p), fixed seed so
    * signatures are stable across runs/sessions. */
  private val MersennePrime = (1L << 61) - 1
  private case class Perm(a: Long, b: Long)
  private def perms(numHashes: Int): Seq[Perm] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)(Perm(math.abs(rnd.nextLong()) % MersennePrime + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** xxhash64 of each distinct shingle, as one array column — the
    * shingle stream [[minhashSignaturesAgg]] explodes and folds. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    transform(wordShingles(text, n), s => xxhash64(s))

  /** (id, sig) per document — map-local via the MinHashSig expression
    * (graft.plans.DocHashExpressions): the whole signature is a
    * projection, so NO shuffle of the shingle stream at all. Docs with
    * no shingles (< n tokens) drop out, matching the round-1
    * explode+aggregate formulation bit-for-bit (DocHashSpec). */
  def minhashSignatures(docs: DataFrame, numHashes: Int, n: Int,
                        textCol: String, idCol: String): DataFrame = {
    val ps = perms(numHashes)
    docs.select(col(idCol).as("id"),
      graft.plans.DocHashExpressions
        .minhashSig(col(textCol), n, ps.map(_.a), ps.map(_.b), MersennePrime)
        .as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** The aggregation form of the signature: explode pre-hashed shingles
    * and fold them through ONE typed-imperative aggregate
    * (graft.plans.MinHashAgg) with a long[numHashes] buffer. Use when
    * the shingle/feature stream does not come from a single text column
    * (pre-tokenized corpora, multi-column features) — `numHashes`
    * separate MIN aggregate columns would overflow the codegen field
    * limit and fall back to interpreted aggregation. */
  def minhashSignaturesAgg(docs: DataFrame, numHashes: Int, n: Int,
                           textCol: String, idCol: String): DataFrame = {
    val hs = docs.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val ps = perms(numHashes)
    val agg = graft.plans.MinHashAgg(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("h"),
      ps.map(_.a), ps.map(_.b), MersennePrime)
    val sigCol = org.apache.spark.sql.graft.ColumnBridge
      .column(agg.toAggregateExpression())
    hs.groupBy(col("id")).agg(sigCol.as("sig"))
  }

  /** Near-duplicate pairs via MinHash LSH banding + exact-Jaccard
    * verification.
    *
    * Candidates: split each signature into `bands` bands of
    * numHashes/bands rows; docs sharing any (band index, band hash)
    * bucket become candidates (equi-join on the bucket key — never
    * all-pairs). Verification recomputes exact shingle Jaccard on the
    * candidate pairs only, so output = {pairs with J ≥ threshold found
    * by LSH}; with 128/32 bands, P(miss) < 1e-30 at J≈0.98.
    */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double,
                          numHashes: Int = 128, bands: Int = 32, n: Int = 3,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // fanOut HERE, not inside minhashSignatures: the whole-signature
    // projection is the heavy map (guide §2.5), but the signature
    // helper also feeds LshIndex's table commits, where a repartition
    // multiplies staged files (measured regression, batch-2 notes)
    val signed = minhashSignatures(graft.core.FanOut.fanOut(docs),
      numHashes, n, textCol, idCol)
    // eagerly checkpointed (not persist): both sides of the bucket
    // self-join reference this subtree; without reuse the signature
    // computation runs twice. localCheckpoint over persist because the
    // operator returns a lazy plan — a CacheManager entry could never be
    // unpersisted by the caller and accumulates across queries in a
    // long-lived session; checkpoint blocks free on GC of the result.
    val banded = bandRows(signed, bands, rows).localCheckpoint(true)
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sh = docs.select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh"))
      .localCheckpoint(true)
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id, band, band_hash) LSH bucket rows from a signature frame —
    * `bands` rows per doc, each hashing `rows` consecutive signature
    * entries. Shared by the self-join path above and the persisted
    * [[LshIndex]] (whose stored rows MUST band identically or
    * candidates silently vanish). */
  private[operators] def bandRows(signed: DataFrame, bands: Int,
                                  rows: Int): DataFrame =
    signed.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** (id, 64-bit SimHash) per document — map-local via the SimHash64
    * expression: every token occurrence votes ±1 per bit by its
    * xxhash64 bit (term frequency is the natural weight). Replaces the
    * round-1 explode + 64×SUM aggregation (same result, no corpus-wide
    * token shuffle — DocHashSpec asserts the equivalence). */
  def simhashes(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame =
    graft.core.FanOut.fanOut(docs) // simhash64 is the heavy map (guide §2.5)
      .select(col(idCol).as("id"),
        graft.plans.DocHashExpressions.simhash64(col(textCol)).as("sh"))

  /** Connected components over an undirected pair list — turns near-dup
    * PAIRS into dedup GROUPS (keep one doc per component). Every node's
    * label is the smallest id of its component.
    *
    * Two paths behind one front (`components`): the `(id_a, id_b)`
    * pairs are materialized once and probed for at most
    * [[LocalEdgeBound]] + 1 rows in one single-task job.
    *  - Up to the bound, with integral ids: union-find on the driver
    *    (the probe is the data fetch), labels returned as a local
    *    relation — two Spark jobs in all, however deep the graph.
    *    `maxIter` does not apply here: a 40-link chain with
    *    `maxIter = 3` gets its labels instead of an error.
    *  - Above the bound, or with non-integral ids: iterative min-label
    *    propagation on the materialized pairs — every node adopts the
    *    smallest label in its neighborhood until fixpoint, checked with
    *    a changed-label count per round and capped at `maxIter`.
    *
    * Scale notes (the distributed path): each round is one join + one
    * agg on the edge list — the classic BSP formulation; rounds ≈ graph
    * diameter, and near-dup graphs are shallow (clusters are
    * cliques-ish), so a handful of rounds suffices; adversarially deep
    * graphs want [[connectedComponentsStar]]. Each round's labels are
    * `localCheckpoint`ed (`checkpointRound`) — persist alone does NOT
    * truncate the logical plan, and an iterative union/join doubles it
    * per round (exponential analyze/explain cost by round ~12).
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) for every id in
    * `nodes` (singletons map to themselves).
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          maxIter: Int = 25): DataFrame =
    minLabelComponents(pairs, nodes, maxIter, LocalEdgeBound)

  /** [[connectedComponents]] with the local path's bound as a parameter
    * — the spec seam (`bound = 0` always runs the distributed loop). */
  private[graft] def minLabelComponents(pairs: DataFrame, nodes: DataFrame,
                                        maxIter: Int, bound: Int): DataFrame =
    components(pairs, nodes, bound)(minLabelRounds(_, maxIter))._1

  private def minLabelRounds(ab: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // no persist: `ab` is already materialized, so both projections are
    // block reads
    val edges = ab.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(ab.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    val lblType = labels.schema("lbl").dataType
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("lbl"))
      // each node's previous label rides through the aggregation (it
      // occurs exactly once per node, on the old-labels side; max
      // ignores the propagated rows' nulls), so the convergence check
      // is a scan of the checkpointed result — no extra join per round
      val (next, c) = checkpointRound(labels,
        labels.select(col("node"), col("lbl"), col("lbl").as("old"))
          .unionByName(prop.withColumn("old", lit(null).cast(lblType)))
          .groupBy(col("node"))
          .agg(min(col("lbl")).as("lbl"), max(col("old")).as("old")))(
        _.filter(col("lbl") < col("old")).count())
      labels = next
      changed = c
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    (labels.select(col("node"), col("lbl")), i)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same interface, output and two paths as
    * `connectedComponents` (up to [[LocalEdgeBound]] pairs of integral
    * ids: union-find on the driver, where `maxIter` does not apply).
    * The distributed path is for adversarially DEEP graphs: min-label
    * propagation needs rounds ≈ diameter (a d-link chain costs d
    * rounds), while the star operations contract tree height
    * multiplicatively → O(log n) rounds.
    *
    * Per round, on the canonical (u < v) edge set:
    *  - LARGE-STAR: every node links its strictly-larger neighbors to
    *    min(N(u) ∪ {u});
    *  - SMALL-STAR: orienting edges toward the larger endpoint, every
    *    node links its smaller neighbors and itself to their minimum.
    * Both are one groupBy + one equi-join on the edge list — the same
    * BSP shuffle shape as a min-label round, just a smarter rewiring.
    * Fixpoint (= edges form stars rooted at component minima) is
    * detected exactly: equal edge count AND an empty anti-join.
    */
  def connectedComponentsStar(pairs: DataFrame, nodes: DataFrame,
                              maxIter: Int = 50): DataFrame =
    connectedComponentsStarWithRounds(pairs, nodes, maxIter)._1

  /** As `connectedComponentsStar`, also returning the round count (the
    * O(log n) convergence claim is spec-asserted via this); 0 on the
    * local path, which runs no rounds. */
  def connectedComponentsStarWithRounds(pairs: DataFrame, nodes: DataFrame,
                                        maxIter: Int = 50): (DataFrame, Int) =
    starComponents(pairs, nodes, maxIter, LocalEdgeBound)

  /** [[connectedComponentsStarWithRounds]] with the local path's bound
    * as a parameter — the spec seam (`bound = 0` always runs the
    * distributed loop). */
  private[graft] def starComponents(pairs: DataFrame, nodes: DataFrame,
                                    maxIter: Int, bound: Int): (DataFrame, Int) =
    components(pairs, nodes, bound)(starRounds(_, maxIter))

  private def starRounds(ab: DataFrame, maxIter: Int): (DataFrame, Int) = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    // canon WITHOUT the dedup exchange — for the largeStar→smallStar
    // intermediate only: largeStar emits ≤ |sym| rows either way (one
    // per oriented edge), duplicates change neither smallStar's
    // per-group min nor its join-then-distinct output set, and the
    // round's convergence counts are taken on smallStar's deduped
    // output — so the intermediate distinct bought nothing but a
    // full extra shuffle per round (guide §2.4: remove shuffles a
    // downstream operator makes redundant)
    def canonKeepDups(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canonKeepDups(sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (u < v): grouping by the LARGER endpoint v gives
      // exactly the ≤-neighborhood; its min is min(N ∪ {v})
      val mins = e.groupBy(col("v")).agg(min(col("u")).as("m"))
      val withM = e.join(mins, Seq("v"))
      canon(withM.filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
        .union(mins.select(col("m").as("u"), col("v"))))
    }

    var edges = canon(ab.select(col("id_a").as("u"), col("id_b").as("v")))
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var i = 0
    while (!converged && i < maxIter) {
      // one alternation per materialization — RE-MEASURED: fusing two
      // alternations per checkpoint blew q103/q119 up 2.5× (each star
      // references its input 4-8×, and only a materialized input makes
      // those references cheap block reads)
      val prevCount = edgeCount
      val (next, (nextCount, same)) =
        checkpointRound(edges, smallStar(largeStar(edges))) { n =>
          val c = n.count()
          (c, c == prevCount && n.join(edges, Seq("u", "v"), "left_anti").isEmpty)
        }
      converged = same
      edges = next
      edgeCount = nextCount
      i += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // at fixpoint every edge is (root, member)
    (edges.select(col("v").as("node"), col("u").as("lbl")), i)
  }

  /** Most `(id_a, id_b)` pair rows the connected-components functions
    * label on the driver instead of in Spark rounds: 2^18 = 262,144.
    * Measured on random graphs (m pairs over m ids, one giant
    * component; 4 cores, local[4], 3 GB driver heap, two runs each):
    *  - at 262,144 pairs, union-find plus the label relation takes
    *    0.38-0.45 s and peaks at 136-138 MB of heap; the whole local
    *    path builds in 0.66-0.81 s (2 jobs), its first action takes
    *    0.68-0.86 s, and heap use peaks 0.29-0.40 GB above the
    *    baseline (garbage included) — about an eighth of the heap;
    *  - the distributed loops at the same size build in 7.0-8.6 s
    *    (star, 61 jobs) and 17.5-20.6 s (min-label, 115 jobs);
    *  - at 2^20 pairs the local path still wins (3.3-4.0 s build plus a
    *    4.2 s first action against star's 27-36 s), but its heap peak
    *    reaches 0.9-1.1 GB, a third of the heap; hence the lower bound.
    */
  private[graft] val LocalEdgeBound = 1 << 18

  private val IntegralIds: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)

  /** The front of both CC functions. Materializes `pairs`' `(id_a,
    * id_b)` once (eager `localCheckpoint`) and reads at most `bound + 1`
    * of its rows in one single-task job. At most `bound` rows of
    * integral ids: [[unionFindLabels]] on the driver, 0 rounds.
    * Otherwise `loop` runs on the materialization and returns its
    * `(node, lbl)` labels — a round checkpoint, never a lazy read of
    * the materialization, whose blocks are released when this returns
    * or throws — and its round count. Every `nodes` row (first column)
    * gets its label, or itself. */
  private def components(pairs: DataFrame, nodes: DataFrame, bound: Int)
                        (loop: DataFrame => (DataFrame, Int)): (DataFrame, Int) = {
    val ab = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    try {
      val ranks = ab.schema.map(f => IntegralIds.indexOf(f.dataType))
      val local =
        if (bound <= 0 || ranks.contains(-1)) None
        // coalesce(1): one task reads the blocks in turn and stops after
        // bound + 1 rows; a bare limit scans partitions in growing waves,
        // one job each
        else Some(ab.coalesce(1).limit(bound + 1).collect()).filter(_.length <= bound)
      val (labels, rounds) = local match {
        case Some(rows) => (unionFindLabels(ab.sparkSession, rows, IntegralIds(ranks.max)), 0)
        case None => loop(ab)
      }
      val out = nodes.select(col(nodes.columns.head).as("id"))
        .join(labels, col("id") === col("node"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
      (out, rounds)
    } finally release(ab)
  }

  /** `(node, lbl)` of type `t` for every pair end whose component
    * minimum is not itself — the others are their own label, which the
    * caller's `coalesce(lbl, id)` supplies. Union-find over dense
    * indexes of the sorted distinct ids, so index order is id order:
    * linking the larger root under the smaller keeps every root its
    * component's minimum. Pairs with a null end are skipped, as the
    * loops never label through them. */
  private def unionFindLabels(spark: SparkSession, rows: Array[Row],
                              t: DataType): DataFrame = {
    val ends = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val a = ends.map(_.getAs[Number](0).longValue)
    val b = ends.map(_.getAs[Number](1).longValue)
    val all = a ++ b
    java.util.Arrays.sort(all)
    var n = 0
    for (v <- all) if (n == 0 || all(n - 1) != v) { all(n) = v; n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def ix(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    for (k <- a.indices) {
      val (ra, rb) = (find(ix(a(k))), find(ix(b(k))))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = new java.util.ArrayList[Row]()
    for (i <- 0 until n) {
      val r = find(i)
      if (r != i) labels.add(Row(ids(i), ids(r)))
    }
    spark.createDataFrame(labels, StructType(Seq(
      StructField("node", LongType), StructField("lbl", LongType))))
      .select(col("node").cast(t), col("lbl").cast(t))
  }

  /** One round of a checkpointed BSP loop (both CC loops and
    * `Graphs.bfsHops`): marks `body` for a LAZY `localCheckpoint`, runs
    * `scan` on it, then releases `prev`. Returns the round and `scan`'s
    * result. `scan` is the action that materializes the round, so the
    * round costs one job instead of an eager checkpoint's job plus the
    * action's. Two rules keep that sound:
    *  - `scan` must read every partition (a count or a full aggregate,
    *    never `isEmpty` or `limit`): any partition it skips is computed
    *    by a second job Spark runs after it to complete the checkpoint;
    *  - `prev` is released only after `scan` returns, since until every
    *    block of the round exists it is computed from `prev`'s blocks
    *    (and `scan` may read `prev` itself, as the star loop's
    *    convergence anti-join does). */
  private[operators] def checkpointRound[T](prev: DataFrame, body: DataFrame)
                                           (scan: DataFrame => T): (DataFrame, T) = {
    val next = body.localCheckpoint(false)
    val out = scan(next)
    release(prev)
    (next, out)
  }

  /** Frees a `localCheckpoint`ed frame's blocks now. `Dataset.unpersist`
    * only drops CacheManager entries, so on a checkpointed frame it does
    * nothing and the blocks stay until the RDD is garbage-collected. */
  private[operators] def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** One-call dedup capstone: near-dup pairs → connected components
    * (star alternation — the faster variant on clique-heavy dedup
    * graphs, see PLANS.md) → ONE surviving representative per group,
    * chosen as the row with the highest `keepBy` value (min id breaks
    * ties) — what a corpus pipeline actually keeps: the best copy, not
    * the lowest-numbered one. Output: every input doc with its group
    * and a `keep` flag (singletons always keep). */
  def dedupKeepBest(docs: DataFrame, threshold: Double, n: Int = 3,
                    keepBy: String = "doc_id", textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val pairs = ngramJaccardPairs(docs, threshold, n, None, textCol, idCol)
    val comp = connectedComponentsStar(pairs, docs.select(col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(keepBy).desc, col(idCol))
    docs.join(comp, docs(idCol) === comp("id"))
      .drop("id")
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxDist`.
    * Candidates via 8×8-bit band buckets (pigeonhole: Hamming ≤ 7 ⇒ at
    * least one band identical), verified with bit_count(a XOR b). */
  def simhashNearDupPairs(docs: DataFrame, maxDist: Int = 6,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(maxDist <= 7, "8-band bucketing guarantees recall only to distance 7")
    val hashed = simhashes(docs, textCol, idCol)
    val banded = hashed.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(7)),
        b => call_function("shiftright", col("sh"), b * 8).bitwiseAND(0xFF))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
      .localCheckpoint(true)
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_val") === col("r.band_val") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      // verify BEFORE dedup: bit_count is map-local, so failing band
      // collisions never reach the distinct's shuffle. On sparse-dup
      // corpora (the real case) most collisions fail and the shuffle
      // shrinks accordingly (1.4x on the 4x ScaleProbe corpus); on
      // dup-saturated corpora it is neutral — the output itself
      // dominates either way
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** DIRECTED n-gram containment pairs: (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold — the
    * sub-document detector Jaccard structurally misses (a short doc
    * quoted whole inside a long one has tiny Jaccard but containment
    * 1.0; Broder's original resemblance/containment split). Exact ppm
    * integers: containment_ppm = inter · 10⁶ div |Sa|.
    *
    * Scale shape: one distinct-shingle explode + shingle equi-join
    * (Σ df² candidate cost); `dfCap` drops shingles in more than that
    * many docs from candidate generation — boilerplate shingles
    * generate quadratic candidates while contributing containment
    * evidence every document shares (the SetSimJoin prefix-filter
    * rationale, as a frequency cap). Capped shingles still count in
    * |Sa| (the denominator is a per-doc property), so the cap only
    * LOWERS measured containment — a candidate that clears the
    * threshold on rare shingles alone is never lost. */
  def containmentPairs(docs: DataFrame, thresholdPpm: Long, n: Int = 3,
                       dfCap: Long = Long.MaxValue,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // fanOut: shingling is the heavy map (guide §2.5)
    val sh = graft.core.FanOut.fanOut(docs).select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.wordShingles(col(textCol), n))
          .as("g"))
      .localCheckpoint(true) // sizes + both join sides reuse it
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sa"))
    val kept =
      if (dfCap == Long.MaxValue) sh
      else sh.join(
        sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("g")), "g")
    val inter = kept.as("a").join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter.join(sizes.select(col("id").as("id_a"), col("sa")), "id_a")
      .withColumn("containment_ppm", expr("inter * 1000000 div sa"))
      .filter(col("containment_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("inter"), col("sa"),
        col("containment_ppm"))
  }
}
