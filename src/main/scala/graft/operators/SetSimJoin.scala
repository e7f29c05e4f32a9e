package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact set-similarity self-join with prefix filtering (AllPairs /
  * PPJoin family): all pairs with Jaccard ≥ t over per-row token sets,
  * without the quadratic hot-token blowup of a naive inverted-index
  * join.
  *
  * Method:
  *  1. order all distinct tokens globally, rarest first (document
  *     frequency ascending) — via range-repartition + local sort +
  *     monotonically_increasing_id (order-isomorphic, no single-task
  *     global window even when the token dictionary is huge);
  *  2. represent each row's set as its sorted rank array;
  *  3. index only each row's PREFIX — the first |x| − ⌈t·|x|⌉ + 1
  *     ranks. Any pair with J ≥ t must share a prefix token (pigeonhole
  *     on the ≥ ⌈t·|x|⌉ overlap a qualifying pair needs), so candidate
  *     generation is an equi-join on prefix tokens only. Because the
  *     order is rarest-first, prefixes hold the rare tokens and the
  *     join buckets stay small — this is what kills the Σdf² cost of
  *     hot tokens;
  *  4. verify candidates with the exact intersection size.
  */
object SetSimJoin {

  /** `sets`: (id: long, toks: array<string>). Output: (id_a, id_b,
    * jaccard) with id_a < id_b and jaccard ≥ threshold. */
  def jaccardSelfJoin(sets: DataFrame, threshold: Double): DataFrame = {
    val (rankSets, candidates) = rankSetsAndCandidates(sets, threshold)
    val sides = rankSets.select(col("id"), col("ranks"), col("sz"))
    candidates
      .join(sides.select(col("id").as("id_a"), col("ranks").as("ranks_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sides.select(col("id").as("id_b"), col("ranks").as("ranks_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      // ranks arrays are sorted → codegen'd linear-merge intersection
      .withColumn("common", graft.plans.VectorExpressions
        .sortedIntersectCount(col("ranks_a"), col("ranks_b")))
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Stages 1-3 of the AllPairs pipeline — rank-encoded sets plus the
    * prefix-filtered candidate pairs, before exact verification. Shared
    * by [[jaccardSelfJoin]] and the ScaleProbe skew section, which
    * counts these candidates on a pathological every-doc-shares-a-
    * boilerplate corpus to MEASURE (not argue) that prefix filtering
    * holds the candidate count near-linear where a naive inverted-index
    * join (Σ df² over hot tokens) goes quadratic. */
  private[graft] def rankSetsAndCandidates(
      sets: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1)
    val rankSets = rankedSets(
      sets.select(col("id"), explode(col("toks")).as("tok")), Seq("id"), threshold)

    // NOT checkpointed: both self-join sides re-derive this from the
    // checkpointed rankSets — the re-derivation is a map-local explode
    // (no shuffle), cheaper than materializing + reading back a second
    // stored copy, and one fewer eager job on the critical path
    val prefixes = rankSets
      .select(col("id"), col("sz"),
        explode(slice(col("ranks"), lit(1), col("plen"))).as("r"))

    // length filter: J ≥ t needs t·|x| ≤ |y| ≤ |x|/t — prunes the bulk
    // of prefix-bucket candidates before the distinct/verify stages
    val candidates = prefixes.as("l")
      .join(prefixes.as("r"),
        col("l.r") === col("r.r") && col("l.id") < col("r.id") &&
          col("l.sz") * threshold <= col("r.sz") &&
          col("r.sz") * threshold <= col("l.sz"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    (rankSets, candidates)
  }

  /** Exact A-vs-B set-similarity join — the INCREMENTAL dedup shape: a
    * new batch checked against the historical corpus, no corpus
    * self-join. `left`/`right`: (id, toks). Output: (id_l, id_r,
    * jaccard) with jaccard ≥ threshold.
    *
    * Same prefix-filtering theory as the self-join: the rarest-first
    * rank order is built over BOTH sides' tokens (document frequency
    * across the union), so a qualifying cross pair must share a prefix
    * token and candidates come from a prefix-to-prefix equi-join with
    * the length filter — cost is Σ bucket_l × bucket_r, never
    * |A| × |B|. At 100 TB the corpus side's rank sets are a one-off
    * write-side artifact; each daily batch joins against them. */
  def jaccardJoin(left: DataFrame, right: DataFrame,
                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val tokens = left
      .select(lit(0).as("side"), col("id"), explode(col("toks")).as("tok"))
      .unionByName(right
        .select(lit(1).as("side"), col("id"), explode(col("toks")).as("tok")))
    val rankSets = rankedSets(tokens, Seq("side", "id"), threshold)
    def prefixes(side: Int, idName: String) = rankSets
      .filter(col("side") === side)
      .select(col("id").as(idName), col("sz"),
        explode(slice(col("ranks"), lit(1), col("plen"))).as("r"))
    val candidates = prefixes(0, "id_l").as("l")
      .join(prefixes(1, "id_r").as("r"),
        col("l.r") === col("r.r") &&
          col("l.sz") * threshold <= col("r.sz") &&
          col("r.sz") * threshold <= col("l.sz"))
      .select(col("id_l"), col("id_r"))
      .distinct()
    candidates
      .join(rankSets.filter(col("side") === 0).select(col("id").as("id_l"),
        col("ranks").as("ranks_l"), col("sz").as("sz_l")), Seq("id_l"))
      .join(rankSets.filter(col("side") === 1).select(col("id").as("id_r"),
        col("ranks").as("ranks_r"), col("sz").as("sz_r")), Seq("id_r"))
      .withColumn("common", graft.plans.VectorExpressions
        .sortedIntersectCount(col("ranks_l"), col("ranks_r")))
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("sz_l") + col("sz_r") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }

  /** Stages 1-2 of the AllPairs pipeline over `tokens` (`keys`…, tok):
    * the rarest-first rank of every distinct token, then per key the
    * sorted rank array `ranks`, its size `sz` and the prefix length
    * `plen` = |x| − ⌈t·|x|⌉ + 1.
    *
    * Rarest-first global ORDER (dense ranks are not needed — only a
    * long that is order-isomorphic to (df, tok)): after
    * repartitionByRange the partition index is ordered by the key, and
    * after sortWithinPartitions the local row order is too, so
    * monotonically_increasing_id (pid << 33 | local) is itself
    * order-isomorphic — no per-partition count pass, no offset window,
    * no broadcast join.
    *
    * Both builds are EAGERLY checkpointed, not lazily persisted:
    *  - mono_id is only consistent within ONE evaluation, and a
    *    lazily-cached subtree can materialize different partitions in
    *    different downstream stages (= separate evaluations with
    *    different AQE layouts), silently assigning a token two
    *    different ranks; the eager localCheckpoint freezes the
    *    tok→rank map before any consumer runs. (Found the hard way: one
    *    shared shingle of a near-dup pair ranked differently in the two
    *    docs' arrays.)
    *  - the rank sets have three consumers (the candidate self-join's
    *    two prefix sides and the verify joins), and Spark re-executes
    *    unshared lineage per reference (the sides aren't canonically
    *    equal, so ReusedExchange can't help). A CacheManager persist()
    *    here leaks — the operators return a lazy plan, so there is no
    *    point where the caller could unpersist; localCheckpoint
    *    materializes once, truncates lineage, and its RDD blocks are
    *    freed by the ContextCleaner once the result DataFrame is
    *    dropped. */
  private def rankedSets(tokens: DataFrame, keys: Seq[String],
                         threshold: Double): DataFrame = {
    val ranked = tokens.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .repartitionByRange(col("df"), col("tok"))
      .sortWithinPartitions(col("df"), col("tok"))
      .select(col("tok"), monotonically_increasing_id().as("rank"))
      .localCheckpoint(true)
    tokens
      .join(ranked, Seq("tok"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("rank"))).as("ranks"))
      .withColumn("sz", size(col("ranks")))
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast(IntegerType))
      .localCheckpoint(true)
  }
}
