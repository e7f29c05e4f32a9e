package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING statistics (Sennrich et al.
  * 2016 "Neural Machine Translation of Rare Words with Subword Units"):
  * corpus-wide adjacent symbol-pair counts with K iterated merge
  * rules — the missing tokenizer-training stage of a large-scale text
  * pipeline (reference scope: the engine's text family; the reference
  * pipeline tokenizes with a fixed vocabulary, this trains one).
  *
  * Scale design (the 100 TB story):
  *  - training runs over the WORD-FREQUENCY VOCABULARY, not the raw
  *    corpus — the classic BPE formulation. One corpus-sized
  *    explode+agg produces `(word, wc)`; every iteration after that
  *    touches vocab-sized data only (distinct words × word length),
  *    orders of magnitude smaller than the corpus and independent of
  *    corpus growth once the vocabulary saturates;
  *  - symbols are ROWS `(w, wc, rn, sym)`, not per-word arrays: pair
  *    counting is one LEAD window + one map-side-combinable agg, and
  *    merge application is a chain of window functions partitioned by
  *    word — no per-word fold UDF, everything whole-stage codegen;
  *  - each iteration's chosen pair is a 1-row collect (dim-sized by
  *    construction) that enters the next plan as a literal; the merged
  *    symbol table is localCheckpoint'ed per iteration (truncates the
  *    growing window lineage) and released (`Dedup.release`) when
  *    replaced.
  *
  * Merge application is leftmost non-overlapping, the standard BPE
  * scan: a run of consecutive matches (only possible when left = right,
  * e.g. `aaaa` under `(a,a)`) merges at even offsets within the run —
  * `aaaa` → `aa aa`, not `a aa a`. Pair counting is plain adjacent
  * counting (`aaa` contributes 2 to `(a,a)`), matching the reference
  * implementation's get_stats.
  *
  * Every step is exact integer arithmetic over deterministic
  * tie-breaks ((count DESC, left, right)), so the trained rules are
  * bit-identical across engines — the q142/q149 oracle-parity pattern.
  */
object Bpe {

  /** One trained merge rule: at iteration `iter` (1-based) the pair
    * `(left, right)` was the most frequent, with total weighted
    * adjacent count `cnt`. */
  final case class MergeRule(iter: Int, left: String, right: String, cnt: Long)

  /** `(word, wc)` vocabulary → initial symbol rows `(w, wc, rn, sym)`:
    * one row per character, `rn` dense 1-based position. */
  def initialSymbols(vocab: DataFrame): DataFrame =
    vocab.select(col("word").as("w"), col("wc").cast("long").as("wc"),
        posexplode(regexp_extract_all(col("word"), lit("."), lit(0))))
      .select(col("w"), col("wc"), (col("pos") + 1).cast("long").as("rn"),
        col("col").as("sym"))

  /** Weighted adjacent-pair counts `(a, b, cnt)` over symbol rows. */
  def pairCounts(syms: DataFrame): DataFrame = {
    val byW = Window.partitionBy(col("w")).orderBy(col("rn"))
    syms.withColumn("b", lead(col("sym"), 1).over(byW))
      .filter(col("b").isNotNull)
      .groupBy(col("sym"), col("b"))
      .agg(sum(col("wc")).as("cnt"))
      .select(col("sym").as("a"), col("b"), col("cnt"))
  }

  /** Replace every leftmost non-overlapping adjacent `(a, b)` with the
    * merged symbol `a+b`; positions re-densified. Pure window
    * functions: match-mark (LEAD), gaps-and-islands run grouping,
    * even-offset-within-run overlap parity, consumed = LAG(taken). */
  def applyMerge(syms: DataFrame, a: String, b: String): DataFrame = {
    val byW = Window.partitionBy(col("w")).orderBy(col("rn"))
    val marked = syms.withColumn("mt",
      when(col("sym") === lit(a) &&
        lead(col("sym"), 1).over(byW) === lit(b), lit(1)).otherwise(lit(0)))
    val grp = marked.withColumn("grp", col("rn") -
      row_number().over(Window.partitionBy(col("w"), col("mt")).orderBy(col("rn"))))
    val taken = grp.withColumn("taken",
      when(col("mt") === 1 &&
        (col("rn") - min(col("rn")).over(
          Window.partitionBy(col("w"), col("mt"), col("grp")))) % 2 === 0,
        lit(1)).otherwise(lit(0)))
    val consumed = taken.withColumn("consumed",
      coalesce(lag(col("taken"), 1).over(byW), lit(0)))
    consumed.filter(col("consumed") === 0)
      .withColumn("sym",
        when(col("taken") === 1, lit(a + b)).otherwise(col("sym")))
      .withColumn("rn", row_number().over(byW).cast("long"))
      .select(col("w"), col("wc"), col("rn"), col("sym"))
  }

  /** ENCODE: apply an ordered merge-rule list to a `(word, wc)`
    * vocabulary, returning the segmented symbol rows `(w, wc, rn, sym)`
    * — BPE tokenization of every distinct word. The 100 TB encoding
    * path: segmentation is computed ONCE PER DISTINCT WORD here; a
    * corpus tokenizes by equi-joining its words against this
    * vocab-sized table (never re-running the merge chain per
    * occurrence), and corpus-weighted subword statistics come straight
    * from `wc` without touching the corpus again. */
  def encode(vocab: DataFrame, rules: Seq[MergeRule]): DataFrame =
    rules.sortBy(_.iter).foldLeft(initialSymbols(vocab)) { (syms, r) =>
      applyMerge(syms, r.left, r.right)
    }

  /** Train `k` merge rules over a `(word, wc)` vocabulary. Stops early
    * if the vocabulary runs out of adjacent pairs. */
  def train(vocab: DataFrame, k: Int): Seq[MergeRule] = {
    require(k >= 1, s"k must be >= 1, got $k")
    var syms = initialSymbols(vocab).localCheckpoint(true)
    val rules = scala.collection.mutable.ListBuffer.empty[MergeRule]
    var i = 1
    var exhausted = false
    while (i <= k && !exhausted) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
        rules += MergeRule(i, a, b, c)
        if (i < k) { // the last rule needs no application pass
          val next = applyMerge(syms, a, b).localCheckpoint(true)
          Dedup.release(syms)
          syms = next
        }
      }
      i += 1
    }
    Dedup.release(syms)
    rules.toList
  }
}
