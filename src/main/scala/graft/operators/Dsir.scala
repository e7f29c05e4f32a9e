package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style hashed-feature importance weighting (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every document by how much its token distribution looks like
  * a TARGET subset of the corpus relative to the corpus at large —
  * the standard cheap pre-training data-selection signal (select
  * web-scale source docs that resemble a curated target like
  * Wikipedia/books).
  *
  * Features are unigrams hashed into `buckets` buckets; each bucket
  * gets the importance ratio p_target / p_source estimated from raw
  * token counts. A document's score is the mean bucket ratio over its
  * tokens (the paper uses a product of ratios ≡ sum of logs; the
  * fixed-point mean of ratios preserves the ranking monotonicity for
  * selection while staying in EXACT integer arithmetic — see Parity).
  *
  * Scale shape: ONE token explode feeding three map-side-combinable
  * aggs (source buckets, target buckets, per-doc sums); the bucket
  * weight table is `buckets` rows and BROADCASTS into the token
  * stream. No corpus-sized collect, no self-join — at 100 TB this is
  * one shuffle of (doc, bucket) partial sums.
  *
  * Parity: the md5-prefix bucket hash is the q48 keyed-md5 convention
  * (portable to any engine with md5); ratios are floor fixed-point
  * `(tgt·1e6) div src` longs; the per-doc mean is a floor div. Pure
  * integers end-to-end — hash-identical across engines.
  *
  * @param docs     (id, text) — id column first, text column second
  * @param isTarget predicate over `docs` rows marking the target set
  * @param buckets  hashed feature-space size (the paper uses 10⁴;
  *                 keep ≪ vocabulary so buckets act as a smoother)
  * @return (id, n_tokens, dsir_score) — dsir_score is the fixed-point
  *         mean bucket ratio in 1e-6 units; target-like docs score
  *         high, off-target docs low
  */
object Dsir {

  /** Deterministic md5-prefix bucket for a token (engine-portable). */
  def tokenBucket(token: Column, buckets: Int): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long") % buckets

  def scoreAgainstTarget(docs: DataFrame, isTarget: Column,
                         buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val idCol = docs.columns(0); val textCol = docs.columns(1)
    val tokens = docs
      .select(col(idCol).as("__id"), isTarget.cast("int").as("__tgt"),
        explode(split(col(textCol), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .withColumn("__b", tokenBucket(col("__tok"), buckets))
      .localCheckpoint(true)
    // bucket ratio table: `buckets` rows, broadcast back into tokens.
    // src count ≥ tgt count ≥ 0 and src ≥ 1 for every bucket a doc
    // token hits, so the floor div is total and ratios live in
    // [0, 1e6].
    val ratios = tokens.groupBy(col("__b"))
      .agg(count(lit(1)).as("__src"), sum(col("__tgt")).as("__tgtc"))
      .select(col("__b"),
        expr("(__tgtc * 1000000L) div __src").as("__r"))
    tokens.join(broadcast(ratios), Seq("__b"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__r")).as("__rsum"))
      .select(col("__id").as(idCol), col("n_tokens"),
        expr("__rsum div n_tokens").as("dsir_score"))
  }
}
