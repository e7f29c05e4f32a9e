package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression

/** One registration point for every custom graft expression. Its only
  * caller is `GraftSession.tune`, so every engine session has them; a
  * cloned session (streaming `foreachBatch`) copies the registry. */
object GraftFunctions {
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (e => DotProduct(e(0), e(1))),
    "sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
    "word_ngrams" -> (e => WordNgrams(e(0), e(1))),
    "word_ngrams_all" -> (e => WordNgramsAll(e(0), e(1))),
    "rolling_hash" -> (e => RollingHash(e.head)),
    "simhash64" -> (e => SimHash64(e.head)),
    "nfc_normalize" -> (e => NfcNormalize(e.head)))

  val names: Seq[String] = builders.map(_._1)

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
