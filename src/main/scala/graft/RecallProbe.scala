package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Similarity}

/** Diagnostic main: measures the ACTUAL recall/error of every
  * approximate operator at a given SF dir, across candidate parameter
  * settings — the data behind the recall floors the certified gate
  * queries assert (a floor nobody measured is a flake, not a check).
  * Run: sbt "runMain graft.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local(32, "graft-recall-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables(spark, dir, "embeddings")
    val docs = Tables(spark, dir, "documents")
    val q32 = emb.filter(col("vec_id") < 32)

    def topkSet(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = topkSet(Similarity.bruteForceTopK(q32, emb, k = 5))
    def recall(df: DataFrame): Double =
      topkSet(df).intersect(exact).size.toDouble / exact.size

    println(s"== $dir | corpus ${emb.count()} vectors, 32 queries, k=5 ==")

    for ((bits, bands) <- Seq((32, 8), (64, 8), (64, 16), (96, 16), (128, 16), (128, 32)))
      println(f"lshTopK bits=$bits%3d bands=$bands%2d  recall=${recall(
        Similarity.lshTopK(q32, emb, k = 5, dim = 64, bits = bits, bands = bands))}%.3f")

    for (np <- Seq(4, 6, 8))
      println(f"ivfTopK nlist=16 nprobe=$np  recall=${recall(
        Similarity.ivfTopK(q32, emb, k = 5, nlist = 16, nprobe = np))}%.3f")

    for (rf <- Seq(4, 8, 16))
      println(f"pqTopK m=8 ksub=16 refine=$rf%2d  recall=${recall(
        Similarity.pqTopK(q32, emb, k = 5, dim = 64, refine = rf))}%.3f")

    for ((np, rf) <- Seq((4, 4), (6, 8), (8, 8)))
      println(f"ivfPqTopK nprobe=$np refine=$rf  recall=${recall(
        Similarity.ivfPqTopK(q32, emb, k = 5, dim = 64, nprobe = np, refine = rf))}%.3f")

    // IVF index drift: build on half the corpus, append the rest with
    // the STORED centroids (the silent-degradation regime), then
    // recluster — recall before vs after quantifies what the retrain
    // buys on a drifted-append fixture
    {
      val root = java.nio.file.Files
        .createTempDirectory("graft_recall_drift").resolve("ix").toString
      graft.operators.IvfIndex.build(
        emb.filter(col("vec_id") < 250), root, nlist = 16)
      graft.operators.IvfIndex.append(
        emb.filter(col("vec_id") >= 250), root)
      val before = recall(
        graft.operators.IvfIndex.topK(spark, q32, root, k = 5, nprobe = 6))
      graft.operators.IvfIndex.reclusterIfDrifted(spark, root, threshold = 0.5)
      val after = recall(
        graft.operators.IvfIndex.topK(spark, q32, root, k = 5, nprobe = 6))
      println(f"ivfIndex drifted-append nprobe=6  recall before=$before%.3f after-recluster=$after%.3f")
    }

    // kNN graph: every vector a query
    val exactGraph = topkSet(Similarity.bruteForceTopK(emb, emb, k = 5))
    for (np <- Seq(4, 6, 8)) {
      val g = topkSet(Similarity.knnGraphIvf(emb, k = 5, nlist = 16, nprobe = np))
      println(f"knnGraphIvf nprobe=$np  edge-recall=${g.intersect(exactGraph).size.toDouble / exactGraph.size}%.3f")
    }

    // near-dup pair recall at cos >= 0.4
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = pairSet(Similarity.cosineNearDupPairs(emb, 0.4))
    println(s"exact cos>=0.4 pairs: ${exactPairs.size}")
    for ((bits, bands) <- Seq((32, 8), (64, 16), (128, 32))) {
      val p = pairSet(Similarity.cosineNearDupPairsLSH(emb, 0.4, dim = 64, bits = bits, bands = bands))
      println(f"neardupLSH bits=$bits%3d bands=$bands%2d  recall=${p.size.toDouble / exactPairs.size}%.3f subset=${p.subsetOf(exactPairs)}")
    }

    // q119 survivor agreement vs q103 (exact)
    def surv(pairs: Option[DataFrame]): Set[(Long, Long)] =
      Similarity.semanticDedupSurvivors(emb, 0.4, pairs = pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSurv = surv(None)
    for ((bits, bands) <- Seq((32, 8), (64, 16), (128, 32))) {
      val s2 = surv(Some(Similarity.cosineNearDupPairsLSH(emb, 0.4, dim = 64, bits = bits, bands = bands)))
      println(f"semdedupLSH bits=$bits%3d bands=$bands%2d  survivor-agreement=${s2.intersect(exactSurv).size.toDouble / exactSurv.size}%.3f (${s2.size} vs ${exactSurv.size})")
    }

    // SimHash hamming<=d pairs vs exact 3-gram jaccard>=0.8 pairs
    val exactJac = pairSet(Dedup.ngramJaccardPairs(docs, threshold = 0.8)
      .select(col("id_a"), col("id_b")))
    println(s"exact jaccard>=0.8 pairs: ${exactJac.size}")
    for (d <- Seq(3, 6)) {
      val sh = pairSet(Dedup.simhashNearDupPairs(docs, maxDist = d))
      val hit = sh.intersect(exactJac).size
      println(f"simhash maxDist=$d  pairs=${sh.size} recall-of-jac=${hit.toDouble / math.max(1, exactJac.size)}%.3f precision=${if (sh.isEmpty) 1.0 else hit.toDouble / sh.size}%.3f")
    }

    // HLL error: approx_count_distinct per l_returnflag
    val li = Tables(spark, dir, "lineitem")
    val errs = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .collect().map(r => math.abs(r.getLong(1) - r.getLong(2)).toDouble / r.getLong(2))
    println(f"approx_count_distinct max rel err=${errs.max}%.4f")

    val hllErrs = docs.groupBy(col("lang"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("doc_id"))).as("a"),
        countDistinct(col("doc_id")).as("e"))
      .collect().map(r => math.abs(r.getLong(1) - r.getLong(2)).toDouble / r.getLong(2))
    println(f"hll_sketch max rel err=${hllErrs.max}%.4f")

    spark.stop()
  }
}
