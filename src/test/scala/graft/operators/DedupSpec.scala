package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSuite

class DedupSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exact dedup keeps min id per distinct text") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 3L), (2L, 1L)))
  }

  test("minhash LSH finds exactly the exact-jaccard pair set (recall check)") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact)
  }

  test("incremental A-vs-B join equals the cross-split slice of the self-join") {
    val exactAll = Dedup.ngramJaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // split by parity; expected = self-join pairs straddling the split,
    // oriented (even, odd)
    val expected = exactAll.collect {
      case (a, b) if a % 2 == 0 && b % 2 != 0 => (a, b)
      case (a, b) if a % 2 != 0 && b % 2 == 0 => (b, a)
    }
    val got = Dedup.ngramJaccardJoin(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture should contain cross-split near-dups")
    assert(got == expected)
  }

  test("simhash: identical docs at distance 0; near-dups are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark table scan merge join filter"),
      (2L, "spark table scan merge join filter"),
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("simhash near-dup pairs cover the planted high-jaccard pairs") {
    val planted = Dedup.ngramJaccardPairs(docs, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashNearDupPairs(docs, maxDist = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    assert(planted.subsetOf(sim),
      s"missing: ${planted.diff(sim)}")
  }

  test("df-cut drops hot shingles but keeps true near-dup pairs") {
    val withCut = Dedup.ngramJaccardPairs(docs, 0.8, maxShingleFreq = Some(50))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noCut = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup docs share mostly rare shingles; a mild df-cut must not
    // change the verified pair set on this corpus
    assert(withCut == noCut)
  }

  test("connected components: chain, triangle, singleton") {
    import spark.implicits._
    // 1-2-3 chain (diameter 2), 5-6-7 triangle, 9 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L).toDF("id")
    val got = Dedup.connectedComponents(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 9L))
  }

  test("connected components converge on a deep path graph") {
    import spark.implicits._
    // path 0-1-2-...-12: worst-case diameter for min-label propagation
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L to 12L).toDF("id")
    val got = Dedup.connectedComponents(pairs, nodes).collect()
      .map(r => r.getLong(1)).toSet
    assert(got == Set(0L))
  }

  test("connected components: a loop that does not converge leaves no " +
    "cached edge list") {
    import spark.implicits._
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // start from an empty cache
    // a 40-link chain needs ~40 min-label rounds; 3 are allowed
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.minLabelComponents(pairs, (0L to 40L).toDF("id"), maxIter = 3,
        bound = 0)
    }
    assert(e.getMessage.contains("did not converge in 3 rounds"))
    assert(cache.isEmpty, "the persisted edge list must be unpersisted")
  }

  test("connected components: maxIter does not apply on the local path") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, (0L to 40L).toDF("id"),
      maxIter = 3).collect().map(_.getLong(1)).toSet
    assert(got == Set(0L))
  }

  test("star connected components agree with min-label on mixed graphs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L),
      (20L, 11L), (11L, 15L))
      .toDF("id_a", "id_b")
    val nodes = (Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L, 11L, 15L, 20L)).toDF("id")
    val star = Dedup.connectedComponentsStar(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val label = Dedup.connectedComponents(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == label)
    assert(star(9L) == 9L) // singleton maps to itself
  }

  test("star and min-label agree with a driver union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edgeList = Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // ground truth: driver union-find attaching larger roots under
      // smaller, so every root IS its component minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val pairs = edgeList.toDF("id_a", "id_b")
      val nodes = (0L until n.toLong).toDF("id")
      val star = Dedup.connectedComponentsStar(pairs, nodes).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val label = Dedup.connectedComponents(pairs, nodes).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == expected, s"star vs union-find, seed $seed")
      assert(label == expected, s"min-label vs union-find, seed $seed")
    }
  }

  test("star components: 1000-link chain converges in O(log n) rounds") {
    import spark.implicits._
    // adversarially deep: diameter 1000 — min-label propagation would
    // need 1000 rounds; the star alternation contracts multiplicatively
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L to 1000L).toDF("id")
    val (out, rounds) =
      Dedup.starComponents(pairs, nodes, maxIter = 30, bound = 0)
    assert(out.select("component").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(out.count() == 1001)
    assert(rounds <= 20, s"took $rounds rounds — not O(log n)")
  }

  // (id, component) rows of a CC result, sorted
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** A random pair list and node list mixing every shape the local path
    * must label like the loops: a deep chain over shuffled ids, cliques,
    * isolated nodes, self-pairs, duplicate and reversed pairs, pair ids
    * missing from the nodes, and ids above Int.MaxValue. */
  private val graphs: Gen[(Seq[(Long, Long)], Seq[Long])] = for {
    chain <- Gen.choose(200, 230)
    cliques <- Gen.listOfN(4, Gen.choose(2, 5))
    isolated <- Gen.choose(0, 4)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rnd = new scala.util.Random(seed)
    val total = chain + 1 + cliques.sum + isolated
    val ids = Iterator.continually(
      if (rnd.nextBoolean()) rnd.nextInt(100000).toLong
      else Int.MaxValue.toLong + 1 + rnd.nextInt(Int.MaxValue))
      .distinct.take(total).toVector
    val path = ids.take(chain + 1)
    var rest = ids.drop(chain + 1)
    val groups = cliques.map { k => val g = rest.take(k); rest = rest.drop(k); g }
    val edges = path.zip(path.tail) ++
      groups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b))
    val extra = Seq.fill(6)(edges(rnd.nextInt(edges.size)))
    val selfs = Seq.fill(3)(ids(rnd.nextInt(ids.size))).map(i => (i, i))
    val pairs = rnd.shuffle(edges ++ extra ++ extra.map(_.swap) ++ selfs)
    // about one id in 20 leaves the nodes, so some pair ends are absent
    val nodes = ids.filterNot(_ => rnd.nextInt(20) == 0)
    (pairs, nodes)
  }

  test("local connected components equal both distributed loops on " +
    "random graphs") {
    import spark.implicits._
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3)
        .withInitialSeed(org.scalacheck.rng.Seed(7L)),
      Prop.forAllNoShrink(graphs) { case (edgeList, nodeList) =>
        val pairs = edgeList.toDF("id_a", "id_b")
        val nodes = nodeList.toDF("id")
        val local = rows(Dedup.connectedComponents(pairs, nodes))
        val star = rows(Dedup.starComponents(pairs, nodes, 50, bound = 0)._1)
        val label = rows(Dedup.minLabelComponents(pairs, nodes, 300, bound = 0))
        local == star && local == label && local.size == nodeList.size
      })
    assert(res.passed, res.toString)
  }

  test("the local path takes exactly LocalEdgeBound pairs") {
    val bound = Dedup.LocalEdgeBound
    // a star around 0: one round for either loop
    def jobs(edges: Int): Long = {
      val pairs = spark.range(1, edges + 1L)
        .select(lit(0L).as("id_a"), col("id").as("id_b")).localCheckpoint(true)
      val (out, run) = graft.core.Metrics.measure(spark)(
        Dedup.connectedComponents(pairs, spark.range(edges + 2L).toDF("id")))
      assert(out.filter(col("component") =!= 0L).count() == 1) // the isolated node
      run.jobs
    }
    assert(jobs(bound) <= 2)
    assert(jobs(bound + 1) > 2)
  }

  test("string ids stay on the distributed path") {
    import spark.implicits._
    val pairs = Seq(("b", "c"), ("c", "d"), ("x", "y")).toDF("id_a", "id_b")
      .localCheckpoint(true)
    val nodes = Seq("b", "c", "d", "x", "y", "z").toDF("id")
    val (out, run) = graft.core.Metrics.measure(spark)(
      Dedup.connectedComponents(pairs, nodes))
    assert(run.jobs > 2)
    assert(out.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("b" -> "b", "c" -> "b", "d" -> "b", "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("the local path builds in two jobs and leaves no cached or " +
    "persisted data") {
    import spark.implicits._
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    // q119's shape: a checkpointed pair frame of int ids, Long nodes
    val pairs = Seq((1, 2), (2, 3), (5, 6), (6, 7), (5, 7), (20, 11))
      .toDF("id_a", "id_b").localCheckpoint(true)
    val nodes = (1L to 21L).toDF("id")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val outs = for (cc <- Seq[() => org.apache.spark.sql.DataFrame](
                      () => Dedup.connectedComponents(pairs, nodes),
                      () => Dedup.connectedComponentsStar(pairs, nodes))) yield {
      val (out, run) = graft.core.Metrics.measure(spark)(cc())
      assert(run.jobs <= 2, run)
      assert(rows(out).toMap.filter { case (k, v) => k != v } ==
        Map(2L -> 1L, 3L -> 1L, 6L -> 5L, 7L -> 5L, 20L -> 11L))
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
      assert(cache.isEmpty)
      out
    }
    // the loops' output schema: int labels widened to the Long nodes
    val loop = Dedup.minLabelComponents(pairs, nodes, 25, bound = 0).schema
    assert(outs.forall(_.schema == loop))
  }

  test("containmentPairs: directional, catches sub-document inclusion") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, quote), // short doc...
      (2L, s"intro words here $quote closing words trail off now"), // ...quoted whole
      (3L, "completely different content with no overlap at all ok")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, thresholdPpm = 900000L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("containment_ppm"))).toSet
    // all of doc1's 4 shingles appear in doc2 → containment(1→2)=1.0;
    // reverse direction is well below 0.9; doc3 pairs with nobody
    assert(got == Set((1L, 2L, 1000000L)))
  }

  test("containmentPairs: df cap only lowers containment, never invents") {
    import spark.implicits._
    val docs = (1L to 6L).map(i =>
      (i, s"shared common boiler plate text everywhere unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.containmentPairs(docs, 0L)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Long]("containment_ppm"))).toMap
    val capped = Dedup.containmentPairs(docs, 0L, dfCap = 3L)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Long]("containment_ppm"))).toMap
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, v) => assert(v <= uncapped(k), s"$k") }
  }
}
