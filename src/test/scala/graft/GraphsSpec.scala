package graft

import org.apache.spark.sql.functions._

import graft.operators.Graphs

class GraphsSpec extends SparkSuite {
  import spark.implicits._

  private def edges(rows: (String, String, Long)*) =
    rows.toDF("src", "dst", "w")

  test("one iteration on a directed pair matches the hand-computed recurrence") {
    // a -> b (weight 1): N = 2, pr0 = 0.5 each; b is the only in-node.
    // pr1(b) = 0.15/2 + 0.85 * (0.5 * 1/1) = 0.5
    // pr1(a) = 0.15/2 = 0.075 (no in-edges; a's out-mass leaves, b dangles)
    val r = Graphs.weightedPageRank(edges(("a", "b", 1L)), iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("b") - 0.5) < 1e-9)
    assert(math.abs(r("a") - 0.075) < 1e-9)
  }

  test("symmetric graph: mass conserved, degree-weighted hub ranks highest") {
    // path hub: b touches both a and c; symmetrized edge list
    val sym = edges(
      ("a", "b", 2L), ("b", "a", 2L),
      ("b", "c", 1L), ("c", "b", 1L))
    val r = Graphs.weightedPageRank(sym, iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // no dangling nodes -> total rank mass stays 1 (up to the
    // fixed-point floor-division leakage, < 1e-8 per edge per round)
    assert(math.abs(r.values.sum - 1.0) < 1e-5)
    assert(r("b") > r("a") && r("b") > r("c"))
    // a sends ALL its mass to b; c likewise -> a and c split b's outflow
    // by edge weight 2:1
    assert(r("a") > r("c"))
  }

  test("deterministic across partitionings (fixed-point integer recurrence)") {
    val many = (0L until 400L).flatMap { i =>
      val a = s"n${i % 57}"; val b = s"n${(i * 31 + 7) % 57}"
      if (a == b) Seq.empty else Seq((a, b, i % 5 + 1), (b, a, i % 5 + 1))
    }
    val e1 = many.toDF("src", "dst", "w").repartition(13)
    val e2 = many.reverse.toDF("src", "dst", "w").repartition(3)
    val r1 = Graphs.weightedPageRank(e1, iters = 5)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1)))
    val r2 = Graphs.weightedPageRank(e2, iters = 5)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1)))
    assert(r1.sameElements(r2))
  }

  test("personalized PageRank: directed pair, hand-computed teleport mass") {
    // a -> b, teleport {a}: S = {a}, pr0 = (1e8, 0).
    // pr1(b) = 0 + 0.85 * (1.0 * 1/1) = 0.85; pr1(a) = 0.15/|S| = 0.15
    val r = Graphs.weightedPageRank(edges(("a", "b", 1L)), iters = 1,
        teleport = Some(Seq("a").toDF("node")))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") == 0.15 && r("b") == 0.85)
  }

  test("personalized PageRank: rank concentrates around the seed") {
    // symmetric path a-b-c with restart at a: the far end ranks lowest
    val sym = edges(
      ("a", "b", 1L), ("b", "a", 1L),
      ("b", "c", 1L), ("c", "b", 1L))
    val r = Graphs.weightedPageRank(sym, iters = 20,
        teleport = Some(Seq("a").toDF("node")))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") > r("c"))
    // teleport set disjoint from the graph is a hard error
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(sym, iters = 1,
        teleport = Some(Seq("zz").toDF("node")))
    }
  }

  test("triangleStats: known small graphs") {
    def stats(rows: (String, String)*) = {
      val df = rows.toDF("u", "v")
      Graphs.triangleStats(df).collect().head
    }
    val tri = stats(("a", "b"), ("b", "c"), ("c", "a"))
    assert(tri.getLong(0) == 1L && tri.getLong(1) == 3L &&
      tri.getDouble(2) == 1.0)
    val square = stats(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    assert(square.getLong(0) == 0L && square.getLong(1) == 4L &&
      square.getDouble(2) == 0.0)
    // K4: 4 triangles, 12 wedges, cc = 1; duplicate + reversed edges
    // and self-loops are canonicalized away
    val k4 = stats(("a", "b"), ("b", "a"), ("a", "b"), ("a", "c"),
      ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"), ("d", "d"))
    assert(k4.getLong(0) == 4L && k4.getLong(1) == 12L &&
      k4.getDouble(2) == 1.0)
  }

  test("adamicAdar: hand-computed scores, hub cap, connected pairs excluded") {
    def aa(maxDeg: Long, rows: (String, String)*) =
      Graphs.adamicAdar(rows.toDF("u", "v"), maxDeg)
        .collect()
        .map(x => (x.getString(0), x.getString(1)) ->
          (x.getLong(2), x.getDouble(3))).toMap
    // path a-b-c: (a,c) share b (deg 2) -> 1/ln(2) rounded to 6 dp
    val path = aa(10000L, ("a", "b"), ("b", "c"))
    assert(path.keySet == Set(("a", "c")))
    assert(path(("a", "c")) == ((1L, 1.442695)))
    // star s-(l1,l2,l3): every leaf pair shares s (deg 3) -> 1/ln(3)
    val star = aa(10000L, ("s", "l1"), ("s", "l2"), ("s", "l3"))
    assert(star.size == 3 && star.values.forall(_ == ((1L, 0.910239))))
    // hub cap: with maxDegree = 2 the star center is dropped entirely
    assert(aa(2L, ("s", "l1"), ("s", "l2"), ("s", "l3")).isEmpty)
    // triangle: all pairs already connected -> nothing to predict
    assert(aa(10000L, ("a", "b"), ("b", "c"), ("c", "a")).isEmpty)
  }

  test("bfsHops: hand-computed distances, unreachable, seed validation") {
    def hops(seeds: Seq[String], rows: (String, String)*) =
      Graphs.bfsHops(
        rows.toDF("src", "dst").withColumn("w", lit(1L)),
        seeds.toDF("node"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // directed path a->b->c->d from a: 0,1,2,3 (3 relaxation rounds)
    assert(hops(Seq("a"), ("a", "b"), ("b", "c"), ("c", "d")) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // symmetric path seeded mid-chain
    assert(hops(Seq("b"),
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c")) ==
      Map("a" -> 1L, "b" -> 0L, "c" -> 1L, "d" -> 2L))
    // disconnected component is unreachable -> -1
    assert(hops(Seq("a"), ("a", "b"), ("c", "d")) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> -1L, "d" -> -1L))
    // multi-seed: min over seeds wins
    assert(hops(Seq("a", "d"), ("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "c")) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 0L))
    // a seed set disjoint from the graph is a hard error, and releases
    // the two frames the function checkpointed before the check
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      hops(Seq("zz"), ("a", "b"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
  }

  test("rejects empty edges and bad knobs") {
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(edges(), iters = 1)
    }
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(edges(("a", "b", 1L)), iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(edges(("a", "b", 1L)), damping = 1.0)
    }
    intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(edges(("a", "b", 1L)), damping = 0.001)
    }
  }

  test("labelPropagation: two triangles with a bridge, hand-traced 3 rounds") {
    // triangles {a,b,c} and {x,y,z}, bridge c-x. Sync LPA, min tie-break:
    // r1: a=b b=a c=a x=c y=x z=x
    // r2: a=a b=a c=a x=x y=c z=c
    // r3: a=a b=a c=a x=c y=c z=c  -> communities {a,b,c}->a {x,y,z}->c
    val e = edges(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L),
      ("x", "y", 1L), ("y", "z", 1L), ("x", "z", 1L), ("c", "x", 1L))
    val r = Graphs.labelPropagation(e, rounds = 3)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"))
  }

  test("labelPropagation: canonicalizes dups/reversed/self-loops, deterministic") {
    // duplicate, reversed and self-loop rows must not change the vote
    val clean = edges(("a", "b", 1L), ("b", "c", 1L))
    val noisy = edges(("a", "b", 1L), ("b", "a", 1L), ("a", "b", 1L),
      ("b", "c", 1L), ("c", "c", 1L))
    val rc = Graphs.labelPropagation(clean, rounds = 2)
      .orderBy("node").collect().map(x => (x.getString(0), x.getString(1)))
    val rn = Graphs.labelPropagation(noisy.repartition(7), rounds = 2)
      .orderBy("node").collect().map(x => (x.getString(0), x.getString(1)))
    assert(rc.sameElements(rn))
    intercept[IllegalArgumentException] {
      Graphs.labelPropagation(clean, rounds = 0)
    }
  }

  test("pageRank, labelPropagation and Bpe.train free every checkpoint " +
    "their result does not read") {
    // Dataset.unpersist frees nothing on a localCheckpoint'ed frame, so
    // each replaced round would stay persisted until GC
    def newPersisted[T](f: => T): (T, Int) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = f
      (out, spark.sparkContext.getPersistentRDDs.keySet.count(!before(_)))
    }
    val (pr, prHeld) = newPersisted(Graphs.weightedPageRank(edges(
      ("a", "b", 2L), ("b", "a", 2L), ("b", "c", 1L), ("c", "b", 1L)),
      iters = 5))
    assert(prHeld == 1, "only the final ranks checkpoint may stay")
    assert(math.abs(pr.collect().map(_.getDouble(1)).sum - 1.0) < 1e-5)
    val (lp, lpHeld) = newPersisted(Graphs.labelPropagation(edges(
      ("a", "b", 1L), ("b", "c", 1L), ("a", "c", 1L), ("x", "y", 1L),
      ("y", "z", 1L), ("x", "z", 1L), ("c", "x", 1L)), rounds = 3))
    assert(lpHeld == 1, "only the final labels checkpoint may stay")
    assert(lp.collect().map(x => x.getString(0) -> x.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "c", "y" -> "c", "z" -> "c"))
    val vocab = Seq(("aaab", 2L), ("ab", 1L)).toDF("word", "wc")
    val (rules, bpeHeld) = newPersisted(graft.operators.Bpe.train(vocab, 3))
    assert(bpeHeld == 0)
    assert(rules.map(r => (r.left, r.right, r.cnt)) ==
      Seq(("a", "a", 4L), ("a", "b", 3L), ("aa", "ab", 2L)))
  }

  test("kCorePeel: cascade removal reaches the true core") {
    import spark.implicits._
    // K4 clique {a,b,c,d} + a pendant chain e-f hanging off d via e:
    // deg(f)=1 → dropped round 1; deg(e) then 1 → dropped round 2;
    // the K4 survives with degree 3 each
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
    val got = Graphs.kCorePeel(edges, k = 3L, rounds = 4)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("degree"))
      .toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCorePeel: k larger than any degree empties the graph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    assert(Graphs.kCorePeel(edges, k = 5L, rounds = 2).count() == 0L)
  }
}
