package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSuite

class MetricsSpec extends SparkSuite {

  import spark.implicits._

  test("measure: shuffle visible on groupBy, absent on map-only, scans counted") {
    val df = spark.range(100000)
      .select(col("id"), (col("id") % 97).as("k"))
    val (_, agg) = Metrics.measure(spark) {
      df.groupBy("k").count().count()
    }
    assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)
    val (n, mapOnly) = Metrics.measure(spark) {
      df.filter(col("id") % 2 === 0).count()
    }
    assert(n == 50000L)
    // count() still exchanges its 32 per-partition partial counts —
    // a few hundred bytes; the data itself must not move
    assert(mapOnly.shuffleWriteBytes < 5000, s"map-only job shuffled: $mapOnly")
    assert(agg.shuffleWriteBytes > mapOnly.shuffleWriteBytes * 10)
  }

  test("measure: two concurrent calls each count only their own jobs") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // shuffle-heavy: nearly every row is its own group, so partial
    // aggregation cannot shrink the exchange (tens of MB); a computed
    // key, since a bare `id` key is known-distinct and optimized away
    def heavy(): Long = spark.range(2000000)
      .groupBy((col("id") * 7) % 1999993).count().count()
    val narrow = spark.range(100000).filter(col("id") % 2 === 0)
    def mapOnly(): Long = narrow.count()
    val (_, heavyAlone) = Metrics.measure(spark)(heavy())
    val (_, mapAlone) = Metrics.measure(spark)(mapOnly())
    assert(heavyAlone.shuffleWriteBytes > 1000000L, s"$heavyAlone")

    // the map-only call's window encloses every job of the heavy call:
    // it starts after the heavy action has begun and ends after it
    val heavyStarted, heavyDone = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit =
      assert(l.await(120, TimeUnit.SECONDS), "peer thread stalled")
    @volatile var peer: Either[Throwable, Metrics.Run] =
      Left(new IllegalStateException("heavy call did not finish"))
    val t = new Thread(() =>
      try {
        peer = Right(Metrics.measure(spark) {
          heavyStarted.countDown()
          heavy()
        }._2)
      } catch { case e: Throwable => peer = Left(e) }
      finally { heavyStarted.countDown(); heavyDone.countDown() })
    t.start()
    val (n, mapRun) = Metrics.measure(spark) {
      await(heavyStarted)
      val n = mapOnly()
      await(heavyDone)
      n
    }
    t.join(120000)
    val heavyRun = peer.fold(throw _, identity)
    assert(n == 50000L)
    assert(mapRun.shuffleWriteBytes < 5000, s"map-only call saw a peer's shuffle: $mapRun")
    def work(r: Metrics.Run) = (r.jobs, r.stages, r.tasks)
    assert(work(mapRun) == work(mapAlone), s"$mapRun vs alone $mapAlone")
    assert(work(heavyRun) == work(heavyAlone), s"$heavyRun vs alone $heavyAlone")
    assert(heavyRun.shuffleWriteBytes > 1000000L, s"$heavyRun")
  }

  test("measure: codegenCompiles counts fresh classes, none for a repeated plan") {
    // a literal codegen has not seen yet, so the first run must compile
    val df = spark.range(10).selectExpr(s"id * ${System.nanoTime()}")
    val (_, cold) = Metrics.measure(spark)(df.collect())
    assert(cold.codegenCompiles > 0, s"fresh plan compiled nothing: $cold")
    val (_, warm) = Metrics.measure(spark)(df.collect())
    assert(warm.codegenCompiles == 0, s"repeated plan recompiled: $warm")
  }

  test("grid radius join shuffles linearly in points, not quadratically") {
    def pts(n: Long) = {
      val h = md5(col("id").cast("string"))
      spark.range(n).select(col("id"),
        (conv(substring(h, 1, 7), 16, 10).cast("long") % 100000L).as("x"),
        (conv(substring(h, 9, 7), 16, 10).cast("long") % 100000L).as("y"))
        .localCheckpoint(true)
    }
    def shuffleFor(n: Long): Long = {
      val p = pts(n)
      val (_, run) = Metrics.measure(spark) {
        graft.operators.GridJoin
          .selfRadiusPairs(p, "id", "x", "y", radius = 1000L).count()
      }
      run.shuffleWriteBytes
    }
    // at this size Spark would BROADCAST the build side (no shuffle to
    // observe); force the shuffled-join plan the operator has at scale
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (s1, s2) =
      try (shuffleFor(4000), shuffleFor(16000))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // 4× the points: linear blocking ⇒ ~4× shuffle bytes; the cross
    // join this replaces would be 16×. Allow generous overhead slack.
    assert(s1 > 0)
    val ratio = s2.toDouble / s1
    assert(ratio < 8.0, f"shuffle grew $ratio%.1fx on 4x points — quadratic?")
    info(f"grid-join shuffle: 4k pts = $s1%d B, 16k pts = $s2%d B (${ratio}%.2fx)")
  }
}
