package graft

/** Benchmark main: runs the headline query set (SparkEntry.benchQueries)
  * against SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query
  * wall-clock seconds. Per-query progress goes to stderr so stragglers
  * are visible live. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the contract runs at local[32]; allow override but never default
    // below the box's cores (round-1 defaulted to 4 → driver bench ran
    // 2.7x slow)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = graft.core.GraftSession.local(cpus.toInt, "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM + parquet footers once so per-query numbers measure
    // the operators, not first-touch codegen/classloading
    graft.core.Tables.names.foreach(n =>
      graft.core.Tables(spark, sfDir, n).count())
    val qs = SparkEntry.queries
    // min over 3 INTERLEAVED full passes: this VM takes host-side
    // CPU-steal bursts (identical commit measured 41 s vs 170 s totals
    // — see BASELINE.md). Back-to-back repeats of one query sit inside
    // the same burst; whole-suite passes put minutes between a query's
    // repeats, so the min picks the burst-free pass.
    // (SPARK_GRAFT_BENCH_RUNS overrides.)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // drop every cached block before a timed run — CacheManager entries
    // AND RDD-level blocks (localCheckpoint storage from the dedup/ANN
    // operators). Reported numbers are therefore COLD: no run reuses a
    // previous run's materialized intermediates, and storage memory never
    // accumulates across the suite to squeeze execution memory (the
    // round-2 driver bench showed exactly that failure mode: q31/q32/q66
    // at 4-6x their idle-box cost once dozens of earlier queries' caches
    // were resident).
    def dropAllBlocks(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // SPARK_GRAFT_BENCH_ONLY=q172,q173 — comma-separated name prefixes
    // for targeted re-measures (perf-flag triage); full suite otherwise
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').filter(_.nonEmpty).toSeq) match {
      case Some(ps) =>
        SparkEntry.benchQueries.filter(n => ps.exists(n.startsWith))
      case None => SparkEntry.benchQueries
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val rowsOf = scala.collection.mutable.Map.empty[String, Long]
    for (pass <- 1 to runs) {
      names.foreach { name =>
        dropAllBlocks()
        val t0 = System.nanoTime()
        // time the FULL plan: .count() lets Catalyst prune every column
        // not needed for the row count — for queries whose cost lives in
        // a pruned projection/aggregate (sketches, scrubbing, windows
        // not affecting cardinality) it would time a near-empty plan.
        // toRdd fixes the complete output schema, so nothing is pruned.
        val n = try qs(name)(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L
        }
        val sec = (System.nanoTime() - t0) / 1e9
        if (n >= 0) {
          // only SUCCESSFUL runs feed the min / row count: a transient
          // failure is usually fast, and its elapsed time would
          // otherwise masquerade as a speedup in the reported best
          rowsOf(name) = n
          if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
        } else if (!rowsOf.contains(name)) rowsOf(name) = -1L
      }
      System.err.println(f"[bench] pass $pass/$runs done, running total ${best.values.sum}%.1f s")
    }
    val results = names.map { name =>
      val sec = best.getOrElse(name, -1.0) // -1: failed every pass
      System.err.println(f"[bench] ${name}%-22s $sec%8.2fs  (${rowsOf(name)} rows)")
      name -> sec
    }
    val total = results.map(_._2).sum
    // The recorded bench artifact keeps only the LAST ~2000 chars of
    // combined output, and in past rounds (r02/r03) the single
    // full-precision JSON line (~2700 chars for 78 queries) never fit —
    // its "metric"/"value" head was truncated away, and late-flushed
    // stderr lines landed after it. So: (1) drain stderr first so the
    // JSON lines are the final output; (2) print the full-precision line
    // for whole-output parsers; (3) print LAST a compact line that always
    // fits the tail — qNN keys (full names are in the stderr lines above,
    // BASELINE.md and CORRECTNESS_r*.json) and centisecond values, ~950
    // chars for 78 queries.
    System.err.flush()
    Thread.sleep(1500)
    val q = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$q,"sf":"$sfDir"}"""
    // the driver's artifact truncates to a ~2000-char tail, losing most
    // per-query figures — persist the FULL line so every round's
    // complete bench is auditable (SPARK_GRAFT_BENCH_OUT overrides;
    // empty disables). Cwd-relative: any checkout works, and the driver
    // runs Bench from the repo root. The default is per-core-count
    // (BENCH_FULL_c32.json / BENCH_FULL_c8.json): the driver's low-core
    // scaling pass used to CLOBBER the main run's full-precision record
    // (round 15 shipped with the c8 figures in BENCH_FULL.json).
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_c$cpus.json")
    if (benchOut.nonEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $benchOut: $e")
      }
    println(fullLine)
    // Locale.ROOT: the f interpolator is default-locale-sensitive — a
    // comma-decimal locale would make this line invalid JSON
    def c2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qc = results.map { case (k, v) =>
      // qNN_suffix shortens to qNN; other families (cau_*) keep the
      // full name — truncating at '_' collapsed all of them onto one
      // JSON key and silently dropped all but the last
      val short = if (k.startsWith("q")) k.takeWhile(_ != '_') else k
      "\"" + short + "\":" + c2(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${c2(total)},"unit":"sec","n":${results.size},"queries":$qc,"sf":"$sfDir"}""")
    Console.out.flush()
    Thread.sleep(250)
    spark.stop()
  }
}
