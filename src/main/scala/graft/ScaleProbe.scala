package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable.Write
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val base = graft.core.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
    def corpus(mult: Int) = (0 until mult).map(i =>
      base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ union _)
    // adversarial skew probe (`runMain graft.ScaleProbe skew`): every doc
    // shares one boilerplate shingle set — the pathological hot-token
    // corpus for an inverted-index join. Prefix filtering must hold the
    // CANDIDATE count near-linear in docs (rarest-first ranking keeps
    // the hot shingles out of every prefix) while the naive inverted
    // index pairs Σ df·(df−1)/2 — quadratic in the boilerplate df. The
    // naive figure is computed as an aggregate, never materialized.
    if (args.contains("skew")) {
      val boiler = " the quick brown fox jumps over the lazy dog " +
        "again and again every single day without fail"
      // replicas get DISJOINT content (every word salted with the
      // replica index) but the SAME boilerplate: genuine near-dup pairs
      // live within one replica (linear in mult), while the boilerplate
      // shingles' df grows with the whole corpus — so a quadratic
      // candidate count could only come from the hot tokens the prefix
      // filter is supposed to neutralize. Plain replication would be
      // wrong here: exact copies are REAL near-dup pairs, and the
      // output itself grows quadratically, hiding the effect.
      def skewCorpus(mult: Int) = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat(regexp_replace(col("text"), "(\\S+)", "$1" + s"_r$i"),
            lit(boiler)).as("text")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = skewCorpus(mult).localCheckpoint(true)
        val n = c.count()
        val sets = c.select(col("doc_id").as("id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 3).as("toks"))
          .filter(size(col("toks")) > 0)
        val naive = sets.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .agg(sum((col("df") * (col("df") - 1) / 2).cast("long")).as("s"))
          .first().getLong(0)
        val t0 = System.nanoTime()
        val (_, cand) = graft.operators.SetSimJoin.rankSetsAndCandidates(sets, 0.8)
        val pc = cand.count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[probe] mult=$mult%2d docs=$n%7d skew_candidates    " +
          f"prefix=$pc%10d naive=$naive%14d ratio=${naive.toDouble / pc}%9.1f  $secs%6.2f s")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // grid radius-join probe (`runMain graft.ScaleProbe grid`): candidate
    // pairs (post cell equi-join, pre residual) must grow ~linearly in
    // points at fixed density — the plane grows with the corpus, so
    // per-cell occupancy is constant and candidates ≈ 9·occupancy·n,
    // vs the n²/2 cross join. The HOT variant drops 20% of all points
    // into ONE cell (urban-density skew): its candidates gain the
    // hot-block² term — measured here as the documented salting dial,
    // exactly q72's blocked-fuzzy-join story in 2-D.
    if (args.contains("grid")) {
      val r = 1000L
      def pts(mult: Int, hot: Boolean) = {
        val side = 100000L * math.round(math.sqrt(mult)) // fixed density
        val n = 15000L * mult
        val ids = spark.range(n).select(col("id"))
        val h = md5(col("id").cast("string"))
        val base = ids.select(col("id"),
          (conv(substring(h, 1, 7), 16, 10).cast("long") % side).as("x"),
          (conv(substring(h, 9, 7), 16, 10).cast("long") % side).as("y"))
        if (!hot) base
        else base.select(col("id"),
          when(col("id") % 5 === 0, col("x") % r).otherwise(col("x")).as("x"),
          when(col("id") % 5 === 0, col("y") % r).otherwise(col("y")).as("y"))
      }
      for (hot <- Seq(false, true); mult <- Seq(1, 4, 10)) {
        val p = pts(mult, hot).localCheckpoint(true)
        val n = p.count()
        // candidate count = the equi-join size before the residual:
        // per-cell probe(9-exploded) × build occupancy, as an aggregate
        val probe = p.select(explode(sequence(
          ((col("x") - pmod(col("x"), lit(r))) / r).cast("long") - 1,
          ((col("x") - pmod(col("x"), lit(r))) / r).cast("long") + 1)).as("cx"),
          col("y"))
          .select(col("cx"), explode(sequence(
            ((col("y") - pmod(col("y"), lit(r))) / r).cast("long") - 1,
            ((col("y") - pmod(col("y"), lit(r))) / r).cast("long") + 1)).as("cy"))
          .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("np"))
        val build = p
          .select(((col("x") - pmod(col("x"), lit(r))) / r).cast("long").as("cx"),
            ((col("y") - pmod(col("y"), lit(r))) / r).cast("long").as("cy"))
          .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("nb"))
        val cand = probe.join(build, Seq("cx", "cy"))
          .agg(sum(col("np") * col("nb")).as("c")).first().getLong(0)
        val t0 = System.nanoTime()
        val pairs = graft.operators.GridJoin
          .selfRadiusPairs(p, "id", "x", "y", r).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val label = if (hot) "grid_hot " else "grid_unif"
        println(f"[probe] mult=$mult%2d pts=$n%7d $label cand=$cand%12d " +
          f"pairs=$pairs%9d n2=${n * (n - 1) / 2}%14d " +
          f"cand_per_pt=${cand.toDouble / n}%8.1f  $secs%6.2f s")
        if (hot) {
          // hot-cell SALTED variant: same exact output, the one giant
          // cell's candidate work spread over 32 hash sub-buckets
          // instead of one straggler task
          val t1 = System.nanoTime()
          val pairsS = graft.operators.GridJoin
            .selfRadiusPairsSalted(p, "id", "x", "y", r,
              salts = 32, hotThreshold = 2000L).count()
          val secsS = (System.nanoTime() - t1) / 1e9
          // DENSITY-CAPPED variant: the hot cell thinned to 64 build
          // rows (documented sampling semantics) — candidates per
          // probe point bounded by 9·64 regardless of density
          val t2 = System.nanoTime()
          val pairsC = graft.operators.GridJoin
            .selfRadiusPairsSalted(p, "id", "x", "y", r,
              salts = 32, hotThreshold = 2000L, cellCap = 64L).count()
          val secsC = (System.nanoTime() - t2) / 1e9
          println(f"[probe] mult=$mult%2d pts=$n%7d grid_salt cand=$cand%12d " +
            f"pairs=$pairsS%9d (exact=${pairsS == pairs}) $secsS%6.2f s | " +
            f"cap64 pairs=$pairsC%9d $secsC%6.2f s")
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // KMV overlap-matrix probe (`runMain graft.ScaleProbe kmv`): the
    // sketch build is ONE combinable agg whose partials are capped at
    // k hashes, so build wall tracks the scan and the 190-pair matrix
    // is constant-cost dim-sized array algebra regardless of corpus
    // size — vs the exact q155 matrix whose shingle self-join grows
    // with the corpus. Estimates must stay stable across replication
    // (replicas repeat the same shingles → distinct-value space, and
    // hence every sketch, is unchanged).
    if (args.contains("kmv")) {
      import graft.functions.TextFunctions.wordShingles
      var base1: Map[(String, String), Long] = null
      for (mult <- Seq(1, 4, 10)) {
        val c = corpus(mult).localCheckpoint(true)
        val n = c.count()
        val sh = c.withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
          .select(col("source"), explode(wordShingles(col("text"), 3)).as("sh"))
        val t0 = System.nanoTime()
        val sk = graft.operators.Kmv
          .sketch(sh, "source", md5(col("sh")), 256).localCheckpoint(true)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val stats = graft.operators.Kmv.pairStats(sk, "source", 256)
          .collect()
        val tMatrix = (System.nanoTime() - t1) / 1e9
        val est = stats.map(r => ((r.getString(0), r.getString(1)),
          r.getLong(4))).toMap
        if (base1 == null) base1 = est
        val drift = est.map { case (k, v) =>
          math.abs(v - base1(k)).toDouble / math.max(1L, base1(k)) }.max
        println(f"[probe] mult=$mult%2d docs=$n%7d kmv build=$tBuild%6.2f s " +
          f"matrix(${stats.length})=$tMatrix%6.2f s max_union_drift=$drift%.4f")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // exact substring-span dedup (`runMain graft.ScaleProbe spans`):
    // replicas carry DISJOINT token spaces (every word salted with the
    // replica index), so duplicated spans exist only WITHIN a replica
    // and the true answer grows linearly — plain replication would make
    // every window an 8×-duplicated span and measure output explosion,
    // not operator scaling. Cost must track the window count (map-local
    // explode + combine-able aggregates), never pairs of docs.
    if (args.contains("spans")) {
      def saltCorpus(mult: Int) = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1" + s"_r$i").as("text")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = saltCorpus(mult).localCheckpoint(true)
        val n = c.count()
        def evalAll(df: org.apache.spark.sql.DataFrame): Long =
          df.queryExecution.toRdd.count()
        def time(name: String)(f: => Long): Unit = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val rows = f
          println(f"[probe] mult=$mult%2d docs=$n%7d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
        }
        time("span_dups") {
          evalAll(graft.operators.SpanDedup.duplicatedSpans(c, 8))
        }
        time("span_coverage") {
          evalAll(graft.operators.SpanDedup.duplicationCoverage(c, 8))
        }
        time("span_strip") {
          evalAll(graft.operators.SpanDedup.stripDuplicatedSpans(c, 8))
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // persisted-index ingestion probe (`runMain graft.ScaleProbe indexes`):
    // a FIXED batch checked against a GROWING indexed corpus. The whole
    // point of the stored indexes is that ingest cost is O(batch) +
    // a stored-table scan — never a corpus re-sign — so check/strip wall
    // time must grow far slower than the corpus, while the naive
    // alternative (re-sign the union every batch) tracks corpus size.
    if (args.contains("indexes")) {
      for (mult <- Seq(1, 4, 10)) {
        // per-iteration: the end-of-iteration blanket unpersist would
        // destroy a checkpoint shared across iterations
        val batch = base.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
        val nb = batch.count()
        val c = (0 until mult).map(i =>
          base.filter(col("doc_id") % 10 =!= 0)
            .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
              concat(col("text"), lit(s" r$i")).as("text")))
          .reduce(_ union _).localCheckpoint(true)
        val n = c.count()
        def time(name: String)(f: => Long): Unit = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val rows = f
          println(f"[probe] mult=$mult%2d corpus=$n%7d batch=$nb%6d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
        }
        val lshRoot = java.nio.file.Files
          .createTempDirectory("probe_lsh").resolve("i").toString
        val spanRoot = java.nio.file.Files
          .createTempDirectory("probe_span").resolve("i").toString
        time("lsh_index_build") {
          graft.operators.LshIndex.build(c, lshRoot); n
        }
        time("lsh_index_check") {
          graft.operators.LshIndex.check(batch, c, lshRoot, 0.8).count()
        }
        time("lsh_naive_resign") { // what check() replaces
          graft.operators.Dedup.ngramJaccardJoin(batch, c, 0.8).count()
        }
        time("span_index_build") {
          graft.operators.SpanIndex.build(c, spanRoot, w = 8); n
        }
        time("span_index_strip") {
          graft.operators.SpanIndex.stripAgainst(batch, spanRoot)
            .queryExecution.toRdd.count()
        }
        graft.sources.Lake.deleteRecursively(
          new java.io.File(lshRoot).getParentFile)
        graft.sources.Lake.deleteRecursively(
          new java.io.File(spanRoot).getParentFile)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // streaming-door probe (`runMain graft.ScaleProbe door`): the FULL
    // per-batch cost of runIngestDedupAvailableNow's indexed door —
    // digest anti-join + LshIndex.check + the three O(batch) appends —
    // against a 1x/4x/10x PRE-INDEXED corpus. `door_novel` (a batch
    // with disjoint token space → no candidates) must be FLAT across
    // corpus growth: the batch is signed once and everything
    // corpus-sized is a column-pruned scan of stored rows, never a
    // re-sign. `door_raw` (the unsalted batch — disjoint doc ids, only
    // organic near-matches) adds the candidate-sliver verify work,
    // which grows with its own MATCH count — the output-bound cost a
    // dedup door exists to pay — and must stay flat too when the match
    // count does.
    if (args.contains("door")) {
      for (mult <- Seq(1, 4, 10)) {
        val batch = base.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
        val novelBatch = batch.select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_nv").as("text"))
          .localCheckpoint(true)
        val nb = batch.count()
        val c = (0 until mult).map(i =>
          base.filter(col("doc_id") % 10 =!= 0)
            .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
              concat(col("text"), lit(s" r$i")).as("text")))
          .reduce(_ union _).localCheckpoint(true)
        val n = c.count()
        def time(name: String)(f: => Long): Unit = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val rows = f
          println(f"[probe] mult=$mult%2d corpus=$n%7d batch=$nb%6d $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        }
        def door(in: org.apache.spark.sql.DataFrame, tableRoot: String,
                 indexRoot: String, digestsRoot: String): Long = {
          import graft.sources.VersionedTable
          val corpus = VersionedTable.read(spark, tableRoot)
          val newExact = in.withColumn("__md5", md5(col("text")))
            .join(VersionedTable.read(spark, digestsRoot),
              Seq("__md5"), "left_anti")
            .drop("__md5").localCheckpoint(true)
          val nearIds = graft.operators.LshIndex
            .check(newExact, corpus, indexRoot, 0.8)
            .select(col("id_b")).distinct()
          val survivors = newExact
            .join(nearIds, col("doc_id") === col("id_b"), "left_anti")
            .localCheckpoint(true)
          val k = survivors.count()
          if (k > 0) {
            VersionedTable.append(survivors, tableRoot)
            graft.operators.LshIndex.append(survivors, indexRoot)
            VersionedTable.append(
              survivors.select(md5(col("text")).as("__md5")), digestsRoot)
          }
          k
        }
        // setup (untimed): corpus table + LSH index + digest table
        val root = java.nio.file.Files.createTempDirectory("probe_door")
        val tableRoot = root.resolve("corpus").toString
        val indexRoot = root.resolve("index").toString
        val digestsRoot = root.resolve("index/digests").toString
        graft.sources.VersionedTable.overwrite(c, tableRoot)
        graft.operators.LshIndex.build(c, indexRoot)
        graft.sources.VersionedTable.overwrite(
          c.select(md5(col("text")).as("__md5")), digestsRoot)
        time("door_novel") { door(novelBatch, tableRoot, indexRoot, digestsRoot) }
        time("door_raw") { door(batch, tableRoot, indexRoot, digestsRoot) }
        graft.sources.Lake.deleteRecursively(root.toFile)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // footer-fold boundary probe (`runMain graft.ScaleProbe fold`):
    // commit wall (stage + stats + manifest) vs staged-file count
    // across the 64-file boundary — ≤64 files answer their stats from
    // parquet footers DRIVER-side (zero Spark jobs), >64 pays the
    // one-job aggregate. The probe measures the cliff instead of
    // assuming it: the expected shape is a mild per-file driver cost
    // up to 64, one job-startup step at 65, then job amortization.
    if (args.contains("fold")) {
      val df0 = spark.range(400000L).select(col("id").as("k"),
        (col("id") % 997L).as("v"),
        md5(col("id").cast("string")).as("s")).localCheckpoint(true)
      for (round <- 1 to 3; files <- Seq(8, 32, 63, 64, 65, 96, 192)) {
        val root = java.nio.file.Files
          .createTempDirectory("probe_fold").resolve("t").toString
        val d = df0.repartition(files)
        val t0 = System.nanoTime()
        graft.sources.VersionedTable.overwrite(d, root, Write.stats("k", "v"))
        val secs = (System.nanoTime() - t0) / 1e9
        if (round > 1) // round 1 warms JIT/codegen
          println(f"[probe] files=$files%4d fold_commit $secs%7.3f s")
      }
      spark.stop(); return
    }
    // conflict-rebase probe (`runMain graft.ScaleProbe rebase`): the
    // cost of LOSING a MERGE commit race to a key-disjoint append,
    // rebase vs recompute, as the table grows. The rebase path is
    // O(interleaved manifests) — flat in table size — while the
    // recompute path re-runs the O(table) phases; the gap is the whole
    // point of conflict classes at 100 TB. Both arms race the same
    // single-row merge against one interleaved append; the recompute
    // arm forces the conflict by overlapping the source key range.
    if (args.contains("rebase")) {
      import graft.sources.VersionedTable
      import graft.sources.VersionedTable.MergeClause._
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("probe_rebase").resolve("t").toString
        val n = 200000L * mult
        val rows = spark.range(n).select(col("id").as("k"),
          md5(col("id").cast("string")).as("s"), (col("id") * 2).as("v"))
        VersionedTable.overwrite(rows.repartitionByRange(8 * mult, col("k")), root,
          Write.stats("k"))
        import spark.implicits._
        // BROAD merge: one source key per 200 target rows, spread over
        // every file — phase 2 rewrites the WHOLE table, so a recompute
        // genuinely re-pays O(table); a narrow pruned merge would hide
        // the gap behind phase-1 pruning
        def arm(appendKey: Long): Double = {
          val src = spark.range(0, n, 200).select(col("id").as("k"),
            lit("u").as("s"), lit(1L).as("v"))
          var raced = false
          val t0 = System.nanoTime()
          VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
            Update(None, Map("v" -> expr("t.v + s.v")))),
            beforeCommit = () => {
              if (!raced) {
                raced = true
                VersionedTable.append(
                  Seq((appendKey, "r", 1L)).toDF("k", "s", "v"),
                  root, Write.stats("k"))
              }
            })
          (System.nanoTime() - t0) / 1e9
        }
        val warm = arm(n + 900000000L) // JIT + plan warm (rebases)
        val reb = arm(n + 910000000L)  // disjoint: rebase
        val rec = arm(0L)              // overlaps k=0: recompute
        println(f"[probe] mult=$mult%2d rows=$n%8d rebase_race " +
          f"rebase=$reb%6.2f s recompute=$rec%6.2f s " +
          f"saved=${rec - reb}%6.2f s (warm=$warm%5.2f)")
        // round-15 arms — the rewrite-aware conflict classes: a NARROW
        // merge (one key, one touched file) losing its race to (a) a
        // compaction packing OTHER files, (b) a rival narrow merge on
        // a DIFFERENT file. Both rebase from manifest proof alone; the
        // recompute twin is a full-table compaction that consumes the
        // touched file.
        def armNarrow(key: Long, interleave: () => Unit): Double = {
          val src = Seq((key, "u", 1L)).toDF("k", "s", "v")
          var raced = false
          val t0 = System.nanoTime()
          VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
            Update(None, Map("v" -> expr("t.v + s.v")))),
            beforeCommit = () => {
              if (!raced) { raced = true; interleave() } })
          (System.nanoTime() - t0) / 1e9
        }
        // two tiny tail files for the disjoint compaction to pack
        VersionedTable.append(Seq((n + 1, "x", 1L)).toDF("k", "s", "v"), root,
          Write.stats("k"))
        VersionedTable.append(Seq((n + 2, "x", 1L)).toDF("k", "s", "v"), root,
          Write.stats("k"))
        val rebC = armNarrow(100L, () => {
          VersionedTable.compact(spark, root, targetBytes = 64L << 10)
          ()
        })
        val rebM = armNarrow(101L, () => {
          VersionedTable.mergeActions(spark, root,
            Seq((n - 1, "w", 7L)).toDF("k", "s", "v"), Seq("k"), Seq(
              Update(None, Map("v" -> expr("t.v + s.v")))))
          ()
        })
        val recC = armNarrow(102L, () => {
          VersionedTable.compact(spark, root) // consumes the touched file
          ()
        })
        println(f"[probe] mult=$mult%2d rows=$n%8d rebase_rewrite " +
          f"compact_rebase=$rebC%6.2f s merge_rebase=$rebM%6.2f s " +
          f"compact_recompute=$recC%6.2f s " +
          f"saved=${recC - (rebC + rebM) / 2}%6.2f s")
      }
      spark.stop(); return
    }
    // manifest-chain probe (`runMain graft.ScaleProbe manifest`): a
    // 60-append chain on a VersionedTable. With round-6 delta commits
    // the per-append wall must stay flat (the commit file is one
    // batch's lines; the round-5 full-listing format re-wrote — and
    // made every reader re-parse — the whole accumulated listing per
    // commit), and the head read resolves through the nearest
    // checkpoint (walk ≤ 10 manifests) regardless of chain length.
    if (args.contains("manifest")) {
      val root = java.nio.file.Files
        .createTempDirectory("probe_manifest").resolve("t").toString
      val batch = spark.range(1000).toDF("k")
        .withColumn("v", col("k") * 2).repartition(1)
      graft.sources.VersionedTable.overwrite(batch, root)
      val walls = (1 to 60).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.VersionedTable.append(batch, root)
        (System.nanoTime() - t0) / 1e6
      }
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      val sizes = new java.io.File(root, "_log").listFiles()
        .filter(_.getName.endsWith(".manifest")).map(_.length())
      val t0 = System.nanoTime()
      val n = graft.sources.VersionedTable.read(spark, root).count()
      println(f"[probe] manifest append-wall ms: first15=${mean(walls.take(15))}%7.1f " +
        f"last15=${mean(walls.takeRight(15))}%7.1f  " +
        f"manifest-bytes min=${sizes.min} max=${sizes.max}  " +
        f"head-read=${(System.nanoTime() - t0) / 1e9}%5.2f s ($n rows, 61 files)")
      graft.sources.Lake.deleteRecursively(
        new java.io.File(root).getParentFile)
      spark.stop(); return
    }
    // Catalyst-scan pruning probe (`runMain graft.ScaleProbe scan`):
    // a FIXED-selectivity slice (1/16 of the key space) through
    // VersionedTable.scan must open a ~constant FRACTION of a growing
    // table's files — the manifest FileIndex prunes at plan time, so
    // work tracks the slice, not the table. The metadata profile
    // (min/max/count) must stay ~flat: it answers from the listing
    // (and the cached schema sidecar), never the data files.
    if (args.contains("scan")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("probe_scan").resolve("t").toString
        val n = 400000L * mult
        val files = 16 * mult
        graft.sources.VersionedTable.overwrite(
          spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"))
            .repartitionByRange(files, col("k")),
          root, Write.stats("k"))
        val t0 = System.nanoTime()
        val sliced = graft.sources.VersionedTable.scan(spark, root)
          .filter(col("k") >= 0L && col("k") <= n / 16)
        val opened = sliced.select(input_file_name()).distinct().count()
        val rows = sliced.count()
        val t1 = System.nanoTime()
        val prof = graft.sources.VersionedTable.scan(spark, root)
          .agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
            count(lit(1)).as("cnt")).head()
        val t2 = System.nanoTime()
        println(f"[probe] mult=$mult%2d rows=$n%8d scan_prune " +
          f"opened=$opened%4d/$files%4d files rows=$rows%8d " +
          f"slice=${(t1 - t0) / 1e9}%5.2f s profile=${(t2 - t1) / 1e9}%6.3f s " +
          f"(cnt=${prof.getAs[Long]("cnt")})")
        graft.sources.Lake.deleteRecursively(
          new java.io.File(root).getParentFile)
      }
      spark.stop(); return
    }
    // typed time-slice probe (`runMain graft.ScaleProbe tslice`): a
    // timestamp-clustered table growing 10× under a FIXED one-month
    // slice predicate (the headline 100 TB shape, `ts >= a AND ts < b`)
    // — the typed epoch-micros manifest stats must hold the SELECTED
    // file count proportional to the slice, so the opened fraction
    // stays flat as the table grows; the typed profile fold stays
    // O(manifest). Selected files are counted at the PLAN level
    // (selectedPartitions), not from surviving rows.
    if (args.contains("tslice")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("probe_tslice").resolve("t").toString
        val n = 400000L * mult
        val files = 16 * mult
        // one year of data regardless of mult: density grows, the
        // slice stays one month of wall-clock
        graft.sources.VersionedTable.overwrite(
          spark.range(n).select(col("id").as("k"),
            timestamp_micros(lit(1704067200000000L) +
              (col("id") * (365L * 86400000000L / n))).as("ts"),
            (col("id") % 97).cast("double").as("v"))
            .repartitionByRange(files, col("ts")),
          root, Write.stats("ts", "v"))
        val t0 = System.nanoTime()
        val sliced = graft.sources.VersionedTable.scan(spark, root)
          .filter(col("ts") >= to_timestamp(lit("2024-06-01 00:00:00")) &&
            col("ts") < to_timestamp(lit("2024-07-01 00:00:00")))
        val rows = sliced.count()
        val aqe = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}
        val selected = aqe.collect(sliced.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles
        }.sum
        val t1 = System.nanoTime()
        val prof = graft.sources.VersionedTable.scan(spark, root)
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
            count(lit(1)).as("cnt")).head()
        val t2 = System.nanoTime()
        println(f"[probe] mult=$mult%2d rows=$n%8d tslice_prune " +
          f"selected=$selected%4d/$files%4d files " +
          f"(${selected.toDouble / files}%5.3f) rows=$rows%8d " +
          f"slice=${(t1 - t0) / 1e9}%5.2f s profile=${(t2 - t1) / 1e9}%6.3f s " +
          f"(cnt=${prof.getAs[Long]("cnt")})")
        graft.sources.Lake.deleteRecursively(
          new java.io.File(root).getParentFile)
      }
      spark.stop(); return
    }
    // partition-dimension probe (`runMain graft.ScaleProbe part`): a
    // Hive-layout table (8 tenants × k-clustered files) growing 10×;
    // the one-tenant + k-band predicate must open a FLAT file fraction
    // — (1/8 partitions) × (band/files) multiplicatively — because the
    // partition dimension prunes whole directories at plan time and
    // the stats prune within the survivor. Work tracks the predicate,
    // never the table.
    if (args.contains("part")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("probe_part").resolve("t").toString
        val n = 400000L * mult
        val filesPerTenant = 8 * mult
        graft.sources.VersionedTable.overwrite(
          spark.range(n).select(col("id").as("k"),
            concat(lit("t"), col("id") % 8).as("tenant"),
            (col("id") % 97).as("v"))
            .repartitionByRange(filesPerTenant, col("k")),
          root, Write(stats = Some(Seq("k")), partitionBy = Seq("tenant")))
        val total = graft.sources.VersionedTable.scan(spark, root)
          .select(input_file_name()).distinct().count()
        val t0 = System.nanoTime()
        val sliced = graft.sources.VersionedTable.scan(spark, root)
          .filter(col("tenant") === "t3" &&
            col("k") >= 0L && col("k") <= n / 8)
        val opened = sliced.select(input_file_name()).distinct().count()
        val rows = sliced.count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[probe] mult=$mult%2d rows=$n%8d part_prune " +
          f"opened=$opened%4d/$total%4d files rows=$rows%8d " +
          f"frac=${opened.toDouble / total}%6.3f  $secs%5.2f s")
        graft.sources.Lake.deleteRecursively(
          new java.io.File(root).getParentFile)
      }
      spark.stop(); return
    }
    // BPE-training probe (`runMain graft.ScaleProbe bpe`): replicas
    // REUSE the same token space (plain replication with shifted ids),
    // so the corpus grows 1x/4x/10x while the vocabulary — and with it
    // every post-extraction training structure — stays CONSTANT (word
    // counts scale by mult; pair ranking is scale-invariant). Train
    // wall must be dominated by the one corpus-sized explode+agg and
    // otherwise flat: the iterations run on vocab-sized symbol rows.
    if (args.contains("bpe")) {
      for (mult <- Seq(1, 4, 10)) {
        val c = corpus(mult).localCheckpoint(true)
        val n = c.count()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val vocab = c.select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        val nv = vocab.count()
        val tVocab = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val rules = graft.operators.Bpe.train(vocab, 5)
        val tTrain = (System.nanoTime() - t1) / 1e9
        println(f"[probe] mult=$mult%2d docs=$n%7d vocab=$nv%6d bpe " +
          f"extract=$tVocab%6.2f s train5=$tTrain%6.2f s " +
          f"(top=${rules.head.left}+${rules.head.right}:${rules.head.cnt})")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // weighted-PageRank probe (`runMain graft.ScaleProbe pagerank`):
    // replicas carry DISJOINT token spaces (every word salted with the
    // replica index), so the co-occurrence graph is a disjoint union
    // of per-replica graphs — nodes AND edges grow linearly with mult
    // and replica 0's true rank vector is unchanged. The Pregel loop
    // costs one O(E) join + one O(E) combinable agg per iteration, so
    // wall time must track the edge count, never N² or E·N.
    if (args.contains("pagerank")) {
      def saltCorpus(m: Int) = (0 until m).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1" + s"_r$i").as("text")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = saltCorpus(mult).localCheckpoint(true)
        c.count()
        val bg = c.select(explode(graft.functions.TextFunctions
            .wordShinglesAll(col("text"), 2)).as("bigram"))
          .select(split(col("bigram"), " ").getItem(0).as("x"),
            split(col("bigram"), " ").getItem(1).as("y"))
          .filter(col("x") =!= col("y"))
          .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 3)
        val edges = bg
          .select(col("x").as("src"), col("y").as("dst"), col("c").as("w"))
          .union(bg
            .select(col("y").as("src"), col("x").as("dst"), col("c").as("w")))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
          .localCheckpoint(true)
        val ne = edges.count()
        val t0 = System.nanoTime()
        val nv = graft.operators.Graphs.weightedPageRank(edges, iters = 5)
          .queryExecution.toRdd.count()
        println(f"[probe] mult=$mult%2d edges=$ne%8d pagerank_5it       " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  ($nv nodes)")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // kNN-graph probe (`runMain graft.ScaleProbe knn`): corpus-vs-corpus
    // top-k where BOTH sides grow. With nlist scaled ∝ mult (the
    // operator's documented dial: nlist ≈ √n keeps per-cell population
    // constant), per-vector candidate work is flat and total wall must
    // track |corpus|, never |corpus|² — the brute self-join this
    // replaces IS the quadratic baseline. Replicas are id-shifted
    // copies, so cells fill with near-identical vectors — the
    // WORST-case cell skew for the equi-join (every copy of a vector
    // lands in the same cell).
    if (args.contains("knn")) {
      val emb = graft.core.Tables(spark, "/root/testdata/sf0.1", "embeddings")
        .select(col("vec_id"), col("embedding"))
      def embCorpus(m: Int) = (0 until m).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = embCorpus(mult).localCheckpoint(true)
        val n = c.count()
        val t0 = System.nanoTime()
        val edges = graft.operators.Similarity
          .knnGraphIvf(c, k = 5, nlist = 16 * mult, nprobe = 4)
          .queryExecution.toRdd.count()
        println(f"[probe] mult=$mult%2d vecs=$n%7d knn_graph_ivf      " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  ($edges edges, " +
          f"nlist=${16 * mult})")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // materialized-view probe (`runMain graft.ScaleProbe mv`): the IVM
    // claim is that a refresh costs O(new batch), not O(source table).
    // Build a 1×/4×/10× source, refresh to current, then append ONE
    // fixed-size batch and time the incremental refresh — flat wall
    // across source sizes is the pass. (The view itself is
    // group-cardinality — 3 order statuses — so the state join is
    // constant too.)
    // two-level fuzzy-join blocking (`runMain graft.ScaleProbe fuzzy`):
    // ONE hot block (the q72 100× hazard) with a realistic name-length
    // spread. Measures the candidate-pair counts and wall time of the
    // single-level block vs the length-banded two-level form — the
    // banded candidate count should grow ~|block|²/|length buckets|
    // while single-level grows |block|², with identical outputs.
    if (args.contains("fuzzy")) {
      def names(n: Int, salt: String) =
        spark.range(n).select(col("id"),
          concat(lit(s"company $salt "),
            // name length varies with the row: 0-24 extra chars
            rpad(col("id").cast("string"),
              ((col("id") % 25) + 1).cast("int"), lit("x")))
            .as("name"),
          lit(0).as("blk")) // ONE block: the adversarial hot-block case
      for (mult <- Seq(1, 4, 8)) {
        val l = names(500 * mult, "l").localCheckpoint(true)
        val r = names(500 * mult, "r")
          .withColumnRenamed("name", "rname").localCheckpoint(true)
        val (banded, fallback, full) = graft.operators.FuzzyJoin
          .candidateCounts(l, r, "id", "name", "rname", "blk", band = 4)
        def time(name: String)(f: => Long): Unit = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val rows = f
          println(f"[probe] mult=$mult%2d rows=${500 * mult}%6d $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        }
        println(f"[probe] mult=$mult%2d candidates: banded=$banded fallback=$fallback " +
          f"two_level=${banded + fallback} single_level=$full " +
          f"cut=${full.toDouble / (banded + fallback)}%.1fx")
        time("two_level") {
          graft.operators.FuzzyJoin.bestMatch(
            l, r, "id", "name", "rname", "blk", band = 4).count()
        }
        time("single_level") {
          graft.operators.FuzzyJoin.bestMatchSingleLevel(
            l, r, "id", "name", "rname", "blk").count()
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    // Bloom point-lookup door (`runMain graft.ScaleProbe bloom`): does
    // a keyed probe's cost track the CORPUS or the ANSWER? Bloom-
    // indexed tables at 1x/4x/10x (file count grows with the corpus),
    // identical 3-key probe against each: files OPENED must stay at
    // ~(true files + fpp·total) while files TOTAL grows 10x — the
    // listing-time pruning story for "was this URL ever ingested?".
    if (args.contains("bloom")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_probe_bloom").resolve("t").toString
        val docs = corpus(mult).select(
          concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
          col("doc_id"))
          .repartition(8 * mult, col("doc_id"))
        graft.sources.VersionedTable.append(docs, root,
          Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("url", 25000))))
        val keys = Seq("doc://7", "doc://123", "doc://400")
        val t0 = System.nanoTime()
        val out = graft.sources.VersionedTable.scan(spark, root)
          .filter(col("url").isin(keys: _*))
        val n = out.count()
        val opened = org.apache.spark.sql.graft.GraftScan.filesRead(out)
        val total = graft.sources.VersionedTable.fileCount(root)
        println(f"[probe] mult=$mult%2d files_total=$total%4d " +
          f"files_opened=$opened%3d rows=$n%2d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      spark.stop(); return
    }
    // TextIndex door + serve (`runMain graft.ScaleProbe tix`): does the
    // inverted index track the BATCH on ingest and the ANSWER on serve?
    // Corpus at 1x/4x/10x committed in 4 appends each; then (a) one
    // more fixed-size append is timed (must stay flat — O(batch)
    // tokenize + append, never a corpus re-sign), and (b) a unique
    // term's postings probe counts files OPENED vs files total (must
    // stay ~(true files + fpp·total) while total grows — the bloom
    // listing prune).
    if (args.contains("tix")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_probe_tix").resolve("ix").toString
        val c = corpus(mult).repartition(8 * mult).localCheckpoint(true)
        val n = c.count()
        graft.operators.TextIndex.build(
          c.filter(col("doc_id") % 4 === 0), root)
        for (r <- 1 to 3)
          graft.operators.TextIndex.append(
            c.filter(col("doc_id") % 4 === r), root)
        val batch = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(900000000L)).as("doc_id"),
            concat(col("text"), lit(" tixprobe_unique_term")).as("text"))
          .localCheckpoint(true)
        val nb = batch.count()
        val t0 = System.nanoTime()
        graft.operators.TextIndex.append(batch, root)
        val ingest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pruned = graft.sources.VersionedTable.scan(spark, s"$root/postings")
          .filter(col("term").isin("tixprobe_unique_term"))
        val hits = pruned.count()
        val serve = (System.nanoTime() - t1) / 1e9
        val opened = org.apache.spark.sql.graft.GraftScan.filesRead(pruned)
        val total = graft.operators.TextIndex.postings(spark, root)
          .inputFiles.length
        println(f"[probe] mult=$mult%2d corpus=$n%7d batch=$nb%6d " +
          f"ingest $ingest%6.2f s  serve $serve%5.2f s " +
          f"files_opened=$opened%3d/$total%3d rows=$hits")
      }
      spark.stop(); return
    }
    // Positional-index phrase serve (`runMain graft.ScaleProbe phrase`):
    // does a phrase query track the ANSWER, not the corpus? Positional
    // index built at 1x/4x/10x (4 appends each, so batch vocabularies
    // interleave across files) + one OPTIMIZE (the maintenance
    // cadence); a planted unique bigram then serves from the index —
    // opened position files and serve seconds must stay ~flat while
    // the corpus (and its file count) grows. The corpus-scan
    // counterfactual (the q151 shape) re-derives (doc, pos, term)
    // from every document per query — O(corpus) by construction.
    if (args.contains("phrase")) {
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory("graft_probe_phrase").resolve("ix").toString
        val planted = base.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + lit(900000000L)).as("doc_id"),
            concat(col("text"), lit(" phraseprobe_u1 phraseprobe_u2"))
              .as("text"))
        val c = corpus(mult).union(planted)
          .repartition(8 * mult).localCheckpoint(true)
        val n = c.count()
        graft.operators.TextIndex.build(
          c.filter(col("doc_id") % 4 === 0), root, positional = true)
        for (r <- 1 to 3)
          graft.operators.TextIndex.append(
            c.filter(col("doc_id") % 4 === r), root)
        graft.operators.TextIndex.optimize(spark, root, targetFiles = 8)
        val t0 = System.nanoTime()
        val res = graft.operators.TextIndex.searchPhrase(spark, root,
          Seq("phraseprobe_u1", "phraseprobe_u2"))
        val hits = res.count()
        val serve = (System.nanoTime() - t0) / 1e9
        val opened = org.apache.spark.sql.graft.GraftScan.filesRead(
          graft.sources.VersionedTable.scan(spark, s"$root/positions")
            .filter(col("term").isin("phraseprobe_u1", "phraseprobe_u2")))
        val total = graft.sources.VersionedTable.read(
          spark, s"$root/positions").inputFiles.length
        println(f"[probe] mult=$mult%2d corpus=$n%7d " +
          f"serve $serve%5.2f s files_opened=$opened%3d/$total%3d " +
          f"docs_hit=$hits")
      }
      spark.stop(); return
    }
    if (args.contains("mv")) {
      val orders = graft.core.Tables(spark, "/root/testdata/sf0.1", "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val batch = orders.filter(
        substring(md5(col("o_orderkey").cast("string")), 1, 2) === "00")
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
        .localCheckpoint(true)
      val nb = batch.count()
      for (mult <- Seq(1, 4, 10)) {
        val src = java.nio.file.Files
          .createTempDirectory(s"graft_mv_probe$mult").resolve("t").toString
        val view = java.nio.file.Files
          .createTempDirectory(s"graft_mv_probe_v$mult").resolve("v").toString
        val big = (0 until mult).map(i =>
          orders.select((col("o_orderkey") + lit(i * 10000000L))
            .as("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
          .reduce(_ union _)
        graft.sources.VersionedTable.overwrite(big, src)
        graft.sources.MaterializedView.refreshAdditive(
          spark, src, view, Seq("o_orderstatus"), "o_totalprice")
        graft.sources.VersionedTable.append(batch, src)
        val t0 = System.nanoTime()
        graft.sources.MaterializedView.refreshAdditive(
          spark, src, view, Seq("o_orderstatus"), "o_totalprice")
        val dt = (System.nanoTime() - t0) / 1e9
        val n = graft.sources.VersionedTable.read(spark, src).count()
        println(f"[probe] mult=$mult%2d src_rows=$n%9d batch=$nb%6d " +
          f"mv_refresh $dt%6.2f s")
      }
      spark.stop(); return
    }
    // perceptron probe (`runMain graft.ScaleProbe perceptron`): 2
    // training rounds over a growing corpus — per round one
    // buckets-row broadcast join, one semi-join, one combinable bucket
    // agg, so wall must track the token count; cross-round state is 64
    // rows regardless of corpus size.
    if (args.contains("perceptron")) {
      for (mult <- Seq(1, 4, 10)) {
        val c = corpus(mult).localCheckpoint(true)
        val n = c.count()
        val t0 = System.nanoTime()
        val rows = graft.operators.Perceptron
          .trainScore(c, label = length(col("text")) >= 300,
            buckets = 64, iters = 2)
          .queryExecution.toRdd.count()
        println(f"[probe] mult=$mult%2d docs=$n%7d perceptron_2it     " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      spark.stop(); return
    }
    for (mult <- Seq(1, 4, 10)) {
      val c = corpus(mult).localCheckpoint(true)
      val n = c.count()
      def time(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] mult=$mult%2d docs=$n%7d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
      }
      time("ngram_jaccard") { graft.operators.Dedup.ngramJaccardPairs(c, 0.8).count() }
      time("minhash_lsh")   { graft.operators.Dedup.minhashNearDupPairs(c, 0.8).count() }
      time("simhash")       { graft.operators.Dedup.simhashNearDupPairs(c, 6).count() }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // pairs → groups at 10x: label propagation vs star alternation on
    // the quarter-million-edge clique-heavy dedup graph
    {
      val c10 = corpus(10).localCheckpoint(true)
      val pairs = graft.operators.Dedup.ngramJaccardPairs(c10, 0.8)
        .localCheckpoint(true)
      val nodes = c10.select(col("doc_id"))
      def time(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] edges=${pairs.count()}%7d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
      }
      time("cc_label") {
        graft.operators.Dedup.connectedComponents(pairs, nodes).count()
      }
      time("cc_star") {
        graft.operators.Dedup.connectedComponentsStar(pairs, nodes).count()
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // sketch aggregations: cost should be linear in input with a
    // CONSTANT per-group shuffle payload (one fixed-size sketch),
    // regardless of item cardinality per group
    for (mult <- Seq(1, 4, 10)) {
      val c = corpus(mult).localCheckpoint(true)
      val n = c.count()
      val langd = c.withColumn("lang",
        (col("doc_id") % 5).cast("string"))
      def time(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] mult=$mult%2d docs=$n%7d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
      }
      // toRdd.count(): a plain .count() would let Catalyst PRUNE the
      // aggregates being measured (sketch/chunk stats don't affect row
      // count) — it timed a per-group distinct, not the operator
      def evalAll(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.toRdd.count()
      time("freq_items") {
        evalAll(graft.operators.FreqItems.topK(
          langd.select(col("lang"),
            explode(graft.functions.TextFunctions
              .wordShinglesAll(col("text"), 2)).as("bigram")),
          Seq("lang"), "bigram", 5))
      }
      time("kll_quantiles") {
        evalAll(langd.select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
          .groupBy(col("lang"))
          .agg(graft.operators.KllQuantiles
            .quantiles("n_tok", Seq(0.5, 0.9)).as("qs")))
      }
      time("chunk_dedup") { // q91's builder over the scaled corpus
        evalAll(graft.operators.Chunks.dupStats(c))
      }
      time("boilerplate") { // q110's operator (lang stands in for source)
        evalAll(graft.operators.Chunks.stripBoilerplate(
          langd.withColumnRenamed("lang", "source"), 32, 3))
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val ebase = graft.core.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"), col("embedding"))
    for (mult <- Seq(1, 4, 10)) {
      // per-iteration: the end-of-iteration blanket unpersist would
      // destroy a checkpoint shared across iterations
      val queries32 = ebase.filter(col("vec_id") < 32).localCheckpoint(true)
      val c = (0 until mult).map(i => ebase.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
        .reduce(_ union _).localCheckpoint(true)
      val n = c.count()
      def time(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] mult=$mult%2d vecs=$n%7d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
      }
      time("brute_topk") { graft.operators.Similarity.bruteForceTopK(queries32, c, 5).count() }
      time("lsh_topk")   { graft.operators.Similarity.lshTopK(queries32, c, 5, dim = 64).count() }
      time("ivf_topk")   { graft.operators.Similarity.ivfTopK(queries32, c, 5).count() }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // as-of join: composed union+window vs the native sorted-merge exec
    // (AsOfJoinExec) on 1x/4x/10x unions of the events table (shifted
    // user ids — key cardinality grows with input, per-key history
    // stays constant)
    val evbase = graft.core.Tables(spark, "/root/testdata/sf0.1", "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    for (mult <- Seq(1, 4, 10)) {
      val ev = (0 until mult).map(i => evbase.select(
        (col("user_id") + lit(i * 10000000L)).as("user_id"), col("ts"),
        col("event_id"), col("event_type"), col("value")))
        .reduce(_ union _).localCheckpoint(true)
      val n = ev.count()
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
      def time(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = f
        println(f"[probe] mult=$mult%2d rows=$n%8d $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($rows rows)")
      }
      def evalAll(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.toRdd.count()
      time("asof_composed") {
        evalAll(graft.operators.AsOfJoin.asOf(clicks, purchases, "user_id", "ts"))
      }
      time("asof_native") {
        evalAll(graft.operators.AsOfJoin.asOfNative(clicks, purchases, "user_id", "ts"))
      }
      // wide payload: the composed form runs one `last()` window PER
      // payload column; the native exec's merge cost is column-count
      // oblivious (one buffered row)
      val purchasesWide = purchases.select(
        Seq(col("user_id"), col("ts")) ++
          (0 until 8).map(i => (col("last_purchase") + lit(i)).as(s"p$i")): _*)
      time("asof_composed_w8") {
        evalAll(graft.operators.AsOfJoin.asOf(clicks, purchasesWide, "user_id", "ts"))
      }
      time("asof_native_w8") {
        evalAll(graft.operators.AsOfJoin.asOfNative(clicks, purchasesWide, "user_id", "ts"))
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // sparse-cosine probe (`runMain graft.ScaleProbe sparse`): the
    // weighted cosine join's candidate volume is Σ df² over CAPPED df.
    // Replicas are content-salted (the skew-probe trick) so each
    // replica brings its own vocabulary: per-token df stays constant
    // as the corpus grows, so candidates — and wall time — must grow
    // LINEARLY in docs. The uncapped Σ df² aggregate is printed as
    // the counterfactual the cap avoids.
    if (args.contains("sparse")) {
      def saltedCorpus(mult: Int) = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1" + s"_r$i").as("text")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = saltedCorpus(mult).localCheckpoint(true)
        val n = c.count()
        val tf = c.select(col("doc_id").as("id"),
            explode(split(col("text"), " ")).as("token"))
          .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
        val dfs = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .localCheckpoint(true)
        val uncappedCand = dfs
          .agg(sum((col("df") * (col("df") - 1) / 2).cast("long")))
          .first().getLong(0)
        val cappedCand = dfs.filter(col("df") <= 400)
          .agg(sum((col("df") * (col("df") - 1) / 2).cast("long")))
          .first().getLong(0)
        val t0 = System.nanoTime()
        val pairs = graft.operators.SparseCosineJoin
          .pairs(c, "doc_id", "text", dfCap = 400L, minCos = 0.9).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[probe] mult=$mult%2d docs=$n%7d sparse_cosine  " +
          f"capped_cand=$cappedCand%12d uncapped=$uncappedCand%14d " +
          f"pairs=$pairs%8d  $secs%6.2f s")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // containment-join probe (`runMain graft.ScaleProbe containment`):
    // the directed-containment candidate volume is Σ df·(df−1) over
    // CAPPED shingle df. Replicas are content-salted (each brings its
    // own shingle vocabulary) PLUS a shared boilerplate sentence on
    // every doc — the real-world quadratic driver: the boilerplate
    // shingles' df equals the WHOLE corpus, so uncapped candidates
    // grow as n² while the capped path drops exactly those shingles
    // and stays linear (capped shingles still count in |Sa|, so
    // measured containment only drops — the q284 contract). The
    // uncapped Σ df·(df−1) is printed as the counterfactual; only the
    // capped join actually runs.
    if (args.contains("containment")) {
      val boiler = " all rights reserved terms of service apply"
      def saltedCorpus(mult: Int) = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat(regexp_replace(col("text"), "(\\S+)", "$1" + s"_r$i"),
            lit(boiler)).as("text")))
        .reduce(_ union _)
      for (mult <- Seq(1, 4, 10)) {
        val c = saltedCorpus(mult).localCheckpoint(true)
        val n = c.count()
        val dfs = c.select(col("doc_id"),
            explode(graft.functions.TextFunctions
              .wordShingles(col("text"), 3)).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("df"))
          .localCheckpoint(true)
        val uncappedCand = dfs
          .agg(sum((col("df") * (col("df") - 1)).cast("long")))
          .first().getLong(0)
        val cappedCand = dfs.filter(col("df") <= 8)
          .agg(sum((col("df") * (col("df") - 1)).cast("long")))
          .first().getLong(0)
        val t0 = System.nanoTime()
        val pairs = graft.operators.Dedup.containmentPairs(
          c, thresholdPpm = 800000L, dfCap = 8L).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[probe] mult=$mult%2d docs=$n%7d containment    " +
          f"capped_cand=$cappedCand%12d uncapped=$uncappedCand%14d " +
          f"pairs=$pairs%8d  $secs%6.2f s")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // CDC-apply probe (`runMain graft.ScaleProbe cdc`): applyChanges
    // cost must track the FEED and its touched files, not the table.
    // A fixed 1k-key feed is applied to key-clustered tables at
    // 1x/4x/10x scale: the prune pass is one metadata-column scan, the
    // rewrite touches only the files holding fed keys, so wall time
    // stays flat while the table grows 10x.
    if (args.contains("cdc")) {
      import graft.sources.VersionedTable
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_cdc$mult").resolve("t").toString
        val rows = spark.range(0, mult * 100000L)
          .select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
          .repartitionByRange(mult * 8, col("k"))
        VersionedTable.overwrite(rows, root)
        val feed = spark.range(0, 1000L)
          .select((col("id") * 7L).as("k"),
            lit(-1.0).as("v"), lit(1L).as("seq"),
            when(col("id") % 5 === 0, "D").otherwise("U").as("op"))
        val t0 = System.nanoTime()
        VersionedTable.applyChanges(spark, root, feed, Seq("k"), "seq", "op")
        val secs = (System.nanoTime() - t0) / 1e9
        val files = VersionedTable.read(spark, root).inputFiles.length
        println(f"[probe] mult=$mult%2d rows=${mult * 100000}%8d cdc_apply " +
          f"files_now=$files%4d  $secs%6.2f s")
        graft.sources.Lake.deleteRecursively(new java.io.File(root).getParentFile)
      }
    }
    // MOR-update probe (`runMain graft.ScaleProbe morupd`): the write
    // side of a trickle update must track the MATCHED rows, not the
    // table — the point of merge-on-read. A fixed ~n/1000 update whose
    // keys are SPREAD ACROSS EVERY FILE (the hot-file daily-drip
    // regime): COW rewrites every touched file (≈ the whole table),
    // MOR lands only the patch rows. Both pay the O(n) predicate scan;
    // the gap is pure write amplification and widens with scale.
    if (args.contains("morupd")) {
      import graft.sources.{Tombstones, VersionedTable}
      for (mult <- Seq(1, 4, 10)) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_probe_morupd$mult")
        val (mor, cow) = (dir.resolve("m").toString, dir.resolve("c").toString)
        val rows = spark.range(0, mult * 200000L)
          .select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
          .repartitionByRange(mult * 16, col("k"))
          .localCheckpoint(true)
        VersionedTable.overwrite(rows, mor)
        VersionedTable.overwrite(rows, cow)
        val pred = pmod(col("k"), lit(1000L)) === 0
        val set = Map("v" -> (col("v") * 2))
        val t0 = System.nanoTime()
        val matched = Tombstones.updateMor(spark, mor, Seq("k"), pred, set)
        val morS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        VersionedTable.update(spark, cow, pred, set)
        val cowS = (System.nanoTime() - t1) / 1e9
        println(f"[probe] mult=$mult%2d rows=${mult * 200000}%8d mor_update " +
          f"matched=$matched%6d mor=$morS%6.2f s cow=$cowS%6.2f s " +
          f"ratio=${cowS / morS}%5.2f")
        rows.unpersist(false)
        graft.sources.Lake.deleteRecursively(dir.toFile)
      }
    }
    // General-MERGE locality probe (`runMain graft.ScaleProbe mact`):
    // a conditional mergeActions touching a FIXED 900-key slice of a
    // key-clustered table must rewrite a FLAT number of files as the
    // table grows — phase-1 pruning finds the touched span from the
    // stats; everything else carries by manifest line. rewritten/total
    // is the write-amplification story at 100 TB: fixed keys → fixed
    // files, whatever the table size.
    if (args.contains("mact")) {
      import graft.sources.VersionedTable
      import graft.sources.VersionedTable.MergeClause.{Delete, Insert, Update}
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_mact$mult").resolve("t").toString
        val n = mult * 200000L
        val rows = spark.range(0, n)
          .select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
          .repartitionByRange(mult * 16, col("k"))
        VersionedTable.overwrite(rows, root, Write.stats("k"))
        val before = VersionedTable.scanListing(root, Some(0L))
          .map(_.path).toSet
        // 900 matched keys spread over the FIRST 90k ids (a bounded
        // clustered span at every scale) + 100 unmatched inserts
        val src = spark.range(0, 1000L).select(
          when(col("id") < 900, col("id") * 100L)
            .otherwise(col("id") + 100000000L).as("k"),
          lit(5.0).as("nv"))
        val t0 = System.nanoTime()
        val v = VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
          Delete(Some(expr("s.nv > t.v"))),
          Update(None, Map("v" -> expr("t.v + s.nv"))),
          Insert(Some(expr("s.k % 2 = 0")),
            Map("k" -> expr("s.k"), "v" -> expr("s.nv")))))
        val secs = (System.nanoTime() - t0) / 1e9
        val after = VersionedTable.scanListing(root, Some(v))
          .map(_.path).toSet
        val rewritten = (before -- after).size
        println(f"[probe] mult=$mult%2d rows=$n%8d merge_actions " +
          f"rewritten=$rewritten%4d of ${before.size}%4d files  $secs%6.2f s")
        graft.sources.Lake.deleteRecursively(
          new java.io.File(root).getParentFile)
      }
    }
    // 3-D z-order box probe (`runMain graft.ScaleProbe zbox`): a fixed
    // absolute box over a corpus growing in the z dimension — the
    // files OPENED must stay flat (the box covers a fixed slab; only
    // the manifest grows) while a 2-D projection of the same box opens
    // multiplicatively more as the free dimension grows.
    if (args.contains("zbox")) {
      import graft.sources.VersionedTable
      for (mult <- Seq(1, 4, 10)) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_zbox$mult").resolve("t").toString
        val n = mult * 262144L
        val cube = spark.range(0, n)
          .select((col("id") % 512).as("x"),
            (pmod(col("id") * 2654435761L, lit(512L))).as("y"),
            floor(col("id") / lit(n / 512L)).cast("long").as("z"))
        VersionedTable.overwrite(cube, root,
          Write(zorder = Some(Write.ZOrder(Seq("x", "y", "z"), mult * 48, 64))))
        val total = VersionedTable.read(spark, root).inputFiles.length
        def box(cs: String*) = org.apache.spark.sql.graft.GraftScan.filesRead(
          VersionedTable.scan(spark, root)
            .filter(cs.map(c => col(c).between(0L, 63L)).reduce(_ && _)))
        val t0 = System.nanoTime()
        val opened3 = box("x", "y", "z")
        val secs = (System.nanoTime() - t0) / 1e9
        val opened2 = box("x", "y")
        println(f"[probe] mult=$mult%2d rows=$n%8d zbox3d " +
          f"opened3d=$opened3%4d opened2d=$opened2%4d total=$total%4d  " +
          f"$secs%6.2f s")
        graft.sources.Lake.deleteRecursively(
          new java.io.File(root).getParentFile)
      }
    }
    spark.stop()
  }
}
