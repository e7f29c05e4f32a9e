package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftScan

import graft.SparkSuite
import graft.sources.VersionedTable
import graft.sources.VersionedTable.Write

class TextIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def tmpRoot(): String =
    Files.createTempDirectory("graft_text_idx").resolve("i").toString

  private def postingsSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "term", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("incremental build (base + append) == one-shot build, postings and stats") {
    val oneShot = tmpRoot(); val incr = tmpRoot()
    TextIndex.build(docs, oneShot)
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), incr)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), incr)
    assert(postingsSet(TextIndex.postings(spark, oneShot)) ==
      postingsSet(TextIndex.postings(spark, incr)))
    assert(TextIndex.stats(oneShot) == TextIndex.stats(incr))
    val (nDocs, sumDl) = TextIndex.stats(oneShot)
    // stats sidecar == aggregate of the postings it summarizes
    val agg = TextIndex.postings(spark, oneShot)
      .agg(countDistinct(col("doc_id")), sum(col("tf"))).head()
    assert(nDocs == agg.getLong(0) && sumDl == agg.getLong(1))
  }

  test("legacy fixed-name _stats indexes stay readable and append " +
    "MIGRATES them — never resets") {
    val root = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), root)
    val statsBefore = TextIndex.stats(root)
    val postingsBefore = postingsSet(TextIndex.postings(spark, root))
    // convert to the pre-upgrade layout: fixed-name pointer file,
    // generation chain removed
    val dir = new java.io.File(root)
    val content = graft.sources.PointerCas.read(dir).get
    java.nio.file.Files.write(new java.io.File(root, "_stats").toPath,
      content.getBytes("UTF-8"))
    dir.listFiles().filter(_.getName.startsWith("_ptr."))
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    // legacy reads resolve through the fallback
    assert(TextIndex.stats(root) == statsBefore)
    assert(postingsSet(TextIndex.postings(spark, root)) == postingsBefore)
    // append on the legacy layout MIGRATES (no zero-reset, no
    // overwrite of the legacy corpus) and lands the batch
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), root)
    val ref = tmpRoot()
    TextIndex.build(docs, ref)
    assert(postingsSet(TextIndex.postings(spark, root)) ==
      postingsSet(TextIndex.postings(spark, ref)),
      "post-migration index must hold legacy + new postings")
    assert(TextIndex.stats(root) == TextIndex.stats(ref))
    assert(graft.sources.PointerCas.gen(dir) >= 1L,
      "the commit must land on the generation chain")
  }

  test("searchBm25 from the index == from-scratch corpus BM25 (q140 contract)") {
    val root = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 10 =!= 0), root)
    TextIndex.append(docs.filter(col("doc_id") % 10 === 0), root)
    val terms = TextIndex.postings(spark, root)
      .groupBy(col("term")).agg(sum(col("tf")).as("cf"))
      .orderBy(col("cf").desc, col("term")).limit(3)
      .select("term").collect().map(_.getString(0)).toSeq

    // from-scratch reference: identical scoring over a fresh tokenize
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val st = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val (nDocs, sumDl) = (st.getLong(0), st.getLong(1))
    val avgdl = sumDl.toDouble / nDocs
    val dft = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val score =
      log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
    val expect = tf.filter(col("term").isin(terms: _*))
      .join(broadcast(dft), Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("s", round(score, 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("s").cast(DecimalType(18, 6))).cast(DoubleType).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val got = TextIndex.searchBm25(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("streaming ingest door == batch build; job re-run is a no-op (batchId sidecar)") {
    val in = Files.createTempDirectory("graft_tix_in").resolve("p").toString
    val ix = tmpRoot()
    docs.repartition(3).write.mode("overwrite").parquet(in)
    graft.streaming.StreamingJobs.runTextIndexIngestAvailableNow(spark, in, ix)
    val ref = tmpRoot()
    TextIndex.build(docs, ref)
    assert(postingsSet(TextIndex.postings(spark, ix)) ==
      postingsSet(TextIndex.postings(spark, ref)))
    assert(TextIndex.stats(ix) == TextIndex.stats(ref))
    // a fresh run over the same input replays batchIds 0..2 — the
    // sidecar must swallow them instead of double-appending
    graft.streaming.StreamingJobs.runTextIndexIngestAvailableNow(spark, in, ix)
    assert(TextIndex.stats(ix) == TextIndex.stats(ref))
    assert(postingsSet(TextIndex.postings(spark, ix)).size ==
      postingsSet(TextIndex.postings(spark, ref)).size)
  }

  test("torn commit: orphan table versions are invisible to serving and restored over") {
    val root = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 3 === 1), root)
    val terms = Seq("the")
    val before = TextIndex.searchBm25(spark, root, terms, 5)
      .collect().map(_.toSeq).toSeq
    val contentBefore = postingsSet(TextIndex.postings(spark, root))
    // simulate a crash mid-append: postings landed, doclen + pointer
    // did not — an ORPHAN postings version
    val orphan = postingsSet(TextIndex.postings(spark, root)).take(5)
      .map { case (d, t, f) => (d + 500000L, t, f) }.toSeq
    import spark.implicits._
    graft.sources.VersionedTable.append(
      orphan.toDF("doc_id", "term", "tf"),
      s"$root/postings",
      Write(stats = Some(Seq.empty), bloom = Some(Write.Bloom("term"))))
    // serving still answers from the committed pointer
    assert(TextIndex.searchBm25(spark, root, terms, 5)
      .collect().map(_.toSeq).toSeq == before)
    assert(postingsSet(TextIndex.postings(spark, root)) == contentBefore)
    // the next real append restores the recorded state first — the
    // orphan batch is gone, the new batch is in, stats consistent
    TextIndex.append(docs.filter(col("doc_id") % 3 === 2), root)
    val ref = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0), ref)
    assert(postingsSet(TextIndex.postings(spark, root)) ==
      postingsSet(TextIndex.postings(spark, ref)))
    assert(TextIndex.stats(root) == TextIndex.stats(ref))
  }

  test("delete == index rebuilt from the remaining docs (postings, stats)") {
    val root = tmpRoot()
    TextIndex.build(docs, root)
    val gone = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, root, gone)
    val ref = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 7 =!= 0), ref)
    assert(postingsSet(TextIndex.postings(spark, root)) ==
      postingsSet(TextIndex.postings(spark, ref)))
    assert(TextIndex.stats(root) == TextIndex.stats(ref))
  }

  test("optimize clusters by term: common-term probe narrows; content identical") {
    val root = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 4 === 0).repartition(4), root)
    for (r <- 1 to 3)
      TextIndex.append(docs.filter(col("doc_id") % 4 === r).repartition(4), root)
    val hot = TextIndex.postings(spark, root)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(1)
      .select("term").head().getString(0)
    val before = GraftScan.filesRead(
      VersionedTable.scan(spark, s"$root/postings")
        .filter(col("term").isin(hot)))
    val contentBefore = postingsSet(TextIndex.postings(spark, root))
    val statsBefore = TextIndex.stats(root)
    TextIndex.optimize(spark, root, targetFiles = 4)
    val after = GraftScan.filesRead(
      VersionedTable.scan(spark, s"$root/postings")
        .filter(col("term").isin(hot)))
    info(s"common term '$hot': opened $before files pre-optimize, $after post")
    // a common term matches every interleaved batch file pre-optimize;
    // range-clustered it lives in 1-2 contiguous files
    assert(after < before && after <= 2)
    assert(postingsSet(TextIndex.postings(spark, root)) == contentBefore)
    assert(TextIndex.stats(root) == statsBefore)
  }

  test("auto-OPTIMIZE: a threshold-crossing append triggers clustering " +
    "in the ingest door; opens drop; results bit-identical") {
    val root = tmpRoot(); val manual = tmpRoot()
    // same batches into both; only `root` carries the policy. Each
    // append is 4-way repartitioned so fragmentation actually grows.
    def batches = (0 to 5).map(r => docs.filter(col("doc_id") % 6 === r))
    TextIndex.build(batches.head.repartition(4), root)
    TextIndex.build(batches.head.repartition(4), manual)
    var fired = false
    for (b <- batches.tail) {
      val beforeAuto = TextIndex.postings(spark, root).inputFiles.length
      val beforeMan = TextIndex.postings(spark, manual).inputFiles.length
      TextIndex.append(b.repartition(4), root, autoOptimizeFiles = 5,
        autoOptimizeTarget = 2)
      TextIndex.append(b.repartition(4), manual)
      val afterAuto = TextIndex.postings(spark, root).inputFiles.length
      // the identical append on the never-optimizing twin measures how
      // many files this batch added; without a compaction the auto
      // side would end at exactly beforeAuto + added
      val added = TextIndex.postings(spark, manual).inputFiles.length -
        beforeMan
      info(s"beforeAuto=$beforeAuto afterAuto=$afterAuto added=$added")
      if (afterAuto < beforeAuto + added) fired = true
    }
    assert(fired, "fixture must cross the file threshold at least once")
    assert(TextIndex.postings(spark, root).inputFiles.length <
      TextIndex.postings(spark, manual).inputFiles.length,
      "the policy must leave the index less fragmented than the twin")
    // bit-identical to the never-optimized twin: postings rows, stats,
    // and BM25 results all unchanged by the compactions
    assert(postingsSet(TextIndex.postings(spark, root)) ==
      postingsSet(TextIndex.postings(spark, manual)))
    assert(TextIndex.stats(root) == TextIndex.stats(manual))
    val hot = TextIndex.postings(spark, root)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(1)
      .select("term").head().getString(0)
    val a = TextIndex.searchBm25(spark, root, Seq(hot), k = 10)
      .collect().map(_.toSeq).toList
    val m = TextIndex.searchBm25(spark, manual, Seq(hot), k = 10)
      .collect().map(_.toSeq).toList
    assert(a == m)
    // and the compacted layout actually narrows the hot-term probe
    val openedAuto = GraftScan.filesRead(
      VersionedTable.scan(spark, s"$root/postings")
        .filter(col("term").isin(hot)))
    val openedManual = GraftScan.filesRead(
      VersionedTable.scan(spark, s"$manual/postings")
        .filter(col("term").isin(hot)))
    info(s"hot term '$hot': auto-optimized opens $openedAuto vs " +
      s"fragmented $openedManual")
    assert(openedAuto < openedManual)
  }

  test("positional index: phrase search == corpus-scan recompute across " +
    "append, delete and optimize; plain index refuses") {
    import spark.implicits._
    val root = tmpRoot()
    // phrase occurrences recomputed from the corpus — the oracle
    def oracle(corpus: org.apache.spark.sql.DataFrame,
               w: Seq[String]): Set[(Long, Long)] = {
      val tk = corpus.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "t")))
      var cur = tk.filter(col("t") === w.head)
        .select(col("doc_id"), col("p").as("p0"))
      for (i <- 1 until w.length)
        cur = cur.join(tk.filter(col("t") === w(i))
          .select(col("doc_id"), (col("p") - i).as("p0")), Seq("doc_id", "p0"))
      cur.groupBy("doc_id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def served(w: Seq[String]): Set[(Long, Long)] =
      TextIndex.searchPhrase(spark, root, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    TextIndex.build(base, root, positional = true)
    // pick a phrase that certainly occurs: first two words of a doc
    val words = docs.orderBy("doc_id").select("text").head()
      .getString(0).split(" ").filter(_.nonEmpty).take(2).toSeq
    assert(served(words) == oracle(base, words))
    // append advances the positional postings in step
    TextIndex.append(docs.filter(col("doc_id") % 3 === 0), root)
    val full = oracle(docs, words)
    assert(served(words) == full && full.nonEmpty)
    // takedown removes the doc's phrase occurrences
    val victim = full.head._1
    TextIndex.delete(spark, root, Seq(victim))
    assert(served(words) == full.filterNot(_._1 == victim))
    // optimize reclusters; results bit-identical
    TextIndex.optimize(spark, root, targetFiles = 4)
    assert(served(words) == full.filterNot(_._1 == victim))
    // multi-word (3) phrase agrees too
    val w3 = docs.orderBy(col("doc_id").desc).select("text").head()
      .getString(0).split(" ").filter(_.nonEmpty).take(3).toSeq
    val exp3 = oracle(docs.filter(col("doc_id") =!= victim), w3)
    assert(served(w3) == exp3)
    // a non-positional index refuses phrase queries with a clear error
    val plain = tmpRoot()
    TextIndex.build(docs.limit(10), plain)
    val e = intercept[RuntimeException](
      TextIndex.searchPhrase(spark, plain, words))
    assert(e.getMessage.contains("positional"))
  }

  test("term probe opens fewer files than the postings table holds (bloom prune)") {
    import spark.implicits._
    val root = tmpRoot()
    // several appends → several posting files with per-file blooms;
    // one batch carries a synthetic doc holding a UNIQUE token, so
    // that term's postings provably live in a single batch's files
    TextIndex.build(docs.filter(col("doc_id") % 4 === 0)
      .repartition(4), root)
    for (r <- 1 to 2)
      TextIndex.append(docs.filter(col("doc_id") % 4 === r)
        .repartition(4), root)
    val rare = "xq_unique_probe_token"
    TextIndex.append(
      Seq((9999999L, s"$rare only here")).toDF("doc_id", "text"), root)
    val pruned = graft.sources.VersionedTable.scan(spark, s"$root/postings")
      .filter(col("term").isin(rare))
    val total = TextIndex.postings(spark, root).inputFiles.length
    val opened = GraftScan.filesRead(pruned)
    info(s"files: opened $opened of $total for rare term '$rare'")
    assert(opened < total)
    assert(pruned.count() == 1)
  }

  test("racing appenders serialize on the commit pointer: neither batch " +
    "is lost, stats exact, serving never torn") {
    import java.util.concurrent.CyclicBarrier
    val root = tmpRoot()
    TextIndex.build(docs.filter(col("doc_id") % 3 === 0), root)
    val batches = Seq(docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    // both appenders release together: without the generation-guarded
    // pointer CAS, both read the same commit state and the second
    // pointer move would silently drop the first one's batch
    val barrier = new CyclicBarrier(2)
    var failure: Option[Throwable] = None
    val ts = batches.map { b =>
      new Thread(() => {
        try { barrier.await(); TextIndex.append(b, root) }
        catch { case t: Throwable => failure = Some(t) }
      })
    }
    // a reader sampling serving state concurrently: n_docs from the
    // pointer must always equal the doclen rows AT the recorded
    // version — a torn pointer/table pair would break the equality.
    // ONE atomic pointer read per sample (generation-numbered files
    // are exclusively created whole), then the immutable recorded
    // version is counted.
    @volatile var torn = false
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val toks = graft.sources.PointerCas.read(new java.io.File(root))
          .get.trim.split("\\s+")
        val (n, dV) = (toks(0).toLong, toks(3).toLong)
        if (dV >= 0) {
          val served = graft.sources.VersionedTable
            .readVersion(spark, s"$root/doclen", dV).count()
          if (n != served) torn = true
        }
      }
    })
    reader.start()
    ts.foreach(_.start()); ts.foreach(_.join())
    stop = true; reader.join()
    failure.foreach(throw _)
    assert(!torn, "reader observed pointer/table disagreement")
    // the union of all three thirds — nothing lost to the race
    val ref = tmpRoot()
    TextIndex.build(docs, ref)
    assert(postingsSet(TextIndex.postings(spark, root)) ==
      postingsSet(TextIndex.postings(spark, ref)))
    assert(TextIndex.stats(root) == TextIndex.stats(ref))
  }
}
