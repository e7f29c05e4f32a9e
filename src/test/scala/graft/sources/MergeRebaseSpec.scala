package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.MergeClause._
import graft.sources.VersionedTable.Write

/** Conflict-aware commit reconciliation (the Delta conflict-class
  * role): a MERGE that loses its commit race to a PURE APPEND whose
  * files provably hold no source-key matches (manifest stat ranges
  * disjoint) REBASES the same delta onto the new head — phases 1-2
  * never recompute, the table is never re-read. Overlapping keys,
  * rewrites, and by-source clauses (which must SEE interleaved rows)
  * still recompute. The `beforeCommit` seam fires once per COMPUTE
  * (not per commit attempt), so its count is the recompute count. */
class MergeRebaseSpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rebase").resolve("t").toString
    VersionedTable.overwrite(
      (1L to 20L).map(i => (i, s"s$i", i * 10L)).toDF("k", "s", "v")
        .repartitionByRange(2, col("k")),
      root, Write.stats("k"))
    root
  }

  private def stateOf(root: String): Map[Long, (String, Long)] =
    VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("a DISJOINT racing append REBASES: one compute pass, no " +
    "second table read, both writers' effects land") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    val src = Seq((5L, "u", 1L)).toDF("k", "s", "v")
    val (_, run) = graft.core.Metrics.measure(spark) {
      VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
        Update(None, Map("v" -> expr("t.v + s.v")))),
        beforeCommit = () => {
          computes += 1
          if (computes == 1)
            VersionedTable.append(
              // keys 100.. disjoint of 5
              Seq((100L, "r", 1L)).toDF("k", "s", "v"),
              root, Write.stats("k"))
        })
    }
    assert(computes == 1,
      s"a key-disjoint append must rebase, not recompute ($computes)")
    val st = stateOf(root)
    assert(st(5L) == ("s5", 51L), "the merge's update landed")
    assert(st(100L) == ("r", 1L), "the racing append's row survived")
    assert(st.size == 21)
    assert(run.bytesRead > 0) // the single compute pass did read
  }

  test("an OVERLAPPING racing append recomputes: the merge must see " +
    "the interleaved matching row") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    val src = Seq((5L, "u", 1L), (30L, "n", 2L)).toDF("k", "s", "v")
    VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
      Update(None, Map("v" -> expr("t.v + s.v"))),
      Insert(None, Map.empty)),
      beforeCommit = () => {
        computes += 1
        if (computes == 1)
          VersionedTable.append(
            // key 30 INSIDE [5, 30]
            Seq((30L, "r", 100L)).toDF("k", "s", "v"),
            root, Write.stats("k"))
      })
    assert(computes == 2,
      s"an overlapping append must recompute ($computes)")
    val st = stateOf(root)
    // the recompute saw the appended k=30 as MATCHED: updated, not
    // double-inserted
    assert(st(30L) == ("r", 102L), st.get(30L).toString)
    assert(st(5L) == ("s5", 51L))
  }

  test("a racing REWRITE whose output carries NO key stats recomputes " +
    "— unprovable disjointness fails safe") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    val src = Seq((5L, "u", 1L)).toDF("k", "s", "v")
    VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
      Update(None, Map("v" -> expr("t.v + s.v")))),
      beforeCommit = () => {
        computes += 1
        if (computes == 1) {
          // delete stages its survivors with rows-only stats — the
          // loser cannot prove key-disjointness from the manifest and
          // must recompute, even though the file sets are disjoint
          VersionedTable.delete(spark, root, col("k") === 20L)
          ()
        }
      })
    assert(computes == 2, s"a stats-less rewrite must recompute ($computes)")
    val st = stateOf(root)
    assert(!st.contains(20L) && st(5L) == ("s5", 51L))
  }

  test("a racing COMPACTION of files the merge never touched REBASES: " +
    "one compute pass, data-preserving interleave is proof enough") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rebase_c")
      .resolve("t").toString
    // one BIG file (keys 1-50, the merge's target) + two small ones
    VersionedTable.overwrite(
      (1L to 50L).map(i => (i, s"s$i", i * 10L)).toDF("k", "s", "v")
        .coalesce(1),
      root, Write.stats("k"))
    VersionedTable.append(
      (100L to 110L).map(i => (i, s"s$i", i)).toDF("k", "s", "v")
        .coalesce(1),
      root, Write.stats("k"))
    VersionedTable.append(
      (200L to 210L).map(i => (i, s"s$i", i)).toDF("k", "s", "v")
        .coalesce(1),
      root, Write.stats("k"))
    val sizes = VersionedTable.listingPaths(
      root, VersionedTable.latestVersion(root).get)
      .map(p => new java.io.File(p).length()).sorted
    val target = sizes.last // the big file must NOT be packed
    var computes = 0
    val src = Seq((5L, "u", 1L)).toDF("k", "s", "v")
    val (_, run) = graft.core.Metrics.measure(spark) {
      VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
        Update(None, Map("v" -> expr("t.v + s.v")))),
        beforeCommit = () => {
          computes += 1
          if (computes == 1) {
            VersionedTable.compact(spark, root, targetBytes = target)
            ()
          }
        })
    }
    assert(computes == 1,
      s"a disjoint compaction interleave must rebase ($computes)")
    val st = stateOf(root)
    assert(st(5L) == ("s5", 51L), "the merge's update landed")
    assert(st.size == 72, s"every compacted row survived: ${st.size}")
    assert((100L to 110L).forall(st.contains) &&
      (200L to 210L).forall(st.contains))
    assert(run.bytesRead > 0)
  }

  test("a racing compaction that CONSUMED a merge-touched file " +
    "recomputes — replaying the delta would duplicate its rows") {
    import spark.implicits._
    val root = freshTable() // two small range files, keys 1-10 / 11-20
    var computes = 0
    val src = Seq((5L, "u", 1L)).toDF("k", "s", "v")
    VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
      Update(None, Map("v" -> expr("t.v + s.v")))),
      beforeCommit = () => {
        computes += 1
        if (computes == 1) {
          // packs BOTH files (they are tiny) — including the touched one
          VersionedTable.compact(spark, root)
          ()
        }
      })
    assert(computes == 2,
      s"an overlapping compaction must recompute ($computes)")
    val st = stateOf(root)
    assert(st(5L) == ("s5", 51L) && st.size == 20,
      s"no duplicated or lost rows: ${st.size}")
  }

  test("two MERGEs with DISJOINT touched files and provably disjoint " +
    "key ranges serialize WITHOUT recompute (manifest-stats proof)") {
    import spark.implicits._
    val root = freshTable() // file1 = keys 1-10, file2 = keys 11-20
    var computes = 0
    val loserSrc = Seq((5L, "u", 1L)).toDF("k", "s", "v")
    val (_, run) = graft.core.Metrics.measure(spark) {
      VersionedTable.mergeActions(spark, root, loserSrc, Seq("k"), Seq(
        Update(None, Map("v" -> expr("t.v + s.v")))),
        beforeCommit = () => {
          computes += 1
          if (computes == 1) {
            // the WINNER merge touches file2 only; its staged output
            // (rows 11-20, k-stats [11,20]) is provably disjoint from
            // the loser's source range [5,5]
            VersionedTable.mergeActions(spark, root,
              Seq((15L, "w", 7L)).toDF("k", "s", "v"), Seq("k"), Seq(
                Update(None, Map("v" -> expr("t.v + s.v")))))
            ()
          }
        })
    }
    assert(computes == 1,
      s"disjoint merge-merge must rebase, not recompute ($computes)")
    val st = stateOf(root)
    assert(st(5L) == ("s5", 51L), "the loser's update landed")
    assert(st(15L) == ("s15", 157L), "the winner's update survived")
    assert(st.size == 20)
    assert(run.bytesRead > 0)
  }

  test("two merges over the SAME file (or overlapping key ranges) " +
    "recompute — the loser must see the winner's rows") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    // both merges touch file2 (keys 11-20)
    val loserSrc = Seq((12L, "u", 1L)).toDF("k", "s", "v")
    VersionedTable.mergeActions(spark, root, loserSrc, Seq("k"), Seq(
      Update(None, Map("v" -> expr("t.v + s.v")))),
      beforeCommit = () => {
        computes += 1
        if (computes == 1) {
          VersionedTable.mergeActions(spark, root,
            Seq((15L, "w", 7L)).toDF("k", "s", "v"), Seq("k"), Seq(
              Update(None, Map("v" -> expr("t.v + s.v")))))
          ()
        }
      })
    assert(computes == 2,
      s"overlapping merge-merge must recompute ($computes)")
    val st = stateOf(root)
    assert(st(12L) == ("s12", 121L) && st(15L) == ("s15", 157L),
      "both updates land exactly once under the recompute")
  }

  test("DELETE racing a winner MERGE whose output rows don't match the " +
    "predicate rebases — the probe reads ONLY the winner's output") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    VersionedTable.delete(spark, root, col("k") <= 3L, // touches file1
      beforeCommit = () => {
        computes += 1
        if (computes == 1) {
          VersionedTable.mergeActions(spark, root, // touches file2
            Seq((15L, "w", 7L)).toDF("k", "s", "v"), Seq("k"), Seq(
              Update(None, Map("v" -> expr("t.v + s.v")))))
          ()
        }
      })
    assert(computes == 1,
      s"a predicate-free merge interleave must rebase ($computes)")
    val st = stateOf(root)
    assert(!st.contains(1L) && !st.contains(3L) && st(15L)._2 == 157L)
    assert(st.size == 17)
  }

  test("DELETE racing a NON-MATCHING append rebases (one compute); a " +
    "MATCHING append recomputes and deletes the interleaved row too") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    VersionedTable.delete(spark, root, col("k") <= 3L,
      beforeCommit = () => {
        computes += 1
        if (computes == 1)
          VersionedTable.append(
            // k=50: predicate-free
            Seq((50L, "r", 1L)).toDF("k", "s", "v"),
            root, Write.stats("k"))
      })
    assert(computes == 1, s"predicate-free append must rebase ($computes)")
    val st1 = stateOf(root)
    assert(!st1.contains(1L) && st1.contains(50L) && st1.size == 18)
    // matching append: the interleaved row is IN the predicate
    var computes2 = 0
    VersionedTable.delete(spark, root, col("k") >= 40L,
      beforeCommit = () => {
        computes2 += 1
        if (computes2 == 1)
          VersionedTable.append(Seq((60L, "m", 1L)).toDF("k", "s", "v"), root,
            Write.stats("k"))
      })
    assert(computes2 == 2, s"a matching append must recompute ($computes2)")
    val st2 = stateOf(root)
    assert(!st2.contains(50L) && !st2.contains(60L),
      "serializable delete removes the interleaved matching row too")
  }

  test("UPDATE racing a NON-MATCHING append rebases; a MATCHING " +
    "append recomputes and updates the interleaved row too") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    VersionedTable.update(spark, root, col("k") === 2L,
      Map("v" -> lit(999L)),
      beforeCommit = () => {
        computes += 1
        if (computes == 1)
          VersionedTable.append(Seq((70L, "r", 1L)).toDF("k", "s", "v"), root,
            Write.stats("k"))
      })
    assert(computes == 1, s"predicate-free append must rebase ($computes)")
    assert(stateOf(root)(2L) == ("s2", 999L))
    var computes2 = 0
    VersionedTable.update(spark, root, col("k") >= 70L,
      Map("v" -> lit(777L)),
      beforeCommit = () => {
        computes2 += 1
        if (computes2 == 1)
          VersionedTable.append(Seq((80L, "m", 1L)).toDF("k", "s", "v"), root,
            Write.stats("k"))
      })
    assert(computes2 == 2, s"a matching append must recompute ($computes2)")
    val st = stateOf(root)
    assert(st(70L)._2 == 777L && st(80L)._2 == 777L,
      "the recompute must update the interleaved matching row too")
  }

  test("BY SOURCE clauses force recompute even for a disjoint append " +
    "— the interleaved row has no source match and must be processed") {
    import spark.implicits._
    val root = freshTable()
    var computes = 0
    val src = (1L to 20L).map(i => (i, s"s$i", i * 10L)).toDF("k", "s", "v")
    VersionedTable.mergeActions(spark, root, src, Seq("k"), Seq(
      Update(None, Map("v" -> expr("s.v"))),
      DeleteBySource(None)), // mirror: target rows without source match die
      beforeCommit = () => {
        computes += 1
        if (computes == 1)
          VersionedTable.append(Seq((100L, "r", 1L)).toDF("k", "s", "v"), root,
            Write.stats("k"))
      })
    assert(computes == 2,
      s"by-source semantics must recompute ($computes)")
    val st = stateOf(root)
    assert(!st.contains(100L),
      "the mirror merge must have deleted the interleaved unmatched row")
    assert(st.size == 20)
  }

  // ---------------------------------------------------------------
  // Every copy-on-write writer's retry paths, on a flat and on a
  // partitioned table: (a) retries that run out leave the seed plus
  // the racers' rows and no stray data file; (b) one racing append
  // gives the serial result.
  // ---------------------------------------------------------------

  private val cowCols = Seq("k", "seq", "s", "v", "p")
  private type CowRow = (Long, Long, String, Long, Int)

  /** Keys 1-20 at stored sequence 5; `p` = k % 2 is the partition
    * column of the partitioned layout. */
  private val cowSeed: Seq[CowRow] =
    (1L to 20L).map(i => (i, 5L, s"s$i", i * 10L, (i % 2).toInt))

  private def cowTable(partitioned: Boolean): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cow").resolve("t").toString
    VersionedTable.overwrite(cowSeed.toDF(cowCols: _*), root,
      if (partitioned) Write(partitionBy = Seq("p")) else Write())
    root
  }

  private def cowRows(root: String): Seq[CowRow] =
    VersionedTable.read(spark, root).select(cowCols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getInt(4))).toSeq.sorted

  private def appendRow(root: String, r: CowRow): Unit = {
    import spark.implicits._
    VersionedTable.append(Seq(r).toDF(cowCols: _*), root)
  }

  /** (missing, orphan) data files, partition directories included — an
    * independent walk of `data/` to check `fsck` against. */
  private def strayFiles(root: String): (Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val referenced = VersionedTable.versions(root)
      .flatMap(v => VersionedTable.listingPaths(root, v)).toSet
    val onDisk = Files.walk(java.nio.file.Paths.get(root, "data")).iterator
      .asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    (referenced.diff(onDisk).toSeq.sorted, onDisk.diff(referenced).toSeq.sorted)
  }

  /** One writer acting on key 5 (partition p = 1): `run(root,
    * maxRetries, beforeCommit)`. */
  private final class CowWriter(val name: String,
                                val run: (String, Int, () => Unit) => Long)

  private def cowWriters: Seq[CowWriter] = {
    import spark.implicits._
    val upsert = Seq((5L, 9L, "u", 51L, 1))
    Seq(
      new CowWriter("merge", (root, n, hook) =>
        VersionedTable.merge(spark, root, upsert.toDF(cowCols: _*), Seq("k"),
          maxRetries = n, beforeCommit = hook)),
      new CowWriter("mergeActions", (root, n, hook) =>
        VersionedTable.mergeActions(spark, root, upsert.toDF(cowCols: _*),
          Seq("k"), Seq(Update(None, Map("v" -> expr("t.v + s.v")))),
          maxRetries = n, beforeCommit = hook)),
      // `seq` is a data column here; the feed orders by `ord`
      new CowWriter("applyChanges", (root, n, hook) =>
        VersionedTable.applyChanges(spark, root,
          Seq((5L, 9L, "u", 51L, 1, "U", 1L), (6L, 9L, "d", 0L, 0, "D", 1L))
            .toDF(cowCols :+ "op" :+ "ord": _*),
          Seq("k"), "ord", "op", maxRetries = n, beforeCommit = hook)),
      new CowWriter("applyChangesGuarded", (root, n, hook) =>
        VersionedTable.applyChangesGuarded(spark, root,
          Seq((5L, 9L, "u", 51L, 1, "U"), (6L, 9L, "d", 0L, 0, "D"))
            .toDF(cowCols :+ "op": _*),
          Seq("k"), "seq", "op", maxRetries = n, beforeCommit = hook)),
      new CowWriter("delete", (root, n, hook) =>
        VersionedTable.delete(spark, root, col("k") === 5L,
          maxRetries = n, beforeCommit = hook)),
      new CowWriter("update", (root, n, hook) =>
        VersionedTable.update(spark, root, col("k") === 5L,
          Map("v" -> lit(51L)), maxRetries = n, beforeCommit = hook)))
  }

  for (w <- cowWriters; partitioned <- Seq(false, true)) {
    val layout = if (partitioned) "partitioned" else "flat"

    test(s"${w.name} on a $layout table: retries run out, leaving the " +
      "seed plus the racers' rows and no stray file") {
      val root = cowTable(partitioned)
      val racers = Seq.newBuilder[CowRow]
      var i = 0
      intercept[java.nio.file.FileAlreadyExistsException] {
        // each racer lands key 5 with a newer sequence: it conflicts
        // with every writer, so no rebase can save the commit
        w.run(root, 1, () => {
          i += 1
          val r = (5L, 100L + i, s"r$i", i.toLong, 1)
          appendRow(root, r)
          racers += r
        })
      }
      assert(i == 2, s"maxRetries = 1 allows exactly one recompute ($i)")
      assert(strayFiles(root) == ((Seq.empty, Seq.empty)))
      assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
      assert(cowRows(root) == (cowSeed ++ racers.result()).sorted)
    }

    test(s"${w.name} on a $layout table: one racing append gives the " +
      "serial result") {
      // a conflicting racer (key 5, newer sequence) forces a recompute;
      // a disjoint one (key 50, partition 0) may rebase
      for (racer <- Seq[CowRow]((5L, 100L, "r", 7L, 1), (50L, 100L, "r", 7L, 0))) {
        val raced = cowTable(partitioned)
        var fired = false
        w.run(raced, 5, () => if (!fired) { fired = true; appendRow(raced, racer) })
        val serial = cowTable(partitioned)
        appendRow(serial, racer)
        w.run(serial, 5, () => ())
        assert(cowRows(raced) == cowRows(serial), s"racer $racer")
        assert(strayFiles(raced) == ((Seq.empty, Seq.empty)))
        if (w.name == "applyChangesGuarded" && racer._1 == 5L)
          // the stored sequence 100 beats the feed's 9 after the recompute
          assert(cowRows(raced).filter(_._1 == 5L) == Seq(racer))
      }
    }
  }

  // ---------------------------------------------------------------
  // The stage-once writers with a per-attempt seam (`addConstraint`,
  // `compact`, the identity append): `beforeCommit` fires once per plan
  // evaluation, so its count is the attempt count. (a) One racer: the
  // writer commits right after it, with the serial result. (b) A racer
  // on every attempt: the writer rethrows after exactly maxRetries + 1
  // evaluations, leaving no file of its own and a readable table.
  // ---------------------------------------------------------------

  /** A writer over a (k, s) table: `fresh()` seeds a table, `racer(root,
    * i)` is the i-th racing commit, `run(root, hook)` the writer with
    * `maxRetries` retries. */
  private final class SeamWriter(val name: String, val maxRetries: Int,
                                 val fresh: () => String,
                                 val racer: (String, Int) => Unit,
                                 val run: (String, () => Unit) => Long,
                                 val state: String => Any = _ => ())

  private def ksRows(root: String): Seq[(Long, String)] =
    VersionedTable.read(spark, root).select(col("k").cast("long"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def ksTable(files: Int): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_seam").resolve("t").toString
    VersionedTable.overwrite((1L to 6L).map(i => (i, s"s$i")).toDF("k", "s")
      .repartition(files), root)
    root
  }

  private def seamWriters: Seq[SeamWriter] = {
    import spark.implicits._
    val plainRacer: (String, Int) => Unit = (root, i) => {
      VersionedTable.append(Seq((100L + i, s"r$i")).toDF("k", "s"), root); ()
    }
    Seq(
      new SeamWriter("addConstraint", 2, () => ksTable(1), plainRacer,
        (root, hook) => {
          VersionedTable.addConstraint(spark, root, "k_pos", "k > 0",
            maxRetries = 2, beforeCommit = hook)
          VersionedTable.latestVersion(root).get
        },
        root => VersionedTable.constraints(root)),
      new SeamWriter("compact", 2, () => ksTable(3), plainRacer,
        (root, hook) => VersionedTable.compact(spark, root, maxRetries = 2,
          beforeCommit = hook)),
      // the identity append's retry budget is its fixed default, 5
      new SeamWriter("identity append", 5,
        () => {
          val root = ksTable(1)
          VersionedTable.alterSetIdentity(spark, root, "k")
          root
        },
        (root, i) => {
          VersionedTable.append(Seq(s"r$i").toDF("s"), root); ()
        },
        (root, hook) => VersionedTable.append(
          Seq("a1", "a2").toDF("s").coalesce(1), root, beforeCommit = hook)))
  }

  for (w <- seamWriters) {
    test(s"${w.name}: one racer, and the writer commits right after it " +
      "with the serial result") {
      val raced = w.fresh()
      var evals = 0
      var racerV = -1L
      val v = w.run(raced, () => {
        evals += 1
        if (evals == 1) {
          w.racer(raced, 1)
          racerV = VersionedTable.latestVersion(raced).get
        }
      })
      assert(evals == 2, s"one lost race re-plans once ($evals)")
      assert(v == racerV + 1, s"committed at $v, the racer at $racerV")
      val serial = w.fresh()
      w.racer(serial, 1)
      w.run(serial, () => ())
      assert(ksRows(raced) == ksRows(serial))
      assert(w.state(raced) == w.state(serial))
      assert(VersionedTable.fsck(raced) == ((Seq.empty, Seq.empty)))
    }

    test(s"${w.name}: a racer on every attempt exhausts the retries " +
      "and leaves no file of the writer's behind") {
      val root = w.fresh()
      val before = w.state(root)
      var evals = 0
      intercept[java.nio.file.FileAlreadyExistsException] {
        w.run(root, () => { evals += 1; w.racer(root, evals) })
      }
      assert(evals == w.maxRetries + 1, s"plan evaluations: $evals")
      assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
      val serial = w.fresh()
      (1 to evals).foreach(w.racer(serial, _))
      assert(ksRows(root) == ksRows(serial))
      if (w.name == "addConstraint") assert(w.state(root) == before)
    }
  }
}
