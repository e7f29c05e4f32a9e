package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** Table CHECK constraints — persisted in `_constraints.json`,
  * validated once against existing rows at ADD time, then enforced
  * PER ROW inside every writer's own job (append/overwrite/merge/
  * update/CDC/partitioned/compaction all stage through the two
  * choke points). Null results are violations (the Delta stance). */
class ConstraintsSpec extends SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_ck").resolve("t").toString

  test("ADD CONSTRAINT validates existing rows; writers enforce on " +
    "every later batch; DROP lifts it") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    // existing rows violate → refused, nothing persisted
    val e0 = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "v_big", "v > 15")
    }
    assert(e0.getMessage.contains("existing rows violate"))
    assert(VersionedTable.constraints(root).isEmpty)
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    // idempotent re-add is a no-op; a DIFFERENT expression is refused
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    val eDup = intercept[RuntimeException] {
      VersionedTable.addConstraint(spark, root, "v_pos", "v > 1")
    }
    assert(eDup.getMessage.contains("already exists"))
    // a violating append fails INSIDE the write job, commits nothing
    val base = VersionedTable.latestVersion(root).get
    val eIns = intercept[Exception] {
      VersionedTable.append(Seq((3L, -5L)).toDF("k", "v"), root)
    }
    assert(eIns.getMessage != null)
    assert(VersionedTable.latestVersion(root).contains(base),
      "violating batch must not commit a version")
    // passing rows stream through unchanged
    VersionedTable.append(Seq((3L, 5L)).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 3L)
    // NULL constraint results are violations (Delta semantics)
    val eNull = intercept[Exception] {
      VersionedTable.append(
        Seq((4L, Option.empty[Long])).toDF("k", "v"), root)
    }
    assert(eNull.getMessage != null)
    VersionedTable.dropConstraint(root, "v_pos")
    VersionedTable.append(Seq((5L, -1L)).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 4L)
  }

  test("constraints bind COW rewrites too: an UPDATE writing a " +
    "violating value fails; a merge inserting one fails") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    val base = VersionedTable.latestVersion(root).get
    val eUpd = intercept[Exception] {
      VersionedTable.update(spark, root, col("k") === 1L,
        Map("v" -> lit(-9L)))
    }
    assert(eUpd.getMessage != null)
    assert(VersionedTable.latestVersion(root).contains(base))
    val eMrg = intercept[Exception] {
      VersionedTable.merge(spark, root,
        Seq((9L, -1L)).toDF("k", "v"), Seq("k"))
    }
    assert(eMrg.getMessage != null)
    assert(VersionedTable.latestVersion(root).contains(base))
    // a legal update still lands
    VersionedTable.update(spark, root, col("k") === 1L,
      Map("v" -> lit(99L)))
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 1L).head().getLong(1) == 99L)
  }

  test("partitioned writers enforce through the same choke point") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v"),
      root, Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    val base = VersionedTable.latestVersion(root).get
    val e = intercept[Exception] {
      VersionedTable.append(Seq((3L, "c", -1L)).toDF("k", "p", "v"), root,
        Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    }
    assert(e.getMessage != null)
    assert(VersionedTable.latestVersion(root).contains(base))
    VersionedTable.append(Seq((3L, "c", 1L)).toDF("k", "p", "v"), root,
      Write(stats = Some(Seq.empty), partitionBy = Seq("p")))
    assert(VersionedTable.read(spark, root).count() == 3L)
  }

  test("concurrent addConstraint calls both survive (the RMW race is " +
    "closed): neither entry is lost to a last-write-wins overwrite") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
    val names = (0 until 8).map(i => s"c_$i")
    val threads = names.map { n =>
      new Thread(() =>
        VersionedTable.addConstraint(spark, root, n, "v > 0"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(VersionedTable.constraints(root).keySet == names.toSet,
      "every concurrently-added constraint must persist")
  }

  test("ONE store: legacy setConstraints entries are enforced by " +
    "every writer and visible to constraints(); addConstraint and the " +
    "legacy surface see each other") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
    // legacy admin surface — now universally enforced
    VersionedTable.setConstraints(root, Seq("v_pos" -> "v > 0"))
    val base = VersionedTable.latestVersion(root).get
    val e = intercept[Exception] {
      VersionedTable.append(Seq((2L, -1L)).toDF("k", "v"), root)
    }
    assert(e.getMessage != null)
    assert(VersionedTable.latestVersion(root).contains(base),
      "a legacy-set constraint must bind EVERY writer, not only " +
        "the writes that pre-check them")
    // the two surfaces read one store
    VersionedTable.addConstraint(spark, root, "k_pos", "k > 0")
    assert(VersionedTable.constraintsOf(root).map(_._1) ==
      Seq("k_pos", "v_pos"))
    assert(VersionedTable.constraints(root).keySet == Set("k_pos", "v_pos"))
    // a clone inherits BOTH (single unified file after any write)
    val dst = tmpRoot() + "_c"
    VersionedTable.shallowClone(root, dst)
    assert(VersionedTable.constraints(dst).keySet == Set("k_pos", "v_pos"))
    // an OLD table carrying only the legacy tab-grammar file on disk
    // (written by a previous release): read, enforced, cloned
    val old = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), old)
    Files.write(new java.io.File(old, "_constraints").toPath,
      "v_pos\tv > 0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(VersionedTable.constraints(old) == Map("v_pos" -> "v > 0"))
    val e2 = intercept[Exception] {
      VersionedTable.append(Seq((2L, -5L)).toDF("k", "v"), old)
    }
    assert(e2.getMessage != null)
    val dst2 = tmpRoot() + "_c2"
    VersionedTable.shallowClone(old, dst2)
    assert(VersionedTable.constraints(dst2) == Map("v_pos" -> "v > 0"))
  }

  test("MOR UPDATE enforces the MAIN root's constraints: a violating " +
    "patch is refused before any commit; readActive and purge stay " +
    "consistent") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    // the patch stages into _patches (a different table root with no
    // constraints of its own) — the main table's CHECK must bind anyway
    val e = intercept[Exception] {
      Tombstones.updateMor(spark, root, Seq("k"),
        col("k") === 1L, Map("v" -> lit(-5L)))
    }
    assert(e.getMessage != null)
    assert(!Tombstones.hasPending(root),
      "a violating MOR update must commit NO patch")
    assert(Tombstones.readActive(spark, root)
      .filter(col("v") <= 0).count() == 0L)
    // a legal MOR update lands, and purge folds it without tripping
    // the main root's stage-time enforcement
    assert(Tombstones.updateMor(spark, root, Seq("k"),
      col("k") === 1L, Map("v" -> lit(99L))) == 1L)
    Tombstones.purge(spark, root)
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 1L).head().getLong(1) == 99L)
  }

  test("constraint sidecar round-trips expressions with quotes and " +
    "backslashes; setConstraints validates names") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, "a")).toDF("k", "s"), root)
    // an expression containing a double-quoted literal and a backslash
    // escape — the escape-aware reader must round-trip it exactly (the
    // old line parser truncated at the first escaped quote, yielding a
    // garbage expression that made every later write throw)
    val tricky = """s != "x\\y" AND s != 'q"z'"""
    VersionedTable.setConstraints(root, Seq("s_ok" -> tricky))
    assert(VersionedTable.constraints(root) == Map("s_ok" -> tricky),
      "escaped quotes/backslashes must survive the sidecar round-trip")
    // the table stays writable: the parsed expression compiles
    VersionedTable.append(Seq((2L, "b")).toDF("k", "s"), root)
    assert(VersionedTable.read(spark, root).count() == 2L)
    // names are identifiers on BOTH public surfaces
    intercept[IllegalArgumentException] {
      VersionedTable.setConstraints(root, Seq("""bad"name""" -> "k > 0"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "also bad", "k > 0")
    }
  }

  test("GraftSql DDL: ADD CONSTRAINT ... CHECK (...) with nested " +
    "parens; violating SQL INSERT refused; DROP CONSTRAINT lifts") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"gck_${math.abs(root.hashCode)}"
    VersionedTable.overwrite(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark,
      s"ALTER TABLE $name ADD CONSTRAINT v_ok CHECK ((v > 0) AND (k > 0))")
    assert(VersionedTable.constraints(root).keySet == Set("v_ok"))
    val e = intercept[Exception] {
      GraftSql.execute(spark, s"INSERT INTO $name VALUES (3, -1)")
    }
    assert(e.getMessage != null)
    assert(VersionedTable.read(spark, root).count() == 2L)
    GraftSql.execute(spark, s"ALTER TABLE $name DROP CONSTRAINT v_ok")
    GraftSql.execute(spark, s"INSERT INTO $name VALUES (3, -1)")
    assert(VersionedTable.read(spark, root).count() == 3L)
  }

  test("INSERT INTO ... REPLACE WHERE swaps exactly the predicate's " +
    "rows atomically; out-of-scope batch rows are refused") {
    import spark.implicits._
    val root = tmpRoot()
    val name = s"grw_${math.abs(root.hashCode)}"
    VersionedTable.overwrite(
      Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
        .toDF("k", "day", "v"), root)
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark,
      s"""INSERT INTO $name REPLACE WHERE day = 'd1'
          VALUES (7, 'd1', 70), (8, 'd1', 80)""")
    val got = VersionedTable.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, "d2", 30L), (7L, "d1", 70L), (8L, "d1", 80L)))
    assert(VersionedTable.latestVersion(root).contains(1L),
      "REPLACE WHERE is ONE atomic commit")
    // the scope guard: a batch row outside the predicate is refused
    val e = intercept[Exception] {
      GraftSql.execute(spark,
        s"""INSERT INTO $name REPLACE WHERE day = 'd1'
            VALUES (9, 'd2', 90)""")
    }
    assert(e.getMessage.contains("outside the predicate"))
    // a SELECT source and a predicate containing a string with the
    // word SELECT must not cut early (quote-aware keyword scan)
    GraftSql.execute(spark,
      s"""INSERT INTO $name REPLACE WHERE day = 'd2' AND day != 'SELECT x'
          SELECT k + 100, day, v FROM $name WHERE day = 'd2'""")
    assert(VersionedTable.read(spark, root)
      .filter(col("day") === "d2").head().getLong(0) == 103L)
  }

  test("constraint-commit protocol, interleaving A: a violating batch " +
    "STAGED before the ADD committed is refused at ITS commit (the " +
    "round-12 residual, closed)") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
    // the batch stages while NO constraint exists (stage-time
    // enforcement passes); the ADD commits before the batch's CAS —
    // the commit-side revalidation must refuse
    val e = intercept[RuntimeException] {
      VersionedTable.append(Seq((2L, -5L)).toDF("k", "v"), root,
        beforeCommit = () =>
          VersionedTable.addConstraint(spark, root, "v_pos", "v > 0"))
    }
    assert(e.getMessage.contains("v_pos") &&
      e.getMessage.contains("concurrently"), e.getMessage)
    assert(VersionedTable.read(spark, root).count() == 1L,
      "the violating batch must never commit")
    assert(VersionedTable.constraints(root) == Map("v_pos" -> "v > 0"),
      "the constraint stays in force")
    // a CLEAN batch staged pre-ADD revalidates and lands
    VersionedTable.append(Seq((3L, 5L)).toDF("k", "v"), root,
      beforeCommit = () =>
        VersionedTable.addConstraint(spark, root, "k_pos", "k > 0"))
    assert(VersionedTable.read(spark, root).count() == 2L)
  }

  test("constraint-commit protocol, interleaving B: a violating append " +
    "committing between the ADD's validation and its CAS makes the " +
    "ADD lose and re-validate — refused, constraint never in force") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
    var fired = false
    val e = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "v_pos", "v > 0",
        beforeCommit = () => if (!fired) {
          fired = true // the violating write wins the CAS first
          VersionedTable.append(Seq((2L, -5L)).toDF("k", "v"), root)
          ()
        })
    }
    assert(e.getMessage.contains("existing rows violate"), e.getMessage)
    assert(VersionedTable.constraints(root).isEmpty,
      "the refused constraint must not be in force")
    assert(VersionedTable.read(spark, root).count() == 2L,
      "the append serialized BEFORE the (refused) ADD — it stands")
  }

  test("real-thread race: ADD CONSTRAINT vs a violating append never " +
    "yields a committed violation, whichever side wins") {
    import spark.implicits._
    (1 to 6).foreach { i =>
      val root = tmpRoot() + s"_$i"
      VersionedTable.overwrite(Seq((1L, 10L)).toDF("k", "v"), root)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      def guarded(f: => Unit) = new Thread(() => {
        gate.await()
        try f catch { case t: Throwable => errs.add(t); () }
      })
      val tAdd = guarded(
        VersionedTable.addConstraint(spark, root, "v_pos", "v > 0"))
      val tApp = guarded {
        VersionedTable.append(Seq((2L, -5L)).toDF("k", "v"), root); ()
      }
      tAdd.start(); tApp.start(); gate.countDown()
      tAdd.join(); tApp.join()
      val constraintHeld =
        VersionedTable.constraints(root).contains("v_pos")
      val violations = VersionedTable.read(spark, root)
        .filter(col("v") <= 0).count()
      // the serializable invariant — exactly one side prevailed
      assert(!constraintHeld || violations == 0L,
        s"iteration $i: constraint in force WITH a committed violation " +
          s"(errors seen: ${errs.size})")
      assert(constraintHeld || violations == 1L,
        s"iteration $i: both sides failed — the race must have a winner")
    }
  }

  // A commit built onto an older base writes a FULL listing: the base's
  // files plus the call's own. A constraint added while such a call
  // staged must re-validate only the call's own rows — the base's rows
  // were committed before the constraint, like a restore's — and a
  // refusal must never delete the base's (live) files.

  test("a constraint added while an append ONTO an older base staged " +
    "re-validates only the appended rows; every version stays readable") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq(1L).toDF("k"), root) // v0
    VersionedTable.append(Seq(-1L).toDF("k"), root) // v1
    VersionedTable.delete(spark, root, col("k") < 0L) // v2
    // a batch that breaks the new constraint is refused, and only its
    // own file goes
    val e = intercept[RuntimeException] {
      VersionedTable.append(Seq(-7L).toDF("k"), root, Write(onto = Some(1L)),
        beforeCommit = () =>
          VersionedTable.addConstraint(spark, root, "k_gt", "k > -5")) // v3
    }
    assert(e.getMessage.contains("k_gt") &&
      e.getMessage.contains("concurrently"), e.getMessage)
    assert(VersionedTable.latestVersion(root).contains(3L))
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
    val v = VersionedTable.append(Seq(5L).toDF("k"), root,
      Write(onto = Some(1L)),
      beforeCommit = () =>
        VersionedTable.addConstraint(spark, root, "k_pos", "k > 0")) // v4
    assert(v == 5L)
    assert(VersionedTable.constraints(root) ==
      Map("k_gt" -> "k > -5", "k_pos" -> "k > 0"))
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
    // the committed content is base v1 plus the batch
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(-1L, 1L, 5L))
    (0L to 4L).foreach(i => VersionedTable.readVersion(spark, root, i).count())
  }

  test("a constraint added while deleteAt an older base staged " +
    "re-validates only the rewritten survivors; every version stays " +
    "readable") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.overwrite(Seq(1L).toDF("k"), root) // v0
    VersionedTable.append(Seq(2L, 3L).toDF("k").coalesce(1), root) // v1
    VersionedTable.append(Seq(-1L).toDF("k"), root) // v2
    VersionedTable.delete(spark, root, col("k") < 0L) // v3
    val v = VersionedTable.deleteAt(spark, root, 2L, col("k") === 2L,
      beforeCommit = () =>
        VersionedTable.addConstraint(spark, root, "k_pos", "k > 0")) // v4
    assert(v == 5L)
    assert(VersionedTable.fsck(root) == ((Seq.empty, Seq.empty)))
    // v2's listing minus k = 2: the survivor 3 is re-staged
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(-1L, 1L, 3L))
    (0L to 4L).foreach(i => VersionedTable.readVersion(spark, root, i).count())
  }
}
