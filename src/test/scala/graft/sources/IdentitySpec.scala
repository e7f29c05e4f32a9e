package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSuite
import graft.sources.VersionedTable.Write

/** IDENTITY columns (the Delta GENERATED ALWAYS AS IDENTITY role — the
  * transactional fix for the reference's max-key continuation
  * protocol, to_silver.py:106,130-132): the high-water mark lives in
  * the manifest, allocation happens inside the commit's CAS, so
  * concurrent appenders can never mint colliding keys; assignments
  * stay dense. */
class IdentitySpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_id").resolve("t").toString
    // pre-existing keys 1-5 (hand-assigned history, reference-style)
    VersionedTable.overwrite(
      (1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"), root)
    root
  }

  test("SET GENERATED ALWAYS AS IDENTITY seeds the mark at the " +
    "existing max; appends fill dense keys; supplying the column " +
    "refuses; stats-path appends without it refuse with guidance") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterSetIdentity(spark, root, "k")
    assert(VersionedTable.identityHighWater(
      root, VersionedTable.latestVersion(root).get, "k").contains(5L))
    // the batch has no k: the engine assigns 6, 7 (sorted single
    // partition → deterministic order)
    VersionedTable.append(
      Seq("x", "y").toDF("s").orderBy("s").coalesce(1), root)
    val got = VersionedTable.read(spark, root)
      .filter(col("s").isin("x", "y")).orderBy("s").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSeq
    assert(got == Seq((6L, "x"), (7L, "y")), got.toString)
    // GENERATED ALWAYS: a batch carrying k refuses
    val e = intercept[RuntimeException] {
      VersionedTable.append(Seq((99L, "z")).toDF("k", "s"), root)
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // the stats-path append without the column refuses with guidance
    val e2 = intercept[RuntimeException] {
      VersionedTable.append(Seq(("w")).toDF("s"), root, Write.stats())
    }
    assert(e2.getMessage.contains("identity column k"), e2.getMessage)
    // refusal matrix: non-integral, second identity, rename, widen
    intercept[Exception] {
      VersionedTable.alterSetIdentity(spark, root, "s")
    }
    VersionedTable.alterAddColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("k2", LongType)))
    intercept[Exception] {
      VersionedTable.alterSetIdentity(spark, root, "k2")
    }
    val er = intercept[Exception] {
      VersionedTable.alterRenameColumn(spark, root, "k", "kk")
    }
    assert(er.getMessage.contains("identity"), er.getMessage)
  }

  test("racing appenders never mint the same key: real threads, keys " +
    "dense and disjoint") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterSetIdentity(spark, root, "k")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        gate.await()
        try {
          VersionedTable.append(
            (1 to 10).map(j => s"t${i}_$j").toDF("s"), root)
          ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    val keys = VersionedTable.read(spark, root)
      .select(col("k").cast("long")).collect().map(_.getLong(0)).sorted
    assert(keys.length == 45 && keys.distinct.length == 45,
      s"collision: ${keys.length} rows, ${keys.distinct.length} distinct")
    assert(keys.toSeq == (1L to 45L),
      s"keys must stay DENSE under contention: ${keys.take(50).toSeq}")
  }

  test("a lost CAS re-stages above the winner's mark (deterministic " +
    "interleave); the mark survives vacuum via the checkpoint carry") {
    import spark.implicits._
    val root = freshTable()
    VersionedTable.alterSetIdentity(spark, root, "k")
    var raced = false
    VersionedTable.append(
      Seq("a1", "a2").toDF("s").orderBy("s").coalesce(1), root,
      beforeCommit = () => if (!raced) {
        raced = true // the winner takes 6, 7, 8 first
        VersionedTable.append(
          Seq("w1", "w2", "w3").toDF("s").orderBy("s").coalesce(1), root)
        ()
      })
    val byS = VersionedTable.read(spark, root).collect()
      .map(r => r.getAs[String]("s") -> r.getAs[Long]("k")).toMap
    assert(byS("w1") == 6L && byS("w2") == 7L && byS("w3") == 8L)
    assert(byS("a1") == 9L && byS("a2") == 10L,
      s"the loser re-assigns above the winner: $byS")
    // bury the newest identity line under identity-free commits, then
    // vacuum them away — the checkpoint carry must preserve the mark
    (1 to 12).foreach(i =>
      VersionedTable.delete(spark, root, col("s") === s"gone_$i"))
    VersionedTable.vacuum(root, retainVersions = 2)
    VersionedTable.append(Seq("after").toDF("s"), root)
    val k = VersionedTable.read(spark, root)
      .filter(col("s") === "after").head().getAs[Long]("k")
    assert(k == 11L, s"the mark must survive vacuum: got $k")
  }

  test("SQL surface: SET GENERATED ALWAYS AS IDENTITY START WITH; " +
    "INSERT omits the column; listing it refuses; merge-INSERT refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_idq").resolve("t").toString
    VersionedTable.overwrite(
      Seq((100L, "a", 1L)).toDF("k", "s", "v"), root)
    val name = s"id_sql_${System.nanoTime()}"
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark,
      s"""ALTER TABLE $name ALTER COLUMN k SET GENERATED ALWAYS AS
          IDENTITY START WITH 500""")
    // existing max 100 < start-1 499 → next key 500
    GraftSql.execute(spark, s"INSERT INTO $name (s, v) VALUES ('b', 2)")
    val rows = VersionedTable.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((100L, "a"), (500L, "b")), rows.toString)
    val e = intercept[Exception] {
      GraftSql.execute(spark,
        s"INSERT INTO $name (k, s, v) VALUES (9, 'c', 3)")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // positional full-schema INSERT refuses with guidance
    val e2 = intercept[Exception] {
      GraftSql.execute(spark, s"INSERT INTO $name VALUES (9, 'c', 3)")
    }
    assert(e2.getMessage.contains("column list"), e2.getMessage)
    // merge-INSERT clauses refuse (the fill lives on the append path)
    Seq((500L, "upd", 9L)).toDF("k", "s", "v")
      .createOrReplaceTempView("id_src")
    GraftSql.execute(spark,
      s"""MERGE INTO $name AS t USING id_src AS m ON t.k = m.k
          WHEN MATCHED THEN UPDATE SET s = m.s""")
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 500L).head().getString(1) == "upd")
    val e3 = intercept[Exception] {
      GraftSql.execute(spark,
        s"""MERGE INTO $name AS t USING id_src AS m ON t.k = m.k
            WHEN MATCHED THEN UPDATE SET s = m.s
            WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e3.getMessage.contains("identity column"), e3.getMessage)
    GraftSql.unregister(name)
  }

  test("DROP IDENTITY unlocks the column (batches supply it, rename " +
    "works again); a later re-SET resumes ABOVE the old mark — " +
    "deleted keys are never re-minted") {
    import spark.implicits._
    val root = freshTable() // keys 1-5
    VersionedTable.alterSetIdentity(spark, root, "k")
    VersionedTable.append(Seq("x", "y").toDF("s").coalesce(1), root) // 6,7
    val name = s"id_drop_${System.nanoTime()}"
    GraftSql.register(spark, name, root)
    GraftSql.execute(spark,
      s"ALTER TABLE $name ALTER COLUMN k DROP IDENTITY")
    // ordinary column again: supplying is legal, rename unlocks
    VersionedTable.append(Seq((100L, "manual")).toDF("k", "s"), root)
    VersionedTable.alterRenameColumn(spark, root, "k", "kk")
    VersionedTable.alterRenameColumn(spark, root, "kk", "k")
    // carve off the high keys, then re-declare identity: the seed must
    // respect the OLD recorded mark (7), not just the surviving max
    VersionedTable.delete(spark, root, col("k") >= 6L)
    assert(VersionedTable.read(spark, root).agg(max(col("k")))
      .head().getLong(0) == 5L)
    VersionedTable.alterSetIdentity(spark, root, "k")
    VersionedTable.append(Seq("z").toDF("s").coalesce(1), root)
    val zk = VersionedTable.read(spark, root)
      .filter(col("s") === "z").head().getAs[Long]("k")
    assert(zk == 8L,
      s"re-SET must resume above the old mark (7), got $zk")
    // dropping a non-identity column refuses, like DROP DEFAULT
    intercept[Exception] {
      VersionedTable.alterDropIdentity(spark, root, "s")
    }
    GraftSql.unregister(name)
  }

  test("GENERATED ALWAYS binds EVERY write surface: supplying via the " +
    "stats path, UPDATE SET, merge UPDATE/SET *, canonical merge, " +
    "applyChanges, and replaceWhere all refuse") {
    import spark.implicits._
    import VersionedTable.MergeClause._
    val root = freshTable() // keys 1-5
    VersionedTable.alterSetIdentity(spark, root, "k")
    // a stats-path batch SUPPLYING the column must refuse — committing
    // manual keys would leave the mark behind and a later fill would
    // collide (the silent-acceptance hole this test pins shut)
    val e1 = intercept[RuntimeException] {
      VersionedTable.append(Seq((6L, "manual")).toDF("k", "s"), root,
        Write.stats("k"))
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    // UPDATE may not rewrite the key
    val e2 = intercept[RuntimeException] {
      VersionedTable.update(spark, root, col("k") === 5L,
        Map("k" -> lit(1L)))
    }
    assert(e2.getMessage.contains("UPDATE SET k"), e2.getMessage)
    // non-key UPDATE still works
    VersionedTable.update(spark, root, col("k") === 5L,
      Map("s" -> lit("upd")))
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 5L).head().getString(1) == "upd")
    // merge UPDATE clause naming the key — and SET * — refuse
    val src = Seq((5L, "m")).toDF("k", "s")
    val e3 = intercept[RuntimeException] {
      VersionedTable.mergeActions(spark, root, src, Seq("k"),
        Seq(Update(None, Map("k" -> expr("s.k + 100")))))
    }
    assert(e3.getMessage.contains("MERGE UPDATE"), e3.getMessage)
    val e4 = intercept[RuntimeException] {
      VersionedTable.mergeActions(spark, root, src, Seq("k"),
        Seq(Update(None, Map.empty))) // SET * replaces every column
    }
    assert(e4.getMessage.contains("SET *"), e4.getMessage)
    // a targeted non-key merge UPDATE is fine
    VersionedTable.mergeActions(spark, root, src, Seq("k"),
      Seq(Update(None, Map("s" -> expr("s.s")))))
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 5L).head().getString(1) == "m")
    // whole-row surfaces refuse outright
    val e5 = intercept[RuntimeException] {
      VersionedTable.merge(spark, root, src, Seq("k"))
    }
    assert(e5.getMessage.contains("canonical"), e5.getMessage)
    val e6 = intercept[RuntimeException] {
      VersionedTable.applyChanges(spark, root,
        Seq((5L, "c", 1L, "U")).toDF("k", "s", "seq", "op"),
        Seq("k"), "seq", "op")
    }
    assert(e6.getMessage.contains("applyChanges"), e6.getMessage)
    val e7 = intercept[RuntimeException] {
      VersionedTable.replaceWhere(spark, root, col("k") === 5L, src)
    }
    assert(e7.getMessage.contains("REPLACE WHERE"), e7.getMessage)
    // the refusals changed nothing: history intact, fill still works
    VersionedTable.append(Seq("z").toDF("s").coalesce(1), root)
    assert(VersionedTable.read(spark, root)
      .filter(col("s") === "z").head().getAs[Long]("k") == 6L)
  }

  test("a NARROW identity column refuses allocation past its declared " +
    "type range instead of wrapping silently") {
    import spark.implicits._
    import org.apache.spark.sql.types.IntegerType
    val root = Files.createTempDirectory("graft_idcap").resolve("t").toString
    VersionedTable.overwrite(
      Seq((Int.MaxValue - 2, "a")).toDF("k", "s")
        .select(col("k").cast(IntegerType).as("k"), col("s")), root)
    VersionedTable.alterSetIdentity(spark, root, "k")
    // two keys fit (max-1, max)...
    VersionedTable.append(Seq("b", "c").toDF("s").coalesce(1), root)
    assert(VersionedTable.read(spark, root).agg(max(col("k")))
      .head().getInt(0) == Int.MaxValue)
    // ...the next allocation must refuse, not wrap negative
    val e = intercept[Exception] {
      VersionedTable.append(Seq("d").toDF("s"), root)
    }
    assert(e.getMessage.contains("exhausts"), e.getMessage)
    assert(VersionedTable.read(spark, root).count() == 3L)
  }
}
