package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSuite
import graft.pipeline.DagRunner.Task

class DagRunnerSpec extends SparkSuite with TimeLimits {

  private def auditTmp = Files.createTempDirectory("graft_dagspec")
    .resolve("audit").toString

  test("no task starts before all its dependencies have ended") {
    val tick = new AtomicLong()
    val starts = new ConcurrentHashMap[String, Long]()
    val ends = new ConcurrentHashMap[String, Long]()
    def t(id: String, deps: String*) = Task(id, deps, () => {
      starts.put(id, tick.incrementAndGet())
      Thread.sleep(20)
      ends.put(id, tick.incrementAndGet())
      ()
    })
    val tasks = Seq(t("a"), t("b"), t("c"), t("ab", "a", "b"),
      t("bc", "b", "c"), t("top", "ab", "bc"), t("solo", "c"))
    val res = DagRunner.run(spark, "d", tasks, auditTmp)
    assert(res.forall(_.state == "success"))
    for (task <- tasks; d <- task.deps)
      assert(ends.get(d) < starts.get(task.id), s"${task.id} began before $d ended")
  }

  test("results and audit rows come back in Kahn order whatever order tasks end in") {
    // a_root is first in Kahn order but is held until mid has ended
    val midEnded = new CountDownLatch(1)
    val endOrder = new ConcurrentLinkedQueue[String]()
    def t(id: String, deps: String*)(body: => Unit) = Task(id, deps, () => {
      body
      endOrder.add(id)
      if (id == "mid") midEnded.countDown()
    })
    val path = auditTmp
    val res = DagRunner.run(spark, "d", Seq(
      t("z_root")(()),
      t("a_root")(assert(midEnded.await(60, TimeUnit.SECONDS))),
      t("mid", "z_root")(()),
      t("leaf", "mid", "a_root")(())), path)
    val kahn = List("a_root", "z_root", "mid", "leaf")
    assert(endOrder.asScala.toList == List("z_root", "mid", "a_root", "leaf"))
    assert(res.map(_.id) == kahn && res.forall(_.state == "success"))
    val rows = graft.sources.Lake.read(spark, path).collect()
    assert(rows.map(_.getString(2)).toList == kahn)
  }

  test("two independent roots run at the same time") {
    val both = new CountDownLatch(2)
    def root(id: String) = Task(id, Seq.empty, () => {
      both.countDown()
      if (!both.await(60, TimeUnit.SECONDS)) sys.error(s"$id ran alone")
    })
    val res = DagRunner.run(spark, "d", Seq(root("r1"), root("r2")), auditTmp)
    assert(res.forall(_.state == "success"))
  }

  test("a fatal error in a task body makes run throw rather than hang") {
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(60, Seconds)) {
      val e = intercept[StackOverflowError] {
        DagRunner.run(spark, "d", Seq(
          Task("fatal", Seq.empty, () => throw new StackOverflowError("boom")),
          Task("sibling", Seq.empty, () => Thread.sleep(50)),
          Task("after", Seq("fatal"), () => ())), auditTmp)
      }
      assert(e.getMessage == "boom")
    }
  }

  test("job tags set on the caller reach the Spark jobs of every task") {
    val sc = spark.sparkContext
    val tag = s"dagspec-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[(String, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("dagspec.task")))
          .foreach { id =>
            val tags = Option(e.properties.getProperty("spark.job.tags"))
              .map(_.split(",").toSet).getOrElse(Set.empty)
            seen.add(id -> tags)
          }
    }
    def job(id: String) = Task(id, Seq.empty, () => {
      sc.setLocalProperty("dagspec.task", id)
      try sc.parallelize(1 to 10, 2).count()
      finally sc.setLocalProperty("dagspec.task", null)
      ()
    })
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val res = DagRunner.run(spark, "d", Seq(job("j1"), job("j2")), auditTmp)
      assert(res.forall(_.state == "success"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
    val jobs = seen.asScala.toList
    assert(jobs.map(_._1).toSet == Set("j1", "j2"))
    assert(jobs.forall(_._2.contains(tag)), jobs)
  }

  test("retry honors maxTries; downstream of a failure is skipped, siblings run") {
    var calls = 0
    val res = DagRunner.run(spark, "d", Seq(
      Task("flaky", Seq.empty, () => {
        calls += 1; if (calls < 2) sys.error("boom")
      }, maxTries = 2),
      Task("dead", Seq.empty, () => sys.error("always"), maxTries = 3),
      Task("after_dead", Seq("dead"), () => ()),
      Task("after_flaky", Seq("flaky"), () => ())), auditTmp)
    val byId = res.map(r => r.id -> r).toMap
    assert(byId("flaky").state == "success" && byId("flaky").tries == 2)
    assert(byId("dead").state == "failed" && byId("dead").tries == 3)
    assert(byId("after_dead").state == "upstream_failed" &&
      byId("after_dead").tries == 0)
    assert(byId("after_flaky").state == "success")
  }

  test("cycles and unknown dependencies rejected before anything runs") {
    var ran = false
    intercept[IllegalArgumentException] {
      DagRunner.run(spark, "d", Seq(
        Task("a", Seq("b"), () => { ran = true }),
        Task("b", Seq("a"), () => { ran = true })), auditTmp)
    }
    intercept[IllegalArgumentException] {
      DagRunner.run(spark, "d", Seq(
        Task("a", Seq("ghost"), () => { ran = true })), auditTmp)
    }
    assert(!ran)
  }

  test("audit: one row per task with the injected clock and hostname") {
    val path = auditTmp
    DagRunner.run(spark, "mydag", Seq(
      Task("only", Seq.empty, () => ())), path,
      clock = () => "T0", hostname = "h1")
    val rows = graft.sources.Lake.read(spark, path).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(1) == "mydag" && r.getString(2) == "only" &&
      r.getString(3) == "success" && r.getString(4) == "T0" &&
      r.getString(8) == "h1")
  }
}
