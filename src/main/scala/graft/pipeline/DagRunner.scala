package graft.pipeline

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.audit.AuditLogger
import graft.audit.AuditLogger.AuditRecord

/** Native task-DAG execution with the reference's orchestration
  * semantics (kltn.dag.py: three parallel bronze→silver pipelines →
  * gold → audit, under Airflow) — dependency-ordered execution,
  * per-task RETRY, Airflow's `upstream_failed` propagation (a task
  * whose dependency failed is SKIPPED, not run against missing
  * inputs), and one audit row per task appended through
  * [[AuditLogger]] (audit_logger.py's schema).
  *
  * Concurrency: every task whose dependencies have all ended runs at
  * once, on a pool of `min(tasks, defaultParallelism)` threads created
  * per call. At the reference's scale a task is a handful of tiny
  * Spark jobs, and a serial DAG left most cores idle: the daily DAG
  * benchmark (perfbench `dag_daily`, 4 cores) measured 1.45 busy cores
  * and about 4 s of each 10 s day as driver time between jobs.
  * Overlapping the independent pipelines hides that per-job fixed cost
  * without adding work (same jobs, stages and tasks). The calling
  * thread keeps all bookkeeping; pool threads only run a task with its
  * retries. Pool threads are spawned from the caller, so they inherit
  * its Spark local properties (job tags, job group, active session).
  *
  * Rule for task bodies: they run on pool threads, side by side, so
  * they must not change session-global config (`spark.conf.set`) and
  * must not share unsynchronized mutable state. `ShuffleScale.withCap`
  * still rewrites `spark.sql.shuffle.partitions` on the shared session
  * and must stay out of task bodies until it is removed.
  *
  * Determinism for tests/gates: the wall clock and hostname are
  * injected, and results and audit rows come back in Kahn order (ties
  * broken by task id) whatever order tasks finish in — with a fixed
  * clock the audit table is a pure function of the DAG outcome. */
object DagRunner {

  final case class Task(id: String, deps: Seq[String],
                        run: () => Unit, maxTries: Int = 1)

  final case class TaskResult(id: String, state: String, tries: Int)

  private final case class Ended(res: TaskResult, audit: AuditRecord)

  /** Execute the DAG; append one audit row per task to `auditPath`;
    * return results in Kahn order (skipped tasks carry state
    * "upstream_failed", tries 0). Throws on cyclic or unknown
    * dependencies before running anything, and rethrows a fatal error
    * raised on a pool thread. `clock` is called from pool threads. */
  def run(spark: SparkSession, dagId: String, tasks: Seq[Task],
          auditPath: String,
          clock: () => String = () => java.time.Instant.now().toString,
          hostname: String = "driver"): Seq[TaskResult] = {
    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size, "duplicate task ids")
    tasks.foreach(t => t.deps.foreach(d =>
      require(byId.contains(d), s"task ${t.id}: unknown dependency $d")))

    // Kahn topological order, ready set kept sorted for determinism
    val indeg = mutable.Map(tasks.map(t => t.id -> t.deps.size): _*)
    val out = tasks.flatMap(t => t.deps.map(_ -> t.id))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val roots = tasks.filter(_.deps.isEmpty).map(_.id)
    val ready = mutable.SortedSet(roots: _*)
    val order = mutable.ListBuffer.empty[String]
    while (ready.nonEmpty) {
      val id = ready.head
      ready.remove(id)
      order += id
      out.getOrElse(id, Seq.empty).foreach { d =>
        indeg(d) -= 1
        if (indeg(d) == 0) { ready.add(d); () }
      }
    }
    require(order.size == tasks.size,
      s"cyclic dependencies among ${tasks.map(_.id).toSet -- order.toSet}")

    def ended(id: String, state: String, tries: Int, start: String,
              t0: Long): Ended =
      Ended(TaskResult(id, state, tries), AuditRecord(start, dagId, id,
        state, start, clock(), (System.nanoTime() - t0) / 1e9, tries,
        hostname))

    def attempt(t: Task): Ended = {
      val start = clock()
      val t0 = System.nanoTime()
      var tries = 0
      var ok = false
      while (!ok && tries < t.maxTries) {
        tries += 1
        try { t.run(); ok = true }
        catch {
          // the failure lands in the audit row; the DAG continues
          // so independent pipelines still complete (Airflow
          // behavior — only DOWNSTREAM of the failure is skipped)
          case scala.util.control.NonFatal(_) => ()
        }
      }
      ended(t.id, if (ok) "success" else "failed", tries, start, t0)
    }

    // execution repeats the walk; a task becomes ready once its last
    // dependency has ENDED
    tasks.foreach(t => indeg(t.id) = t.deps.size)
    ready ++= roots
    val failed = mutable.Set.empty[String]
    val done = mutable.Map.empty[String, Ended]
    def settle(e: Ended): Unit = {
      val id = e.res.id
      done(id) = e
      if (e.res.state != "success") failed += id
      out.getOrElse(id, Seq.empty).foreach { d =>
        indeg(d) -= 1
        if (indeg(d) == 0) { ready.add(d); () }
      }
    }

    val threads = math.max(1,
      math.min(tasks.size, spark.sparkContext.defaultParallelism))
    val seq = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val th = new Thread(r, s"dag-$dagId-${seq.incrementAndGet()}")
      th.setDaemon(true)
      th
    })
    try {
      val finished = new ExecutorCompletionService[Ended](pool)
      var running = 0
      while (ready.nonEmpty || running > 0) {
        if (ready.nonEmpty) {
          val t = byId(ready.head)
          ready.remove(t.id)
          if (t.deps.exists(failed))
            settle(ended(t.id, "upstream_failed", 0, clock(), System.nanoTime()))
          else {
            finished.submit(() => attempt(t))
            running += 1
          }
        } else {
          running -= 1
          settle(try finished.take().get()
            catch { case e: ExecutionException => throw e.getCause })
        }
      }
    } finally pool.shutdownNow()

    val inOrder = order.toList.map(done)
    AuditLogger.log(spark, auditPath, inOrder.map(_.audit))
    inOrder.map(_.res)
  }
}
