package graft.core

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge

/** Runtime-metrics harness: run ONE action and report what it
  * actually did — jobs, stages, tasks, scan bytes, shuffle
  * write/read, spill, driver-bound result bytes — summed over the
  * tasks of the jobs the action scheduled. This is how the repo's
  * scale claims graduate from wall-clock to evidence ("the grid join
  * shuffles 10·n rows, not n²" is an assertion over
  * `shuffleWriteBytes`, not vibes); MetricsSpec, MergeRebaseSpec and
  * SimilaritySpec use it, and engine users can wrap their own actions
  * the same way.
  *
  * Each call tags the jobs its thread submits with its own job tag
  * (`SparkContext.addJobTag`, a thread-local property that Spark's SQL
  * thread pools and `DagRunner`'s workers inherit) and counts only
  * stages and tasks of jobs that carry the tag. Concurrent calls from
  * other threads, nested calls and unrelated jobs therefore do not
  * fold into each other's counters. Listener events post
  * asynchronously, so the harness drains the listener bus before it
  * reports.
  *
  * `codegenCompiles` is the number of classes Spark compiled while the
  * action ran: the change in `CodegenMetrics`' compilation-time
  * histogram, which counts one sample per generated-class cache miss.
  * Unlike the other counters it is process-global: compiles by any
  * other thread in the JVM during the action fold into it. */
object Metrics {

  final case class Run(
      jobs: Long, stages: Long, tasks: Long,
      bytesRead: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      spillBytes: Long, resultSize: Long, codegenCompiles: Long)

  private val calls = new AtomicLong

  /** Counts the stages and tasks of jobs tagged `tag`. */
  private final class TagListener(tag: String) extends SparkListener {
    private val stageIds = mutable.HashSet.empty[Int]
    private var jobs, stages, tasks, read, sw, sr, spill, res = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(',').contains(tag))) {
        jobs += 1
        stageIds ++= e.stageIds
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId)) {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          read += m.inputMetrics.bytesRead
          sw += m.shuffleWriteMetrics.bytesWritten
          sr += m.shuffleReadMetrics.totalBytesRead
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          res += m.resultSize
        }
      }
    }

    def run(compiles: Long): Run = synchronized {
      Run(jobs, stages, tasks, read, sw, sr, spill, res, compiles)
    }
  }

  def measure[T](spark: SparkSession)(action: => T): (T, Run) = {
    val sc = spark.sparkContext
    val tag = s"graft-measure-${calls.incrementAndGet()}"
    val listener = new TagListener(tag)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val out = action
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      PlanBridge.drainListenerBus(sc)
      (out, listener.run(compiles))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
