package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Runtime-metrics harness: run ONE action and report what it
  * actually moved — scan bytes, shuffle write/read, spill,
  * driver-bound result bytes — summed over every task the action
  * scheduled. This is how the repo's scale claims graduate from
  * wall-clock to evidence ("the grid join shuffles 10·n rows, not
  * n²" is an assertion over `shuffleWriteBytes`, not vibes);
  * MetricsSpec and the ScaleProbe tables use it, and engine users
  * can wrap their own actions the same way.
  *
  * Accounting is process-global while the action runs (Spark's
  * listener bus has no per-job filter hook at this level), so run
  * serially — concurrent jobs would fold into the same counters.
  * Listener events post asynchronously; the harness spins until the
  * counters go quiet before reporting (the SimilaritySpec idiom).
  *
  * `codegenCompiles` is the number of classes Spark compiled while the
  * action ran: the change in `CodegenMetrics`' compilation-time
  * histogram, which counts one sample per generated-class cache miss.
  * It is process-global in the same way: compiles by any other thread
  * in the JVM during the action fold into it. */
object Metrics {

  final case class Run(
      bytesRead: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      spillBytes: Long, resultSize: Long, codegenCompiles: Long)

  def measure[T](spark: SparkSession)(action: => T): (T, Run) = {
    val read = new AtomicLong; val sw = new AtomicLong
    val sr = new AtomicLong; val spill = new AtomicLong
    val res = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          read.addAndGet(m.inputMetrics.bytesRead)
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          res.addAndGet(m.resultSize)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val out = action
      // events post async: wait for the counters to go quiet
      var last = -1L
      var spins = 0
      def sum = read.get + sw.get + sr.get + spill.get + res.get
      while (sum != last && spins < 50) {
        last = sum; Thread.sleep(100); spins += 1
      }
      (out, Run(read.get, sw.get, sr.get, spill.get, res.get,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
