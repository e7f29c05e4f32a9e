package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer: name, interval, the span that caused
  * it, and the operation (a day or a query) it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. Disabled,
  * `span` only runs its body: untraced passes pay nothing. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var currentOp = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  /** Root span of one operation; `op` ids are assigned by the caller. */
  def op[T](opId: Long, name: String)(body: => T): T = {
    currentOp = opId
    try span(name)(body) finally currentOp = 0L
  }

  /** A span whose interval was observed, not wrapped (e.g. the audit
    * write that runs inside `DagRunner.run` after the last task). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(0L), currentOp,
        name, startNs, endNs)
      nextId += 1
    }
}

/** Spark work attributed to one operation through its job tag. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputFiles = 0L
  /** job intervals, for busy time and driver gaps */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def busyNs: Long = {
    val sorted = jobIntervals.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Benchmark-owned listener, scoped per operation with
  * `SparkContext.addJobTag`: only jobs carrying a `pb-op-<n>` tag are
  * counted, and each against its own operation. Times are listener
  * event times in ms, converted to ns for the interval algebra. */
final class OpListener extends SparkListener {
  val byOp = mutable.HashMap.empty[Long, OpCounters]
  private val jobOp = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").collectFirst {
        case t if t.startsWith(OpListener.Prefix) =>
          t.stripPrefix(OpListener.Prefix).toLong
      })

  private def counters(op: Long) = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      counters(op).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      val s = jobStart.remove(e.jobId).getOrElse(e.time)
      counters(op).jobIntervals += ((s * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => counters(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      c.taskNs += e.taskInfo.duration * 1000000L
      val m = e.taskMetrics
      if (m != null) {
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) c.outputFiles += 1
      }
    }
  }
}

object OpListener {
  val Prefix = "pb-op-"
}

/** Bytes of blocks put into the block store (first report of each
  * block, memory plus disk), reset by the harness per operation. */
final class BlockPutListener extends SparkListener {
  @volatile var bytes = 0L
  private val seen = mutable.HashSet.empty[String]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = info.memSize + info.diskSize
    if (info.storageLevel.isValid && size > 0 && seen.add(info.blockId.name))
      bytes += size
  }
}
