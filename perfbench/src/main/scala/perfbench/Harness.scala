package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One executed operation. `pass` < 0 marks warm-up passes. */
final case class OpRecord(id: Long, pass: Int, traced: Boolean, name: String,
                          seconds: Double, ok: Boolean, error: String,
                          detail: Map[String, Any])

/** Run-wide state shared by the workloads: the session, the tracer,
  * the job listener (traced passes only) and the operation log. */
final class Ctx(val conf: JsonNode, val spark: SparkSession) {
  val tracer = new Tracer
  val listener = new OpListener
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** failed output checks: op id -> reason */
  val checkFailures = mutable.ArrayBuffer.empty[(Long, String)]
  var pass = 0
  private var nextOp = 1L
  var peakOpBlockBytes = 0L

  def param(name: String): JsonNode = conf.get("params").get(name)
  def inputs: String = conf.get("inputs").asText
  def work: String = conf.get("work").asText

  /** Storage demand of each operation: bytes of the blocks (cached or
    * checkpointed partitions, broadcast pieces) first put into Spark's
    * block store while it runs, from the block-update events Spark
    * posts anyway. Unlike the storage memory in use, this does not
    * depend on when GC lets the cleaner free dereferenced blocks. */
  private val blockPuts = new BlockPutListener
  spark.sparkContext.addSparkListener(blockPuts)

  /** Time one operation. Failures are recorded, never thrown: the run
    * goes on and `failed` counts them. */
  def op(name: String, detail: mutable.Map[String, Any] = mutable.Map.empty)
        (body: => Unit): OpRecord = {
    val id = nextOp
    nextOp += 1
    val sc = spark.sparkContext
    val tag = OpListener.Prefix + id
    if (tracer.enabled) sc.addJobTag(tag)
    blockPuts.bytes = 0L
    val t0 = System.nanoTime()
    val (ok, err) =
      try { tracer.op(id, name)(body); (true, "") }
      catch {
        case scala.util.control.NonFatal(e) =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) sc.removeJobTag(tag)
    org.apache.spark.perfbench.Bus.drain(sc)
    peakOpBlockBytes = math.max(peakOpBlockBytes, blockPuts.bytes)
    val rec = OpRecord(id, pass, tracer.enabled, name, secs, ok, err, detail.toMap)
    ops += rec
    rec
  }

  def fail(opId: Long, reason: String): Unit = checkFailures += ((opId, reason))

  def check(opId: Long, what: String)(cond: => Boolean): Unit = {
    val ok =
      try cond
      catch { case scala.util.control.NonFatal(e) => fail(opId, s"$what: $e"); true }
    if (!ok) fail(opId, what)
  }
}

/** A benchmark workload: one pass is a fixed sequence of operations. */
trait Workload {
  /** parquet inputs read (and counted) by the set-up's table warm-up */
  def tables(ctx: Ctx): Seq[String]
  def pass(ctx: Ctx): Unit
  /** the run's one warm-up pass, timed but not measured */
  def warmup(ctx: Ctx): Unit = pass(ctx)
  /** false once the workload's generated inputs are used up */
  def hasNext(ctx: Ctx): Boolean = true
  /** (bytes stored, bytes of user data landed) */
  def writeAmp(ctx: Ctx): (Double, Double)
  /** per-layer metrics over the traced operations */
  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double]
  /** extra result fields for the checks made outside the JVM */
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  val mapper = new ObjectMapper()

  /** Recursive conversion to Jackson-serializable java collections. */
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
