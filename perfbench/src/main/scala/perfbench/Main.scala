package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Tables}

/** Benchmark JVM: set up, run one warm-up pass, measure for the given
  * seconds in a closed loop (one driver thread, the next operation
  * starts when the previous returns), run the output checks that need
  * Spark, and write one result JSON. Usage: `Main <config.json>`; the
  * config is written by `run.py`, which also makes every input. */
object Main {

  def main(args: Array[String]): Unit = {
    val conf = Stats.mapper.readTree(new File(args(0)))
    val workload: Workload = conf.get("workload").asText match {
      case "dag_daily" => new DagDaily
      case "curation" => new Curation
      case w => sys.error(s"unknown workload $w")
    }
    val cores = conf.get("cores").asInt
    val setups = conf.get("setups").asInt
    val trace = conf.get("trace").asBoolean

    // set-up, several times: session + GraftSession.tune + table warm-up
    val setupTimes = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (_ <- 1 to setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      val t1 = System.nanoTime()
      ctx = new Ctx(conf, spark)
      workload.tables(ctx).foreach { t =>
        val f = new File(t)
        Tables(spark, f.getParent, f.getName.stripSuffix(".parquet")).count()
      }
      val t2 = System.nanoTime()
      setupTimes += Map("setup_s" -> (t2 - t0) / 1e9,
        "session_s" -> (t1 - t0) / 1e9, "tables_warm_s" -> (t2 - t1) / 1e9)
    }

    def passSeconds(p: Int): Double =
      ctx.ops.filter(_.pass == p).map(_.seconds).sum

    // a fixed warm-up: the first pass carries the cold start of the JVM
    // and of Spark (1.5-2x a later pass); the slower drift after it is
    // left to the traced run's pass order and to the run-to-run spread
    ctx.pass = -1
    workload.warmup(ctx)
    val warmRuns = Seq(passSeconds(-1))

    // measured passes; a traced run orders its passes untraced, traced,
    // untraced (repeating), so linear drift cancels out of the
    // traced-vs-untraced overhead
    def isTraced(pass: Int) = trace && pass % 3 == 2
    val sc = spark.sparkContext
    val seconds = conf.get("seconds").asDouble
    val t0 = System.nanoTime()
    var p = 0
    val minPasses = if (trace) 3 else 1
    while (workload.hasNext(ctx) &&
      ((System.nanoTime() - t0) / 1e9 < seconds || p < minPasses)) {
      p += 1
      ctx.pass = p
      val traced = isTraced(p)
      if (traced) {
        sc.addSparkListener(ctx.listener)
        ctx.tracer.enabled = true
      }
      workload.pass(ctx)
      if (traced) {
        ctx.tracer.enabled = false
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(ctx.listener)
      }
    }
    val measured = (System.nanoTime() - t0) / 1e9

    val tracedOps = ctx.ops.filter(_.traced).toSeq
    val counterPasses = sparkCounters(ctx, tracedOps)
    val layers =
      if (!trace) Map.empty[String, Double]
      else medians(counterPasses.map(_._2)) ++ workload.layers(ctx, tracedOps) +
        ("core.tables_warm_s" -> Stats.median(setupTimes.map(_("tables_warm_s")).toSeq))
    val (stored, landed) = workload.writeAmp(ctx)
    val passes = (1 to p).map { i =>
      Map("pass" -> i, "traced" -> isTraced(i),
        "run_s" -> passSeconds(i))
    }
    val result = Map(
      "workload" -> conf.get("workload").asText,
      "setup" -> setupTimes.toSeq,
      "warmup_run_s" -> warmRuns.toSeq,
      "measured_s" -> measured,
      "passes" -> passes,
      "ops" -> ctx.ops.map(o => Map("id" -> o.id, "pass" -> o.pass,
        "traced" -> o.traced, "name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
        "error" -> o.error, "detail" -> o.detail)).toSeq,
      "check_failures" -> ctx.checkFailures.map { case (id, r) =>
        Map("op" -> id, "reason" -> r) }.toSeq,
      "peak_op_block_bytes" -> ctx.peakOpBlockBytes,
      "write_amp" -> Map("stored_bytes" -> stored, "landed_bytes" -> landed),
      "layers" -> layers,
      // every traced pass's Spark counters and per-operation counters,
      // so count determinism is judged on passes, not on medians
      "counter_passes" -> counterPasses.map { case (pass, c) =>
        Map("pass" -> pass, "spark" -> c, "ops" -> tracedOps.filter(_.pass == pass)
          .map { o =>
            val c = ctx.listener.byOp.getOrElse(o.id, new OpCounters)
            Map("name" -> o.name, "jobs" -> c.jobs, "stages" -> c.stages,
              "tasks" -> c.tasks, "shuffle_write_bytes" -> c.shuffleWriteBytes)
          })
      },
      "extra" -> workload.extra(ctx),
      "jvm" -> Map("heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "cores" -> cores, "spark_version" -> spark.version))
    val out = new PrintWriter(conf.get("out").asText, "UTF-8")
    try out.write(Stats.mapper.writeValueAsString(Stats.toJava(result)))
    finally out.close()
    if (trace) writeSpans(ctx, conf.get("spans").asText)
    spark.stop()
  }

  private def writeSpans(ctx: Ctx, path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try ctx.tracer.spans.foreach { s =>
      out.println(Stats.mapper.writeValueAsString(Stats.toJava(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    } finally out.close()
  }

  /** Spark-engine counters summed per traced pass, in pass order. */
  private def sparkCounters(ctx: Ctx, traced: Seq[OpRecord]): Seq[(Int, Map[String, Double])] =
    traced.groupBy(_.pass).toSeq.sortBy(_._1).map { case (pass, ops) =>
      val cs = ops.map(o => o -> ctx.listener.byOp.getOrElse(o.id, new OpCounters))
      def sum(f: OpCounters => Long) = cs.map(c => f(c._2)).sum.toDouble
      val busy = cs.map(_._2.busyNs).sum / 1e9
      val taskS = sum(_.taskNs) / 1e9
      val gap = cs.map { case (o, c) => math.max(0.0, o.seconds - c.busyNs / 1e9) }.sum
      pass -> Map(
        "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
        "spark.tasks" -> sum(_.tasks), "spark.driver_gap_s" -> gap,
        "spark.job_busy_s" -> busy, "spark.task_s" -> taskS,
        "spark.task_concurrency" -> (if (busy > 0) taskS / busy else 0.0),
        "spark.scan_bytes" -> sum(_.scanBytes),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "spark.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
        "spark.spill_bytes" -> sum(_.spillBytes),
        "spark.output_bytes" -> sum(_.outputBytes),
        "spark.output_files" -> sum(_.outputFiles))
    }

  private def medians(perPass: Seq[Map[String, Double]]): Map[String, Double] =
    perPass.headOption.map(_.keys).getOrElse(Nil).map { k =>
      k -> Stats.median(perPass.map(_(k)))
    }.toMap

  /** Per-op sum of the named spans' seconds, median over the ops. */
  def spanMedian(ctx: Ctx, ops: Seq[OpRecord], name: String): Double = {
    val ids = ops.map(_.id).toSet
    val per = ctx.tracer.spans.filter(s => ids(s.op) && s.name == name)
      .groupBy(_.op).map(_._2.map(_.seconds).sum).toSeq
    Stats.median(per)
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def jlist(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
