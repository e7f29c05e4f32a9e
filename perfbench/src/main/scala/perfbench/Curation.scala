package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.sources.Lake

/** Operator-heavy curation queries called through `SparkEntry.queries`:
  * one operation per query, timed in two parts — the DataFrame build
  * (which runs the eager jobs and commits) and the
  * `queryExecution.toRdd.count()` action. The seed fixes only the query
  * order. Each result's row count and order-insensitive hash must equal
  * the values recorded for these inputs. */
final class Curation extends Workload {
  private def dir(ctx: Ctx) = s"${ctx.inputs}/curation"
  private def order(ctx: Ctx) = Main.jlist(ctx.param("order")).map(_.asText)
  private var passes = 0
  /** per query: (rows, hash) of the last result, for recording */
  val results = mutable.LinkedHashMap.empty[String, (Long, String)]

  def tables(ctx: Ctx): Seq[String] =
    Seq("documents", "embeddings", "customer", "supplier")
      .map(t => s"${dir(ctx)}/$t.parquet")

  /** Order-insensitive hash: exact sum of per-row xxhash64 values. */
  def hash(df: DataFrame): String =
    String.valueOf(df.select(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*)
      .cast(DecimalType(38, 0)))).head().get(0))

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val expected = ctx.param("expected")
    val record = ctx.conf.path("record").asBoolean(false)
    passes += 1
    order(ctx).foreach { q =>
      var df: DataFrame = null
      var rows = -1L
      val rec = ctx.op(q) {
        df = t.span("queries.build")(SparkEntry.queries(q)(spark, dir(ctx)))
        rows = t.span("queries.action")(df.queryExecution.toRdd.count())
      }
      if (rec.ok) {
        val h = hash(df)
        results(q) = (rows, h)
        if (record)
          Lake.writeOverwrite(df, s"${ctx.work}/record/$q")
        else {
          val e = expected.get(q)
          ctx.check(rec.id, s"$q: no recorded result")(e != null)
          if (e != null) {
            ctx.check(rec.id, s"$q: rows $rows != ${e.get("rows").asLong}")(
              rows == e.get("rows").asLong)
            ctx.check(rec.id, s"$q: hash $h != ${e.get("hash").asText}")(
              h == e.get("hash").asText)
          }
        }
      }
    }
  }

  def writeAmp(ctx: Ctx): (Double, Double) = {
    // query work dirs (indexes, staged tables) accumulate in the JVM's
    // temp dir until exit: bytes per pass over the input bytes read
    val tmp = new File(sys.props("java.io.tmpdir"))
    val written = Main.du(tmp).toDouble / math.max(1, passes)
    (written, tables(ctx).map(p => new File(p).length().toDouble).sum)
  }

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] = {
    val byPass = traced.groupBy(_.pass).values.toSeq
    def passTotal(span: String) = Stats.median(byPass.map(ops =>
      ops.map(o => Main.spanMedian(ctx, Seq(o), span)).sum))
    def counter(ops: Seq[OpRecord])(f: OpCounters => Long) =
      Stats.median(ops.map(o =>
        ctx.listener.byOp.get(o.id).map(f).getOrElse(0L).toDouble))
    Map("queries.build_s" -> passTotal("queries.build"),
      "queries.action_s" -> passTotal("queries.action")) ++
      order(ctx).flatMap { q =>
        val ops = traced.filter(_.name == q)
        Seq(s"queries.$q.build_s" -> Main.spanMedian(ctx, ops, "queries.build"),
          s"queries.$q.action_s" -> Main.spanMedian(ctx, ops, "queries.action"),
          s"queries.$q.jobs" -> counter(ops)(_.jobs),
          s"queries.$q.shuffle_write_bytes" -> counter(ops)(_.shuffleWriteBytes))
      }
  }

  override def extra(ctx: Ctx): Map[String, Any] =
    Map("results" -> results.map { case (q, (n, h)) =>
      q -> Map("rows" -> n, "hash" -> h) },
      "oracle_sql" -> order(ctx).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}
