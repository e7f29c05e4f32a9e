package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.audit.AuditLogger
import graft.core.Tables
import graft.gold.GoldQueries
import graft.pipeline.DagRunner
import graft.pipeline.DagRunner.Task
import graft.silver.Silver
import graft.sources.Lake

/** The paper's headline job, one simulated day per operation and two
  * days per pass (the warm-up is one day): the day's raw ticket CSV and
  * review/facility JSON land in bronze, the silver transforms continue
  * the surrogate keys, the 8 gold queries rebuild, and the DAG appends
  * its audit rows. Days run back to back on one lake, so silver state
  * carries from day to day through warm-up and measurement. */
final class DagDaily extends Workload {
  private val ticketCols = Seq("Start_Date", "Route", "Bus_Name", "Price",
    "Departure_Time", "Departure_Place", "Arrival_Place", "Duration", "Type_Bus")
  private val reviewSchema = StructType(Seq(
    StructField("Bus_Name", StringType), StructField("POS", DoubleType),
    StructField("NEG", DoubleType)))
  private val facilitySchema = StructType(Seq(
    StructField("Id", IntegerType), StructField("Bus_Name", StringType),
    StructField("Facilities", StringType)))
  private val golds = (1 to 8).map(k => s"cau_$k")
  private val nTasks = 6 + golds.length
  private val DaysPerPass = 2

  private def dir(ctx: Ctx) = s"${ctx.inputs}/dag"
  private def days(ctx: Ctx) = Main.jlist(ctx.param("days"))
  private var auditStart = 0L
  private var landedBytes = 0L

  def tables(ctx: Ctx): Seq[String] = Seq(s"${dir(ctx)}/nation.parquet")

  private def busIds(ctx: Ctx): DataFrame =
    Tables(ctx.spark, dir(ctx), "nation").select(
      concat(lit("bus "), col("n_nationkey").cast(StringType)).as("Bus_Name"),
      (col("n_nationkey") + 1).cast(IntegerType).as("Bus_Id"))

  private var day = 0
  private var landedTickets = 0L
  private var landedReviews = 0L
  private val facilityDays = mutable.ArrayBuffer.empty[String]

  override def hasNext(ctx: Ctx): Boolean = day + DaysPerPass <= days(ctx).length

  def pass(ctx: Ctx): Unit = (1 to DaysPerPass).foreach(_ => runDay(ctx))

  override def warmup(ctx: Ctx): Unit = runDay(ctx)

  /** One simulated day: one `DagRunner.run` over the day's raw files. */
  private def runDay(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = s"${ctx.work}/dag/lake"
    def p(n: String) = s"$root/$n"
    val bus = busIds(ctx)
    val t = ctx.tracer
    val inc = s"${dir(ctx)}/incoming"
    val d = day
    val plan = days(ctx)(d)
    day += 1
    val tag = plan.get("tag").asText
    val date = LocalDate.parse(plan.get("date").asText)
    def bronze(table: String) = Silver.bronzeDayPath(p(s"brz/$table"), date)
    def task(id: String, deps: Seq[String])(body: => Unit): Task =
      Task(id, deps, () => t.span("pipeline.task")(body))
    def gold(name: String, deps: Seq[String])(build: => DataFrame): Task =
      task(s"gold_$name", deps) {
        // one output directory per day, so every day's gold is checked
        t.span(s"gold.$name")(Lake.writeOverwrite(build, p(s"gold/d$d/$name")))
      }
    def silver(n: String) = Lake.read(spark, p(s"slv/$n"))
    val tasks = Seq(
      task("brz_ticket", Nil)(t.span("sources.bronze_land") {
        Lake.writeOverwrite(
          Lake.readCsvAllString(spark, s"$inc/ticket/$tag.csv", ticketCols),
          bronze("ticket"))
      }),
      task("brz_review", Nil)(t.span("sources.bronze_land") {
        for (lang <- Seq("vi", "en"))
          Lake.writeOverwrite(Lake.readJsonLines(spark,
            s"$inc/review_$lang/$tag.json", Some(reviewSchema)),
            bronze(s"review_$lang"))
      }),
      task("brz_facility", Nil)(t.span("sources.bronze_land") {
        Lake.writeOverwrite(Lake.readJsonLines(spark,
          s"$inc/facility/$tag.json", Some(facilitySchema)), bronze("facility"))
      }),
      task("slv_ticket", Seq("brz_ticket")) {
        val maxId = t.span("silver.max_key")(
          Silver.maxKey(Lake.readIfExists(spark, p("slv/ticket")), "Bus_Key"))
        t.span("silver.ticket")(Lake.writeAppend(
          Silver.ticket(Lake.read(spark, bronze("ticket")), bus, maxId),
          p("slv/ticket")))
      },
      task("slv_review", Seq("brz_review")) {
        for (lang <- Seq("vi", "en")) {
          // one Review_Key sequence across both languages
          val maxId = t.span("silver.max_key")(math.max(
            Silver.maxKey(Lake.readIfExists(spark, p("slv/review_vi")), "Review_Key"),
            Silver.maxKey(Lake.readIfExists(spark, p("slv/review_en")), "Review_Key")))
          t.span("silver.review")(Lake.writeAppend(
            Silver.review(Lake.read(spark, bronze(s"review_$lang")), bus, maxId),
            p(s"slv/review_$lang")))
        }
      },
      task("slv_facility", Seq("brz_facility")) {
        t.span("silver.facility") {
          val raw = (facilityDays :+ bronze("facility"))
            .map(Lake.read(spark, _)).reduce(_ unionByName _)
          val (bridge, names) = Silver.facility(raw, bus)
          Lake.writeOverwrite(bridge, p("slv/facility"))
          Lake.writeOverwrite(names, p("slv/facility_name"))
        }
      },
      gold("cau_1", Seq("slv_ticket"))(GoldQueries.q1(silver("ticket"))),
      gold("cau_2", Seq("slv_ticket", "slv_review"))(GoldQueries.q2(
        silver("ticket"), silver("review_vi"), silver("review_en"))),
      gold("cau_3", Seq("slv_ticket"))(GoldQueries.q3(silver("ticket"))),
      gold("cau_4", Seq("slv_ticket"))(GoldQueries.q4(silver("ticket"))),
      gold("cau_5", Seq("slv_review"))(GoldQueries.q5(silver("review_vi"))),
      gold("cau_6", Seq("slv_review"))(
        GoldQueries.q6(silver("review_vi"), silver("review_en"))),
      gold("cau_7", Seq("slv_ticket"))(GoldQueries.q7(silver("ticket"))),
      gold("cau_8", Seq("slv_facility"))(GoldQueries.q8(
        silver("facility"), silver("facility_name"))))
    require(tasks.length == nTasks)

    val rec = ctx.op("dag_day", mutable.Map("day" -> d)) {
      // the last task's end marks the start of the audit write, which
      // DagRunner.run makes internally after the tasks
      val timed = tasks.map(k => k.copy(run = () => {
        try k.run() finally auditStart = System.nanoTime()
      }))
      val results = DagRunner.run(spark, "vexere_daily", timed, p("audit"))
      t.record("audit.log", auditStart, System.nanoTime())
      val bad = results.filterNot(_.state == "success")
      if (bad.nonEmpty) sys.error(s"tasks not successful: $bad")
    }
    landedTickets += plan.get("ticket_rows").asLong
    landedReviews += plan.get("review_rows").asLong
    landedBytes += Seq(s"ticket/$tag.csv", s"review_vi/$tag.json",
      s"review_en/$tag.json", s"facility/$tag.json")
      .map(f => new File(s"$inc/$f").length()).sum
    facilityDays += bronze("facility")
    if (rec.ok) checkSilver(ctx, rec.id, root, landedTickets, landedReviews,
      (d + 1) * nTasks)
  }

  /** Silver rows equal the raw rows landed, keys are contiguous and
    * unique, audit has one row per task run. */
  private def checkSilver(ctx: Ctx, opId: Long, root: String, tickets: Long,
                          reviews: Long, auditRows: Long): Unit = {
    val spark = ctx.spark
    def keys(df: DataFrame, k: String) =
      df.agg(count(lit(1)), countDistinct(col(k)), min(col(k)), max(col(k))).head()
    val tk = keys(Lake.read(spark, s"$root/slv/ticket"), "Bus_Key")
    ctx.check(opId, s"silver ticket rows ${tk.getLong(0)} != landed $tickets")(
      tk.getLong(0) == tickets)
    ctx.check(opId, "Bus_Key not contiguous and unique")(
      tk.getLong(1) == tickets && tk.getInt(2) == 1 && tk.getInt(3) == tickets)
    val rv = keys(Lake.read(spark, s"$root/slv/review_vi")
      .unionByName(Lake.read(spark, s"$root/slv/review_en")), "Review_Key")
    ctx.check(opId, s"silver review rows ${rv.getLong(0)} != landed $reviews")(
      rv.getLong(0) == reviews)
    ctx.check(opId, "Review_Key not contiguous and unique")(
      rv.getLong(1) == reviews && rv.getInt(2) == 1 && rv.getInt(3) == reviews)
    val audit = Lake.read(spark, s"$root/audit")
    ctx.check(opId, "audit rows != one per task")(
      audit.count() == auditRows &&
        audit.filter(col("state") =!= "success").isEmpty &&
        audit.schema == AuditLogger.schema)
  }

  /** bytes the lake holds (bronze, silver, per-day gold, audit) over
    * bytes of raw input landed */
  def writeAmp(ctx: Ctx): (Double, Double) =
    (Main.du(new File(s"${ctx.work}/dag/lake")).toDouble, landedBytes.toDouble)

  def layers(ctx: Ctx, traced: Seq[OpRecord]): Map[String, Double] = {
    def med(n: String) = Main.spanMedian(ctx, traced, n)
    val perDay = traced.map(o => o.id -> o.seconds).toMap
    // DAG wall time minus the task bodies and the audit write
    val overhead = Stats.median(traced.map { o =>
      val in = ctx.tracer.spans.filter(_.op == o.id)
      perDay(o.id) - in.filter(_.name == "pipeline.task").map(_.seconds).sum -
        in.filter(_.name == "audit.log").map(_.seconds).sum
    })
    Map(
      "sources.bronze_land_s" -> med("sources.bronze_land"),
      "silver.ticket_s" -> med("silver.ticket"),
      "silver.review_s" -> med("silver.review"),
      "silver.facility_s" -> med("silver.facility"),
      "silver.max_key_s" -> med("silver.max_key"),
      "audit.log_s" -> med("audit.log"),
      "pipeline.dag_overhead_s" -> overhead) ++
      golds.map(g => s"gold.${g}_s" -> med(s"gold.$g"))
  }

  override def extra(ctx: Ctx): Map[String, Any] =
    Map("root" -> s"${ctx.work}/dag/lake", "days_run" -> day)
}
