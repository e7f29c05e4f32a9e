package graft.silver

import java.sql.Date

import org.apache.spark.sql.functions.{col, lit, max}

import graft.SparkSuite
import graft.core.Metrics
import graft.sources.Lake

/** Silver-layer transform tests on vexere-shaped in-memory fixtures
  * (FIXTURES.md A1/A2/A5; SURVEY.md §5.2 item 2). */
class SilverSpec extends SparkSuite {

  private def busIds = {
    import spark.implicits._
    Seq(("Phương Trang", "B01"), ("Thành Bưởi", "B02"), ("Kumho", "B03"))
      .toDF("Bus_Name", "Bus_Id")
  }

  test("ticket: typing, UDF ports, category, key continuation, dim join") {
    import spark.implicits._
    val raw = Seq(
      ("1", "Phương Trang", "11-05-2025", "TP.HCM - Can Tho", "06:30", "11:45",
        "BX Miền Tây", "VP Q5 TPHCM", "5h30m", "Giường nằm 40 chỗ", "150.000đ"),
      ("2", "Thành Bưởi", "11-05-2025", "TP.HCM - Da Lat", "23:00", null,
        "ngã tư an sươngquốc lộ 1a", "SG", "10h", "Limousine ghế ngồi 11 chỗ", "1.200.000đ"),
      ("3", "NoSuchBus", "bad-date", "R", null, null,
        null, null, "Không rõ", "Limousine giường phòng có WC", ""))
      .toDF("Bus_Key", "Bus_Name", "Start_Date", "Route", "Departure_Time",
        "Arrival_Time", "Departure_Place", "Arrival_Place", "Duration",
        "Type_Bus", "Price")

    val out = Silver.ticket(raw, busIds, maxId = 100)
    assert(out.columns.toSeq == Seq("Bus_Key", "Bus_Id", "Bus_Name",
      "Start_Date", "Route", "Departure_Time", "Arrival_Time",
      "Departure_Place", "Arrival_Place", "Duration", "Type_Bus", "Price",
      "Bus_Type_Category"))

    val rows = out.orderBy("Bus_Key").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(101, 102, 103))
    val r1 = rows(0)
    assert(r1.getString(1) == "B01")
    assert(r1.getDate(3) == Date.valueOf("2025-05-11"))
    assert(r1.getString(7) == "bến xe miền tây")
    assert(r1.getString(8) == "văn phòng quận 5 tphcm")
    assert(r1.getFloat(9) == 5.5f)
    assert(r1.getInt(11) == 150000)
    assert(r1.getString(12) == "giường nằm")
    val r2 = rows(1)
    assert(r2.getString(8) == "sài gòn")
    assert(r2.getFloat(9) == 10.0f)
    assert(r2.getString(12) == "limousine ghế ngồi")
    val r3 = rows(2)
    assert(r3.isNullAt(1)) // unknown bus → left-join null Bus_Id
    assert(r3.isNullAt(3)) // bad date → null
    assert(r3.isNullAt(9)) // unparseable duration
    assert(r3.isNullAt(11)) // empty price
    // "limousine giường phòng có wc" hits the %giường% branch before
    // the WC branch (reference cascade order, to_silver.py:117-128)
    assert(r3.getString(12) == "limousine giường nằm")
  }

  test("ticket: decimalPrice types Price as DECIMAL(12,0), same values") {
    import spark.implicits._
    val raw = Seq(
      ("Phương Trang", "11-05-2025", "BX Miền Tây", "SG", "5h30m",
        "Giường nằm 40 chỗ", "150.000đ"),
      // 12-digit price: Int32 would overflow, DECIMAL(12,0) is exact
      ("Thành Bưởi", "12-05-2025", "SG", "SG", "10h",
        "Limousine ghế ngồi", "905.123.456.789 đ"),
      ("Kumho", "13-05-2025", "SG", "SG", "1h", "Ghế ngồi", ""))
      .toDF("Bus_Name", "Start_Date", "Departure_Place", "Arrival_Place",
        "Duration", "Type_Bus", "Price")

    val out = Silver.ticket(raw, busIds, maxId = 0, decimalPrice = true)
    assert(out.schema("Price").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 0))
    val prices = out.orderBy("Bus_Key").collect().map(r =>
      if (r.isNullAt(r.fieldIndex("Price"))) null
      else r.getDecimal(r.fieldIndex("Price")).toBigInteger.toString)
    assert(prices.toSeq == Seq("150000", "905123456789", null))
  }

  test("facility: array-typed input") {
    import spark.implicits._
    val raw = Seq(
      (1L, "Phương Trang", Seq("Wifi", "Nước uống", "Điều hòa")),
      (2L, "Thành Bưởi", Seq("Wifi", "Toilet")),
      (3L, "Kumho", Seq.empty[String]),
      (4L, "Phương Trang", Seq("")))
      .toDF("Id", "Bus_Name", "Facilities")

    val (bridge, names) = Silver.facility(raw, busIds)
    // ids assigned alphabetically over the distinct name dim
    val nameIds = names.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(nameIds == Map("Nước uống" -> 1, "Toilet" -> 2, "Wifi" -> 3, "Điều hòa" -> 4))
    val bridgeRows = bridge.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(bridgeRows == Set(
      ("B01", "Phương Trang", 1), ("B01", "Phương Trang", 3),
      ("B01", "Phương Trang", 4), ("B02", "Thành Bưởi", 2),
      ("B02", "Thành Bưởi", 3)))
  }

  test("facility: stringified-list schema drift") {
    import spark.implicits._
    val raw = Seq(
      (1L, "Phương Trang", "['Wifi', 'Toilet']"),
      (2L, "Thành Bưởi", "[]"))
      .toDF("Id", "Bus_Name", "Facilities")
    val (bridge, names) = Silver.facility(raw, busIds)
    assert(names.collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("Toilet" -> 1, "Wifi" -> 2))
    assert(bridge.count() == 2) // only the Phương Trang pairs survive
  }

  test("review: key continuation from existing max") {
    import spark.implicits._
    val reviews = Seq(
      ("Phương Trang", "tuyệt vời", 0.91, 0.02, 0.07),
      ("Thành Bưởi", "ổn", 0.55, 0.2, 0.25))
      .toDF("Bus_Name", "Comment", "POS", "NEG", "NEU")
    val out = Silver.review(reviews, busIds, maxId = 41)
    assert(out.columns.take(3).toSeq == Seq("Review_Key", "Bus_Id", "Bus_Name"))
    assert(out.orderBy("Review_Key").collect().map(_.getInt(0)).toSeq == Seq(42, 43))
  }

  test("maxKey: empty/missing table → 0") {
    import spark.implicits._
    assert(Silver.maxKey(None, "Bus_Key") == 0)
    val existing = Seq("7", "12", "3").toDF("Bus_Key")
    assert(Silver.maxKey(Some(existing), "Bus_Key") == 12)
    val empty = Seq.empty[String].toDF("Bus_Key")
    assert(Silver.maxKey(Some(empty), "Bus_Key") == 0)
  }

  /** A fresh directory holding one parquet file per `batches` entry
    * (keys k, possibly null), appended in order. */
  private def keyTable(batches: Seq[Seq[Option[Int]]],
                       opts: Map[String, String] = Map.empty): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maxkey")
      .resolve("t").toString
    for (b <- batches)
      b.toDF("k").withColumn("v", lit("x")).coalesce(1)
        .write.mode("append").options(opts).parquet(dir)
    dir
  }

  private def aggMax(df: org.apache.spark.sql.DataFrame, k: String): Int = {
    val r = df.agg(max(col(k).cast("int"))).head()
    if (r.isNullAt(0)) 0 else r.getInt(0)
  }

  test("maxKey folds footers with no Spark job on a bare multi-file scan, " +
    "empty and all-null files included") {
    val dir = keyTable(Seq(Seq(Some(3), Some(7)), Seq(), Seq(None, None),
      Seq(Some(12), None, Some(5))))
    val df = Lake.read(spark, dir)
    assert(df.inputFiles.length == 4)
    val (got, run) = Metrics.measure(spark)(Silver.maxKey(Some(df), "k"))
    assert(got == 12 && got == aggMax(df, "k"))
    assert(run.jobs == 0, run)
    // only empty and all-null files: no key yet
    val none = Lake.read(spark, keyTable(Seq(Seq(), Seq(None))))
    val (zero, run0) = Metrics.measure(spark)(Silver.maxKey(Some(none), "k"))
    assert(zero == 0 && aggMax(none, "k") == 0)
    assert(run0.jobs == 0, run0)
  }

  test("maxKey falls back to the aggregate wherever footers cannot answer") {
    import spark.implicits._
    val keys = Seq(Seq(Some(3), Some(7)), Seq(Some(12), None))
    val flat = Lake.read(spark, keyTable(keys))
    val partitioned = {
      val d = java.nio.file.Files.createTempDirectory("graft_maxkey_p")
        .resolve("t").toString
      Lake.writePartitioned(Seq((4, "a"), (9, "b")).toDF("k", "p"), d, Seq("p"))
      Lake.read(spark, d)
    }
    val longKey = {
      val d = java.nio.file.Files.createTempDirectory("graft_maxkey_l")
        .resolve("t").toString
      Seq(5L, 11L).toDF("k").write.parquet(d)
      Lake.read(spark, d)
    }
    val noStats = Lake.read(spark,
      keyTable(keys, Map("parquet.column.statistics.enabled" -> "false")))
    val manyFiles = {
      val d = java.nio.file.Files.createTempDirectory("graft_maxkey_n")
        .resolve("t").toString
      // one row per slice, no shuffle: one file each
      spark.range(1, 66, 1, 65).select(col("id").cast("int").as("k"))
        .write.parquet(d)
      Lake.read(spark, d)
    }
    assert(manyFiles.inputFiles.length == 65)
    for ((label, df, want) <- Seq(
        ("filtered frame", flat.filter(col("k") < 10), 7),
        ("LongType key", longKey, 11),
        ("partitioned table", partitioned, 9),
        ("column statistics off", noStats, 12),
        ("more than 64 files", manyFiles, 65))) {
      assert(Lake.footerMaxInt(df, "k").isEmpty, label)
      val (got, run) = Metrics.measure(spark)(Silver.maxKey(Some(df), "k"))
      assert(got == want && got == aggMax(df, "k"), label)
      assert(run.jobs > 0, s"$label: the aggregate must run")
    }
  }

  test("backfillRange: per-day key continuation, missing day skipped, extended cascade") {
    import java.time.LocalDate
    import spark.implicits._
    def day(n: Int, rows: (String, String)*) = rows.map { case (bus, tb) =>
      (bus, s"0$n-06-2025", "R", "x", "y", "1h", tb, "10.000đ")
    }.toDF("Bus_Name", "Start_Date", "Route", "Departure_Place",
      "Arrival_Place", "Duration", "Type_Bus", "Price")
    // day 2 missing entirely — the loop must skip and continue
    val bronze = Map(
      LocalDate.of(2025, 6, 1) -> day(1,
        "Phương Trang" -> "Giường nằm 40 chỗ",
        "Kumho" -> "Xe giường đôi"), // extended-cascade quirk row
      LocalDate.of(2025, 6, 3) -> day(3,
        "Thành Bưởi" -> "Xe phòng VIP"))
    var silver: Option[org.apache.spark.sql.DataFrame] = None
    val processed = Silver.backfillRange(
      LocalDate.of(2025, 6, 1), LocalDate.of(2025, 6, 3),
      readDay = bronze.get,
      busIds = busIds,
      readSilver = () => silver,
      appendSilver = df => silver = Some(
        silver.map(_.unionByName(df)).getOrElse(df)),
      extendedCascade = true)
    assert(processed == 2)
    val rows = silver.get
      .select("Bus_Key", "Start_Date", "Bus_Type_Category")
      .collect().map(r => (r.getInt(0), r.getDate(1).toString, r.getString(2)))
      .sortBy(_._1)
    // keys continue across the gap: day 1 → 1,2; day 3 → 3
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    assert(rows.map(_._2).toSeq ==
      Seq("2025-06-01", "2025-06-01", "2025-06-03"))
    // the extended cascade fires: bare-giường → limousine giường nằm
    // (daily would say "khác"), phòng → limousine giường phòng
    assert(rows.map(_._3).toSeq ==
      Seq("giường nằm", "limousine giường nằm", "limousine giường phòng"))
  }
}
