package graft.silver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

import graft.functions.VexereFunctions._
import graft.operators.{GlobalRowNumberKeyGen, KeyGen}
import graft.sources.Lake

/** Silver-layer transforms (bronze → silver), mirroring the reference's
  * to_silver.py:92-210 as pure `DataFrame => DataFrame` functions —
  * storage-free so they unit-test on in-memory frames and compose with
  * any source/sink (SURVEY.md §7.1 step 3).
  */
object Silver {

  /** Left dim-enrichment join on Bus_Name + put the key columns first
    * (to_silver.py:77-90 add_bus_id/_z/_x collapsed into one function).
    * The dim is tiny → explicit broadcast so a 100 TB fact side never
    * shuffles for this join.
    */
  def addBusId(facts: DataFrame, busIds: DataFrame,
               leading: Seq[String]): DataFrame = {
    val joined = facts.join(
      broadcast(busIds.select(col("Bus_Name"), col("Bus_Id"))),
      Seq("Bus_Name"), "left")
    val ordered = leading ++ joined.columns.filterNot(leading.contains)
    joined.select(ordered.map(col): _*)
  }

  /** Max existing surrogate key, or 0 for an empty/absent table
    * (to_silver.py:104-108). A bare scan of a flat parquet table
    * (`Lake.read`/`readIfExists` of the silver directory) with an INT32
    * key is answered on the driver from the footers' row-group
    * statistics, with no Spark job (`Lake.footerMaxInt`); any other
    * frame, or a footer that cannot answer, runs the `max` aggregate. */
  def maxKey(existing: Option[DataFrame], keyCol: String): Int =
    existing.flatMap { df =>
      Lake.footerMaxInt(df, keyCol).getOrElse {
        val row = df.agg(max(col(keyCol).cast(IntegerType))).head()
        if (row.isNullAt(0)) None else Some(row.getInt(0))
      }
    }.getOrElse(0)

  /** Raw daily ticket batch → silver ticket fact (to_silver.py:92-135):
    * typing, normalization (native Column ports of the 3 Python UDFs),
    * category cascade, surrogate-key continuation, dim join.
    * `extendedCascade` selects the backfill job's 11-branch classifier
    * (all_run/to_silver-all.py:173-185) over the daily 9-branch one.
    * `decimalPrice` types Price as DECIMAL(12,0) instead of INT
    * (SURVEY.md §1.3): same parse, exact aggregates past 2^31/2^53.
    */
  def ticket(newData: DataFrame, busIds: DataFrame, maxId: Int,
             keyGen: KeyGen = GlobalRowNumberKeyGen,
             extendedCascade: Boolean = false,
             decimalPrice: Boolean = false): DataFrame = {
    val cascade: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (extendedCascade) busTypeCategoryBackfill else busTypeCategory
    val price: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (decimalPrice) priceVndDecimal else priceVnd
    val typed = newData
      .withColumn("Start_Date", to_date(col("Start_Date"), "dd-MM-yyyy"))
      .withColumn("Departure_Place", standardizeVn(col("Departure_Place")))
      .withColumn("Arrival_Place", standardizeVn(col("Arrival_Place")))
      .withColumn("Duration", round(durationHours(col("Duration")).cast(FloatType), 2))
      .withColumn("Price", price(col("Price")))
      .withColumn("Type_Bus", lower(col("Type_Bus")))
      .withColumn("Bus_Type_Category", cascade(col("Type_Bus")))
    val keyed = keyGen.assign(typed.drop("Bus_Key"), "Bus_Key", maxId)
    addBusId(keyed, busIds, Seq("Bus_Key", "Bus_Id", "Bus_Name"))
  }

  /** Per-day bronze path under the reference's directory convention
    * `{root}/{MM-yyyy}/{dd-MM-yyyy}` (to_brz-all.py:35-44 /
    * to_brz.py:13-14 — date-partitioned by path, not by table
    * partitioning). */
  def bronzeDayPath(root: String, date: java.time.LocalDate): String = {
    val my = date.format(java.time.format.DateTimeFormatter.ofPattern("MM-yyyy"))
    val dmy = date.format(java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy"))
    s"$root/$my/$dmy"
  }

  /** Date-range backfill driver (all_run/to_silver-all.py:110-125):
    * one silver append per day from `start` to `end` inclusive — each
    * day re-probes the target's max Bus_Key BEFORE transforming, so
    * surrogate keys continue across days exactly as the daily job's
    * single-batch continuation; a missing day is skipped and the loop
    * continues (the reference catches per-day and proceeds). Storage
    * rides behind closures so the loop composes with any bronze/silver
    * realization (and unit-tests on in-memory frames):
    *  - `readDay`: the day's bronze batch, if it exists (the
    *    [[bronzeDayPath]] convention at the call site);
    *  - `readSilver`: current silver target (None before first write);
    *  - `appendSilver`: append one transformed day.
    * Returns the number of days actually processed.
    *
    * Scale: the reference re-runs the max-key probe per day as an
    * O(table) aggregate; [[maxKey]] answers it from file footers
    * instead when `readSilver` returns a bare `Lake.read` of a flat
    * table of at most 64 files, and otherwise still aggregates. */
  def backfillRange(start: java.time.LocalDate, end: java.time.LocalDate,
                    readDay: java.time.LocalDate => Option[DataFrame],
                    busIds: DataFrame,
                    readSilver: () => Option[DataFrame],
                    appendSilver: DataFrame => Unit,
                    extendedCascade: Boolean = true,
                    keyGen: KeyGen = GlobalRowNumberKeyGen): Int = {
    var days = 0
    var d = start
    while (!d.isAfter(end)) {
      readDay(d).foreach { raw =>
        val maxId = maxKey(readSilver(), "Bus_Key")
        appendSilver(ticket(raw, busIds, maxId, keyGen, extendedCascade))
        days += 1
      }
      d = d.plusDays(1)
    }
    days
  }

  /** Facility bronze → (bus↔facility bridge, facility_name dim)
    * (to_silver.py:142-164), including the schema-drift branch: the
    * Facilities column may arrive as array<string> or as a stringified
    * Python list (SURVEY.md §1.2).
    */
  def facility(facilityRaw: DataFrame, busIds: DataFrame)
      : (DataFrame, DataFrame) = {
    val asArray = facilityRaw.schema("Facilities").dataType match {
      case _: ArrayType => facilityRaw
      case _ => facilityRaw
        // strip [ ] ' \ then split on ", " (to_silver.py:150-151)
        .withColumn("Facilities",
          regexp_replace(col("Facilities"), """[\\\[\]']""", ""))
        .withColumn("Facilities", split(col("Facilities"), ", "))
    }
    val filtered = asArray.filter(
      size(col("Facilities")) > 0 && !array_contains(col("Facilities"), ""))
    val withBus = addBusId(filtered, busIds, Seq("Id", "Bus_Id", "Bus_Name"))

    val facilityNames = withBus
      .select(explode(col("Facilities")).as("Facility_Name")).distinct()
      .withColumn("Facility_Id",
        // global window is safe: input is the tiny distinct name dim
        row_number().over(Window.orderBy(col("Facility_Name"))))

    val busFacility = withBus
      .select(col("Bus_Id"), col("Bus_Name"),
        explode(col("Facilities")).as("Facility_Name"))
      .join(broadcast(facilityNames), Seq("Facility_Name"))
      .select(col("Bus_Id"), col("Bus_Name"), col("Facility_Id"))
      .distinct()

    (busFacility, facilityNames)
  }

  /** Scored-review JSON → silver review fact with Review_Key
    * continuation (to_silver.py:171-205; one call per language). */
  def review(reviews: DataFrame, busIds: DataFrame, maxId: Int,
             keyGen: KeyGen = GlobalRowNumberKeyGen): DataFrame = {
    val keyed = keyGen.assign(reviews, "Review_Key", maxId)
    addBusId(keyed, busIds, Seq("Review_Key", "Bus_Id", "Bus_Name"))
  }
}
