package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StringType}

import graft.core.Tables
import graft.gold.GoldQueries
import graft.operators.PartitionOffsetKeyGen
import graft.silver.Silver

/** The reference's 8 gold queries (to_gold.py:28-218) as GATE queries
  * on VEXERE-SHAPED data — closing the gap between the star-schema
  * analogs (q01-q08) and the literal gold layer: silver-shaped
  * ticket/review/facility tables are derived DETERMINISTICALLY from
  * the parquet tables (every derivation column replicated literally in
  * the oracle SQL), the real [[GoldQueries]] builders run on them
  * (including the real broadcast dim join via [[Silver.addBusId]]),
  * and DuckDB re-derives + re-queries from scratch.
  *
  * Derivation grammar (k = the source key):
  *  - Bus_Name = 'bus ' || (k % 30); the bus_ids dim covers only
  *    0..24 (from `nation`), so buses 25-29 carry NULL Bus_Id through
  *    the left join — the reference's unmatched-operator case.
  *  - ticket (from orders): 7 start dates, 11 routes (11 coprime to
  *    30, so route and bus vary independently — 330 (route, bus)
  *    groups), prices
  *    (k%90+10)·1000, departure "HH:mm" with hour k%24 (per bus that
  *    yields exactly 4 distinct hours — q7's grid gets real 0s).
  *  - reviews (from customer): vi = even keys, en = odd keys;
  *    POS = (k%100)/100, NEG = (k%50)/100 — vi∪en per bus is exactly
  *    50 rows at sf0.01, sitting ON q6's HAVING ≥ 50 boundary.
  *  - facility (from supplier): facility_id (k%21)+1; the name dim
  *    carries TWO names per id ((k%42) collides pairwise) so q8's
  *    MIN-dedup of the unstable dim does real work.
  */
object VexereGateQueries extends QueryModule {

  private def busName(k: Column): Column =
    concat(lit("bus "), (k % 30).cast(StringType))

  /** The bus_ids dim (Bus_Name, Bus_Id) derived from `nation`. */
  private def busIds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation").select(
      concat(lit("bus "), col("n_nationkey").cast(StringType)).as("Bus_Name"),
      (col("n_nationkey") + 1).cast(IntegerType).as("Bus_Id"))

  /** Silver-shaped ticket derived from `orders`, Bus_Id via the real
    * broadcast dim join. */
  private def ticket(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val base = Tables(s, dir, "orders").select(
      date_add(to_date(lit("2024-01-01")), (k % 7).cast(IntegerType))
        .as("Start_Date"),
      concat(lit("R"), (k % 11).cast(StringType)).as("Route"),
      busName(k).as("Bus_Name"),
      ((k % 90 + 10) * 1000).cast(IntegerType).as("Price"),
      concat(lpad((k % 24).cast(StringType), 2, "0"), lit(":"),
        lpad((k * 7 % 60).cast(StringType), 2, "0")).as("Departure_Time"))
    Silver.addBusId(base, busIds(s, dir), Seq("Bus_Id", "Bus_Name"))
  }

  /** vi/en review halves derived from `customer` (even/odd keys). */
  private def reviews(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val k = col("c_custkey")
    val base = Tables(s, dir, "customer").select(
      k.as("k"), busName(k).as("Bus_Name"),
      ((k % 100).cast("double") / 100.0).as("POS"),
      ((k % 50).cast("double") / 100.0).as("NEG"))
    val joined = Silver.addBusId(base, busIds(s, dir), Seq("Bus_Id", "Bus_Name"))
    (joined.filter(col("k") % 2 === 0).drop("k"),
      joined.filter(col("k") % 2 === 1).drop("k"))
  }

  /** (facility bridge, facility_name dim) derived from `supplier`. */
  private def facilities(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val k = col("s_suppkey")
    val sup = Tables(s, dir, "supplier")
    val bridge = sup.select(
      busName(k).as("Bus_Name"),
      ((k % 21) + 1).cast(IntegerType).as("Facility_Id"))
    val names = sup.select(
      ((k % 21) + 1).cast(IntegerType).as("Facility_Id"),
      concat(lit("tiện ích "), lpad((k % 42).cast(StringType), 2, "0"))
        .as("Facility_Name"))
    (bridge, names)
  }

  /** Shared oracle CTEs re-deriving the silver shapes in DuckDB. */
  private val derivationSql = """
    WITH ticket AS (
      SELECT DATE '2024-01-01' + CAST(o_orderkey % 7 AS INTEGER) AS start_date,
             'R' || (o_orderkey % 11) AS route,
             'bus ' || (o_orderkey % 30) AS bus_name,
             CASE WHEN o_orderkey % 30 <= 24
                  THEN CAST(o_orderkey % 30 + 1 AS INTEGER) END AS bus_id,
             CAST((o_orderkey % 90 + 10) * 1000 AS INTEGER) AS price,
             lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(o_orderkey * 7 % 60 AS VARCHAR), 2, '0') AS departure_time
      FROM orders),
    rev AS (
      SELECT c_custkey AS k, 'bus ' || (c_custkey % 30) AS bus_name,
             CASE WHEN c_custkey % 30 <= 24
                  THEN CAST(c_custkey % 30 + 1 AS INTEGER) END AS bus_id,
             (c_custkey % 100) / 100.0 AS pos,
             (c_custkey % 50) / 100.0 AS neg
      FROM customer),
    vi AS (SELECT * FROM rev WHERE k % 2 = 0),
    en AS (SELECT * FROM rev WHERE k % 2 = 1),
    fac AS (
      SELECT 'bus ' || (s_suppkey % 30) AS bus_name,
             CAST(s_suppkey % 21 + 1 AS INTEGER) AS facility_id
      FROM supplier),
    facname AS (
      SELECT CAST(s_suppkey % 21 + 1 AS INTEGER) AS facility_id,
             'tiện ích ' || lpad(CAST(s_suppkey % 42 AS VARCHAR), 2, '0')
               AS facility_name
      FROM supplier)
  """

  override def entries: Seq[(String, Q)] = Seq(

    // gold q1: trips / avg fare / departure daybands per (Route, Bus).
    // collect_set order is engine-dependent → the gate canonicalizes
    // the band string by split+sort+join (DuckDB: ordered string_agg).
    "cau_1" -> Q(
      run = (s, dir) =>
        GoldQueries.q1(ticket(s, dir))
          .withColumn("depart_time_ranges",
            array_join(array_sort(split(col("depart_time_ranges"), ", ")), ", "))
          .orderBy("Route", "Bus_Name"),
      oracle = Some(derivationSql + """,
        tb AS (
          SELECT route, bus_name, price,
                 CASE
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 0 AND 5 THEN '00h-05h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 6 AND 11 THEN '06h-11h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 12 AND 17 THEN '12h-17h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 18 AND 23 THEN '18h-23h'
                 END AS band
          FROM ticket)
        SELECT route AS "Route", bus_name AS "Bus_Name",
               COUNT(*) AS "Total_Trips",
               ROUND(AVG(price), 0) AS "Avg_Price_Per_Day",
               string_agg(DISTINCT band, ', ' ORDER BY band)
                 AS depart_time_ranges
        FROM tb
        GROUP BY route, bus_name
        ORDER BY route, bus_name""")),

    // gold q2: best-reviewed among the cheapest per (day, route),
    // rank ties kept; unmatched buses score 0 through the COALESCE.
    "cau_2" -> Q(
      run = (s, dir) => {
        val (vi, en) = reviews(s, dir)
        GoldQueries.q2(ticket(s, dir), vi, en)
      },
      oracle = Some(derivationSql + """,
        rs AS (
          SELECT bus_id, ROUND(AVG(pos), 2) AS avg_positive
          FROM (SELECT bus_id, pos FROM vi UNION ALL
                SELECT bus_id, pos FROM en)
          WHERE bus_id IS NOT NULL
          GROUP BY bus_id),
        ch AS (
          SELECT start_date, route, MIN(price) AS min_price
          FROM ticket GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT t.start_date, t.route, t.bus_name, t.bus_id,
                 t.price, COALESCE(r.avg_positive, 0) AS avg_positive,
                 CASE WHEN COALESCE(r.avg_positive, 0) > 0.5
                      THEN 1 ELSE 0 END AS is_good
          FROM ticket t
          JOIN ch ON t.start_date = ch.start_date AND t.route = ch.route
                 AND t.price = ch.min_price
          LEFT JOIN rs r ON r.bus_id = t.bus_id)
        SELECT start_date, route, bus_name, price FROM (
          SELECT *, RANK() OVER (PARTITION BY start_date, route
                                 ORDER BY is_good DESC) AS rk
          FROM cand)
        WHERE rk = 1
        ORDER BY start_date, route, bus_name""")),

    // gold q3: operator count per route.
    "cau_3" -> Q(
      run = (s, dir) =>
        GoldQueries.q3(ticket(s, dir)).orderBy("Route"),
      oracle = Some(derivationSql + """
        SELECT route AS "Route",
               COUNT(DISTINCT bus_name) AS total_bus_operators
        FROM ticket GROUP BY route ORDER BY route""")),

    // gold q4: average daily fare.
    "cau_4" -> Q(
      run = (s, dir) => GoldQueries.q4(ticket(s, dir)),
      oracle = Some(derivationSql + """
        SELECT start_date AS "Start_Date",
               ROUND(AVG(price), 0) AS avg_price_per_day
        FROM ticket GROUP BY 1 ORDER BY 1""")),

    // gold q5: review volume per operator (vi only).
    "cau_5" -> Q(
      run = (s, dir) =>
        GoldQueries.q5(reviews(s, dir)._1).orderBy("Bus_Name"),
      oracle = Some(derivationSql + """
        SELECT bus_name AS "Bus_Name", COUNT(*) AS total_reviews
        FROM vi GROUP BY 1 ORDER BY 1""")),

    // gold q6: 10-point rating over vi∪en with the ≥50-review support
    // filter — the derivation puts every bus at EXACTLY 50 combined
    // reviews at the gate SF, so the HAVING boundary is load-bearing.
    // The reference drops the grouped key from the projection
    // (preserved), leaving a single unordered rating column.
    "cau_6" -> Q(
      run = (s, dir) => {
        val (vi, en) = reviews(s, dir)
        GoldQueries.q6(vi, en)
      },
      oracle = Some(derivationSql + """
        SELECT ROUND(AVG(neg * 5 + pos * 10), 2) AS avg_rating_10pt
        FROM (SELECT bus_name, neg, pos FROM vi UNION ALL
              SELECT bus_name, neg, pos FROM en)
        GROUP BY bus_name
        HAVING COUNT(*) >= 50
        ORDER BY avg_rating_10pt DESC""")),

    // gold q7: dense (operator × 24h) departure grid — each derived
    // bus serves exactly 4 distinct hours, so the COALESCE-0 backfill
    // paints real gaps.
    "cau_7" -> Q(
      run = (s, dir) => GoldQueries.q7(ticket(s, dir)),
      oracle = Some(derivationSql + """,
        bh AS (
          SELECT DISTINCT bus_name,
                 CAST(substr(departure_time, 1, 2) AS INTEGER) AS hour
          FROM ticket WHERE departure_time IS NOT NULL)
        SELECT b.bus_name, h.hour,
               CASE WHEN bh.bus_name IS NULL THEN 0 ELSE 1 END AS has_departure
        FROM (SELECT DISTINCT bus_name FROM bh) b
        CROSS JOIN (SELECT CAST(UNNEST(range(24)) AS INTEGER) AS hour) h
        LEFT JOIN bh ON bh.bus_name = b.bus_name AND bh.hour = h.hour
        ORDER BY b.bus_name, h.hour""")),

    // gold q8: dense (operator × 21 facilities) grid with the
    // MIN-dedup of the doubled facility_name dim.
    "cau_8" -> Q(
      run = (s, dir) => {
        val (bridge, names) = facilities(s, dir)
        GoldQueries.q8(bridge, names)
      },
      oracle = Some(derivationSql + """,
        src AS (SELECT DISTINCT bus_name, facility_id FROM fac),
        nd AS (SELECT facility_id, MIN(facility_name) AS facility_name
               FROM facname GROUP BY facility_id)
        SELECT b.bus_name, f.facility_id,
               CASE WHEN s.bus_name IS NULL THEN 0 ELSE 1 END AS has_facility,
               nd.facility_name
        FROM (SELECT DISTINCT bus_name FROM src) b
        CROSS JOIN (SELECT CAST(UNNEST(range(1, 22)) AS INTEGER)
                    AS facility_id) f
        LEFT JOIN src s ON s.bus_name = b.bus_name
                       AND s.facility_id = f.facility_id
        LEFT JOIN nd ON nd.facility_id = f.facility_id
        ORDER BY b.bus_name, f.facility_id""")),

    // cau_4 at DECIMAL(12,0) price typing (SURVEY §1.3's decimal note):
    // the RAW price string ("905,123,456,789 đ") runs through the real
    // silver path with decimalPrice=true, then per-day + rollup-total
    // sum/avg. Prices are 12-digit VND — the grand-total sum exceeds
    // 2^53, so a double-summing engine rounds it wrong; both sides
    // compute through exact wide-integer arithmetic (Spark DECIMAL(38,0),
    // DuckDB HUGEINT). avg is exact integer division: floor and
    // half-up round both derived from the exact sum via `div`/`//`
    // (identical for non-negative operands), never engine-native
    // decimal/double division whose scale truncation differs.
    // ------------------------------------------------------------------
    // END-TO-END DAG CAPSTONE: the reference's WHOLE orchestrated
    // pipeline (kltn.dag.py:25-116 — three parallel bronze→silver
    // pipelines fanning into the gold layer, with per-task retries and
    // audit rows) executed as ONE gate query. Raw string-typed bronze
    // batches land on disk, the silver tasks run the REAL silver path
    // (to_date/priceVnd/duration/cascade + max-Bus_Key probe between
    // day batches — the reference's surrogate-key continuation), the
    // 8 gold tasks read silver BACK FROM DISK and write gold parquet,
    // one gold task fails on its first try and succeeds on retry
    // (maxTries=2), and the audit table records every task. The output
    // is every gold table's rows serialized to canonical strings
    // (q, row) plus a dag_ok flag folding in: all tasks succeeded, the
    // retry took exactly 2 tries, key continuation reached exactly
    // |orders| and |customer|, and the audit table has one row per
    // task. DuckDB re-derives all 8 results from the raw tables — the
    // orchestrated pipeline must be byte-identical to the standalone
    // builders (cau_1..cau_8).
    "q286_dag_e2e" -> Q(
      bench = false,
      run = (s, dir) => {
        import graft.pipeline.DagRunner
        import graft.pipeline.DagRunner.Task
        val root = tempRoot("graft_dag_e2e").toString
        def p(n: String) = s"$root/$n"
        val k = col("o_orderkey")
        def rawTicket(parity: Int): DataFrame =
          Tables(s, dir, "orders").filter(k % 2 === parity).select(
            date_format(
              date_add(to_date(lit("2024-01-01")), (k % 7).cast(IntegerType)),
              "dd-MM-yyyy").as("Start_Date"),
            concat(lit("R"), (k % 11).cast(StringType)).as("Route"),
            busName(k).as("Bus_Name"),
            concat(format_number((k % 90 + 10) * 1000, 0), lit(" đ"))
              .as("Price"),
            concat(lpad((k % 24).cast(StringType), 2, "0"), lit(":"),
              lpad((k * 7 % 60).cast(StringType), 2, "0"))
              .as("Departure_Time"),
            lit("bx miền đông").as("Departure_Place"),
            lit("tp đà lạt").as("Arrival_Place"),
            lit("7h30m").as("Duration"),
            lit("giường nằm 40 chỗ").as("Type_Bus"))
        val ck = col("c_custkey")
        def rawReviews(parity: Int): DataFrame =
          Tables(s, dir, "customer").filter(ck % 2 === parity).select(
            busName(ck).as("Bus_Name"),
            ((ck % 100).cast("double") / 100.0).as("POS"),
            ((ck % 50).cast("double") / 100.0).as("NEG"))
        def readIf(path: String): Option[DataFrame] =
          if (new java.io.File(path).exists()) Some(s.read.parquet(path))
          else None
        // tasks run on pool threads: shared state must be thread-safe
        val flakyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
        def goldTask(name: String, deps: Seq[String], tries: Int = 1)
                    (build: () => DataFrame): Task =
          Task(s"gold_$name", deps, () => {
            if (name == "cau_5" && flakyCalls.incrementAndGet() == 1)
              sys.error("transient gold failure (exercises retry)")
            build().write.mode("overwrite").parquet(p(s"gold/$name"))
          }, maxTries = tries)
        val bus = busIds(s, dir)
        val tasks = Seq(
          Task("brz_ticket", Seq.empty, () => {
            rawTicket(0).write.mode("overwrite").parquet(p("brz/t0"))
            rawTicket(1).write.mode("overwrite").parquet(p("brz/t1"))
          }),
          Task("slv_ticket", Seq("brz_ticket"), () =>
            for (b <- Seq("t0", "t1")) {
              // the reference's continuation: probe max Bus_Key BEFORE
              // transforming each day batch (to_silver.py:104-108)
              val maxId = Silver.maxKey(readIf(p("slv/ticket")), "Bus_Key")
              Silver.ticket(s.read.parquet(p(s"brz/$b")), bus, maxId)
                .write.mode("append").parquet(p("slv/ticket"))
            }),
          Task("brz_reviews", Seq.empty, () => {
            rawReviews(0).write.mode("overwrite").parquet(p("brz/vi"))
            rawReviews(1).write.mode("overwrite").parquet(p("brz/en"))
          }),
          Task("slv_reviews", Seq("brz_reviews"), () =>
            for (lang <- Seq("vi", "en")) {
              val maxId = math.max(
                Silver.maxKey(readIf(p("slv/vi")), "Review_Key"),
                Silver.maxKey(readIf(p("slv/en")), "Review_Key"))
              Silver.review(s.read.parquet(p(s"brz/$lang")), bus, maxId)
                .write.mode("overwrite").parquet(p(s"slv/$lang"))
            }),
          Task("brz_facility", Seq.empty, () => {
            val (bridge, names) = facilities(s, dir)
            bridge.write.mode("overwrite").parquet(p("brz/fac"))
            names.write.mode("overwrite").parquet(p("brz/facname"))
          }),
          Task("slv_facility", Seq("brz_facility"), () => {
            s.read.parquet(p("brz/fac"))
              .write.mode("overwrite").parquet(p("slv/fac"))
            s.read.parquet(p("brz/facname"))
              .write.mode("overwrite").parquet(p("slv/facname"))
          }),
          goldTask("cau_1", Seq("slv_ticket"))(() =>
            GoldQueries.q1(s.read.parquet(p("slv/ticket")))),
          goldTask("cau_2", Seq("slv_ticket", "slv_reviews"))(() =>
            GoldQueries.q2(s.read.parquet(p("slv/ticket")),
              s.read.parquet(p("slv/vi")), s.read.parquet(p("slv/en")))),
          goldTask("cau_3", Seq("slv_ticket"))(() =>
            GoldQueries.q3(s.read.parquet(p("slv/ticket")))),
          goldTask("cau_4", Seq("slv_ticket"))(() =>
            GoldQueries.q4(s.read.parquet(p("slv/ticket")))),
          goldTask("cau_5", Seq("slv_reviews"), tries = 2)(() =>
            GoldQueries.q5(s.read.parquet(p("slv/vi")))),
          goldTask("cau_6", Seq("slv_reviews"))(() =>
            GoldQueries.q6(s.read.parquet(p("slv/vi")),
              s.read.parquet(p("slv/en")))),
          goldTask("cau_7", Seq("slv_ticket"))(() =>
            GoldQueries.q7(s.read.parquet(p("slv/ticket")))),
          goldTask("cau_8", Seq("slv_facility"))(() =>
            GoldQueries.q8(s.read.parquet(p("slv/fac")),
              s.read.parquet(p("slv/facname")))))
        val results = DagRunner.run(s, "vexere_e2e", tasks, p("audit"),
          clock = () => "2024-01-01T00:00:00Z", hostname = "gate")
        val nOrders = Tables(s, dir, "orders").count()
        val nCust = Tables(s, dir, "customer").count()
        val auditRows = s.read.parquet(p("audit")).count()
        val dagOk =
          if (results.forall(_.state == "success") &&
            results.find(_.id == "gold_cau_5").exists(_.tries == 2) &&
            Silver.maxKey(readIf(p("slv/ticket")), "Bus_Key") == nOrders &&
            (Silver.maxKey(readIf(p("slv/vi")), "Review_Key") max
              Silver.maxKey(readIf(p("slv/en")), "Review_Key")) == nCust &&
            auditRows == tasks.size) 1L
          else 0L
        def ser(name: String, df: DataFrame, cols: Seq[Column]): DataFrame =
          df.select(lit(name).as("q"),
            concat_ws("|", cols.map(c =>
              coalesce(c.cast(StringType), lit("NULL"))): _*).as("row"))
        val g1 = s.read.parquet(p("gold/cau_1"))
          .withColumn("depart_time_ranges",
            array_join(array_sort(split(col("depart_time_ranges"), ", ")), ", "))
        val out = Seq(
          ser("cau_1", g1, Seq(col("Route"), col("Bus_Name"),
            col("Total_Trips"), col("Avg_Price_Per_Day"),
            col("depart_time_ranges"))),
          ser("cau_2", s.read.parquet(p("gold/cau_2")),
            Seq(col("start_date"), col("route"), col("bus_name"),
              col("price"))),
          ser("cau_3", s.read.parquet(p("gold/cau_3")),
            Seq(col("Route"), col("total_bus_operators"))),
          ser("cau_4", s.read.parquet(p("gold/cau_4")),
            Seq(col("Start_Date"), col("avg_price_per_day"))),
          ser("cau_5", s.read.parquet(p("gold/cau_5")),
            Seq(col("Bus_Name"), col("total_reviews"))),
          ser("cau_6", s.read.parquet(p("gold/cau_6")),
            Seq(col("avg_rating_10pt"))),
          ser("cau_7", s.read.parquet(p("gold/cau_7")),
            Seq(col("bus_name"), col("hour"), col("has_departure"))),
          ser("cau_8", s.read.parquet(p("gold/cau_8")),
            Seq(col("bus_name"), col("facility_id"), col("has_facility"),
              col("facility_name"))))
          .reduce(_ unionByName _)
        out.withColumn("dag_ok", lit(dagOk)).orderBy("q", "row")
      },
      oracle = Some(derivationSql + """,
        tb AS (
          SELECT route, bus_name, price,
                 CASE
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 0 AND 5 THEN '00h-05h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 6 AND 11 THEN '06h-11h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 12 AND 17 THEN '12h-17h'
                   WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 18 AND 23 THEN '18h-23h'
                 END AS band
          FROM ticket),
        rs AS (
          SELECT bus_id, ROUND(AVG(pos), 2) AS avg_positive
          FROM (SELECT bus_id, pos FROM vi UNION ALL
                SELECT bus_id, pos FROM en)
          WHERE bus_id IS NOT NULL
          GROUP BY bus_id),
        ch AS (
          SELECT start_date, route, MIN(price) AS min_price
          FROM ticket GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT t.start_date, t.route, t.bus_name, t.bus_id,
                 t.price, COALESCE(r.avg_positive, 0) AS avg_positive,
                 CASE WHEN COALESCE(r.avg_positive, 0) > 0.5
                      THEN 1 ELSE 0 END AS is_good
          FROM ticket t
          JOIN ch ON t.start_date = ch.start_date AND t.route = ch.route
                 AND t.price = ch.min_price
          LEFT JOIN rs r ON r.bus_id = t.bus_id),
        bh AS (
          SELECT DISTINCT bus_name,
                 CAST(substr(departure_time, 1, 2) AS INTEGER) AS hour
          FROM ticket WHERE departure_time IS NOT NULL),
        fsrc AS (SELECT DISTINCT bus_name, facility_id FROM fac),
        fnd AS (SELECT facility_id, MIN(facility_name) AS facility_name
                FROM facname GROUP BY facility_id)
        SELECT 'cau_1' AS q, concat_ws('|', route, bus_name,
                 CAST(cnt AS VARCHAR), CAST(avgp AS VARCHAR), bands) AS row,
               CAST(1 AS BIGINT) AS dag_ok
        FROM (SELECT route, bus_name, COUNT(*) AS cnt,
                     ROUND(AVG(price), 0) AS avgp,
                     string_agg(DISTINCT band, ', ' ORDER BY band) AS bands
              FROM tb GROUP BY route, bus_name)
        UNION ALL
        SELECT 'cau_2', concat_ws('|', CAST(start_date AS VARCHAR), route,
                 bus_name, CAST(price AS VARCHAR)), 1
        FROM (SELECT start_date, route, bus_name, price FROM (
                SELECT *, RANK() OVER (PARTITION BY start_date, route
                                       ORDER BY is_good DESC) AS rk
                FROM cand)
              WHERE rk = 1)
        UNION ALL
        SELECT 'cau_3', concat_ws('|', route,
                 CAST(COUNT(DISTINCT bus_name) AS VARCHAR)), 1
        FROM ticket GROUP BY route
        UNION ALL
        SELECT 'cau_4', concat_ws('|', CAST(start_date AS VARCHAR),
                 CAST(ROUND(AVG(price), 0) AS VARCHAR)), 1
        FROM ticket GROUP BY start_date
        UNION ALL
        SELECT 'cau_5', concat_ws('|', bus_name,
                 CAST(COUNT(*) AS VARCHAR)), 1
        FROM vi GROUP BY bus_name
        UNION ALL
        SELECT 'cau_6', concat_ws('|', CAST(r10 AS VARCHAR)), 1
        FROM (SELECT ROUND(AVG(neg * 5 + pos * 10), 2) AS r10
              FROM (SELECT bus_name, neg, pos FROM vi UNION ALL
                    SELECT bus_name, neg, pos FROM en)
              GROUP BY bus_name
              HAVING COUNT(*) >= 50)
        UNION ALL
        SELECT 'cau_7', concat_ws('|', b.bus_name, CAST(h.hour AS VARCHAR),
                 CAST(CASE WHEN bh.bus_name IS NULL THEN 0 ELSE 1 END
                   AS VARCHAR)), 1
        FROM (SELECT DISTINCT bus_name FROM bh) b
        CROSS JOIN (SELECT CAST(UNNEST(range(24)) AS INTEGER) AS hour) h
        LEFT JOIN bh ON bh.bus_name = b.bus_name AND bh.hour = h.hour
        UNION ALL
        SELECT 'cau_8', concat_ws('|', b.bus_name,
                 CAST(f.facility_id AS VARCHAR),
                 CAST(CASE WHEN s2.bus_name IS NULL THEN 0 ELSE 1 END
                   AS VARCHAR),
                 COALESCE(fnd.facility_name, 'NULL')), 1
        FROM (SELECT DISTINCT bus_name FROM fsrc) b
        CROSS JOIN (SELECT CAST(UNNEST(range(1, 22)) AS INTEGER)
                    AS facility_id) f
        LEFT JOIN fsrc s2 ON s2.bus_name = b.bus_name
                         AND s2.facility_id = f.facility_id
        LEFT JOIN fnd ON fnd.facility_id = f.facility_id
        ORDER BY q, row""")),

    "cau_4_decimal" -> Q(
      run = (s, dir) => {
        val k = col("o_orderkey")
        val raw = Tables(s, dir, "orders").select(
          concat(lpad(((k % 7) + 1).cast(StringType), 2, "0"),
            lit("-01-2024")).as("Start_Date"),
          lit("bx mien dong").as("Departure_Place"),
          lit("tp đà lạt").as("Arrival_Place"),
          lit("7h30m").as("Duration"),
          concat(format_number(
            lit(900000000000L) + (k % 90) * 1000000000L + k, 0),
            lit(" đ")).as("Price"),
          lit("giường nằm 40 chỗ").as("Type_Bus"),
          busName(k).as("Bus_Name"))
        Silver.ticket(raw, busIds(s, dir), 0,
            keyGen = PartitionOffsetKeyGen, decimalPrice = true)
          .rollup(col("Start_Date"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("Price")).cast(DecimalType(38, 0)).as("sum_p"))
          .select(
            coalesce(col("Start_Date").cast(StringType), lit("ALL"))
              .as("start_date"),
            col("cnt"),
            col("sum_p").cast(StringType).as("sum_price"),
            expr("sum_p div cnt").as("avg_floor"),
            expr("(2 * sum_p + cnt) div (2 * cnt)").as("avg_half_up"))
          .orderBy("start_date")
      },
      oracle = Some("""
        WITH t AS (
          SELECT DATE '2024-01-01' + CAST(o_orderkey % 7 AS INTEGER) AS d,
                 CAST(900000000000 + (o_orderkey % 90) * 1000000000
                      + o_orderkey AS HUGEINT) AS p
          FROM orders)
        SELECT COALESCE(CAST(d AS VARCHAR), 'ALL') AS start_date,
               COUNT(*) AS cnt,
               CAST(SUM(p) AS VARCHAR) AS sum_price,
               CAST(SUM(p) // COUNT(*) AS BIGINT) AS avg_floor,
               CAST((2 * SUM(p) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
                 AS avg_half_up
        FROM t GROUP BY ROLLUP(d) ORDER BY start_date"""))
  )
}
