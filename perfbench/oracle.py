"""Output checks made in DuckDB, independently of the engine.

`dag_gold` recomputes the 8 gold tables from the raw files landed up to
each day and compares them with the engine's gold output of that day.
`curation_oracle`
compares recorded query results with the queries' own oracle SQL (the
`tools/verify_local.py` pattern). Each returns a list of
(op id or None, reason) for the checks that failed.
"""
import duckdb

# Spark rounds a double HALF_UP on its shortest decimal form; DuckDB's
# ROUND on a double scales in binary. Emulate Spark's rule so ties such
# as 2.675 round the same way on both sides.
SPARK_ROUND = ("CREATE MACRO spark_round(x, d) AS CAST(ROUND(CAST(CAST(x AS VARCHAR)"
               " AS DECIMAL(38, 12)), d) AS DOUBLE)")


def _canon(con, rel_sql, sort_bands=False):
    """(row count, order-insensitive hash) with columns matched by
    lower-cased name in sorted order."""
    cols = sorted(con.sql(rel_sql).columns, key=str.lower)
    parts = []
    for c in cols:
        expr = f'"{c}"'
        if sort_bands and c.lower() == "depart_time_ranges":
            expr = f"array_to_string(list_sort(string_split({expr}, ', ')), ', ')"
        parts.append(f"coalesce(CAST({expr} AS VARCHAR), 'NULL')")
    row = "concat_ws('|', " + ", ".join(parts) + ")"
    n, h = con.sql(f"SELECT count(*), sum(hash({row})) FROM ({rel_sql})").fetchone()
    return [c.lower() for c in cols], n, h


def _gold_sql(files):
    """Oracle SQL for the 8 gold tables over the given raw files."""
    def lst(paths):
        return "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    base = f"""
    WITH bus AS (
      SELECT 'bus ' || n_nationkey AS bus_name, CAST(n_nationkey + 1 AS INTEGER) AS bus_id
      FROM read_parquet('{files["nation"]}')),
    traw AS (SELECT * FROM read_csv({lst(files["ticket"])}, header = true,
             all_varchar = true, quote = '"')),
    ticket AS (
      SELECT CAST(strptime(t.Start_Date, '%d-%m-%Y') AS DATE) AS start_date,
             t.Route AS route, t.Bus_Name AS bus_name, b.bus_id,
             CAST(regexp_replace(t.Price, '[^0-9]', '', 'g') AS INTEGER) AS price,
             t.Departure_Time AS departure_time
      FROM traw t LEFT JOIN bus b ON b.bus_name = t.Bus_Name),
    vi AS (
      SELECT r.Bus_Name AS bus_name, b.bus_id, r.POS AS pos, r.NEG AS neg
      FROM read_json({lst(files["review_vi"])}, format = 'newline_delimited',
        columns = {{Bus_Name: 'VARCHAR', POS: 'DOUBLE', NEG: 'DOUBLE'}}) r
      LEFT JOIN bus b ON b.bus_name = r.Bus_Name),
    en AS (
      SELECT r.Bus_Name AS bus_name, b.bus_id, r.POS AS pos, r.NEG AS neg
      FROM read_json({lst(files["review_en"])}, format = 'newline_delimited',
        columns = {{Bus_Name: 'VARCHAR', POS: 'DOUBLE', NEG: 'DOUBLE'}}) r
      LEFT JOIN bus b ON b.bus_name = r.Bus_Name),
    fraw AS (
      SELECT Bus_Name,
             string_split(regexp_replace(Facilities, '[\\\\\\[\\]'']', '', 'g'), ', ') AS arr
      FROM read_json({lst(files["facility"])}, format = 'newline_delimited',
        columns = {{Id: 'INTEGER', Bus_Name: 'VARCHAR', Facilities: 'VARCHAR'}})),
    ff AS (SELECT * FROM fraw WHERE len(arr) > 0 AND NOT list_contains(arr, '')),
    fnames AS (
      SELECT name AS facility_name,
             CAST(row_number() OVER (ORDER BY name) AS INTEGER) AS facility_id
      FROM (SELECT DISTINCT unnest(arr) AS name FROM ff)),
    bridge AS (
      SELECT DISTINCT b.bus_id, f.Bus_Name AS bus_name, n.facility_id
      FROM (SELECT Bus_Name, unnest(arr) AS name FROM ff) f
      LEFT JOIN bus b ON b.bus_name = f.Bus_Name
      JOIN fnames n ON n.facility_name = f.name)
    """
    band = """CASE
        WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 0 AND 5 THEN '00h-05h'
        WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 6 AND 11 THEN '06h-11h'
        WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 12 AND 17 THEN '12h-17h'
        WHEN CAST(substr(departure_time, 1, 2) AS INTEGER) BETWEEN 18 AND 23 THEN '18h-23h'
      END"""
    return {
        "cau_1": base + f"""
          SELECT route, bus_name, COUNT(*) AS total_trips,
                 spark_round(AVG(price), 0) AS avg_price_per_day,
                 string_agg(DISTINCT {band}, ', ' ORDER BY {band}) AS depart_time_ranges
          FROM ticket GROUP BY route, bus_name""",
        "cau_2": base + """,
          rs AS (SELECT bus_id, spark_round(AVG(pos), 2) AS avg_positive
                 FROM (SELECT bus_id, pos FROM vi UNION ALL SELECT bus_id, pos FROM en)
                 GROUP BY bus_id),
          ch AS (SELECT start_date, route, MIN(price) AS min_price FROM ticket GROUP BY 1, 2),
          cand AS (
            SELECT DISTINCT t.start_date, t.route, t.bus_name, t.bus_id, t.price,
                   COALESCE(r.avg_positive, 0) AS avg_positive,
                   CASE WHEN COALESCE(r.avg_positive, 0) > 0.5 THEN 1 ELSE 0 END AS is_good
            FROM ticket t
            JOIN ch ON t.start_date = ch.start_date AND t.route = ch.route
                   AND t.price = ch.min_price
            LEFT JOIN rs r ON r.bus_id = t.bus_id)
          SELECT start_date, route, bus_name, price FROM (
            SELECT *, RANK() OVER (PARTITION BY start_date, route ORDER BY is_good DESC) AS rk
            FROM cand) WHERE rk = 1""",
        "cau_3": base + """
          SELECT route, COUNT(DISTINCT bus_name) AS total_bus_operators
          FROM ticket GROUP BY route""",
        "cau_4": base + """
          SELECT start_date, spark_round(AVG(price), 0) AS avg_price_per_day
          FROM ticket GROUP BY start_date""",
        "cau_5": base + """
          SELECT bus_name, COUNT(*) AS total_reviews FROM vi GROUP BY bus_name""",
        "cau_6": base + """
          SELECT spark_round(AVG(neg * 5 + pos * 10), 2) AS avg_rating_10pt
          FROM (SELECT bus_name, neg, pos FROM vi UNION ALL
                SELECT bus_name, neg, pos FROM en)
          GROUP BY bus_name HAVING COUNT(*) >= 50""",
        "cau_7": base + """,
          bh AS (SELECT DISTINCT bus_name,
                        CAST(substr(departure_time, 1, 2) AS INTEGER) AS hour
                 FROM ticket WHERE departure_time IS NOT NULL)
          SELECT b.bus_name, h.hour,
                 CASE WHEN bh.bus_name IS NULL THEN 0 ELSE 1 END AS has_departure
          FROM (SELECT DISTINCT bus_name FROM bh) b
          CROSS JOIN (SELECT CAST(UNNEST(range(24)) AS INTEGER) AS hour) h
          LEFT JOIN bh ON bh.bus_name = b.bus_name AND bh.hour = h.hour""",
        "cau_8": base + """,
          src AS (SELECT DISTINCT bus_name, facility_id FROM bridge
                  WHERE bus_name IS NOT NULL AND facility_id IS NOT NULL),
          nd AS (SELECT facility_id, MIN(facility_name) AS facility_name
                 FROM fnames WHERE facility_name IS NOT NULL GROUP BY facility_id)
          SELECT b.bus_name, f.facility_id,
                 CASE WHEN s.bus_name IS NULL THEN 0 ELSE 1 END AS has_facility,
                 nd.facility_name
          FROM (SELECT DISTINCT bus_name FROM src) b
          CROSS JOIN (SELECT CAST(UNNEST(range(1, 22)) AS INTEGER) AS facility_id) f
          LEFT JOIN src s ON s.bus_name = b.bus_name AND s.facility_id = f.facility_id
          LEFT JOIN nd ON nd.facility_id = f.facility_id""",
    }


def dag_gold(inputs, days, root, ops):
    """Compare each day's gold output with the oracle over the raw files
    landed up to that day."""
    con = duckdb.connect()
    con.execute(SPARK_ROUND)
    inc = f"{inputs}/dag/incoming"
    failures = []
    for op in ops:
        if op["name"] != "dag_day" or not op["ok"]:
            continue
        d = op["detail"]["day"]
        tags = [x["tag"] for x in days[:d + 1]]
        files = {"nation": f"{inputs}/dag/nation.parquet",
                 "ticket": [f"{inc}/ticket/{t}.csv" for t in tags],
                 "review_vi": [f"{inc}/review_vi/{t}.json" for t in tags],
                 "review_en": [f"{inc}/review_en/{t}.json" for t in tags],
                 "facility": [f"{inc}/facility/{t}.json" for t in tags]}
        for g, sql in _gold_sql(files).items():
            exp = _canon(con, sql)
            path = f"{root}/gold/d{d}/{g}/*.parquet"
            try:
                got = _canon(con, f"SELECT * FROM read_parquet('{path}')",
                             sort_bands=True)
            except duckdb.Error as e:
                failures.append((op["id"], f"{g} day {d}: {e}"))
                continue
            if got != exp:
                failures.append((op["id"], f"{g} day {d}: got {got[1:]} "
                                           f"columns {got[0]}, expected "
                                           f"{exp[1:]} columns {exp[0]}"))
    return failures


def curation_oracle(inputs, work, oracle_sql):
    """Compare each recorded query result with its oracle SQL run on the
    same input tables (columns sorted by name, rows sorted)."""
    con = duckdb.connect()
    for t in ("documents", "embeddings", "customer", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/curation/{t}.parquet')")
    failures = []
    for q, sql in sorted(oracle_sql.items()):
        def canon(rel):
            cols = sorted(con.sql(rel).columns)
            quoted = ", ".join(f'"{c}"' for c in cols)
            return cols, con.sql(f"SELECT {quoted} FROM ({rel}) ORDER BY ALL").fetchall()
        got = canon(f"SELECT * FROM read_parquet('{work}/record/{q}/*.parquet')")
        exp = canon(sql)
        if got != exp:
            failures.append((q, f"{q}: {len(got[1])} rows vs oracle {len(exp[1])}"))
    return failures
