"""Correctness references for the benchmark, computed in DuckDB.

* taxi_etl: the reference pipeline's semantics (extract, five
  first-match-wins rules, dedup on the pickup/dropoff key, star-schema
  counts, quality report) recomputed from the generated input.
* dashboard_queries: the taxi dashboard measures recomputed over the
  valid-trips table the set-up wrote; every lineitem gate's `oracleSql`
  (exported by the harness from `SparkEntry.oracleSql`) run over the
  generated lineitem; and, for the two curation gates, digests committed
  in `digests.json`, produced once by `make_digests.py` from their oracle
  SQL.

Results are compared as an order-free multiset digest over columns sorted
by name, with every value rendered by DuckDB, so a Spark result and an
oracle result match exactly when the selfcheck harness would match them.
"""
import math

RULES = [
    ("Durée invalide", "trip_duration <= 0"),
    ("Distance hors limites", "trip_distance IS NULL OR NOT trip_distance BETWEEN 0.1 AND 100"),
    ("Montant de course invalide", "fare_amount <= 0"),
    ("Passagers invalides", "passenger_count <= 0"),
    ("Vitesse irréaliste", "avg_speed IS NULL OR NOT avg_speed BETWEEN 1 AND 100"),
]

PAYMENT_LABELS = {1: "Carte de crédit", 2: "Espèces", 3: "Gratuit", 4: "Conflit"}


def _half_up_2(x: str) -> str:
    """Spark rounds a double HALF_UP on its decimal rendering; match that
    on the rare values that sit on a tie, and round plainly elsewhere."""
    return (f"CASE WHEN abs({x} * 100 - floor({x} * 100) - 0.5) < 1e-6 THEN "
            f"coalesce(round(TRY_CAST(CAST({x} AS VARCHAR) AS DECIMAL(38,10)), 2)::DOUBLE, "
            f"round({x}, 2)) ELSE round({x}, 2) END")


def taxi_reference_views(con, path: str) -> None:
    """ref_valid (after dedup) and ref_anomalies over one generated input."""
    case = " ".join(f"WHEN {pred} THEN '{name}'" for name, pred in RULES)
    labels = " ".join(f"WHEN {k} THEN '{v}'" for k, v in PAYMENT_LABELS.items())
    speed = "trip_distance / (trip_duration / 60.0)"
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE ref_tagged AS
    WITH ext AS (
      SELECT tpep_pickup_datetime, tpep_dropoff_datetime,
        CAST(coalesce(passenger_count, 0) AS SMALLINT) AS passenger_count,
        CAST(trip_distance AS DOUBLE) AS trip_distance,
        CAST(coalesce(PULocationID, 0) AS SMALLINT) AS PULocationID,
        CAST(coalesce(DOLocationID, 0) AS SMALLINT) AS DOLocationID,
        payment_type, CAST(fare_amount AS DOUBLE) AS fare_amount,
        CAST(total_amount AS DOUBLE) AS total_amount
      FROM '{path}'
      WHERE tpep_pickup_datetime IS NOT NULL AND tpep_dropoff_datetime IS NOT NULL),
    m AS (
      SELECT *, date_diff('second', tpep_pickup_datetime, tpep_dropoff_datetime) / 60.0
        AS trip_duration FROM ext),
    s AS (
      SELECT *, CASE WHEN trip_duration = 0 THEN NULL ELSE {_half_up_2(speed)} END AS avg_speed
      FROM m)
    SELECT *, CASE {case} END AS rejection_reason,
      CASE payment_type {labels} END AS payment_label
    FROM s
    """)
    con.execute("""
    CREATE OR REPLACE TEMP TABLE ref_valid AS
    SELECT DISTINCT ON (tpep_pickup_datetime, tpep_dropoff_datetime) *
    FROM ref_tagged WHERE rejection_reason IS NULL
    ORDER BY tpep_pickup_datetime, tpep_dropoff_datetime
    """)
    con.execute("CREATE OR REPLACE VIEW ref_anomalies AS "
                "SELECT * FROM ref_tagged WHERE rejection_reason IS NOT NULL")


def taxi_expected(con, path: str) -> dict:
    taxi_reference_views(con, path)
    one = lambda q: con.sql(q).fetchone()
    valid, avg_dur, avg_speed, fare = one(
        "SELECT count(*), avg(trip_duration), avg(avg_speed), sum(fare_amount) FROM ref_valid")
    per_reason = dict(con.sql(
        "SELECT rejection_reason, count(*) FROM ref_anomalies GROUP BY 1").fetchall())
    anomalies = sum(per_reason.values())
    return {
        "anomalies_by_reason": per_reason,
        "valid_rows": valid,
        "report": {
            "total_processed": valid + anomalies,
            "anomaly_count": anomalies,
            "avg_trip_duration": avg_dur,
            "avg_speed": avg_speed,
            "total_fare_amount": fare,
        },
        "dim_time": one("SELECT count(DISTINCT tpep_pickup_datetime) FROM ref_valid")[0],
        "dim_location": one("SELECT count(DISTINCT id) FROM (SELECT PULocationID AS id FROM ref_valid "
                            "UNION ALL SELECT DOLocationID FROM ref_valid)")[0],
        "dim_payment": one("SELECT count(DISTINCT payment_label) FROM ref_valid")[0],
        "fact_trips": one("SELECT count(*) FROM ref_valid WHERE payment_label IS NOT NULL")[0],
    }


def _close(a, b, rel=1e-9, slack=0.0) -> bool:
    if isinstance(b, float) or isinstance(a, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(rel * max(abs(a), abs(b)), slack, 1e-12)
    return a == b


def diff_taxi(actual: dict, expected: dict) -> list:
    """Names of the taxi_etl checks whose actual value is not the expected one."""
    bad = []
    for k in ("valid_rows", "dim_time", "dim_location", "dim_payment", "fact_trips"):
        if actual.get(k) != expected[k]:
            bad.append(f"{k}: {actual.get(k)} != {expected[k]}")
    for src in ("anomalies_by_reason", "report_details"):
        if actual.get(src) != expected["anomalies_by_reason"]:
            bad.append(f"{src}: {actual.get(src)} != {expected['anomalies_by_reason']}")
    rep = actual.get("report", {})
    for k, v in expected["report"].items():
        # avg_speed sums values rounded per row; a HALF_UP rendering tie
        # may round one row differently, far below this tolerance
        if not _close(rep.get(k), v, rel=1e-6 if k == "avg_speed" else 1e-9):
            bad.append(f"report.{k}: {rep.get(k)} != {v}")
    return bad


def taxi_dashboard_expected(con, valid_path: str) -> dict:
    """Rows of the three TaxiDashboard measures over the valid-trips table."""
    src = f"read_parquet('{valid_path}/*.parquet')"
    return {
        "kpiCards": con.sql(
            f"SELECT quantile_cont(trip_distance, 0.5) AS median_trip_distance, "
            f"round(avg(avg_speed) * 1.609, 2) AS avg_commercial_speed_kmh, "
            f"count(*) AS total_trips FROM {src}").fetchall(),
        "dailyAvgRevenue": con.sql(
            f"SELECT round(avg(s), 2) AS daily_avg_revenue FROM (SELECT "
            f"CAST(tpep_pickup_datetime AS DATE) AS d, sum(total_amount) AS s FROM {src} GROUP BY 1)"
        ).fetchall(),
        "passengerDonut": con.sql(
            f"SELECT time_period, passengers, round(passengers * 100.0 / sum(passengers) OVER (), 2) "
            f"FROM (SELECT time_period, sum(passenger_count) AS passengers FROM {src} GROUP BY 1) "
            f"ORDER BY passengers DESC, time_period").fetchall(),
    }


def rows_match(actual: list, expected: list) -> bool:
    """Row lists equal up to float noise, where a value rounded to two
    decimals may differ by one unit: on an exact tie (33.355) Spark's
    decimal arithmetic rounds up while DuckDB divides in doubles
    (33.35499...) and rounds down, and a sum reached in another order can
    land on either side of a tie."""
    if len(actual) != len(expected):
        return False
    for ra, re in zip(actual, expected):
        if len(ra) != len(re):
            return False
        for a, e in zip(ra, re):
            if isinstance(a, (int, float)) and isinstance(e, (int, float)) and \
                    not isinstance(a, bool):
                if not _close(float(a), float(e), slack=0.0100001):
                    return False
            elif str(a) != str(e):
                return False
    return True


def digest(con, relation_sql: str) -> dict:
    """Order-free digest of a relation: row count plus the sum of one
    64-bit hash per row, over columns sorted by name."""
    cols = sorted(c[0] for c in con.sql(f"DESCRIBE {relation_sql}").fetchall())
    row = "concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in cols) + ")"
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({row})), 0)::HUGEINT::VARCHAR "
                   f"FROM ({relation_sql})").fetchone()
    return {"columns": cols, "rows": n, "digest": h}


def same_result(con, actual_sql: str, expected_sql: str) -> str:
    """'exact' when the digests match, 'tie' when the rows match only up
    to a rounding tie (see rows_match), '' when they differ."""
    if digest(con, actual_sql) == digest(con, expected_sql):
        return "exact"
    cols = sorted(c[0] for c in con.sql(f"DESCRIBE {expected_sql}").fetchall())
    if cols != sorted(c[0] for c in con.sql(f"DESCRIBE {actual_sql}").fetchall()):
        return ""
    sel = ", ".join(f'"{c}"' for c in cols)
    fetch = lambda q: con.sql(f"SELECT {sel} FROM ({q}) ORDER BY ALL").fetchall()
    return "tie" if rows_match(fetch(actual_sql), fetch(expected_sql)) else ""


def table_views(con, tables_dir: str, names) -> None:
    for t in names:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
