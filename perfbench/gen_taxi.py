#!/usr/bin/env python3
"""Seeded NYC-taxi-shaped input for the taxi_etl workload, built in DuckDB.

The mix follows the reference's `transform.log` (2,000,000 rows, 10.60%
anomalies), one share per rejection rule:

    Passagers invalides         137,684   6.884 %
    Distance hors limites        47,189   2.359 %
    Montant de course invalide   23,820   1.191 %
    Vitesse irréaliste            2,658   0.133 %
    Durée invalide                  701   0.035 %

Each row gets one planted category and violates only the rules from its
own onward in the pipeline's first-match-wins order, so the reason the
pipeline reports is the planted one. On top of that:

  * pickups fall at second grain across March 2024; base rows get
    distinct pickup seconds, so (pickup, dropoff) is a unique key except
    for the planted duplicates;
  * DUP_SHARE of the rows are exact copies of another row, which the
    transform's dedup must remove from the valid branch;
  * NULL_TS_SHARE of the rows have a null pickup or dropoff, which extract
    drops;
  * payment_type 5 (no label) drops the row at the fact join.

Rule shares are planted against the rows the quality report counts (valid
after dedup plus anomalies), so the report's rate lands near 10.60 %.

    python3 perfbench/gen_taxi.py OUT.parquet [--rows 2000000] [--seed 1]

prints the measured share of every property as one JSON object.
"""
import argparse
import json
import sys

import duckdb

from checks import RULES, taxi_reference_views

REFERENCE_ROWS = 2_000_000
# per-rule counts of transform.log, in the pipeline's rule order
REFERENCE_COUNTS = [
    ("Durée invalide", 701),
    ("Distance hors limites", 47_189),
    ("Montant de course invalide", 23_820),
    ("Passagers invalides", 137_684),
    ("Vitesse irréaliste", 2_658),
]
REFERENCE_ANOMALY_SHARE = sum(n for _, n in REFERENCE_COUNTS) / REFERENCE_ROWS
DUP_SHARE = 0.005
NULL_TS_SHARE = 0.002
MONTH_START = "2024-03-01 00:00:00"
MONTH_SECONDS = 31 * 86400
STRIDE = 1_000_003  # a prime, so coprime with MONTH_SECONDS


def _u(k: int) -> str:
    """Uniform [0, 1) from the row id, the seed and a per-use salt."""
    return f"((hash(i, $seed, {k}) >> 11)::DOUBLE / 9007199254740992.0)"


def generate(con: duckdb.DuckDBPyConnection, out: str, rows: int, seed: int) -> None:
    n_dup = round(rows * DUP_SHARE)
    base = rows - n_dup
    if base > MONTH_SECONDS:
        raise ValueError(f"at most {MONTH_SECONDS + n_dup} rows fit one pickup per second")
    # extract drops the null timestamps and dedup the valid duplicates from
    # the report's total; scale the planted shares so each reason's share of
    # that total matches the log
    valid_dups = DUP_SHARE * (1 - REFERENCE_ANOMALY_SHARE)
    shares = [n / REFERENCE_ROWS * (1 - NULL_TS_SHARE - valid_dups) for _, n in REFERENCE_COUNTS]
    bounds, acc = [], NULL_TS_SHARE
    for s in shares:
        acc += s
        bounds.append(acc)
    cat = ("CASE WHEN c < {n} THEN 'nullts' WHEN c < {b0} THEN 'dur' WHEN c < {b1} THEN 'dist' "
           "WHEN c < {b2} THEN 'fare' WHEN c < {b3} THEN 'pass' WHEN c < {b4} THEN 'speed' "
           "ELSE 'valid' END").format(n=NULL_TS_SHARE, **{f"b{j}": b for j, b in enumerate(bounds)})
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE base AS
    WITH u AS (
      -- i -> (STRIDE * i + shift) mod MONTH_SECONDS is one-to-one, so no
      -- two base rows share a pickup second
      SELECT i, TIMESTAMP '{MONTH_START}'
          + to_seconds(CAST(({STRIDE} * i + hash($seed, 99) % {MONTH_SECONDS}) % {MONTH_SECONDS} AS BIGINT))
          AS pickup,
        {_u(1)} AS c, {_u(2)} AS u2, {_u(3)} AS u3, {_u(4)} AS u4, {_u(5)} AS u5,
        {_u(6)} AS u6, {_u(7)} AS u7, {_u(8)} AS u8, {_u(9)} AS u9, {_u(10)} AS u10,
        {_u(11)} AS u11
      FROM range({base}) r(i)),
    k AS (SELECT *, {cat} AS category FROM u),
    -- a trip that passes every rule: 0.3-20 mi at 4-40 mph, >= 30 s
    v AS (
      SELECT *, round(0.3 + 19.7 * u2 * u2, 2) AS d0, 4 + 36 * u3 AS mph FROM k),
    g AS (
      SELECT *,
        CASE category
          WHEN 'dist' THEN CASE WHEN u11 < 0.7 THEN 0.0 WHEN u11 < 0.85 THEN 0.05
                                WHEN u11 < 0.95 THEN round(120 + 500 * u11, 2) END
          ELSE d0 END AS dist,
        CASE category
          WHEN 'dur' THEN -floor(300 * u11)
          -- 0.2-0.8 mph or 150-650 mph: far from the [1, 100] bounds
          WHEN 'speed' THEN greatest(1, round(d0 / CASE WHEN u11 < 0.5 THEN 0.2 + 1.2 * u11
                                                    ELSE 150 + 1000 * (u11 - 0.5) END * 3600))
          ELSE greatest(30, round(d0 / mph * 3600)) END AS dur_s
      FROM v)
    SELECT i,
      CAST(CASE WHEN u10 < 0.28 THEN 1 ELSE 2 END AS INT) AS VendorID,
      CASE WHEN category = 'nullts' AND u11 < 0.5 THEN NULL ELSE pickup END
        AS tpep_pickup_datetime,
      CASE WHEN category = 'nullts' AND u11 >= 0.5 THEN NULL
        ELSE pickup + to_seconds(CAST(dur_s AS BIGINT)) END AS tpep_dropoff_datetime,
      CAST(CASE WHEN category = 'pass' THEN (CASE WHEN u11 < 0.8 THEN 0 END)
        ELSE 1 + least(5, floor(6 * u4 * u4)) END AS INT) AS passenger_count,
      dist AS trip_distance,
      CAST(1 + floor(265 * u7) AS INT) AS PULocationID,
      CAST(1 + floor(265 * u8) AS INT) AS DOLocationID,
      CAST(CASE WHEN u9 < 0.01 THEN 99 WHEN u9 < 0.04 THEN 2 WHEN u9 < 0.05 THEN 5
        WHEN u9 < 0.055 THEN 3 ELSE 1 END AS INT) AS RatecodeID,
      CAST(CASE WHEN u5 < 0.70 THEN 1 WHEN u5 < 0.95 THEN 2 WHEN u5 < 0.97 THEN 3
        WHEN u5 < 0.99 THEN 4 ELSE 5 END AS INT) AS payment_type,
      CASE WHEN category = 'fare' THEN -round(10 * u6, 2)
        ELSE round(3.0 + 2.5 * coalesce(dist, 1) + 0.02 * greatest(dur_s, 0) * u6 / 60, 2) END
        AS fare_amount,
      round(2.0 * u6, 2) AS tip_amount,
      CASE WHEN u10 > 0.995 THEN 'Y' ELSE 'N' END AS store_and_fwd_flag,
      category
    FROM g
    """, {"seed": seed})
    # exact copies of random base rows, then one seeded shuffle of the lot
    con.execute(f"""
    COPY (
      WITH dup AS (
        SELECT b.* EXCLUDE (i), {base} + d.i AS i
        FROM (SELECT i, hash(i, $seed, 77) % {base} AS src FROM range({n_dup}) r(i)) d
        JOIN base b ON b.i = d.src),
      rows AS (SELECT * FROM base UNION ALL BY NAME SELECT * FROM dup)
      SELECT VendorID, tpep_pickup_datetime, tpep_dropoff_datetime, passenger_count,
        trip_distance, PULocationID, DOLocationID, RatecodeID, payment_type, fare_amount,
        round(fare_amount + tip_amount + 1.0, 2) AS total_amount, tip_amount,
        store_and_fwd_flag
      FROM rows ORDER BY hash(i, $seed, 55)
    ) TO '{out}' (FORMAT PARQUET, COMPRESSION SNAPPY)
    """, {"seed": seed})
    con.execute("DROP TABLE base")


def measured_shares(con: duckdb.DuckDBPyConnection, path: str) -> dict:
    """Share of each planted property, measured on the written file."""
    rows = con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    dups = rows - con.sql(f"SELECT count(*) FROM (SELECT DISTINCT * FROM '{path}')").fetchone()[0]
    null_ts = con.sql(f"SELECT count(*) FROM '{path}' WHERE tpep_pickup_datetime IS NULL "
                      "OR tpep_dropoff_datetime IS NULL").fetchone()[0]
    span = con.sql(f"SELECT min(tpep_pickup_datetime)::VARCHAR, max(tpep_pickup_datetime)::VARCHAR, "
                   f"count(*) FILTER (WHERE date_part('microsecond', tpep_pickup_datetime) % 1000000 <> 0) "
                   f"FROM '{path}'").fetchone()
    taxi_reference_views(con, path)
    total = con.sql("SELECT count(*) FROM ref_valid").fetchone()[0] + \
        con.sql("SELECT count(*) FROM ref_anomalies").fetchone()[0]
    per_rule = dict(con.sql("SELECT rejection_reason, count(*) FROM ref_anomalies GROUP BY 1").fetchall())
    anomalies = sum(per_rule.values())
    return {
        "rows": rows,
        "duplicate_share": dups / rows,
        "null_timestamp_share": null_ts / rows,
        "pickup_first": span[0], "pickup_last": span[1], "sub_second_pickups": span[2],
        "quality_report_total": total,
        "anomaly_share": anomalies / total,
        "rule_shares": {r: per_rule.get(r, 0) / total for r, _ in RULES},
        "reference_anomaly_share": REFERENCE_ANOMALY_SHARE,
        "reference_rule_shares": {r: n / REFERENCE_ROWS for r, n in REFERENCE_COUNTS},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out")
    ap.add_argument("--rows", type=int, default=REFERENCE_ROWS)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    con = duckdb.connect()
    generate(con, a.out, a.rows, a.seed)
    print(json.dumps(measured_shares(con, a.out), ensure_ascii=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
