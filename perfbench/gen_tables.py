#!/usr/bin/env python3
"""Seeded harness-shaped tables for the dashboard_queries gates.

The engine's gates read `<dir>/<table>.parquet` with the schemas of the
harness tables (FIXTURES.md, part B). This writes the ones the benchmark's
gates read, with the same value ranges:

  lineitem    sf0.01 shape: 60,000 rows, keys over 15,000 orders, 2,000
              parts and 100 suppliers, 2-decimal prices, 2,499 ship days
  documents   500 bag-of-words documents over a 30-word vocabulary; 5 %
              are a copy of an earlier document plus " dup"

    python3 perfbench/gen_tables.py DIR lineitem --seed 1 [--rows 60000]
    python3 perfbench/gen_tables.py DIR documents
"""
import argparse
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the digests in digests.json are for this corpus, whatever the run's seed
CORPUS_SEED = 42
CORPUS_DOCS = 500
VOCAB = ("join hash row batch scan customer column filter small slow merge order vector line "
         "data table agg value key stream window spark a group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _cents(x):
    return np.round(x * 100) / 100


def lineitem(path: str, seed: int, rows: int = 60_000) -> None:
    r = np.random.default_rng(seed)
    orders, parts, supps = rows // 4, rows // 30, rows // 600
    day0 = np.datetime64(dt.date(1995, 1, 2), "us")
    t = pa.table({
        "l_orderkey": r.integers(0, orders, rows, dtype=np.int64),
        "l_partkey": r.integers(0, parts, rows, dtype=np.int64),
        "l_suppkey": r.integers(0, supps, rows, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, rows, dtype=np.int32),
        "l_quantity": r.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900, 105_000, rows)),
        "l_discount": _cents(r.uniform(0, 0.1, rows)),
        "l_tax": _cents(r.uniform(0, 0.08, rows)),
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), rows),
        "l_linestatus": r.choice(np.array(["O", "F"]), rows),
        "l_shipdate": day0 + r.integers(0, 2499, rows) * np.timedelta64(1, "D"),
    })
    pq.write_table(t, path, compression="snappy")


def documents(path: str, seed: int = CORPUS_SEED, n: int = CORPUS_DOCS) -> None:
    r = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, r.integers(10, 100))))
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": r.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    pq.write_table(t, path, compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir")
    ap.add_argument("what", choices=["lineitem", "documents"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rows", type=int, default=60_000)
    a = ap.parse_args()
    if a.what == "lineitem":
        lineitem(f"{a.dir}/lineitem.parquet", a.seed, a.rows)
    else:
        documents(f"{a.dir}/documents.parquet")


if __name__ == "__main__":
    main()
