#!/usr/bin/env python3
"""Writes digests.json: the expected result digest of each curation gate
in the dashboard mix over the fixed document corpus (gen_tables.documents),
from the gate's oracle SQL in `SparkEntry.oracleSql` run through DuckDB.
These oracles take seconds each, so the digests are produced once and
committed.

    python3 perfbench/make_digests.py      # from the root of a checkout

Re-run it when the corpus generator or a curation gate's oracle changes.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402
from run import LLM_GATES, java_opens  # noqa: E402


def main() -> int:
    build.build()
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        sql_file = Path(tmp) / "oracle.json"
        subprocess.run(["java"] + java_opens() + ["-cp", build.classpath(), "perfbench.PerfBench",
                        "--workload", "oracle_sql", "--out", str(sql_file)], check=True)
        oracle = json.loads(sql_file.read_text())
        gen_tables.documents(f"{tmp}/documents.parquet")
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        checks.table_views(con, tmp, ["documents"])
        gates = {g: checks.digest(con, oracle[g]) for g in LLM_GATES}
    doc = {"corpus": {"seed": gen_tables.CORPUS_SEED, "documents": gen_tables.CORPUS_DOCS,
                      "duckdb": duckdb.__version__},
           "gates": gates}
    (HERE / "digests.json").write_text(json.dumps(doc, indent=1, ensure_ascii=False) + "\n")
    print(json.dumps(gates, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
