#!/usr/bin/env python3
"""The benchmark's own test. From the root of a checkout:

    python3 perfbench/selftest.py [workload ...]

1. BENCHMARK.json names exactly the metrics run.py prints, with their units.
2. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
3. For each workload (default: all), a traced run is correct, prints every
   per-layer metric as a number, reports work in each of the workload's
   own spans, and its job, shuffle-byte and written-byte counters are
   identical across its traced passes.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def check_manifest() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()


def check_refuses_without_engine() -> None:
    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", run.WORKLOADS[0],
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    assert p.returncode != 0, "ran without the engine's sources"
    assert '"correct"' not in p.stdout, "printed a result without the engine's sources"


def own_spans(workload: str) -> list:
    if workload == "taxi_etl":
        return [f"taxi.{s}" for s in run.TAXI_STAGES]
    return run.DASHBOARD_SPANS + [f"llm.{g}" for g in run.LLM_GATES]


def check_traced(workload: str) -> None:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "10", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    context = json.loads(lines[-2])["context"]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stderr[-2000:]
    assert context["counters_identical"], p.stderr[-2000:]
    metrics = result["metrics"]
    assert [n for n, _ in run.per_layer_metrics()] == list(metrics)
    assert all(isinstance(m["value"], (int, float)) for m in metrics.values())
    for span in own_spans(workload):
        assert metrics[f"{span}.jobs"]["value"] > 0, span
    print(f"{workload}: traced run ok, overhead {metrics['trace.overhead_s']['value']:.3f} s")


def main() -> int:
    check_manifest()
    check_refuses_without_engine()
    for w in sys.argv[1:] or run.WORKLOADS:
        check_traced(w)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
