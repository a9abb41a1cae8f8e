#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, on the same seed, and
asserts that
- each run exits 0 and its last stdout line is the contract object;
- every metric BENCHMARK.json names is emitted with its unit (end-to-end
  metrics, non-zero, by the untraced run; per-layer metrics by the traced
  one);
- no operation failed or differed from its oracle (failed_frac == 0);
- the traced run measured the tracing overhead against the untraced one;
- the workloads together run every query of bench.py's HEADLINE.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7

sys.path[:0] = [ROOT, HERE]


def check_headline_coverage() -> None:
    from bench import HEADLINE
    from workloads import BUILD_CHECKS, WORKLOADS

    ran = {q for steps, _build in WORKLOADS.values() for q in steps}
    ran |= set(BUILD_CHECKS.values())  # the build's edges stage is extract_edges
    missing = set(HEADLINE) - ran
    assert not missing, f"HEADLINE queries no workload runs: {sorted(missing)}"


def run_once(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, f"{workload}: exit {proc.returncode}\n{proc.stderr[-4000:]}"
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, line
    return line


def check_metrics(workload: str, line: dict, names: list[dict], nonzero: bool) -> None:
    for m in names:
        got = line["metrics"].get(m["name"])
        assert got is not None and got["unit"] == m["unit"], f"{workload}: {m['name']} -> {got}"
        assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']} -> {got}"
        assert got["value"] > 0 or not nonzero, f"{workload}: {m['name']} -> {got}"


def check_workload(workload: str, spec: dict) -> None:
    check_metrics(workload, run_once(workload, 0), spec["end_to_end"], nonzero=True)
    line = run_once(workload, 1)
    check_metrics(workload, line, spec["per_layer"], nonzero=False)
    results = glob.glob(os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed{SEED}-trace1-*.json"))
    with open(max(results, key=os.path.getmtime)) as f:
        result = json.load(f)
    assert result["end_to_end"]["failed_frac"] == 0
    assert result["trace_overhead_s"] is not None, f"{workload}: tracing overhead not measured"
    print(f"selftest: {workload} ok ({line['attempted']} operations, "
          f"tracing overhead {result['trace_overhead_s']:.2f} s)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_headline_coverage()
    for w in spec["workloads"]:
        check_workload(w["name"], spec)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
