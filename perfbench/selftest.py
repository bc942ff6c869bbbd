#!/usr/bin/env python3
"""Self-test of the benchmark at ``--size tiny``.

    python3 perfbench/selftest.py

* every workload runs once, passes its oracle and prints every end-to-end
  metric of ``BENCHMARK.json`` with its unit;
* a traced run of each listed workload prints every per-layer metric with
  its unit;
* ``--corrupt-oracle`` (one expected value perturbed) is counted: the run
  still exits 0 and prints its metrics, with ``failed`` > 0.

Exits non-zero on the first check that does not hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOAD_NAMES  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace} {extra}: "
                         f"exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(res: dict, declared: list, label: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"FAIL {label}: result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise SystemExit(f"FAIL {label}: attempted {res['attempted']}")
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(
                got["value"], (int, float)):
            raise SystemExit(f"FAIL {label}: metric {m['name']} -> {got}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    for w in WORKLOAD_NAMES:
        res = run(w, 0)
        expect_metrics(res, bench["end_to_end"], w)
        if not res["correct"] or res["failed"]:
            raise SystemExit(f"FAIL {w}: oracle mismatch on a clean run")
        print(f"ok   {w}: end-to-end metrics, {res['attempted']} ops pass")
    for w in listed:
        res = run(w, 1)
        expect_metrics(res, bench["per_layer"], f"{w} traced")
        print(f"ok   {w}: per-layer metrics")
        res = run(w, 0, "--corrupt-oracle")
        expect_metrics(res, bench["end_to_end"], f"{w} corrupted")
        if res["correct"] or res["failed"] < 1:
            raise SystemExit(f"FAIL {w}: corrupted oracle not counted")
        print(f"ok   {w}: corrupted oracle counted, failed_frac = "
              f"{res['failed']}/{res['attempted']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
