#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny input sizes (a few minutes).

    python3 perfbench/smoke.py

Runs every workload untraced and traced, and asserts that each run emits
every named metric with its unit and no failed answer; then checks that a
forced wrong answer (``--corrupt``) makes the command fail, and that
BENCHMARK.json at the checkout root names the same metrics and units and
every workload except ``etl_ingest``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return p.returncode, result, p.stdout + p.stderr[-3000:]


def check_result(workload: str, trace: int, units: dict) -> None:
    rc, res, log = bench(workload, trace)
    assert rc == 0 and res is not None, f"{workload} trace={trace} rc={rc}\n{log}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    for name, unit in units.items():
        m = res["metrics"].get(name)
        assert m is not None, f"{workload}: metric {name} missing"
        assert m["unit"] == unit, f"{workload}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), (name, m)
    assert set(res["metrics"]) == set(units), set(res["metrics"]) ^ set(units)
    if not trace:
        for name in E2E:
            assert res["metrics"][name]["value"] > 0, f"{workload}: {name} is 0"
    print(f"ok {workload} trace={trace}: {len(units)} metrics, "
          f"{res['attempted']} answers checked", flush=True)


def check_manifest() -> None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    # etl_ingest runs here and by hand, but is not one of the gated workloads
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) - {"etl_ingest"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    print("ok BENCHMARK.json matches the emitted metrics", flush=True)


def main() -> int:
    check_manifest()
    for workload in WORKLOADS:
        check_result(workload, 0, E2E)
        check_result(workload, 1, PER_LAYER)
    rc, res, log = bench("tile_join", 0, "--corrupt")
    assert rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1, log
    print("ok a forced wrong answer fails the run", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
