#!/usr/bin/env python3
"""Fast self-test of the benchmark: one small pass per workload.

Runs every workload once untraced and once traced at scale factor
0.001, with a one-second budget so each run does a single lap. Checks
that every op passes, and that each metric BENCHMARK.json names is
printed with its unit. Run from the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", SF],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            out = run(workload, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {name: m["unit"] for name, m in out["metrics"].items()}
            assert got == want, f"{workload} {section}: {sorted(set(got) ^ set(want))}"
            assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())
            if trace:
                assert out["metrics"]["fail_frac"]["value"] == 0
            print(f"ok {workload} trace={trace} attempted={out['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
