#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (about five minutes on 4 cores).

    python3 perfbench/smoke.py

For every workload in ``run.py``, untraced and traced, it checks that the run
prints every metric named in ``BENCHMARK.json`` with its unit and that no
operation failed (``fail_frac == 0``). One more run perturbs an expected
count and checks that the oracle comparison flags it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for workload in bench.WORKLOADS:
        for trace in (0, 1):
            res = run(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            missing = {k: u for k, u in want[trace].items() if got.get(k) != u}
            assert not missing, f"{workload} trace={trace}: missing or wrong unit: {missing}"
            assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"], (workload, trace, res)
            print(f"ok   {workload} trace={trace}: {len(got)} metrics, fail_frac=0 over {res['attempted']} ops")
    res = run("window_query", 0, "--perturb-oracle")
    assert res["failed"] >= 1 and not res["correct"], res
    print("ok   perturbed expected count is flagged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
