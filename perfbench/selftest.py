#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest sizes.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``run.py`` at
``--size small``: once untraced, checking that every end-to-end metric
prints with its unit and the output digest matches; once traced,
checking the same for every per-layer metric; and once with one output
row (or query result) corrupted, checking that the digest check fires.
Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace),
        "--size", "small", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def check_metrics(label: str, result: dict, spec: list) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        sys.exit(f"FAIL {label}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        if got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
            sys.exit(f"FAIL {label}: {name} = {got[name]}, want a number in {unit}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = run(wl, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                sys.exit(f"FAIL {wl} trace {trace}: {res['failed']}/{res['attempted']} failed")
            check_metrics(f"{wl} trace {trace}", res, spec)
            print(f"ok   {wl} trace {trace}: {len(spec)} metrics, "
                  f"{res['attempted']} checked operations", flush=True)
        res = run(wl, 0, "--corrupt")
        if res["correct"] or res["failed"] < 1:
            sys.exit(f"FAIL {wl}: a corrupted output passed the digest check")
        print(f"ok   {wl}: corrupted output caught ({res['failed']}/{res['attempted']} failed)",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
