#!/usr/bin/env python3
"""Smoke check of the benchmark.

    python3 perfbench/smoke.py            # from the root of a checkout

Runs every workload once untraced and once traced, on the declared
inputs with a 1 s window (one measured job) and a seed past 2**32, and
checks the result line against BENCHMARK.json: the four keys,
``correct``, no failed job, exactly the declared metrics with their
units, finite values. Then runs the benchmark in a directory that holds
only BENCHMARK.json and perfbench/, where it must fail without printing
a result. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# a seed past 2**32, so the seed's mapping to inputs and samples is
# checked at the far end of its range
SEED = 2 ** 32 + 1234567


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(bench: dict, workload: str, trace: int) -> None:
    p = run(ROOT, workload, trace)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                        f"failed={res.get('failed')}")
    got = res.get("metrics", {})
    if set(got) != set(want):
        problems.append(f"metrics differ: {sorted(set(got) ^ set(want))}")
    for k, m in got.items():
        if m.get("unit") != want.get(k) or not math.isfinite(m.get("value", math.nan)):
            problems.append(f"{k}: {m}")
    if problems:
        sys.exit(f"{workload} trace={trace}: " + "; ".join(problems))
    print(f"ok {workload} trace={trace}")


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = run(bare, "single_pass", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        sys.exit(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    print("ok bare directory fails")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_bare_dir()
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_result(bench, w["name"], trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
