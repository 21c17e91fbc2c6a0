#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at sf0.001 with a tiny load.

    python3 perfbench/smoke.py [WORKLOAD ...]

Runs each workload once untraced and once traced (`run.py --smoke`). Each
run must pass its output checks and emit exactly the metrics that
BENCHMARK.json names, with their units; end-to-end values must be positive.
A schema change then breaks this test, not a later benchmark run. Exits
non-zero on the first failure.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload, trace, spec):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        return f"exit {p.returncode}: {p.stderr[-2000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        return f"output checks failed: {result['failed']} of {result['attempted']}"
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == "0" else "per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        return f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} " \
               f"or units {[k for k in got if got[k] != want.get(k)]}"
    for k, v in result["metrics"].items():
        x = v["value"]
        if not isinstance(x, (int, float)) or not math.isfinite(x):
            return f"{k} is not a finite number: {x}"
        if trace == "0" and x <= 0:
            return f"end-to-end metric {k} is {x}"
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    failed = False
    for w in workloads:
        for trace in ("0", "1"):
            err = check(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if err is None else 'FAIL ' + err}", flush=True)
            failed |= err is not None
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
