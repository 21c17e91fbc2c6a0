#!/usr/bin/env python3
"""Which layer moved: compare the per-layer metrics of two sets of traced runs.

    python3 perfbench/layerdiff.py BASE NEW [--threshold 0.10]

BASE and NEW are each a `layers.json` written by a traced run
(`run.py --trace 1`) or a directory searched for them, such as a copy of
`.bench_build/results/`. Runs are grouped by workload; a workload with
several runs on one side is represented by the median of each metric.
For every workload present on both sides, the report lists each per-layer
metric whose median changed by more than the threshold (a share of the
base, default 10%), with its base and new values, grouped by layer. The
base's own spread across its runs is shown too, so a move inside the noise
reads as such.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "layers.json"), recursive=True))
    runs = {}
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        runs.setdefault(d["workload"], []).append(d["layers"])
    return runs


def summarize(runs):
    names = sorted({k for r in runs for k in r})
    out = {}
    for k in names:
        xs = [r[k] for r in runs if k in r]
        out[k] = (statistics.median(xs), (max(xs) - min(xs)) if len(xs) > 1 else None)
    return out


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=0.10,
                    help="report changes above this share of the base (default 0.10)")
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    if not base or not new:
        sys.exit("layerdiff: no layers.json found on one side")
    for w in sorted(set(base) & set(new)):
        b, n = summarize(base[w]), summarize(new[w])
        moved = []
        for k in sorted(set(b) & set(n)):
            (bv, bspread), (nv, _) = b[k], n[k]
            if bv == nv:
                continue
            rel = (nv - bv) / abs(bv) if bv else float("inf")
            if abs(rel) > a.threshold:
                moved.append((k, bv, nv, rel, bspread))
        print(f"== {w}: {len(base[w])} base run(s), {len(new[w])} new run(s); "
              f"{len(moved)} of {len(b)} per-layer metrics moved by more than "
              f"{a.threshold:.0%}")
        layer = None
        for k, bv, nv, rel, spread in moved:
            if k.split(".")[0] != layer:
                layer = k.split(".")[0]
                print(f"  [{layer}]")
            change = "new" if rel == float("inf") else f"{rel:+.1%}"
            noise = "" if spread is None else f"  (base range {fmt(spread)})"
            print(f"    {k:<28} base {fmt(bv):>10}  new {fmt(nv):>10}  {change}{noise}")
    for w in sorted(set(base) ^ set(new)):
        print(f"== {w}: only in {'base' if w in base else 'new'}")


if __name__ == "__main__":
    main()
