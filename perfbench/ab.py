#!/usr/bin/env python3
"""Paired A/B compare of two checkouts with this benchmark.

    python3 perfbench/ab.py --parent <dir> --change <dir>
        [--pairs 10] [--workloads a,b]

Each directory is a checkout holding perfbench/. For every workload the
script runs --pairs pairs (at least 10), alternating which side runs first;
both runs of a pair use the same seed, each pair its own, and every run
measures BENCHMARK.json's run_seconds: the length whose spread the bounds
were set on. It prints one row
per (workload, metric) with both sides' median and quartiles, the change's
win rate and a verdict:

  gain        the change wins at least 0.9 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              inter-quartile range
  unresolved  the parent's run-to-run spread (IQR over median) exceeds the
              metric's bound, unless every change run beats every parent run
  regression  the change's median is worse than the parent's by more than
              the bound
  neutral     otherwise

Bounds and directions come from the change's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

MIN_PAIRS = 10
WIN_SHARE = 0.9
SEED0 = 1000  # pair i runs seed SEED0 + i on both sides


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def verdict(parent, change, better, bound):
    """`parent` and `change` are paired lists of one metric's values."""
    def beats(c, p):
        return c < p if better == "lower" else c > p
    n = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    q1, pm, q3 = quartiles(parent)
    cm = statistics.median(change)
    iqr = q3 - q1
    if wins >= WIN_SHARE * n and abs(cm - pm) > iqr:
        return "gain", wins / n
    all_better = all(beats(c, p) for c in change for p in parent)
    if pm and iqr / abs(pm) > bound and not all_better:
        return "unresolved", wins / n
    worse = (cm - pm) / abs(pm) if better == "lower" else (pm - cm) / abs(pm)
    if worse > bound:
        return "regression", wins / n
    return "neutral", wins / n


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{checkout}: {workload} seed {seed} reported incorrect output")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description="paired A/B compare of two checkouts")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--workloads")
    args = ap.parse_args()
    if args.pairs < MIN_PAIRS:
        ap.error(f"--pairs must be at least {MIN_PAIRS}")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    print(f"{'workload':16s} {'metric':18s} {'parent p50 [q1, q3]':32s} "
          f"{'change p50 [q1, q3]':32s} {'wins':>5s}  verdict")
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(getattr(args, side), w, SEED0 + i, seconds))
        for name, m in metrics.items():
            p = [r[name] for r in runs["parent"]]
            c = [r[name] for r in runs["change"]]
            v, share = verdict(p, c, m["better"], m["bound"])
            pq, cq = quartiles(p), quartiles(c)
            print(f"{w:16s} {name:18s} {pq[1]:10.4g} [{pq[0]:.4g}, {pq[2]:.4g}]{'':6s} "
                  f"{cq[1]:10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]{'':6s} {share:5.2f}  {v}")


if __name__ == "__main__":
    main()
