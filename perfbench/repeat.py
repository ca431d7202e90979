#!/usr/bin/env python3
"""Repeatability check: run the same commit repeatedly and report spreads.

Usage (from the repository root):

    python3 perfbench/repeat.py [--runs 10] [--first-seed 1] [--workloads a,b] [--traced K]
                                [--against .bench_build/repeat-<time>.json]

Runs `perfbench/run.py` `--runs` times per workload, each with another
seed, with BENCHMARK.json's `run_seconds`. For every end-to-end metric it
prints the median, the interquartile range (IQR), the spread (IQR as a
share of the median, as `statistics.quantiles(values, n=4)` gives the
quartiles) and that spread against the metric's bound. `setup_s` is judged
on its median only, so its spread is shown but not held to the bound.

`--traced K` also makes K traced runs per workload and prints the tracing
overhead: the traced runs' end-to-end medians against the untraced ones.
Raw values go to `.bench_build/repeat-<time>.json`. `--against` takes such a
file from an earlier set of runs and prints, for every metric, how far this
set's median moved from that set's and whether it stays within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect")
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        with open(os.path.join(ROOT, ".bench_build", "layers", f"{workload}-seed{seed}.json")) as f:
            values = {k: v["value"] for k, v in json.load(f)["end_to_end_traced"].items()}
    return values, wall


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--against")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)
    raw = {}
    for w in args.workloads.split(","):
        runs, walls = [], []
        for i in range(args.runs):
            values, wall = run_once(w, args.first_seed + i, bench["run_seconds"], 0)
            runs.append(values)
            walls.append(wall)
            print(f"{w} seed {args.first_seed + i}: {wall:.0f}s", file=sys.stderr, flush=True)
        traced = [run_once(w, args.first_seed + i, bench["run_seconds"], 1)[0] for i in range(args.traced)]
        raw[w] = {"untraced": runs, "traced": traced, "wall_s": walls}
        print(f"\n{w}: {len(runs)} runs, median wall {statistics.median(walls):.0f}s per run")
        print(f"  {'metric':<18} {'median':>12} {'IQR':>12} {'spread':>8} {'bound':>6} {'spread/bound':>13}")
        for name, bound in bounds.items():
            vals = [r[name] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            sp = spans.spread(vals)
            note = "  (median only)" if name == "setup_s" else ("" if sp < bound / 3 else "  ABOVE bound/3")
            print(f"  {name:<18} {med:>12.4g} {q3 - q1:>12.4g} {sp:>8.3f} {bound:>6.2f} {sp / bound:>13.2f}{note}")
        if traced:
            print(f"  tracing overhead ({len(traced)} traced runs): traced median / untraced median - 1")
            for name in bounds:
                t = statistics.median(r[name] for r in traced)
                u = statistics.median(r[name] for r in runs)
                print(f"    {name:<18} {t / u - 1:+.3f}")
        if w in earlier:
            print(f"  against {args.against}: this median / earlier median - 1")
            for name, bound in bounds.items():
                e = statistics.median(r[name] for r in earlier[w]["untraced"])
                change = statistics.median(r[name] for r in runs) / e - 1
                print(f"    {name:<18} {change:+.3f}  {'within' if abs(change) <= bound else 'OUTSIDE'} {bound:.2f}")
    out = os.path.join(ROOT, ".bench_build", f"repeat-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(raw, f)
    print(f"\nraw values: {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
