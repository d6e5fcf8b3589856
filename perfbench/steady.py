#!/usr/bin/env python3
"""Check that the benchmark is steady, and measure the tracing overhead.

    python3 perfbench/steady.py [--workloads ingest,analytics] [--runs 10]
        [--sets 2] [--seed 1] [--traced 1]

Runs every workload `runs` times per set, each run with its own seed, for
`sets` sets. For each end-to-end metric it prints the median, the
quartiles and the spread (q3 - q1) / median of every set, whether that
spread is within the metric's bound in BENCHMARK.json, and whether each
later set's median is no worse than the first set's by more than the
bound. Then it makes `traced` runs with --trace 1 and prints the tracing
overhead: the traced op_p50_s minus the untraced one. A summary is
written to perfbench/target/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed: exit {p.returncode}")
    r = json.loads(lines[-1])
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=1)
    args = ap.parse_args()

    summary, seed, ok = {}, args.seed, True
    for w in args.workloads.split(","):
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(run(w, seed, bench["run_seconds"], 0))
                seed += 1
            sets.append(runs)
        summary[w] = {}
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            rows = []
            for i, runs in enumerate(sets):
                q1, med, q3 = quartiles([r[name] for r in runs])
                spread = (q3 - q1) / med
                worse = (med / quartiles([r[name] for r in sets[0]])[1] - 1) * (1 if lower else -1)
                steady = spread <= bound
                agree = worse <= bound
                ok = ok and steady and agree
                rows.append({"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "spread_within_bound": steady, "worse_than_set1": worse,
                             "agrees_with_set1": agree})
                print(f"{w:10s} {name:18s} set {i + 1}: median {med:.5g} q1 {q1:.5g} q3 {q3:.5g} "
                      f"spread {spread:.3f} (bound {bound}, a third {bound / 3:.3f}) "
                      f"{'steady' if steady else 'NOT STEADY'}; vs set 1 {worse:+.3f} "
                      f"{'agrees' if agree else 'DISAGREES'}", flush=True)
            summary[w][name] = rows
        if args.traced:
            traced = [run(w, seed + i, bench["run_seconds"], 1)["trace.op_p50_s"]
                      for i in range(args.traced)]
            seed += args.traced
            untraced = statistics.median(r["op_p50_s"] for r in sets[0])
            overhead = statistics.median(traced) - untraced
            summary[w]["tracing_overhead_s"] = overhead
            print(f"{w:10s} tracing overhead: traced op_p50_s {statistics.median(traced):.5g} "
                  f"- untraced {untraced:.5g} = {overhead:+.5g} s", flush=True)
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    with open(os.path.join(HERE, "target", "steady.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
