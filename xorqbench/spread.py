#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. Run from the
repository root:

    python3 xorqbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark --runs times per workload (default: every workload
in BENCHMARK.json), each with its own seed, and prints for every
end-to-end metric the median, the quartiles as
statistics.quantiles(values, n=4) gives them, and the interquartile
distance as a share of the median next to the metric's bound. Every
run's result line is appended to .bench_build/xorqbench/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
LOG = os.path.join(ROOT, ".bench_build", "xorqbench", "spread.jsonl")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    workloads = a.workloads or [w["name"] for w in SPEC["workloads"]]
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    worst = 0.0
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", flush=True)
                continue
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2].split(": ", 1)[1])
            with open(LOG, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": res,
                                    "noise": detail["noise"]}) + "\n")
            for m in values:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={res['metrics'][m]['value']:.4g}" for m in values)
                + f" steal_s={detail['noise']['steal_s']:.2f}", flush=True)
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            if m != "setup_s":
                worst = max(worst, share / bounds[m])
            print(f"  {w} {m}: median {med:.4g} quartiles {q1:.4g}..{q3:.4g} "
                  f"spread {share:.3f} (bound {bounds[m]})", flush=True)
    print(f"largest spread / bound (setup_s aside): {worst:.2f}")


if __name__ == "__main__":
    main()
