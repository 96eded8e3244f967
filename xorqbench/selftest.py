#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with a few operations per
workload. Run from the repository root:

    python3 xorqbench/selftest.py

It checks that every name in BENCHMARK.json is used once, and for
every workload that
  1. an untraced run passes and emits every end-to-end metric of
     BENCHMARK.json with its unit, and nothing else;
  2. a traced run emits every per-layer metric with its unit, and its
     detail line carries the same end-to-end metric names;
  3. a run with a planted wrong expected checksum counts the failure
     in fail_frac and exits nonzero.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, plant=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--sf", "0.001", "--plant-wrong", str(plant)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2 or not lines[-2].startswith("xorqbench detail: "):
        return p.returncode, None, None
    detail = json.loads(lines[-2][len("xorqbench detail: "):])
    return p.returncode, detail, json.loads(lines[-1])


def units(metrics):
    return {k: v["unit"] for k, v in metrics.items()}


def main():
    problems = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    names = ([m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
             + [w["name"] for w in SPEC["workloads"]])
    check(len(names) == len(set(names)), "every name in BENCHMARK.json is used once")

    for w in WORKLOADS:
        code, detail, res = run(w, 0)
        check(code == 0 and res is not None and res["correct"]
              and res["failed"] == 0 and res["attempted"] >= 1,
              f"{w}: untraced run passes")
        if res is None:
            continue
        check(units(res["metrics"]) == E2E,
              f"{w}: untraced run emits every end-to-end metric with its unit")
        check(all(v["value"] > 0 for v in res["metrics"].values()),
              f"{w}: every end-to-end metric is nonzero")

        code, tdetail, tres = run(w, 1)
        check(code == 0 and tres is not None and tres["correct"],
              f"{w}: traced run passes")
        if tres is not None:
            check(units(tres["metrics"]) == LAYER,
                  f"{w}: traced run emits every per-layer metric with its unit")
            check(set(tdetail["end_to_end"]) == set(res["metrics"]),
                  f"{w}: traced and untraced runs emit the same end-to-end names")

        code, pdetail, pres = run(w, 0, plant=1)
        check(code == 1 and pres is not None and pres["failed"] >= 1
              and not pres["correct"] and pdetail["fail_frac"] > 0,
              f"{w}: a planted wrong checksum is counted in fail_frac")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
