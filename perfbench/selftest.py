#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--seconds 8] [--workloads rcmn_request,...]

1. Inputs: the generator's digest over the stored fixtures and the first
   20 per-op inputs is identical for one seed and differs for another.
2. Counters: two traced runs of one seed record identical jobs, stages,
   tasks and pins for every operation both runs reached, and identical
   per-layer medians of those counts.

Exits 0 when every check passes.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

EXACT = ("jobs", "stages", "tasks", "pins")


def digest(classes, seed):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--digest", "20",
                          "--seed", str(seed)], check=True, capture_output=True, text=True)
    return out.stdout.strip().splitlines()[-1]


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"traced run of {workload} failed")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = os.path.join(run.OUT_DIR, f"trace-{workload}-{seed}.json")
    with open(path) as f:
        ops = {o["op"]: o for o in json.load(f)["ops"]}
    shutil.move(path, path + f".{len(os.listdir(run.OUT_DIR))}")
    return result, ops


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    a = ap.parse_args()
    classes, _ = build.build()
    failures = []

    d1, d2, d3 = digest(classes, 7), digest(classes, 7), digest(classes, 8)
    print(f"inputs: seed 7 -> {d1[:16]}, again -> {d2[:16]}, seed 8 -> {d3[:16]}")
    if d1 != d2:
        failures.append("same seed gave different inputs")
    if d1 == d3:
        failures.append("different seeds gave identical inputs")

    for w in a.workloads.split(","):
        (r1, ops1), (r2, ops2) = traced(w, 5, a.seconds), traced(w, 5, a.seconds)
        common = sorted(set(ops1) & set(ops2))
        diff = [(i, k, ops1[i][k], ops2[i][k]) for i in common for k in EXACT
                if ops1[i][k] != ops2[i][k]]
        medians = [k for k in r1["metrics"] if k.split(".")[-1] in EXACT
                   and r1["metrics"][k]["value"] != r2["metrics"][k]["value"]]
        print(f"{w}: {len(common)} common ops, {len(diff)} per-op differences, "
              f"{len(medians)} differing medians")
        if not common:
            failures.append(f"{w}: the two runs share no operation")
        if diff:
            failures.append(f"{w}: per-op counts differ, first: {diff[:3]}")
        if medians:
            failures.append(f"{w}: medians differ: {medians}")

    for f in failures:
        print("FAIL:", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
