#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every run.

    python3 perfbench/sweep.py --out RUNS.jsonl [--seeds 1-10] [--trace 0]
                               [--workloads W ...] [--seconds S]

Runs one workload at a time, seed by seed, with run.py and appends each
record to RUNS.jsonl; then prints `compare.py RUNS.jsonl`. Defaults come
from BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    for w in a.workloads:
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", str(a.trace), "--record", a.out],
                               stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"{w} seed {s}: exit {r.returncode} {last[:160]}", flush=True)
    if a.trace == 0:
        return subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), a.out]).returncode
    return 0


if __name__ == "__main__":
    sys.exit(main())
