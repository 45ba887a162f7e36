#!/usr/bin/env python3
"""Summarise or compare sets of benchmark runs.

    python3 perfbench/compare.py RUNS.jsonl            # spread of one set
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # NEW against BASE

RUNS files hold the records `run.py --record` appends, one per run.
For each workload and end-to-end metric of BENCHMARK.json this prints
the median and quartiles (statistics.quantiles, n=4) of each set.

One set: the spread is (Q3 - Q1) / median. A set passes when every
spread, except that of setup_s, is within its metric's bound; the
`of bound` column shows how much of the bound the spread uses.

Two sets: the verdict says whether NEW's median is worse than BASE's by
more than the metric's bound ("REGRESSION"), better by more than the
bound ("better"), or neither ("within bound"). Sets whose records carry
different environment stamps are refused: their numbers do not compare.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def load_runs(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def env_stamps(runs):
    return {json.dumps(r["env"], sort_keys=True) for r in runs}


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def series(runs, workload, metric):
    return [r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == 0 and metric in r["metrics"]]


def steal_per_s(runs):
    """Steal jiffies per timed second, per run: how clean the host was."""
    out = []
    for r in runs:
        d = r["host"]["after"]["steal_jiffies"] - r["host"]["before"]["steal_jiffies"]
        out.append(d / max(r["detail"]["timed_phase_s"], 1e-9))
    return out


def spread_report(bench, runs):
    ok = True
    print(f"{'workload':24} {'metric':18} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'of bound':>8}  verdict")
    for w in bench["workloads"]:
        for m in bench["end_to_end"]:
            v = series(runs, w["name"], m["name"])
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / med
            if m["name"] == "setup_s":
                verdict = "not gated"
            elif spread <= m["bound"]:
                verdict = "within bound"
            else:
                verdict = "TOO WIDE"
                ok = False
            print(f"{w['name']:24} {m['name']:18} {len(v):3d} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                  f"{spread:7.3f} {m['bound']:6.2f} {spread / m['bound']:8.2f}  {verdict}")
    s = steal_per_s(runs)
    if s:
        print(f"host steal: median {statistics.median(s):.1f} jiffies per timed second "
              f"over {len(s)} runs")
    return ok


def compare_report(bench, base, new):
    regress = False
    print(f"{'workload':24} {'metric':18} {'base median [q1, q3]':>34} "
          f"{'new median [q1, q3]':>34} {'change':>8}  verdict")
    for w in bench["workloads"]:
        for m in bench["end_to_end"]:
            a = series(base, w["name"], m["name"])
            b = series(new, w["name"], m["name"])
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1]
            worse = change if m["better"] == "lower" else -change
            if worse > m["bound"]:
                verdict = "REGRESSION"
                regress = True
            elif -worse > m["bound"]:
                verdict = "better"
            else:
                verdict = "within bound"
            fa = f"{qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
            fb = f"{qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}]"
            print(f"{w['name']:24} {m['name']:18} {fa:>34} {fb:>34} {change:+8.3f}  "
                  f"{verdict} (bound {m['bound']})")
    return not regress


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    bench = load_bench()
    sets = [load_runs(p) for p in argv[1:]]
    stamps = set().union(*(env_stamps(s) for s in sets))
    if len(stamps) != 1:
        print("refused: the records carry different environment stamps:", file=sys.stderr)
        for s in sorted(stamps):
            print("  " + s, file=sys.stderr)
        return 2
    ok = spread_report(bench, sets[0]) if len(sets) == 1 else compare_report(bench, *sets)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
