#!/usr/bin/env python3
"""Compare two graft Bench records per query, annotating each delta from
the record's own instrument fields (passes / gc_ms / codegen_compiles /
steal_pre / host) so cross-record divergence no longer needs
hand-adjudication (VERDICT r13 item 3: the 223.4 s driver vs 201.9 s
builder record at the same HEAD took manual work; this makes it one
command).

Usage:
    python3 tools/bench_compare.py A.json B.json [--top N] [--abs-floor MS]

Per query it joins the two records on name, reports min-pass wall A->B,
the ratio, and annotations such as:
  - "A min from contaminated pass" — the chosen min pass sits inside a
    run whose host steal delta dwarfs the other record's;
  - "codegen-cold pass 1 (A)" — pass 1 compiled codegen where pass 2
    compiled none, so a 1-pass record would have been unfair;
  - "gc-hot (B 83% of wall)" — gc_ms of the min pass vs its wall;
  - "pass spread 2.4x (A)" — the two passes disagree wildly, the min is
    fragile.
Record-level header prints total, steal_pre, host loadavg/steal deltas,
and flags the louder record.  Exit code 0 normally (it is a report, not
a gate), EXCEPT on a pass-count mismatch with no per-pass detail to
recover a pass-matched comparison from — then it refuses with exit 2,
because min-of-N totals at different N are not comparable (VERDICT r15
item 4/5).
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        # records are one JSON line (possibly with trailing newline)
        return json.loads(f.read().strip())


def steal_delta(rec):
    """Total host steal jiffies accrued across the run (host snapshots
    bracket every pass: pre, between, post)."""
    snaps = rec.get("host") or []
    vals = [s.get("steal_jiffies") for s in snaps if isinstance(s, dict)]
    vals = [v for v in vals if v is not None]
    if len(vals) < 2:
        return None
    return vals[-1] - vals[0]


def per_pass_steal(rec):
    """Steal jiffies accrued during each pass. Prefers the record's own
    `pass_steal` field (r15+: stamped around each pass directly, and
    the basis of the in-run retry); falls back to deltas of the host
    snapshots that bracket every pass."""
    ps = rec.get("pass_steal")
    if isinstance(ps, list) and ps:
        return ps
    snaps = rec.get("host") or []
    vals = [s.get("steal_jiffies") for s in snaps if isinstance(s, dict)]
    vals = [v for v in vals if v is not None]
    return [b - a for a, b in zip(vals, vals[1:])]


def clean_note(rec, label):
    """One-line kept-pass steal summary for an r15+ record."""
    ps = rec.get("pass_steal")
    if not isinstance(ps, list) or not ps:
        return None
    thr = rec.get("steal_threshold")
    clean = rec.get("clean_passes", [])
    ncw = rec.get("no_clean_window")
    s = (f"{label}: pass_steal={ps} threshold={thr} "
         f"clean_passes={clean}")
    if ncw:
        s += "  !! NO CLEAN WINDOW — total not comparable cross-round"
    return s


def fmt(v, nd=2):
    return "-" if v is None else f"{v:.{nd}f}"


def annotate(name, da, db, steal_a, steal_b):
    """Build annotation strings for one query from both details."""
    notes = []

    def good_passes(d):
        return [p for p in d.get("passes", []) if p is not None and p >= 0]

    for label, d, steals in (("A", da, steal_a), ("B", db, steal_b)):
        if "passes" not in d:
            # no query_detail entry is "not instrumented", which must
            # not read as "every pass failed"
            notes.append(f"{label}: no per-pass detail in record")
            continue
        ps = good_passes(d)
        if not ps:
            notes.append(f"{label}: failed all passes")
            continue
        mn = min(ps)
        mi = d["passes"].index(mn)
        # real JVM pause time when the record carries it (r15+:
        # gc_pause_ms is the single-JVM MXBean delta); fall back to the
        # task-summed jvmGCTime, which multi-counts one pause up to the
        # task-slot count (>100% shares mean allocation-bound, not
        # literal pause time)
        gcp = d.get("gc_pause_ms")
        gc = gcp if gcp else d.get("gc_ms", [])
        gc_kind = "gc-pause" if gcp else "gc(task-summed)"
        cg = d.get("codegen_compiles", [])
        if mi < len(gc) and gc[mi] is not None and mn > 0:
            share = gc[mi] / (mn * 1000.0)
            if share >= (0.25 if gcp else 0.5):
                notes.append(f"{label}: {gc_kind}-hot "
                             f"({share:.0%} of min-pass wall)")
        # min chosen from a steal-contaminated QUERY window (r15+
        # records stamp per-query steal)
        qsteal = d.get("steal", [])
        if mi < len(qsteal) and qsteal[mi] is not None and qsteal[mi] > 500:
            notes.append(f"{label}: min pass stole {qsteal[mi]} jiffies "
                         f"during this query")
        # codegen-cold first pass: pass 1 compiled, min came from pass 2+
        if len(cg) >= 2 and cg[0] and cg[0] > 0 and mi > 0:
            notes.append(f"{label}: codegen-cold pass 1 ({cg[0]} compiles)")
        # min chosen from a steal-contaminated pass (vs the run's
        # cleanest pass) — the min is then an UPPER bound, not clean
        if steals and mi < len(steals):
            clean = min(steals)
            if steals[mi] > max(10 * max(clean, 1), clean + 5000):
                notes.append(
                    f"{label}: min from contaminated pass "
                    f"(steal {steals[mi]} vs cleanest {clean})")
        if len(ps) >= 2:
            spread = max(ps) / mn if mn > 0 else 0
            if spread >= 2.0:
                notes.append(f"{label}: pass spread {spread:.1f}x "
                             f"({fmt(mn)}..{fmt(max(ps))})")
    return notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--top", type=int, default=25,
                    help="show the N largest absolute deltas (default 25)")
    ap.add_argument("--abs-floor", type=float, default=100.0,
                    help="ignore deltas under this many ms (default 100)")
    args = ap.parse_args()

    ra, rb = load(args.a), load(args.b)
    qa, qb = ra.get("queries", {}), rb.get("queries", {})
    da, db = ra.get("query_detail", {}), rb.get("query_detail", {})
    steal_a, steal_b = per_pass_steal(ra), per_pass_steal(rb)

    # Cross-pass-count totals are NOT comparable: min-of-N shrinks
    # monotonically with N (r15: a 4-pass record read ~0.84x a 2-pass
    # record of identical code). Refuse the headline ratio and, when
    # per-pass detail exists on both sides, recompute a pass-matched
    # comparison over the first k = min(passes) passes of each record.
    pa, pb = ra.get("passes"), rb.get("passes")
    pass_mismatch = (pa is not None and pb is not None and pa != pb)
    if pass_mismatch:
        print("!!" * 35)
        print(f"!! PASS-COUNT MISMATCH: A passes={pa}, B passes={pb}.")
        print("!! Headline totals are NOT comparable (min-of-N shrinks "
              "with N).")
        k = min(pa, pb)
        if da and db:
            # cut every per-pass series to the first k passes, so the
            # notes annotate() writes cite only passes the matched
            # minimum could have picked
            def first_k(d):
                return {f: v[:k] if isinstance(v, list) else v
                        for f, v in d.items()}
            da = {q: first_k(d) for q, d in da.items()}
            db = {q: first_k(d) for q, d in db.items()}
            steal_a, steal_b = steal_a[:k], steal_b[:k]

            def matched_min(d):
                ps = [p for p in d.get("passes", [])
                      if p is not None and p >= 0]
                return min(ps) if ps else None
            qa = {q: matched_min(d) for q, d in da.items()}
            qa = {q: v for q, v in qa.items() if v is not None}
            qb = {q: matched_min(d) for q, d in db.items()}
            qb = {q: v for q, v in qb.items() if v is not None}
            print(f"!! Comparing min over the FIRST {k} passes of each "
                  "record instead (pass-matched).")
        else:
            print("!! No per-pass detail on both sides — refusing the "
                  "per-query comparison.")
            print("!!" * 35)
            return 2
        print("!!" * 35)

    print(f"A: {args.a}  total={ra.get('value')}s  sf={ra.get('sf')}  "
          f"passes={ra.get('passes')}  "
          f"steal_pre={ra.get('steal_pre')}  run_steal={steal_delta(ra)}")
    print(f"B: {args.b}  total={rb.get('value')}s  sf={rb.get('sf')}  "
          f"passes={rb.get('passes')}  "
          f"steal_pre={rb.get('steal_pre')}  run_steal={steal_delta(rb)}")
    for rec, label in ((ra, "A"), (rb, "B")):
        note = clean_note(rec, label)
        if note:
            print(note)
    sa, sb = steal_delta(ra), steal_delta(rb)
    if sa is not None and sb is not None and min(sa, sb) >= 0:
        louder = "A" if sa > sb else "B"
        if max(sa, sb) > 3 * max(min(sa, sb), 1) and max(sa, sb) > 10000:
            print(f"!! record {louder} ran on a much louder host "
                  f"(steal {max(sa, sb)} vs {min(sa, sb)} jiffies) — "
                  f"expect its times inflated across the board")
    only_a = sorted(set(qa) - set(qb))
    only_b = sorted(set(qb) - set(qa))
    if only_a:
        print(f"only in A ({len(only_a)}): {', '.join(only_a[:10])}"
              + (" ..." if len(only_a) > 10 else ""))
    if only_b:
        print(f"only in B ({len(only_b)}): {', '.join(only_b[:10])}"
              + (" ..." if len(only_b) > 10 else ""))

    common = sorted(set(qa) & set(qb))
    shared_a = sum(qa[q] for q in common)
    shared_b = sum(qb[q] for q in common)
    print(f"common queries: {len(common)}  "
          f"shared-total A={shared_a:.1f}s B={shared_b:.1f}s  "
          f"ratio B/A={shared_b / shared_a:.3f}" if shared_a else "")
    ratios = sorted(qb[q] / qa[q] for q in common
                    if qa[q] > 0 and qb[q] > 0)
    if ratios:
        med = ratios[len(ratios) // 2]
        print(f"median per-query ratio B/A: {med:.3f}")

    rows = []
    for q in common:
        d = qb[q] - qa[q]
        if abs(d) * 1000 < args.abs_floor:
            continue
        rows.append((abs(d), q, qa[q], qb[q], d))
    rows.sort(reverse=True)
    print(f"\ntop {min(args.top, len(rows))} deltas (|delta| >= "
          f"{args.abs_floor:.0f} ms), B-A:")
    for _, q, va, vb, d in rows[:args.top]:
        ratio = vb / va if va > 0 else float("inf")
        notes = annotate(q, da.get(q, {}), db.get(q, {}), steal_a, steal_b)
        note_s = ("  [" + "; ".join(notes) + "]") if notes else ""
        print(f"  {q:<34} {va:7.2f} -> {vb:7.2f}  "
              f"{d:+7.2f}s  x{ratio:.2f}{note_s}")


if __name__ == "__main__":
    sys.exit(main())
