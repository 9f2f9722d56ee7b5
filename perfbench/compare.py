#!/usr/bin/env python3
"""Compare benchmark records of a parent and a change.

Usage:
  python3 perfbench/compare.py <parent_results_dir> [<change_results_dir>]

Each directory holds the `*.record.json` files `run.py` writes to
`<build dir>/results/`. With one directory, prints each end-to-end metric's
median, quartiles and spread (IQR ÷ median) per workload. With two, it
also prints the change's median against the parent's, the fraction of
seed-matched pairs the change wins (ties count for neither), and a verdict
against the metric's bound in BENCHMARK.json; then, from traced records, the
per-layer deltas per query.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
PER_QUERY = ["wall_s", "build_s", "execute_s", "jobs", "stages", "tasks", "task_s",
             "shuffle_write_bytes", "shuffle_records", "broadcast_bytes"]


def load(d):
    """{workload: [record, ...]} for the records in directory `d`."""
    out = defaultdict(list)
    for f in sorted(Path(d).glob("*.record.json")):
        r = json.loads(f.read_text())
        if not r.get("crashed"):
            out[r["workload"]].append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("nan")


def better(a, b, direction):
    """1 if `a` beats `b`, -1 if it loses, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a < b) == (direction == "lower") else -1


def e2e_values(records, name):
    return {r["seed"]: r["end_to_end"][name] for r in records if r["trace"] == 0}


def per_query(records):
    """{query: {counter: [value per traced pass]}} over the traced records."""
    acc = defaultdict(lambda: defaultdict(list))
    for r in records:
        for p in r.get("traced", []):
            for q, m in p["per_query"].items():
                for k in PER_QUERY:
                    acc[q][k].append(m.get(k, 0.0))
    return acc


def report_one(workload, recs):
    print(f"== {workload}: {sum(r['trace'] == 0 for r in recs)} untraced runs")
    for m in SPEC["end_to_end"]:
        xs = list(e2e_values(recs, m["name"]).values())
        if not xs:
            continue
        q1, q2, q3 = quartiles(xs)
        print(f"  {m['name']:<14} median={q2:.4f} {m['unit']}  q1={q1:.4f} q3={q3:.4f}"
              f"  spread={spread(xs):.3f} (bound {m['bound']})")


def report_pair(workload, par, chg):
    print(f"== {workload}: parent {sum(r['trace'] == 0 for r in par)} runs, "
          f"change {sum(r['trace'] == 0 for r in chg)} runs")
    for m in SPEC["end_to_end"]:
        pv, cv = e2e_values(par, m["name"]), e2e_values(chg, m["name"])
        if not pv or not cv:
            continue
        pq, cq = quartiles(list(pv.values())), quartiles(list(cv.values()))
        seeds = sorted(set(pv) & set(cv))
        wins = sum(better(cv[s], pv[s], m["better"]) > 0 for s in seeds)
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        worse = rel if m["better"] == "lower" else -rel
        own = spread(list(pv.values()))
        if worse > m["bound"]:
            verdict = "REGRESSION"
        elif own > m["bound"]:
            verdict = "unresolved"
        elif len(seeds) >= 10 and wins >= 0.9 * len(seeds) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
            verdict = "gain"
        else:
            verdict = "within bound"
        print(f"  {m['name']:<14} parent {pq[1]:.4f} [{pq[0]:.4f}, {pq[2]:.4f}]  "
              f"change {cq[1]:.4f} [{cq[0]:.4f}, {cq[2]:.4f}] {m['unit']}  "
              f"delta {rel:+.1%}  wins {wins}/{len(seeds)}  {verdict}")
    pp, cp = per_query(par), per_query(chg)
    for q in sorted(set(pp) & set(cp)):
        cells = []
        for k in PER_QUERY:
            a, b = statistics.median(pp[q][k]), statistics.median(cp[q][k])
            if a != b:
                cells.append(f"{k} {a:.4g}->{b:.4g}")
        print(f"  {q}: " + ("; ".join(cells) if cells else "per-layer counters unchanged"))


def main():
    if len(sys.argv) not in (2, 3):
        raise SystemExit(__doc__)
    parent = load(sys.argv[1])
    if len(sys.argv) == 2:
        for w in sorted(parent):
            report_one(w, parent[w])
        return
    change = load(sys.argv[2])
    for w in sorted(set(parent) | set(change)):
        report_pair(w, parent.get(w, []), change.get(w, []))


if __name__ == "__main__":
    main()
