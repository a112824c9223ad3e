#!/usr/bin/env python3
"""Compare two sets of benchmark result records (.bench_results/*.json).

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json ...

Prints, for every metric in the records, each side's median and
quartiles and the change of the medians. Runs are comparable only when
their environment stamps agree: the workload, the run length, the cpus,
the heap and the row and byte counts of every input table. The seed, the
commit and the source digest may differ (that is what is being
compared); any other difference is refused with a non-zero exit.
"""
import argparse
import json
import statistics
import sys

COMPARABLE = ("workload", "seconds", "cpus", "heap_max_mb", "inputs")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append((p, json.load(f)))
    return out


def refuse_mismatch(records):
    first_path, first = records[0]
    for path, r in records[1:]:
        for k in COMPARABLE:
            if r["stamp"].get(k) != first["stamp"].get(k):
                sys.exit(f"refused: {path} and {first_path} differ in {k}: "
                         f"{r['stamp'].get(k)!r} vs {first['stamp'].get(k)!r}")


def summary(vals):
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return statistics.median(vals), q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    refuse_mismatch(base + new)
    section = "per_layer" if base[0][1]["trace"] else "end_to_end"
    for name in sorted(base[0][1][section]):
        b = [r[section][name] for _, r in base]
        n = [r[section][name] for _, r in new]
        bm, bq1, bq3 = summary(b)
        nm, nq1, nq3 = summary(n)
        change = f"{(nm - bm) / bm:+.1%}" if bm else "n/a"
        print(f"{name:32s} base {bm:12.4f} [{bq1:.4f}, {bq3:.4f}]  "
              f"new {nm:12.4f} [{nq1:.4f}, {nq3:.4f}]  {change}")
    bad = sum(r["correctness"]["failed"] for _, r in base + new)
    if bad:
        print(f"warning: {bad} wrong or failed operations across these runs")


if __name__ == "__main__":
    main()
