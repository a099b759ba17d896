#!/usr/bin/env python3
"""Diff two traced benchmark profiles.

    python3 perfbench/profdiff.py BEFORE AFTER

BEFORE and AFTER are profile files written by `run.py --trace 1`
(`.bench_build/profiles/<workload>-seed<n>-trace1.json`) or directories
of them, made with the same seed. For every workload in both, it prints
the per-layer metrics whose median over traced ops moved by more than
their spread (the larger interquartile range of the two runs' per-op
values), and, on `operators`, each query whose own value moved by more
than that spread.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*-trace1.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        p = json.load(open(f))
        if p.get("trace") == 1:
            out[p["workload"]] = p
    return out


def iqr(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def by_query(profile, metric):
    groups = {}
    for name, v in zip(profile["traced_ops"], profile["per_layer"][metric]):
        groups.setdefault(name, []).append(v)
    return {k: statistics.median(v) for k, v in groups.items()}


def moved(before, after):
    """(metric, before, after, spread, query) for every per-layer metric
    whose median moved by more than its spread (query None) and, on
    `operators`, for every query whose own value moved by more than it."""
    rows = []
    for metric in sorted(before["per_layer"]):
        a, b = before["per_layer"][metric], after["per_layer"].get(metric)
        if not a or not b:
            continue
        spread = max(iqr(a), iqr(b))
        ma, mb = statistics.median(a), statistics.median(b)
        if abs(mb - ma) > spread:
            rows.append((metric, ma, mb, spread, None))
        if before["workload"] == "operators":
            qa, qb = by_query(before, metric), by_query(after, metric)
            rows += [(metric, qa[q], qb[q], spread, q) for q in sorted(set(qa) & set(qb))
                     if abs(qb[q] - qa[q]) > spread]
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    common = sorted(set(before) & set(after))
    if not common:
        print("no workload has a traced profile on both sides", file=sys.stderr)
        return 1
    for w in common:
        rows = moved(before[w], after[w])
        print(f"== {w}: {len(rows)} moves beyond the spread")
        for metric, ma, mb, spread, query in rows:
            rel = f"{100 * (mb - ma) / ma:+.1f} %" if ma else "new"
            where = f"  query {query}" if query else ""
            print(f"  {metric:38s} {ma:14.6g} -> {mb:14.6g}  ({rel}, spread {spread:.4g}){where}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
