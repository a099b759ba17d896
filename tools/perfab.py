#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on the repository's benchmark.

    python3 tools/perfab.py PARENT_DIR CHANGE_DIR --pairs N \
        [--workload cdm|operators] [--first-seed S] [--out FILE]

Runs `perfbench/run.py` in each checkout (the benchmark each checkout
carries, from its own root) on the same seeds S, S+1, ..., one pair per
seed, with the order alternating: the parent first on the first seed,
the change first on the next, and so on. Without `--workload` it runs
every workload `BENCHMARK.json` names, pairs of one workload after
another. For each workload and end-to-end metric it prints the median
and quartiles of each side, the pairs the change wins (ties count for
neither side) and a verdict:

- gain: the change wins at least 9 of 10 pairs and the medians differ,
  in the better direction, by more than the parent's interquartile range;
- regression: the change's median is worse than the parent's by more
  than the metric's `bound` (a fraction of the parent's median);
- unresolved: neither, and the wider of the two sides' interquartile
  ranges exceeds the bound, unless every change run reads better than
  every parent run;
- unchanged: otherwise.

A run whose result is not `correct` or has failed ops is printed and
counted; its metrics still enter the table. `--out` keeps every run's
result line as JSON. Reads only `perfbench/` and `BENCHMARK.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed):
    """The result JSON of one untraced run, or None when the run failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "30", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = (p.stderr.strip().splitlines() or ["no output"])[-1]
        print(f"  run failed in {checkout} (exit {p.returncode}): {tail}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """(wins, verdict) of paired runs; `better` is 'lower' or 'higher'."""
    sign = 1.0 if better == "lower" else -1.0
    # improvement of the change over the parent, positive when better
    gains = [sign * (p - c) for p, c in zip(parent, change)]
    wins = sum(g > 0 for g in gains)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    delta = sign * (pmed - cmed)
    if wins >= 0.9 * len(gains) and delta > pq3 - pq1:
        return wins, "gain"
    if pmed and -delta / abs(pmed) > bound:
        return wins, "regression"
    spread = max(pq3 - pq1, cq3 - cq1) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if spread > bound and not all_better:
        return wins, "unresolved"
    return wins, "unchanged"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--workload", choices=("cdm", "operators"))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [a.workload] if a.workload else [w["name"] for w in bench["workloads"]]
    runs = []
    for wl in workloads:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_one(sides[side], wl, seed)
                runs.append({"workload": wl, "seed": seed, "side": side, "result": res})
                if res is not None:
                    m = res["metrics"]
                    print(f"  {wl} seed={seed} {side}: correct={res['correct']} "
                          f"failed={res['failed']}/{res['attempted']} "
                          + " ".join(f"{e['name']}={m[e['name']]['value']:.4g}"
                                     for e in bench["end_to_end"] if e["name"] in m),
                          file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "w") as f:
                    json.dump(runs, f, indent=1)
    for wl in workloads:
        done = {}
        for r in runs:
            if r["workload"] == wl and r["result"] is not None:
                done.setdefault(r["seed"], {})[r["side"]] = r["result"]
        pairs = [done[s] for s in sorted(done) if len(done[s]) == 2]
        bad = sum(not r["result"] or not r["result"]["correct"] or r["result"]["failed"]
                  for r in runs if r["workload"] == wl)
        print(f"\n{wl}: {len(pairs)} complete pairs, {bad} runs failed, incorrect or with failed ops")
        print(f"{'metric':<14} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'Δmed':>8} "
              f"{'wins':>6}  verdict")
        for e in bench["end_to_end"]:
            name = e["name"]
            if not pairs or any(name not in p[s]["metrics"] for p in pairs for s in p):
                continue
            pv = [p["parent"]["metrics"][name]["value"] for p in pairs]
            cv = [p["change"]["metrics"][name]["value"] for p in pairs]
            wins, v = verdict(pv, cv, e["better"], e["bound"])
            pq, cq = quartiles(pv), quartiles(cv)
            rel = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else 0.0
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:<14} {fmt(pq):>26} {fmt(cq):>26} {rel:>+7.1f}% "
                  f"{wins:>3}/{len(pairs):<2}  {v}")


if __name__ == "__main__":
    main()
