#!/usr/bin/env python3
"""Compare a parent and a change from alternating pairs of runs.

    python3 perfbench/compare.py parent.jsonl change.jsonl [--bench BENCHMARK.json]

The two files come from `perfbench/sweep.py --pair`, with at least ten
pairs per workload. For each workload and end-to-end metric this prints
one row: both sides' median and quartiles, the change's win fraction over
the pairs (ties count for neither side), and a verdict:

  improved      the change wins at least 9 of 10 pairs, and the medians
                differ by more than the parent's own quartile distance;
  within bound  the change's median is no worse than the parent's by more
                than the metric's bound, and the parent's spread is within
                the bound;
  worse         the change's median is worse by more than the bound;
  unresolved    the parent's own spread is wider than the bound (unless
                every change run beats every parent run), or there are
                fewer than ten pairs.

A gain does not count when the change failed more operations. Runs whose
ambient load was flagged noisy are counted in the `noisy` column.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10


def load(path):
    by_w = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            by_w.setdefault(r["workload"], []).append(r)
    return by_w


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    return tuple(statistics.quantiles(vals, n=4))


def verdict(metric, pv, cv, wins, failed_more):
    sign = 1 if metric["better"] == "higher" else -1
    pq1, pmed, pq3 = quartiles(pv)
    _, cmed, _ = quartiles(cv)
    spread = (pq3 - pq1) / pmed if pmed else 0.0
    worse_by = sign * (pmed - cmed) / pmed if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in cv for p in pv)
    if len(pv) < MIN_PAIRS or len(cv) < MIN_PAIRS:
        return "unresolved"
    if (not failed_more and wins >= 0.9
            and sign * (cmed - pmed) > (pq3 - pq1)):
        return "improved"
    if spread > metric["bound"] and not all_better:
        return "unresolved"
    if worse_by > metric["bound"]:
        return "worse"
    return "within bound"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(a.parent), load(a.change)
    print(f"{'workload':14s} {'metric':13s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'wins':>5s} {'pairs':>5s} "
          f"{'noisy':>5s}  verdict")
    for w in sorted(set(parent) & set(change)):
        pairs = [(p, c) for p, c in zip(parent[w], change[w])
                 if p["result"] and c["result"]]
        fails = [sum(r["result"]["failed"] if r["result"] else 1 for r in side[w])
                 for side in (parent, change)]
        noisy = sum(1 for p, c in pairs for r in (p, c) if r["record"]["load"]["noisy"])
        for m in metrics:
            pv = [p["result"]["metrics"][m["name"]]["value"] for p, _ in pairs]
            cv = [c["result"]["metrics"][m["name"]]["value"] for _, c in pairs]
            if not pv:
                continue
            sign = 1 if m["better"] == "higher" else -1
            wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0) / len(pv)
            v = verdict(m, pv, cv, wins, fails[1] > fails[0])
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{w:14s} {m['name']:13s} "
                  f"{pq[1]:12.4g} [{pq[0]:9.4g}, {pq[2]:9.4g}] "
                  f"{cq[1]:12.4g} [{cq[0]:9.4g}, {cq[2]:9.4g}] "
                  f"{wins:5.2f} {len(pairs):5d} {noisy:5d}  {v}")
        print(f"{w:14s} failed operations: parent {fails[0]}, change {fails[1]}")
    missing = set(parent) ^ set(change)
    if missing:
        print(f"workloads on one side only: {sorted(missing)}", file=sys.stderr)


if __name__ == "__main__":
    main()
