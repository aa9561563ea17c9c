#!/usr/bin/env python3
"""Run the benchmark many times and record every run.

Stability sweep (one checkout): each workload once per seed, then the
spread of every end-to-end metric, (q3 - q1) / median over the runs.

    python3 perfbench/sweep.py --seeds 1-10 --out runs.jsonl [--workloads a,b]

Alternating pairs (two checkouts, e.g. parent and change): for each seed
and workload, both sides run back to back, the side that goes first
alternating; then perfbench/compare.py reads the two files.

    python3 perfbench/sweep.py --seeds 1-10 --pair PARENT_DIR CHANGE_DIR \
        --out parent.jsonl change.jsonl

Each output line holds the workload, seed, the printed result line and
the run's full record (ambient load, per-operation times, checks).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_config(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(root, workload, seed, seconds, trace):
    cfg = bench_config(root)
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    rec = None
    tag = f"{workload}-seed{seed}-trace{trace}.json"
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if result is not None:
        with open(os.path.join(build_dir, "results", tag)) as f:
            rec = json.load(f)
    else:
        print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
              file=sys.stderr)
    return {"workload": workload, "seed": seed, "trace": trace,
            "exit": p.returncode, "result": result, "record": rec}


def spreads(rows):
    """{workload: {metric: (median, q1, q3, spread, n)}} over successful runs."""
    out = {}
    for r in rows:
        if r["result"]:
            for m, v in r["result"]["metrics"].items():
                out.setdefault(r["workload"], {}).setdefault(m, []).append(v["value"])
    table = {}
    for w, ms in out.items():
        for m, vals in ms.items():
            if len(vals) >= 2:
                q1, med, q3 = statistics.quantiles(vals, n=4)
                table.setdefault(w, {})[m] = (med, q1, q3, (q3 - q1) / med if med else 0.0,
                                             len(vals))
    return table


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--pair", nargs=2, metavar=("PARENT", "CHANGE"))
    ap.add_argument("--out", nargs="+", required=True)
    a = ap.parse_args()
    roots = [os.path.abspath(p) for p in a.pair] if a.pair else [os.path.dirname(HERE)]
    if len(a.out) != len(roots):
        ap.error("give one --out file per checkout")
    cfg = bench_config(roots[0])
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in cfg["workloads"]]
    outs = [open(p, "a") for p in a.out]
    rows = [[] for _ in roots]
    for i, seed in enumerate(seeds(a.seeds)):
        for w in workloads:
            order = list(range(len(roots)))
            if i % 2:
                order.reverse()
            for k in order:
                r = run_once(roots[k], w, seed, cfg["run_seconds"], a.trace)
                rows[k].append(r)
                outs[k].write(json.dumps(r) + "\n")
                outs[k].flush()
                load = (r["record"] or {}).get("load", {})
                print(f"{os.path.basename(roots[k])} {w} seed {seed}: "
                      f"{json.dumps(r['result']['metrics'] if r['result'] else None)} "
                      f"load {load}", file=sys.stderr)
    for k, root in enumerate(roots):
        print(f"== {root}")
        for w, ms in spreads(rows[k]).items():
            for m, (med, q1, q3, sp, n) in ms.items():
                print(f"{w:14s} {m:14s} median {med:12.4f}  q1 {q1:12.4f}  "
                      f"q3 {q3:12.4f}  spread {sp:.4f}  n={n}")


if __name__ == "__main__":
    main()
