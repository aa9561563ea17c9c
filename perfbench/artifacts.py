#!/usr/bin/env python3
"""Write the committed benchmark records from sweep files.

    python3 perfbench/artifacts.py --untraced runs.jsonl --traced traced.jsonl \
        --matched matched.jsonl

results/stability.json: every untraced run (seed, metrics, ambient load)
and each end-to-end metric's median, quartiles and spread per workload,
beside the bound BENCHMARK.json sets for it and whether the spread is
within it.

results/trace.json: per workload, the median over the traced runs of every
per-layer metric, each operation's cold (warm-up pass) and warm (median)
time, and the tracing overhead: the median over seeds of traced minus
untraced wall_s, from untraced runs (`--matched`) made next to the traced
ones with the same seeds, so both sides see the same ambient load.
"""
import argparse
import json
import os
import platform
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def rows(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def by_workload(runs):
    out = {}
    for r in runs:
        if r["result"]:
            out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(vals)}


def machine():
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpu": model, "cores": os.cpu_count(), "os": platform.platform()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--untraced", required=True)
    ap.add_argument("--traced", required=True)
    ap.add_argument("--matched", required=True)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        cfg = json.load(f)
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    os.makedirs(a.out, exist_ok=True)

    untraced = by_workload(rows(a.untraced))
    stability = {"machine": machine(), "run_seconds": cfg["run_seconds"],
                 "workloads": {}}
    for w, rs in untraced.items():
        metrics = {}
        for m in rs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][m]["value"] for r in rs]
            q = quartiles(vals)
            metrics[m] = dict(q, bound=bounds.get(m), values=vals,
                              within_bound=q["spread"] <= bounds.get(m, 0.0))
        stability["workloads"][w] = {
            "metrics": metrics,
            "runs": [{"seed": r["seed"], "correct": r["result"]["correct"],
                      "attempted": r["result"]["attempted"],
                      "failed": r["result"]["failed"], "load": r["record"]["load"],
                      "passes_s": r["record"]["passes"], "run_s": r["record"]["run_s"]}
                     for r in rs]}
    with open(os.path.join(a.out, "stability.json"), "w") as f:
        json.dump(stability, f, indent=1)

    matched = by_workload(rows(a.matched))
    trace = {"machine": machine(), "workloads": {}}
    for w, rs in by_workload(rows(a.traced)).items():
        layer = {m: {"value": statistics.median(r["result"]["metrics"][m]["value"] for r in rs),
                     "unit": rs[0]["result"]["metrics"][m]["unit"]}
                 for m in rs[0]["result"]["metrics"]}
        ops = rs[0]["record"]["cold_s"].keys()
        plain = {r["seed"]: r["result"]["metrics"]["wall_s"]["value"] for r in matched[w]}
        pairs = [(r["result"]["metrics"]["trace.wall_s"]["value"], plain[r["seed"]])
                 for r in rs if r["seed"] in plain]
        traced_wall = statistics.median(t for t, _ in pairs)
        untraced_wall = statistics.median(u for _, u in pairs)
        overhead = statistics.median(t - u for t, u in pairs)
        trace["workloads"][w] = {
            "runs": [{"seed": r["seed"], "load": r["record"]["load"]} for r in rs],
            "matched_untraced_runs": [{"seed": r["seed"], "load": r["record"]["load"]}
                                      for r in matched[w]],
            "per_layer": layer,
            "operations": {o: {"cold_s": statistics.median(r["record"]["cold_s"][o] for r in rs),
                               "warm_s": statistics.median(r["record"]["warm_s"][o] for r in rs)}
                           for o in ops},
            "tracing_overhead": {"traced_wall_s": traced_wall,
                                 "untraced_wall_s": untraced_wall,
                                 "overhead_s": overhead,
                                 "overhead_frac": overhead / untraced_wall,
                                 "pairs": len(pairs)}}
    with open(os.path.join(a.out, "trace.json"), "w") as f:
        json.dump(trace, f, indent=1)


if __name__ == "__main__":
    main()
