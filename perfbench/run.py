#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, run from the root of a
checkout of the repository.

    python3 perfbench/run.py --workload synth_bulk|curate_batch|stream_ingest \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/gendata.py), runs the harness
(perfbench/harness) in one JVM, checks the outputs, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full record of the run (ambient load, per-operation cold and warm
times, check details) goes to <build dir>/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("synth_bulk", "curate_batch", "stream_ingest")
# (documents, events) rows generated for each workload that reads tables:
# the sizes of the sf0.01 test tables (sf0.1 has ten times as many rows,
# which makes a curate_batch run 15 s longer than the benchmark's time
# budget allows)
TABLE_ROWS = {"curate_batch": (500, 10000), "stream_ingest": (150, 10000)}
# a run must end within 180 s of the build finishing; 10 s are kept for
# the checks after the JVM
DEADLINE_S = 170


def oracle_checks(oracles, results_dir, data_dir, timeout):
    """Compare each dumped Spark result with its DuckDB oracle through the
    repository's correctness gate (tools/check_correctness.py). Returns
    {name: error or None}."""
    if not oracles:
        return {}
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    gate = os.path.join(build.ROOT, "tools", "check_correctness.py")
    try:
        p = subprocess.run([sys.executable, gate, results_dir, data_dir],
                           capture_output=True, text=True, timeout=timeout)
        report = json.loads(p.stdout)
    except (OSError, ValueError, subprocess.TimeoutExpired) as e:
        return {name: f"correctness gate failed: {str(e)[-300:]}" for name in oracles}
    out = {}
    for name in oracles:
        r = report.get(name, {"error": "not checked"})
        out[name] = None if r.get("hash_match") else json.dumps(r)[:300]
    return out


def run_jvm(java, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (java[:1] + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + java[1:] + ["graftbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    t_start = time.time()
    # a SIGTERM unwinds like an exception, so the JVM and the run's
    # scratch directory are cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    try:
        java = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    t_built = time.time()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(build.BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data_dir)
    os.makedirs(out_dir)
    try:
        if a.workload in TABLE_ROWS:
            import gendata
            gendata.write(data_dir, a.seed, *TABLE_ROWS[a.workload])
        rc = run_jvm(java, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", a.trace,
                                 "--data", data_dir, "--out", out_dir],
                     run_dir, DEADLINE_S - (time.time() - t_built) - 10)
        result_file = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                tail = f.read()[-3000:]
            print(f"harness failed (exit {rc}):\n{tail}", file=sys.stderr)
            return 3
        with open(result_file) as f:
            res = json.load(f)
        checks = oracle_checks(res["oracles"], os.path.join(out_dir, "results"), data_dir,
                               max(5, DEADLINE_S - (time.time() - t_built)))
        res["oracle_checks"] = checks
        res["errors"] += [f"{n}: oracle mismatch: {e}" for n, e in checks.items() if e]
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + sum(1 for e in checks.values() if e)
        res["per_layer"]["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
        res["trace"] = int(a.trace)
        res["seconds"] = a.seconds
        res["run_s"] = time.time() - t_start
        results = os.path.join(build.BUILD, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, tag + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        if a.trace == "1":
            shutil.copy(os.path.join(out_dir, "spans.jsonl"),
                        os.path.join(results, tag + ".spans.jsonl"))
        for e in res["errors"]:
            print(f"error: {e}", file=sys.stderr)
        if res["load"]["noisy"]:
            print(f"noisy run: {res['load']['ext_cores']:.2f} external busy cores",
                  file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = res["per_layer"] if a.trace == "1" else res["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
