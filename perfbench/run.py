#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload e1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (perfbench/build.py, classes under $CARGO_TARGET_DIR or .bench_build),
runs one closed-loop workload in one JVM on a local[4] Spark session, checks
every output against perfbench/pins.json, and prints as its last line

    {"correct": ..., "attempted": N, "failed": M, "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0), or every
per-layer metric (--trace 1: a listener and per-call spans are on). Lines
before it, starting with '#', carry the run record: workload figures under
the names the issue uses (e1_s, kg_build_s, graph_s, ...), the model store
state, host steal and load, settings, commit and seed. The full record is
appended to <build>/results.jsonl and the span trace written to
<build>/traces/. A failed or mismatched operation is named on stderr and
makes the exit code nonzero.

Self-test and maintenance flags: --inject-fail, --perturb-pin, --write-pins,
--queries q1,q2 (graph workload only), --results FILE (append the record there
too).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("e1", "graph")
JVM_TIMEOUT_S = 170
DRIVER_MEM = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def commit_hash():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    s = sorted(xs)
    n = len(s)
    return None if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--inject-fail", action="store_true")
    ap.add_argument("--perturb-pin", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    ap.add_argument("--queries")
    ap.add_argument("--results")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classes, src_hash = build.build(build_dir)
        jars = build.spark_jars()
    except (build.BuildError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")

    os.makedirs(os.path.join(build_dir, "work"), exist_ok=True)
    os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(build_dir, "work"))
    pins = os.path.join(HERE, "pins.json")
    record_path = os.path.join(work, "record.json")
    trace_path = os.path.join(work, "trace.json")
    opts = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "data": os.path.join(HERE, "data"), "work": work, "pins": pins,
        "out": record_path, "trace_out": trace_path,
        "inject_fail": int(a.inject_fail), "perturb_pin": int(a.perturb_pin),
        "pin_mode": int(a.write_pins)}
    if a.queries:
        opts["queries"] = a.queries
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.codegen.cache.maxEntries=5000",
              "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main"]
           + [f"{k}={v}" for k, v in opts.items()])
    env = dict(os.environ, GRAFT_MODEL_ROOT=os.path.join(work, "models"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            # set-up time runs from here (after any build) to the first timed call
            cmd.append(f"launch_ms={int(time.time() * 1000)}")
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:  # also on SIGTERM/SIGINT: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc is None or not os.path.exists(record_path):
            tail = open(log_path, errors="replace").read()[-3000:]
            fail(f"run did not complete (exit {rc}); log tail:\n{tail}", 3)
        rec = json.load(open(record_path))
        shutil.copy(trace_path, os.path.join(build_dir, "traces",
                                             f"{a.workload}-{rec['run_id']}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["host"]["commit"] = commit_hash()
    rec["host"]["source_hash"] = src_hash
    rec["seconds"] = a.seconds
    if rec["failures"]:
        print("[perfbench] failures: " + json.dumps(rec["failures"]), file=sys.stderr)

    history = os.path.join(build_dir, "results.jsonl")
    for path in [history] + ([a.results] if a.results else []):
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    if a.write_pins:
        merged = json.load(open(pins)) if os.path.exists(pins) else {}
        merged.update(rec["observed"])
        with open(pins, "w") as fh:
            json.dump(dict(sorted(merged.items())), fh, indent=1)
            fh.write("\n")

    print("# workload " + json.dumps(dict(
        {k: rec[k] for k in ("workload", "seed", "traced", "run_id", "model_store")},
        failed_frac=int(rec["failed"]) / max(1, int(rec["attempted"])))))
    print("# detail " + json.dumps(rec["detail"]))
    print("# host " + json.dumps(rec["host"]))
    if a.trace:
        untraced = [json.loads(l) for l in open(history)]
        queries = sorted(rec["detail"].get("order", []))
        base = [r["end_to_end"]["iteration_s"] for r in untraced
                if r["workload"] == a.workload and r["traced"] is False
                and r["host"].get("source_hash") == src_hash and r["seconds"] == a.seconds
                and sorted(r["detail"].get("order", [])) == queries]
        if base:
            t = rec["per_layer"]["traced_iteration_s"]
            print("# tracing overhead " + json.dumps({
                "traced_iteration_s": t, "untraced_median_s": median(base),
                "untraced_runs": len(base), "overhead_frac": t / median(base) - 1}))

    key, got = ("per_layer", rec["per_layer"]) if a.trace else ("end_to_end", rec["end_to_end"])
    metrics, absent = {}, []
    for m in spec[key]:
        v = got.get(m["name"])
        if v is None:
            # a count this workload never exercises (e.g. graph.* jobs in e1)
            absent.append(m["name"])
            v = 0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if absent:
        print("# not exercised by this workload (reported 0): " + " ".join(absent))
    finite = all(isinstance(v["value"], (int, float)) for v in metrics.values())
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    correct = failed == 0 and finite and (a.trace == 1 or not absent)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
