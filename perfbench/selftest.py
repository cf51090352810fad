#!/usr/bin/env python3
"""Self-tests of the benchmark's own guard rails (about 4 minutes):

  1. an injected failing operation raises `failed` and the run exits nonzero;
  2. a perturbed pinned hash fails the output check and the run exits nonzero;
  3. two traced e1 runs give identical count metrics;
  4. the e1.jobs.<label> rows sum to `jobs`.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL_GRAPH = ["--workload", "graph", "--queries", "q_kg_kcore"]


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", *args], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last, p.stderr


def main():
    results = []

    def check(name, ok, why=""):
        results.append(ok)
        print(f"{'PASS' if ok else 'FAIL'} {name}" + ("" if ok else f": {why}"))

    rc, out, err = run(*SMALL_GRAPH, "--trace", "0", "--inject-fail")
    check("injected failure counts and exits nonzero",
          rc != 0 and out is not None and out["failed"] >= 1 and not out["correct"]
          and "injected_failure" in err, f"rc={rc} out={out}")

    rc, out, err = run(*SMALL_GRAPH, "--trace", "0", "--perturb-pin")
    check("perturbed pin fails the output check",
          rc != 0 and out is not None and out["failed"] >= 1 and "pinned" in err,
          f"rc={rc} out={out}")

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]
    traced = []
    for _ in range(2):
        rc, out, err = run("--workload", "e1", "--trace", "1")
        check("traced e1 run passes its checks", rc == 0 and out and out["correct"],
              f"rc={rc} {err[-2000:]}")
        traced.append({c: out["metrics"][c]["value"] for c in counts} if out else {})
    differ = [c for c in counts if traced[0].get(c) != traced[1].get(c)]
    check("two traced runs repeat every count exactly", not differ,
          ", ".join(f"{c}: {traced[0].get(c)} vs {traced[1].get(c)}" for c in differ))
    labels = sum(v for c, v in traced[0].items() if c.startswith("e1.jobs."))
    check("e1.jobs.<label> rows sum to jobs", labels == traced[0].get("jobs"),
          f"labels {labels} vs jobs {traced[0].get('jobs')}")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
