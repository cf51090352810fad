#!/usr/bin/env python3
"""Compare two result sets of the benchmark (e.g. parent vs change, or two
runs of one commit), or summarize one.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

A result set is a file of run records, one JSON object per line, as run.py
appends them to <build>/results.jsonl or to --results FILE. For every
workload and end-to-end metric it prints each set's median and quartiles and
the spread (quartile distance / median, from statistics.quantiles(n=4)). With
two sets it also prints pairwise wins (runs paired by seed, else by order)
and a verdict against the metric's bound from BENCHMARK.json:

  worse      B's median is worse than A's by more than the bound
  unresolved A's own spread is wider than the bound
  better     B wins at least 9 in 10 pairs and the medians differ by more
             than A's quartile distance
  same       otherwise

Traced records contribute their per-layer counts; a count that does not
repeat exactly within a set is flagged. The exit code is 1 if any metric
other than setup_s has a spread above its bound, or any verdict is `worse`.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def fmt(v):
    return f"{v:.4g}"


def summarize(label, recs, spec_metric):
    xs = [r["end_to_end"][spec_metric["name"]] for r in recs]
    q1, q2, q3 = quartiles(xs)
    return xs, f"{label} n={len(xs)} median {fmt(q2)} [{fmt(q1)}, {fmt(q3)}] spread {spread(xs):.3f}"


def pair(a, b):
    by_seed_a = {r["seed"]: r for r in a}
    by_seed_b = {r["seed"]: r for r in b}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if len(common) >= min(len(a), len(b)):
        return [(by_seed_a[s], by_seed_b[s]) for s in common]
    return list(zip(a, b))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sets = [load(p) for p in argv[1:]]
    bad = False
    for w in [x["name"] for x in spec["workloads"]]:
        runs = [[r for r in s if r["workload"] == w and not r["traced"]] for s in sets]
        if not all(runs):
            continue
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            xa, line = summarize("A", runs[0], m)
            print(f"  {name} ({m['unit']}, bound {bound})")
            print(f"    {line}")
            if name != "setup_s" and spread(xa) > bound:
                bad = True
            if len(runs) == 1:
                continue
            xb, line = summarize("B", runs[1], m)
            print(f"    {line}")
            if name != "setup_s" and spread(xb) > bound:
                bad = True
            ma, mb = statistics.median(xa), statistics.median(xb)
            change = (mb - ma) / ma if lower else (ma - mb) / ma  # > 0: B is worse
            wins = ties = 0
            pairs = pair(runs[0], runs[1])
            for ra, rb in pairs:
                va, vb = ra["end_to_end"][name], rb["end_to_end"][name]
                if va == vb:
                    ties += 1
                elif (vb < va) == lower:
                    wins += 1
            q1, _, q3 = quartiles(xa)
            if change > bound:
                verdict = "worse"
                bad = True
            elif spread(xa) > bound:
                verdict = "unresolved"
            elif wins >= 0.9 * len(pairs) and abs(mb - ma) > q3 - q1:
                verdict = "better"
            else:
                verdict = "same"
            print(f"    B vs A {change:+.3f} of A's median (+ is worse); B wins "
                  f"{wins}/{len(pairs)} pairs, {ties} ties -> {verdict}")
        keys = sorted({k for s in runs for r in s for k in r["detail"]
                       if isinstance(r["detail"][k], (int, float))})
        for k in keys:
            meds = []
            for s in runs:
                xs = [r["detail"][k] for r in s if isinstance(r["detail"].get(k), (int, float))]
                meds.append(fmt(statistics.median(xs)) if xs else "-")
            print(f"  detail {k}: median " + " vs ".join(meds))
        for label, s in zip("AB", sets):
            traced = [r for r in s if r["workload"] == w and r["traced"]]
            if not traced:
                continue
            counts = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]
            unstable = [c for c in counts
                        if len({r["per_layer"].get(c) for r in traced}) > 1]
            print(f"  {label} traced runs {len(traced)}: counts "
                  + ("repeat exactly" if not unstable else "DIFFER: " + ", ".join(unstable)))
            bad = bad or bool(unstable)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
