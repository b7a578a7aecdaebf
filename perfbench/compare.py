#!/usr/bin/env python3
"""Run two sets of benchmark runs and report how steady each metric is.

Usage (from the root of a checkout):

    python3 perfbench/compare.py --workload lake_ingest

Set 1 is ten runs of ``perfbench/run.py`` with seeds 1-10, set 2 ten runs
with seeds 11-20, all with ``BENCHMARK.json``'s ``run_seconds``. For every
end-to-end metric the report gives each set's median and quartiles, the
spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), the gap between
the two medians and the metric's bound; it also gives each set's share of
failed operations. Each run's result line goes to standard error as it ends.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = (range(1, 11), range(11, 21))


def one_run(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0 or not r.stdout.strip():
        sys.exit(f"run with seed {seed} failed ({r.returncode})")
    return json.loads(r.stdout.strip().splitlines()[-1])


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for i, seeds in enumerate(SETS):
        results = []
        for seed in seeds:
            res = one_run(a.workload, seed, seconds)
            results.append(res)
            print(json.dumps({"set": i + 1, "seed": seed, **res}), file=sys.stderr, flush=True)
        sets.append(results)
    print(f"workload {a.workload}: seeds 1-10 and 11-20, --seconds {seconds}")
    for i, results in enumerate(sets):
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        print(f"set {i + 1}: all correct={all(r['correct'] for r in results)} "
              f"failed shares={shares}")
    print(f"{'metric':12} {'set':>3} {'median':>9} {'q1':>9} {'q3':>9} "
          f"{'spread':>7} {'gap':>7} {'bound':>6}")
    for name, bound in bounds.items():
        first = None
        for i, results in enumerate(sets):
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in results])
            gap = "" if first is None else f"{(med - first) / first:.3f}"
            first = med if first is None else first
            print(f"{name:12} {i + 1:>3} {med:>9.4g} {q1:>9.4g} {q3:>9.4g} "
                  f"{spread:>7.3f} {gap:>7} {bound:>6}")


if __name__ == "__main__":
    main()
