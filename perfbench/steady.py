#!/usr/bin/env python3
"""Steadiness check: runs each workload k times with different seeds and
prints, per metric, the median, the quartiles, the quartile spread
(Q3 - Q1) / median and the range (max - min) / median, plus the failed
share of ops. With --sets 2 or more it repeats that with fresh seeds and
prints, per end-to-end metric, how much worse each later set's median is
than the first's, as a share of the first (negative: better), beside the
metric's bound. The bounds in BENCHMARK.json are set from this output.

    python3 perfbench/steady.py [-k 10] [--sets 1] [--seconds 12]
                                [--trace 0] [--seed0 1] [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    for w in workloads:
        medians = [one_set(a, w, seconds, a.seed0 + j * a.k)
                   for j in range(a.sets)]
        for j in range(1, a.sets):
            print(f"== {w}: set {j + 1} against set 1")
            for m, med in medians[j].items():
                if m not in e2e or not medians[0][m]:
                    continue
                sign = 1 if e2e[m]["better"] == "lower" else -1
                worse = sign * (med - medians[0][m]) / medians[0][m]
                print(f"   {m:44} {medians[0][m]:12.6g} {med:12.6g} "
                      f"worse {worse:+7.3f} bound {e2e[m]['bound']}")


def one_set(a, w, seconds, seed0):
    """Runs one set of k seeds from seed0 on, prints its table and returns
    each metric's median."""
    runs = []
    for seed in range(seed0, seed0 + a.k):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"{w} seed {seed}: exit {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"{w} seed={seed} correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.6g}"
                       for k, v in res["metrics"].items()), flush=True)
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"== {w}: {a.k} runs, failed shares {sorted(shares)}, "
          f"all correct: {all(r['correct'] for r in runs)}")
    print(f"   {'metric':44} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'iqr/med':>8} {'rng/med':>8}")
    medians = {}
    for m in runs[0]["metrics"]:
        v = [r["metrics"][m]["value"] for r in runs]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        iqr = (q3 - q1) / med if med else float("nan")
        rng = (max(v) - min(v)) / med if med else float("nan")
        print(f"   {m:44} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{iqr:8.3f} {rng:8.3f}", flush=True)
        medians[m] = med
    return medians

if __name__ == "__main__":
    main()
