#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py FILE --workload W --seeds 101 102 ...
    python3 perfbench/spread.py FILE...

With --workload, runs `run.py --trace 0` once per seed, for the
`run_seconds` of BENCHMARK.json, and appends one line per run to FILE:
workload, seed, elapsed seconds and the result line. Then, for every file
given, prints per workload and metric the median and the spread: the
distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_seeds(path, workload, seeds):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{r.stderr[-2000:]}")
        line = r.stdout.strip().splitlines()[-1]
        with open(path, "a") as f:
            f.write(f"{workload} {seed} {time.time() - t0:.0f} {line}\n")


def summary(path):
    runs = {}
    with open(path) as f:
        for row in f:
            workload, seed, elapsed, line = row.split(" ", 3)
            runs.setdefault(workload, []).append(json.loads(line))
    for workload, lines in runs.items():
        failed = sum(r["failed"] for r in lines)
        print(f"{path}: {workload}, {len(lines)} runs, {failed} failed operations")
        for m in lines[0]["metrics"]:
            xs = [r["metrics"][m]["value"] for r in lines]
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
            print(f"  {m:14s} median {med:.6g}  spread {(q[2] - q[0]) / med:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=int, nargs="*", default=[])
    args = ap.parse_args()
    if args.workload:
        run_seeds(args.files[0], args.workload, args.seeds)
    for path in args.files:
        summary(path)


if __name__ == "__main__":
    main()
