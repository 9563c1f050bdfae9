#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median).

Usage (from the repository root):

    python3 perfbench/spread.py --workload cdc_2k --seeds 10 [--first-seed 1]

Each run is `perfbench/run.py` with BENCHMARK.json's run_seconds; the spread
must stay within each metric's bound (setup_s excepted) for the benchmark to
be steady.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with code {out.returncode}")
        r = json.loads(lines[-1])
        if not r["correct"] or r["failed"]:
            sys.exit(f"seed {seed}: correct={r['correct']} failed={r['failed']}")
        for k in values:
            values[k].append(r["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:20s} median={med:10.4g} spread={(q3 - q1) / med:6.3f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main()
