#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per end-to-end metric, the
median and the quartile spread ((Q3 - Q1) / median) against its bound.

    python3 perfbench/steady.py --workload flood_forecast --seeds 1-10

A benchmark is steady when every spread except setup_s's stays well inside
its bound; compare two commits only with runs of identical settings.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values = {}
    for sd in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(sd), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=root, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {sd}: no result (exit {r.returncode})\n{r.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {sd}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"wall={time.time() - t0:.0f}s", flush=True)
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) >= 2:
            print(f"{m['name']:14s} median={statistics.median(xs):.5g} "
                  f"spread={stats.quartile_spread(xs):.3f} bound={m['bound']}")


if __name__ == "__main__":
    main()
