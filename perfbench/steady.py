#!/usr/bin/env python3
"""Runs the benchmark on one workload once per seed and prints, for
each metric, its median and its spread (inter-quartile range over
median) across the runs: the figure the benchmark's bounds are checked
against.

    python3 perfbench/steady.py --workload etl --seeds 1,2,3,4,5

Run from the root of a checkout. Each run measures for the
`run_seconds` of BENCHMARK.json. Each run's result line is appended to
`.bench_build/steady-<workload>.jsonl`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    log = os.path.join(root, ".bench_build",
                       "steady-%s.jsonl" % args.workload)
    values = {}
    for seed in args.seeds.split(","):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", seed,
             "--seconds", seconds, "--trace", "0"],
            cwd=root, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and p.returncode == 0 \
            else None
        with open(log, "a") as f:
            f.write(json.dumps({"seed": int(seed), "exit": p.returncode,
                                "run_s": time.time() - t0,
                                "result": result}) + "\n")
        metrics = (result or {}).get("metrics", {})
        print("seed %s exit %d run %.1fs %s" % (
            seed, p.returncode, time.time() - t0, " ".join(
                "%s=%.4g" % (k, v["value"]) for k, v in metrics.items())),
            flush=True)
        # pass walls with the CPU probe before each: a slow stretch of
        # the machine shows here
        print("   " + next((l for l in lines if l.startswith("passes: ")),
                           ""), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        if len(v) >= 2:
            print("%-24s median %.4g spread %.3f" % (
                k, median(v), spread(v)))


if __name__ == "__main__":
    main()
