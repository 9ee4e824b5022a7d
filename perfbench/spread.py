#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 perfbench/spread.py --workload extensions_sf0.1 --seeds 1 10

Prints one JSON object per run as it finishes, then the summary, which is
also the format of ``results/spread-*.json``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "median": med, "spread": (q3 - q1) / med, "bound": bound,
            "within_third_of_bound": (q3 - q1) / med < bound / 3, "values": values,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, metavar=("FIRST", "LAST"), required=True)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    runs = []
    for seed in range(args.seeds[0], args.seeds[1] + 1):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=root, capture_output=True, text=True, check=True,
        )
        run = json.loads(proc.stdout.splitlines()[-1])
        print(json.dumps({"seed": seed, **run}), flush=True)
        runs.append(run)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(json.dumps({
        "workload": args.workload, "seeds": args.seeds, "seconds": seconds,
        "all_correct": all(r["correct"] for r in runs),
        "metrics": summarize(runs, bounds),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
