#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with another seed,
and print for every metric its median, quartiles and spread (the
inter-quartile distance as a share of the median, from
``statistics.quantiles(values, n=4)``) next to the bound in
``BENCHMARK.json``, plus each run's wall time, session start and pass
walls.

    python3 wbench/steady.py --workload wiki_etl --runs 10 [--first-seed 1]

Run it from the root of a checkout; runs are sequential, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    runs = []
    for k in range(args.runs):
        seed = args.first_seed + k
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        runs.append(
            {
                "seed": seed,
                "run_wall_s": round(wall, 1),
                "failed": result["failed"],
                "attempted": result["attempted"],
                "session_start_s": detail["session_start_s"],
                "pass_s": detail["pass_s"],
            }
        )
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps(runs[-1]), flush=True)

    report = {}
    for name, vs in values.items():
        med, q1, q3, sp = spread(vs)
        bound = bounds.get(name)
        report[name] = {
            "median": med, "q1": q1, "q3": q3, "spread": round(sp, 4), "bound": bound,
            "within_third_of_bound": None if bound is None else sp < bound / 3,
        }
        print(f"{name:>14}  median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {sp:7.2%}  bound {bound}")
    print(json.dumps({"workload": args.workload, "runs": runs, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
