#!/usr/bin/env python3
"""Spread of the benchmark's end-to-end metrics across seeds.

    python3 graftbench/stats.py --workload NAME --seeds 10 [--first-seed 1]
        [--seconds 10]

Runs run.py once per seed and reports, per metric, the median and the
spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. Writes the
values to graftbench/.runs/spread-<workload>-<time>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def quartiles(values):
    """First and third quartile, as statistics.quantiles(values, n=4)."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                             cwd=BENCH.parent, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(last)
        print(seed, {k: round(v["value"], 4) for k, v in last["metrics"].items()},
              "failed", last["failed"], flush=True)
    report = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        report[name] = {"median": statistics.median(vals), "spread": spread(vals), "values": vals}
        print(f"{name:20s} median {statistics.median(vals):10.4f}  spread {spread(vals):.4f}")
    path = BENCH / ".runs" / f"spread-{a.workload}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    path.write_text(json.dumps({"workload": a.workload, "runs": runs, "report": report}, indent=1))


if __name__ == "__main__":
    main()
