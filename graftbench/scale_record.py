#!/usr/bin/env python3
"""One-off scale record (not a standing workload): the seven
candidate-generation queries flagged superlinear at 10x, run with the
benchmark harness at sf0.1 and on the 10x key-shifted replica of it,
cold and warm, with ratios normalized by each run's box-speed
calibration.

    python3 graftbench/scale_record.py [--seed N]

Writes graftbench/results/scale10x.json and prints a markdown table.
Takes about 15 minutes on 4 cores.
"""
import argparse
import json
import time
from pathlib import Path

import run

QUERIES = ["x_dedup_contain", "x_dedup_ngram", "x_knn_graph", "x_knn_graph_probe",
           "q_common_nbrs", "x_hard_neg", "x_lsh_recall"]
TIMEOUT_S = 3600


def per_query(result):
    out = {}
    for p in result["passes"]:
        if p["pass"] in ("cold", "warm"):
            out.setdefault(p["query"], {})[p["pass"]] = p["build_s"] + p["plan_s"] + p["action_s"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    stamp = run.build()
    results = {}
    for data in ("sf0.1", "x10"):
        name = f"scale_{data}"
        run_dir = run.BENCH / ".runs" / f"{name}-{time.strftime('%Y%m%dT%H%M%S')}"
        run_dir.mkdir(parents=True)
        results[data] = run.run_jvm(name, data, QUERIES, a.seed, 0, False, True, run_dir,
                                    timeout=TIMEOUT_S)
    small, big = results["sf0.1"], results["x10"]
    drift = big["env"]["calib_sec"] / small["env"]["calib_sec"]
    t_small, t_big = per_query(small), per_query(big)
    rows = []
    print("| query | pass | sf0.1 s | 10x s | raw | normalized |\n| --- | --- | --- | --- | --- | --- |")
    for q in QUERIES:
        for label in ("cold", "warm"):
            s, b = t_small[q][label], t_big[q][label]
            rows.append({"query": q, "pass": label, "sf01_s": s, "x10_s": b,
                         "raw": b / s, "normalized": b / s / drift})
            print(f"| {q} | {label} | {s:.2f} | {b:.2f} | {b / s:.1f}x | {b / s / drift:.1f}x |")
    print(f"calibration drift (10x / sf0.1 calib_sec): {drift:.3f}")
    out = {"queries": QUERIES, "source_sha256": stamp, "calib_drift": drift, "rows": rows,
           "failed": {"sf0.1": small["failures"], "x10": big["failures"]},
           "fingerprints": {"sf0.1": small["fingerprints"], "x10": big["fingerprints"]},
           "env": {"sf0.1": small["env"], "x10": big["env"]},
           "data": {"sf0.1": small["data"], "x10": big["data"]}}
    path = run.BENCH / "results" / "scale10x.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
