#!/usr/bin/env bash
# Bench + regression tripwire.
#
# 1. Full per-query sweep at the given sf (default sf0.1). Bench
#    re-measures every >2x outlier against tools/bench_ref.txt with
#    warm reps in its own session (cache cleared first, like the sweep)
#    and records the min, so one background process on the box cannot
#    certify a false regression.
# 2. bench_diff vs the canonical clean reference: fail on any query
#    that still reads >2x slower after that triage — the round-4
#    lesson (contaminated runs read unchanged code 3-30x slower).
set -uo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.1}"
SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench" || exit 1
python3 tools/bench_diff.py bench_last.json
