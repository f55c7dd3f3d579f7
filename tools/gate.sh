#!/usr/bin/env bash
# Full local correctness gate — run before EVERY query-touching commit.
# Mirrors the driver: sbt test, then Verify at sf0.01, then the
# pandas-faithful oracle compare (tools/check.py), then the SECOND
# scale factor (sf0.1) with the cheap-but-sound oracle forms for the
# three quadratic references (tools/sf01_overrides.json) — routine
# since round 10 (<10 min; skip with GRAFT_SKIP_SF01=1 when iterating).
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${GRAFT_VERIFY_OUT:-/tmp/graft_verify}"
rm -rf "$OUT_DIR"
sbt -batch test
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
python3 tools/check.py "$SF_DIR" "$OUT_DIR"
echo "GATE GREEN ($SF_DIR)"
if [ "${GRAFT_SKIP_SF01:-0}" != "1" ]; then
  SF01_DIR="/root/testdata/sf0.1"
  OUT01_DIR="/tmp/graft_verify_sf01"
  rm -rf "$OUT01_DIR"
  SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.Verify $SF01_DIR $OUT01_DIR"
  python3 tools/check.py "$SF01_DIR" "$OUT01_DIR" tools/sf01_overrides.json --jobs 12
  echo "SF01 GATE GREEN ($SF01_DIR)"
fi
