#!/usr/bin/env bash
# One-shot verification gauntlet — every gate the driver/judge checks,
# in cheapest-first order. ~25 min total at the default scales.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/6 pytest (the ROADMAP tier-1 command) ==="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
echo "=== 2/6 plan audit (cartesian/BNLJ) ==="
python tools/plan_audit.py /root/testdata/sf0.01
echo "=== 3/6 window audit (global windows) ==="
python tools/window_audit.py /root/testdata/sf0.01
echo "=== 4/6 full oracle parity, sf0.01 ==="
python tools/parity.py /root/testdata/sf0.01
echo "=== 5/6 overflow subset, sf0.1 ==="
python tools/parity.py --subset overflow /root/testdata/sf0.1
echo "=== 6/6 bench probe ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_RUNS=1 python bench.py
echo "ALL GATES GREEN"

# Optional heavyweight stages (set FULL=1): the whole-catalog sf0.1
# certification (~25 min since round 7 — no exclusions: the graph twins'
# banded MATERIALIZED pair core and unrolled MinHash signature slots cut
# the DuckDB side ~70x) and the session-accumulation probe (two catalog
# passes in one session; asserts the 10 heaviest queries stay flat —
# q180 lesson).
if [[ "${FULL:-0}" == "1" ]]; then
  echo "=== FULL A: whole-catalog parity, sf0.1 ==="
  python tools/parity.py /root/testdata/sf0.1
  echo "=== FULL B: session-accumulation probe, sf0.1 ==="
  python tools/session_probe.py /root/testdata/sf0.1
  echo "FULL GATES GREEN"
fi
