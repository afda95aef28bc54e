#!/bin/bash
# Differential SQL fuzz gate: N seeded random ANSI queries through
# Spark's SQL front-end (graft.SqlVerify) AND DuckDB, hash-compared by
# oracle_check.py. Exercises parser+analyzer+optimizer+execution on
# inputs nobody hand-picked; the seed makes every run reproducible.
#
#   tools/fuzz_gate.sh <roundN> [N=120] [seed=13]   # -> FUZZ_r{N}.json
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: fuzz_gate.sh <roundN> [N] [seed]}"
N="${2:-120}"
SEED="${3:-13}"
SF=/root/testdata/sf0.01
python3 tools/fuzz_sql.py "$N" "$SEED" "$SF" /tmp/fuzz_sql.json
# Clean stale per-query outputs: a failed query must show up as "no
# spark output" in oracle_check, not silently reuse a previous run's
# parquet under the same name.
rm -rf /tmp/fuzz_out
# SqlVerify exits 1 if ANY query crashed Spark-side; the comparison
# must still run for the other N-1 (oracle_check records the crashed
# ones as FAIL "no spark output"), so tolerate the exit code here.
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" sbt -batch \
  "runMain graft.SqlVerify $SF /tmp/fuzz_out /tmp/fuzz_sql.json" \
  >/dev/null || echo "[fuzz_gate] SqlVerify reported Spark-side failures;" \
  "oracle_check will record them per-query"
python3 tools/oracle_check.py "$SF" /tmp/fuzz_out "FUZZ_r${ROUND}.json"
