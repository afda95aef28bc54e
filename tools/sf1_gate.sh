#!/bin/bash
# Standing sf1 correctness gate: re-verify the FULL query catalog
# rows+schema+hash against DuckDB on the 10x data point, and write the
# driver-shaped artifact. Oracles DuckDB cannot finish at sf1 (q45/q94:
# quadratic record-domain plans the engine's blocked operators avoid)
# are capped at ORACLE_TIMEOUT_S and recorded as Spark-only row checks
# ("spark_only": true) rather than omitted.
#
#   tools/sf1_gate.sh <roundN>            # full catalog (default)
#   tools/sf1_gate.sh <roundN> @scale     # legacy scale-family subset
#
# Regenerate the data first if testdata/sf1 is absent:
#   python3 tools/make_scale_data.py 1
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: sf1_gate.sh <roundN> [@scale]}"
ONLY="${2:-}"
OUT=/tmp/verify_sf1
# q115's RESULT SET is ~quadratic on the dense 31-word synthetic vocab
# (56% of all ordered pairs qualify at t=0.9 — see PLANS.md), so its
# sf1 run is excluded the way q45/q94's oracles are timeout-capped:
# explicitly. It stays hash-gated at sf0.01/sf0.1 where both engines
# complete. q126 (incremental containment) inherits the same vocab
# pathology on its batch×corpus restriction (~18% of q115's pair set —
# still ~10⁸ rows at sf1); its scale evidence is the realistic-vocab
# A/B (PLANS.md "Round-20: incremental containment dedup") where the
# result set is sane and the probe arm is measured against the
# all-pairs arm.
SKIP="${SPARK_GRAFT_VERIFY_SKIP:-q115_containment_dedup,q126_containment_probe_incremental}"
SPARK_GRAFT_VERIFY_ONLY="$ONLY" SPARK_GRAFT_VERIFY_SKIP="$SKIP" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.Verify testdata/sf1 $OUT" >/dev/null
ORACLE_TIMEOUT_S="${ORACLE_TIMEOUT_S:-90}" \
  python3 tools/oracle_check.py testdata/sf1 "$OUT" \
  "CORRECTNESS_sf1_r${ROUND}.json"
