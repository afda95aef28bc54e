#!/bin/bash
# sf10 scale-family gate: verify the superlinear-watch family
# (rows+schema+hash vs DuckDB where DuckDB can finish; Spark-only row
# checks where it cannot — see oracle_check.py ORACLE_TIMEOUT_S) on the
# 100x data point, writing the driver-shaped artifact.
#
# q57_near_dup_blocked is EXCLUDED from the oracled dump by design,
# not omission: even with the round-15 size-derived dial its sf10
# result is ~500 M rows (PLANS.md "Round 15"), so a Verify parquet
# dump would measure the write path, not the operator. Its sf10
# evidence is graft.ScaleProps (distributed property laws + sampled
# exact re-score, run below -> PROPS_sf10_r{N}.json) plus the
# ScaleKnobs dial trajectory and BENCH_DETAIL_sf10.json timings.
# q45's auto-dial result (~44 M rows) is back IN the oracled family;
# it is also property-gated alongside q57 for the laws the hash
# can't see at this volume.
#
#   tools/sf10_gate.sh <roundN>
#
# Regenerate the data first if testdata/sf10 is absent:
#   python3 tools/make_scale_data.py 10
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: sf10_gate.sh <roundN>}"
FAMILY="q23_revenue_topk,q43_minhash_lsh_pairs,q47_dedup_components,"
FAMILY+="q56_regional_revenue,q80_sql_api,q96_recursive_cte,"
FAMILY+="q105_seq_pack,q106_det_shard,"
FAMILY+="q107_mixture_resample,q108_source_pctl_filter,"
FAMILY+="q109_incremental_dedup,q110_shard_readback,"
FAMILY+="q114_budget_select,q117_kmv_merge,q118_rolling_dedup,"
# round 15 breadth: the families that previously only had sf1 hashes
FAMILY+="q40_dedup_exact,q41_dedup_fingerprint,q42_minhash_signatures,"
FAMILY+="q44_simhash,q45_jaccard_pairs,q46_range_join_bucketed,"
FAMILY+="q76_kmv_distinct,q77_heavy_hitters,q78_chunk_dedup,"
FAMILY+="q83_decontam,q84_unigram_lm,q85_doc_length_hist,"
FAMILY+="q99_cooccurrence,q104_approx_distinct_gate,"
# round 16 breadth: event/analytics families (linear-ish DuckDB plans,
# feasible at sf10 — r15 verdict #4), q69 (closes the tfidf
# adjudication with an sf10 datapoint), and the new capped-output pair
# miners (their oracles replay the full blocked pair set / recursive
# CTE, so a timeout degrades them to spark_only rows — their sf10
# correctness evidence is PROPS_sf10 + the BoundedTopK/CC specs)
FAMILY+="q60_events_tumbling,q61_events_sessionize,q62_events_props,"
FAMILY+="q63_events_top_type,q64_events_sliding,q65_events_sessions,"
FAMILY+="q69_tfidf_topterms,q86_scd2,q89_gap_fill,q90_session_window,"
FAMILY+="q93_merge_upsert,q120_cosine_topk,q121_near_dup_components,"
# q122's oracle replays q54's unrolled k-means over the full corpus —
# expect a timeout→spark_only row at sf10; its completion at 100×
# (index build + DPP probe) is the point
FAMILY+="q122_ann_ivf_probe,"
# round 17: the composed pipeline and the indexed capped miner — both
# oracles are recursive-CTE/full-assignment replays that may time out
# at sf10 (degrading to spark_only rows); their 100× laws live in
# ScaleProps (budget bound, CC cross-impl equality, sampled re-score)
FAMILY+="q123_curation_pipeline,q124_cosine_topk_indexed,"
# round 19: the indexed dedup DECISION path (q121's production form —
# recall law in RecallSpec, CC laws in ScaleProps)
FAMILY+="q125_near_dup_indexed,"
# round 20: the SQL surface of the same decision path (expects the
# same oracle timeout → spark-only row; the point is that the SQL
# expansion completes at 100× on the capped layout). q126
# (incremental containment) is EXCLUDED for q115's reason: the dense
# synthetic vocab makes its batch×corpus result set itself ~quadratic;
# its scale evidence is the realistic-vocab A/B (PLANS.md "Round-20:
# incremental containment dedup").
FAMILY+="q127_sql_near_dup_indexed,"
# round 20 (second pass): the new curation operators — bloom
# decontamination (bounded set-bit broadcast), span-level dup stats
# (no pair table: windows ~n, DuckDB replays in full), and count-min
# heavy hitters (d×w grid; the oracle's 2×120 M bucket-row groupBy is
# linear and feasible)
FAMILY+="q128_bloom_decontam,q129_dup_span_windows,"
FAMILY+="q130_cm_heavy_hitters"
OUT=/tmp/verify_sf10
SPARK_GRAFT_VERIFY_ONLY="$FAMILY" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.Verify testdata/sf10 $OUT" >/dev/null
ORACLE_TIMEOUT_S="${ORACLE_TIMEOUT_S:-300}" \
  python3 tools/oracle_check.py testdata/sf10 "$OUT" \
  "CORRECTNESS_sf10_r${ROUND}.json"
# property gate for the pair miners whose result sets outgrow the
# hash compare (q57; q45 doubly covered)
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" sbt -batch \
  "runMain graft.ScaleProps testdata/sf10 PROPS_sf10_r${ROUND}.json"
