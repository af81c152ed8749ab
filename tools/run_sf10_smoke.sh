#!/bin/bash
# sf10 (100x) scale-up smoke (VERDICT r8 next-round item 4): generate the
# 100x fixtures from sf0.1 via graft.tools.ScaleGen reps=100, run the
# heaviest dedup/ANN/graph/TPC-H/streaming-harness queries through
# graft.Bench at BOTH sf0.1 and the generated sf10, and merge with
# tools/sf1_report.py (the ratio record reads "100x" via the desc patch
# in the caller) into BENCH_r9_sf10.json.
set -e
cd /root/repo
SF10=${1:-/dev/shm/graft/sf10}
# q_graph_pagerank_part / q_graph_hits_part force the broadcast threshold
# to zero, so the partitioned iterative-loop fallback (the r9 100x-design
# work) gets direct 100x measurements on TWO loop shapes (r10 VERDICT #4:
# the fallback claim rested on pageRank alone); q_stream_cdc_join adds a
# state-store-heavy streaming ratio beyond the e2e corpus replay. The
# loops run at honest ambient width here (SPARK_GRAFT_LOOP_PARTS=32
# overrides Bench's fixture-scale default of 4).
# r13 (VERDICT r12 #7): q_stream_retract_topn and q_changelog_agg put
# direct 100x numbers behind the RETRACT-family state-store growth story
# (previously proven at sf1 only — the joins were the only stateful 100x
# ratios here).
# r15 (VERDICT r14 #1): q_pipe_dsir / q_pipe_ccnet_bucket put direct 100x
# numbers behind the ntileLazy rank split that replaced the global-sort ntile.
QUERIES="q1_pricing_summary,q_tpch_q6,q_tpch_q9,q_tpch_q18,q_tpch_q21,q_graph_pagerank,q_graph_pagerank_part,q_graph_hits_part,q_graph_components,q_graph_triangles,q_graph_hits,q_pipe_minhash_lsh,q_pipe_simhash,q_pipe_ppjoin,q_pipe_semdedup,q_pipe_ann_ivf_trained,q_pipe_bm25,q_pipe_e2e_c4,q_stream_e2e_corpus,q_stream_cdc_join,q_stream_retract_topn,q_changelog_agg,q_pipe_dsir,q_pipe_ccnet_bucket"
export SPARK_GRAFT_LOOP_PARTS=32
# r14: stateful streaming stages also run at honest width at 100x (the
# 4-partition runToMemory default is a fixture-scale optimization; one
# state partition holding 100x the keys dominates q_stream_cdc_join)
export SPARK_GRAFT_STREAM_PARTS=32
# Host-stability gate (VERDICT r13 #1): refuse to record scale evidence in
# a degraded window.
tools/host_precheck.sh /tmp/sf10_precheck.json 1.3 || {
  echo "HOST UNSTABLE ($(cat /tmp/sf10_precheck.json)) — aborting sf10 record" >&2
  exit 2
}
echo "precheck: $(cat /tmp/sf10_precheck.json)" >&2
if [ ! -d "$SF10/lineitem.parquet" ]; then
  tools/engine_java.sh 24g graft.tools.ScaleGen /root/testdata/sf0.1 "$SF10" 100 1>&2
fi
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$QUERIES" \
  tools/engine_java.sh 8g graft.Bench 2>/tmp/sf01_smoke100_gc.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf01_smoke100.json
SPARK_GRAFT_SF_DIR="$SF10" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$QUERIES" \
  tools/engine_java.sh 48g graft.Bench 2>/tmp/sf10_smoke_gc.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf10_smoke.json
# POST-run precheck (r15, the run_sf1_guarded.sh protocol): the smoke takes
# ~25 min and the START precheck cannot see a mid-run host-degradation
# stretch — the first r15 attempt recorded q_pipe_dsir at 166 s / simhash
# at 74 s where clean-window isolated reps measure 17-32 s (adjudicated by
# driver thread dumps: the md5-heavy CPU-bound stages are the class a
# noisy-neighbor window inflates most). A red post-precheck means the
# record must be discarded and re-run, not shipped.
if tools/host_precheck.sh /tmp/sf10_postcheck.json 1.3; then
  echo "post-precheck OK: $(cat /tmp/sf10_postcheck.json)"
else
  echo "POST-PRECHECK RED: $(cat /tmp/sf10_postcheck.json) — discard this record" >&2
  exit 2
fi
echo "done: /tmp/sf01_smoke100.json /tmp/sf10_smoke.json"
