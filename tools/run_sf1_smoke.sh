#!/bin/bash
# sf1 scale-up smoke (VERDICT r6 item 2): generate the 10x fixtures from
# sf0.1 via graft.tools.ScaleGen, run the heavy-query subset through
# graft.Bench at BOTH sf0.1 and the generated sf1, and leave the two raw
# JSON lines in /tmp for tools/sf1_report.py to merge into BENCH_r7_sf1.json.
set -e
cd /root/repo
SF1=${1:-/dev/shm/graft/sf1}
QUERIES="q1_pricing_summary,q_tpch_q3,q_tpch_q6,q_tpch_q17,q_tpch_q18,q_tpch_q21,q_tpch_q2,q_topn_per_group,q_graph_pagerank,q_graph_components,q_graph_sssp,q_pipe_minhash_lsh,q_pipe_jaccard,q_pipe_cluster_split,q_pipe_dedup_keep_best,q_pipe_incremental_dedup,q_pipe_minhash_calibration,q_pipe_simhash,q_pipe_ppjoin,q_pipe_ann_brute,q_pipe_ann_ivf_trained,q_pipe_bm25,q_pipe_rag_e2e,q_pipe_epoch_shuffle,q_pipe_dataset_card"
# round-7 session-2 broadening: the common-neighbor-join graph family, the
# NFA/MATCH_RECOGNIZE engines, heavy TPC-H/DS shapes, the remaining
# shuffle-heavy dedup passes, and the e2e corpus compose — 45 total
QUERIES="$QUERIES,q_graph_triangles,q_graph_jaccard_index,q_graph_adamic_adar,q_graph_hits,q_graph_community,q_graph_clustering_coeff,q_graph_label_prop,q_graph_triadic_census,q_sql_mr_multi_partition,q_sql_mr_skip_to_last,q_cep_funnel,q_cep_timeout,q_tpch_q9,q_tpch_q13,q_ds_weekly_yoy,q_ds_distinct_over,q_pipe_semdedup,q_pipe_line_dedup,q_pipe_contain_dedup,q_pipe_e2e_c4"
# session-2b: the directed clustering family + bipartite projections (the
# newest join-heavy graph additions) — 49 total
QUERIES="$QUERIES,q_graph_dir_lcc,q_graph_dir_census,q_graph_transforms,q_graph_bipartite"
tools/engine_java.sh 8g graft.tools.ScaleGen /root/testdata/sf0.1 "$SF1" 10 1>&2
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$QUERIES" \
  tools/engine_java.sh 8g -verbose:gc graft.Bench 2>/tmp/sf01_smoke_gc.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf01_smoke.json
SPARK_GRAFT_SF_DIR="$SF1" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$QUERIES" \
  tools/engine_java.sh 8g -verbose:gc graft.Bench 2>/tmp/sf1_smoke_gc.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf1_smoke.json
echo "done: /tmp/sf01_smoke.json /tmp/sf1_smoke.json"
