#!/bin/bash
# Full-corpus sf1 scale-up bench (VERDICT r7 next-round item 5): generate
# the 10x fixtures from sf0.1 via graft.tools.ScaleGen (reused if already
# present), then run the ENTIRE query corpus through graft.Bench at BOTH
# sf0.1 and sf1 in the same host window, leaving the raw JSON lines in
# /tmp for tools/sf1_report.py to merge into BENCH_r8_sf1.json.
set -e
cd /root/repo
SF1=${1:-/dev/shm/graft/sf1}
if [ ! -d "$SF1/lineitem.parquet" ]; then
  tools/engine_java.sh 8g graft.tools.ScaleGen /root/testdata/sf0.1 "$SF1" 10 1>&2
fi
# Host-stability gate (VERDICT r13 #1): refuse to record scale evidence in
# a degraded window (r13's sf1 tail was recorded in one and is unusable).
tools/host_precheck.sh /tmp/sf1_precheck.json 1.3 || {
  echo "HOST UNSTABLE ($(cat /tmp/sf1_precheck.json)) — aborting sf1 record" >&2
  exit 2
}
echo "precheck: $(cat /tmp/sf1_precheck.json)" >&2
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  tools/engine_java.sh 10g graft.Bench 2>/tmp/sf01_full_err.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf01_full.json
SPARK_GRAFT_SF_DIR="$SF1" SPARK_GRAFT_CPUS=32 \
  tools/engine_java.sh 10g graft.Bench 2>/tmp/sf1_full_err.log | grep -v '"queries_n"' | grep -m1 '"metric":"total"' > /tmp/sf1_full.json
echo "done: /tmp/sf01_full.json /tmp/sf1_full.json"
