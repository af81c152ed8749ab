#!/bin/bash
# Local replica of the driver's verify step: compile, run graft.Verify on a
# SF dir, leaving parquet + oracle_sql.json in $2. Usage:
#   tools/run_verify.sh /root/testdata/sf0.01 /tmp/verify_out [MainClass]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${3:-graft.Verify}
cd /root/repo
sbt -batch compile 1>&2
# The H1-blocked queries (TpcdsVerbatim2Queries.h1Blocked) dump to a
# sibling dir so check.py can prove rendered-multiset value equality
# without polluting the driver-shaped outDir.
export SPARK_GRAFT_EXCLUDED_OUT="${SPARK_GRAFT_EXCLUDED_OUT:-$OUT.excluded}"
exec tools/engine_java.sh 8g "$MAIN" "$SF" "$OUT"
