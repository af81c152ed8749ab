#!/bin/bash
# Guarded full-corpus sf1 record (round 15): the first r15 sf1 run passed
# the START precheck (spread 1.226) but degraded MID-RUN — a contiguous
# bench-order stretch (q_stream_socket_source .. first TPC-DS block) came
# out 4-26x slower than the same queries in BENCH_r14_sf1.json while the
# suite median was 0.923 (faster). This wrapper (a) waits for a stable
# window, (b) runs the paired bench, and (c) POST-checks both host
# stability and the per-query distribution vs the $REF record (default
# BENCH_r14_sf1.json), so a mid-run degradation can't ship silently again.
# Usage: tools/run_sf1_guarded.sh [attempts] [sleep_s] [out.json] [ref.json]
# (r16: output record name and the distribution-check reference are
# arguments so each round ships its own record without editing the guard;
# defaults keep the r15 invocation working unchanged)
set -uo pipefail
cd /root/repo
ATTEMPTS=${1:-12}
SLEEP=${2:-600}
OUT=${3:-BENCH_r15_sf1.json}
REF=${4:-BENCH_r14_sf1.json}
for i in $(seq 1 "$ATTEMPTS"); do
  echo "=== attempt $i/$ATTEMPTS $(date -u +%H:%M:%SZ)" >&2
  if ! tools/run_sf1_full.sh /dev/shm/graft/sf1; then
    echo "unstable start window; sleeping ${SLEEP}s" >&2
    sleep "$SLEEP"
    continue
  fi
  # post-run stability probe: same gate as the start
  if ! tools/host_precheck.sh /tmp/sf1_postcheck.json 1.3; then
    echo "POST-check failed ($(cat /tmp/sf1_postcheck.json)); retrying" >&2
    sleep "$SLEEP"
    continue
  fi
  tools/sf1_report.py /tmp/sf01_full.json /tmp/sf1_full.json /tmp/BENCH_sf1_candidate.json
  # distribution check vs the $REF record: the p90 of per-query sf1-second
  # ratios candidate/$REF must stay under 2.0 (the degraded run's cluster
  # was 4-26x; normal host drift is well under 1.5).
  REF="$REF" python3 - <<'PYEOF'
import json, os, statistics, sys
cand = json.load(open('/tmp/BENCH_sf1_candidate.json'))
ref = json.load(open(os.environ.get('REF', 'BENCH_r14_sf1.json')))
common = [q for q in cand['sf1'] if q in ref['sf1'] and ref['sf1'][q] > 0.1]
rel = sorted(cand['sf1'][q] / ref['sf1'][q] for q in common)
p90 = rel[int(len(rel) * 0.9)]
med = statistics.median(rel)
print(f"vs {os.environ.get('REF','BENCH_r14_sf1.json')}: median {med:.3f} p90 {p90:.2f} worst {rel[-1]:.2f}", file=sys.stderr)
sys.exit(0 if p90 < 2.0 else 1)
PYEOF
  if [ $? -eq 0 ]; then
    cp /tmp/BENCH_sf1_candidate.json "$OUT"
    echo "CLEAN RECORD SHIPPED: $OUT (precheck $(cat /tmp/sf1_precheck.json); postcheck $(cat /tmp/sf1_postcheck.json))"
    exit 0
  fi
  echo "distribution check failed; retrying" >&2
  sleep "$SLEEP"
done
echo "NO STABLE WINDOW after $ATTEMPTS attempts" >&2
exit 3
