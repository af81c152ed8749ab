#!/bin/bash
# Round-end proof ritual (the r10/r11 accounting pattern, made a script):
# the four full-corpus verify legs + the full local bench, back to back
# from one detached run, all at the current (release) commit. Leaves
# per-leg check summaries in $LOG/ and the bench line in
# $LOG/bench_local.json. Scale records (sf1/sf10) run separately.
# pipefail (ADVICE r12): without it, a graft.Bench crash that still emitted
# a "metric":"total" line earlier in the pipe would exit 0 and leave a
# green-looking bench_local.json behind.
set -eo pipefail
cd /root/repo
LOG=${1:-/tmp/r12_legs}
mkdir -p "$LOG"
git rev-parse HEAD > "$LOG/commit.txt"
date -u +%FT%TZ > "$LOG/started.txt"

leg() { # name sfdir cpus
  local name=$1 sf=$2 cpus=$3
  # Resumable (VERDICT r14 #3: the r14 run was killed mid-hostile-leg by
  # the driver's bench takeover and lost the whole ritual): a leg that
  # already completed green AT THIS COMMIT is skipped on re-run, so a
  # second invocation finishes only the missing legs + bench.
  if [ -f "$LOG/done_$name" ] && \
     [ "$(cat "$LOG/done_$name")" = "$(git rev-parse HEAD)" ]; then
    echo "== leg $name already green at this commit, skipping =="
    tail -1 "$LOG/check_$name.txt"
    return 0
  fi
  echo "== leg $name ($sf, cpus=$cpus) =="
  SPARK_GRAFT_CPUS=$cpus tools/run_verify.sh "$sf" "$LOG/out_$name" \
    2> "$LOG/verify_$name.err"
  python3 tools/check.py "$sf" "$LOG/out_$name" --strict \
    > "$LOG/check_$name.txt" 2>&1 || { echo "LEG $name RED"; exit 1; }
  git rev-parse HEAD > "$LOG/done_$name"
  tail -1 "$LOG/check_$name.txt"
}

leg sf001  /root/testdata/sf0.01      32
leg sf0001 /root/testdata/sf0.001     32
leg cpus7  /root/testdata/sf0.01      7

# Regenerate the hostile fixture at THIS commit before its leg (r14): the
# generator carries the adversarial-streaming plants (hot key, duplicate
# events, hash-ordered file) and a stale /dev/shm copy would silently
# test yesterday's hostility instead of HEAD's.
tools/engine_java.sh 8g graft.tools.HostileGen \
  /root/testdata/sf0.01 /dev/shm/graft/hostile01 > "$LOG/hostilegen.log" 2>&1

leg hostile /dev/shm/graft/hostile01  32

echo "== full local bench (sf0.1) =="
# Host-stability precheck (VERDICT r13 #1): annotate (don't abort — the
# verify legs above are correctness evidence regardless); a red marker
# means the bench record that follows must not be cited as timing truth.
if tools/host_precheck.sh "$LOG/precheck.json" 1.3; then
  echo "precheck OK: $(cat "$LOG/precheck.json")"
else
  touch "$LOG/PRECHECK_RED"
  echo "PRECHECK RED: $(cat "$LOG/precheck.json") — bench record will be host-degraded"
fi
# Stage the bench stdout to a file, THEN grep: `java | grep -m1` under
# pipefail would turn grep's early pipe close into a spurious SIGPIPE
# failure, and java's own exit code would still be masked. This way set -e
# checks java directly and the grep runs over the complete output.
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  tools/engine_java.sh 10g graft.Bench \
  > "$LOG/bench_raw.txt" 2> "$LOG/bench.err"
grep -v '"queries_n"' "$LOG/bench_raw.txt" | grep -m1 '"metric":"total"' \
  > "$LOG/bench_local.json"

# Plan-dump selection derived MECHANICALLY from the final bench record
# (VERDICT r12 What's-wrong #1: a hand-picked list drifted from the
# at-release bench and left >2.5 s entries undumped): every query over
# 2.5 s in THIS run's bench_local.json, plus the standing headline set.
python3 - "$LOG/bench_local.json" > "$LOG/plan_names.txt" <<'PYEOF'
import json, sys
b = json.load(open(sys.argv[1]))
print("\n".join(sorted(n for n, sec in b["queries"].items() if sec > 2.5)))
PYEOF
# PlanDump unions these with its standing headline set internally.
# shellcheck disable=SC2046
tools/engine_java.sh 8g graft.PlanDump \
  /root/testdata/sf0.01 "$LOG/PLANS.md" $(cat "$LOG/plan_names.txt") \
  2> "$LOG/plandump.err"

date -u +%FT%TZ > "$LOG/finished.txt"
echo "ALL LEGS GREEN (logs in $LOG)"
