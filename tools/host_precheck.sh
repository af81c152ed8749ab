#!/bin/bash
# Host-stability precheck (VERDICT r13 next-round #1): before any record
# that will be cited as scale evidence, probe the same anchor query
# (q1_pricing_summary at sf0.1) three times in fresh JVMs and require the
# max/min spread to stay under a threshold. Round 13 shipped its sf1
# record from a window where IDENTICAL code measured 3x apart minutes
# apart (judge-confirmed); this gate makes that class of record
# impossible to ship silently.
#
# Usage: tools/host_precheck.sh [out.json] [threshold]
# Exit 0 + JSON {"probes":[...],"spread":...,"ok":true} if stable;
# exit 1 (JSON with "ok":false) otherwise.
set -eo pipefail
cd /root/repo
OUT=${1:-/dev/stdout}
THRESH=${2:-1.3}
PROBES=()
for i in 1 2 3; do
  LINE=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_ONLY=q1_pricing_summary \
    tools/engine_java.sh 8g graft.Bench 2>/dev/null \
    | grep -v '"queries_n"' | grep -m1 '"metric":"total"')
  SEC=$(python3 -c "import json,sys; print(json.loads(sys.argv[1])['queries']['q1_pricing_summary'])" "$LINE")
  PROBES+=("$SEC")
done
python3 - "$THRESH" "${PROBES[@]}" > "$OUT" <<'PYEOF'
import json, sys
thresh = float(sys.argv[1])
probes = [float(x) for x in sys.argv[2:]]
spread = max(probes) / min(probes)
ok = spread <= thresh
print(json.dumps({"anchor": "q1_pricing_summary", "sf": 0.1,
                  "probes": probes, "spread": round(spread, 3),
                  "threshold": thresh, "ok": ok}))
sys.exit(0 if ok else 1)
PYEOF
