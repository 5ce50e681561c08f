#!/usr/bin/env bash
# Isolated-warm bench: one fresh JVM per query family (graft.tools.Tool family),
# merged into a single BENCH_r{N}_isolated.json. The per-query diff against the
# suite bench (graft.Bench) separates plan regressions from suite-interaction
# effects (standing-cache pressure) without live re-measurement.
#
# usage: scripts/bench_isolated.sh [sfDir] [outFile]
set -euo pipefail
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/root/repo/BENCH_isolated.json}
cd /root/repo

sbt -batch compile >/dev/null
CP=$(sbt -batch -error "export Runtime/fullClasspath" | tail -1)

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

FAMILIES="tpch series vector corpus dedup events retrieval text streaming"
TMP=$(mktemp /tmp/bench_isolated.XXXX.jsonl)
for fam in $FAMILIES; do
  echo "[bench_isolated] family=$fam" >&2
  # shellcheck disable=SC2086
  java -Xmx"${SPARK_DRIVER_MEM:-8g}" $ADD_OPENS \
    -cp "$CP" graft.tools.Tool family "$fam" "$SF" 2>/dev/null | tail -1 >> "$TMP"
done

python3 - "$TMP" "$OUT" $FAMILIES <<'EOF'
import json, sys
fams = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
# a family whose JVM died prints nothing: a merge without it would read as
# a faster total, so every family must have reported
missing = sorted(set(sys.argv[3:]) - {f["family"] for f in fams})
if missing:
    sys.exit("bench_isolated: no result for families: " + ", ".join(missing))
out = {
    "metric": "isolated_warm", "unit": "sec", "sf": fams[0]["sf"],
    "value": round(sum(f["total"] for f in fams), 2),
    "families": {f["family"]: f["total"] for f in fams},
    "queries": {k: v for f in fams for k, v in f["queries"].items()},
    "failed": [q for f in fams for q in f["failed"]],
}
json.dump(out, open(sys.argv[2], "w"))
print("wrote", sys.argv[2], "total", out["value"])
EOF
rm -f "$TMP"
