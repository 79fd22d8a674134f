#!/usr/bin/env bash
# Scaling-evidence runner: times the bench heavies at sf0.001 / sf0.01 /
# sf0.1 via graft.Bench (same warmup + min-of-passes discipline as the
# per-round artifact) and leaves one JSON file per SF in /tmp/scaling/.
# tools/scaling_report.py turns those into SCALING.md with per-query
# time-vs-SF exponents. Runs the compiled classes through tools/launch.sh
# (no sbt) so it can run alongside an sbt session; build first: `sbt compile`.
set -euo pipefail
cd "$(dirname "$0")/.."

# Mode resolution FIRST (merge > only > default), and the two explicit
# modes are mutually exclusive — SCALING_MERGE used to silently shadow
# SCALING_ONLY, and the default bench_latest derivation ran (and could
# fail) even when merge mode was about to discard it.
if [ -n "${SCALING_MERGE:-}" ] && [ -n "${SCALING_ONLY:-}" ]; then
  echo "set SCALING_MERGE or SCALING_ONLY, not both" >&2; exit 1
fi
if [ -n "${SCALING_MERGE:-}" ]; then
  HEAVIES="$SCALING_MERGE"
elif [ -n "${SCALING_ONLY:-}" ]; then
  HEAVIES="$SCALING_ONLY"
else
  # default: the top-N slowest queries in the committed bench artifact
  # (plus SCALING_EXTRA additions) — every new op lands in bench_latest,
  # so a new heavy can no longer silently skip certification the way a
  # hand-baked list let it (r11 verdict item). Refresh bench_latest
  # BEFORE regenerating SCALING.md or the list is a round stale.
  HEAVIES=$(python3 - <<'PY'
import json, os
q = json.load(open('bench_latest.json'))['queries']
n = int(os.environ.get('SCALING_TOPN', '40'))
top = set(sorted(q, key=q.get, reverse=True)[:n])
extra = set(x for x in os.environ.get('SCALING_EXTRA', '').split(',') if x)
print(','.join(sorted(top | extra)))
PY
)
fi

mkdir -p /tmp/scaling
# Incremental mode: SCALING_MERGE=q_a,q_b times ONLY those queries and
# merges them into the existing /tmp/scaling/sf*.json before the report —
# the cheap way to certify a few new heavies (e.g. ones the selfcheck
# SCALEGAP guard flags) without re-timing the whole table.
if [ -n "${SCALING_MERGE:-}" ]; then
  for sf in 0.001 0.01 0.1; do
    [ -f "/tmp/scaling/sf$sf.json" ] || {
      echo "SCALING_MERGE needs existing /tmp/scaling/sf$sf.json (run full first)"; exit 1; }
  done
  OUTDIR=/tmp/scaling_merge
else
  OUTDIR=/tmp/scaling
fi
mkdir -p "$OUTDIR"
for sf in 0.001 0.01 0.1; do
  echo "=== sf$sf ==="
  SPARK_GRAFT_SF_DIR="/root/testdata/sf$sf" \
  SPARK_GRAFT_ONLY="$HEAVIES" \
  SPARK_GRAFT_PASSES="${SPARK_GRAFT_PASSES:-2}" \
  tools/launch.sh graft.Bench | tail -1 > "$OUTDIR/sf$sf.json"
  # Bench writes bench_latest.json in cwd only on FULL-registry runs (a
  # subset artifact once shadowed the round artifact); the restore stays
  # as a belt-and-braces guard.
  git checkout -- bench_latest.json 2>/dev/null || true
done
if [ -n "${SCALING_MERGE:-}" ]; then
  python3 - <<'PY'
import json, os
# the committed full-registry artifact defines the CURRENT registry: merge
# prunes baseline keys that no longer exist (renamed/removed ops would
# otherwise persist stale in /tmp/scaling forever)
registry = None
if os.path.exists('bench_latest.json'):
    registry = set(json.load(open('bench_latest.json'))['queries'])
for sf in ('0.001', '0.01', '0.1'):
    base = json.load(open(f'/tmp/scaling/sf{sf}.json'))
    ext = json.load(open(f'/tmp/scaling_merge/sf{sf}.json'))
    base['queries'].update(ext['queries'])
    if registry is not None:
        base['queries'] = {k: v for k, v in base['queries'].items() if k in registry}
    # carry failure labels: a query that errored in the merge run lands as
    # -1 in 'queries' — keep its label too, replacing any stale label for
    # the same query (errors are '<query>: <msg>' strings)
    merged_qs = set(ext['queries'])
    errs = [e for e in base.get('errors', [])
            if e.split(':', 1)[0] not in merged_qs
            and (registry is None or e.split(':', 1)[0] in registry)]
    errs += ext.get('errors', [])
    base['errors'] = errs
    base['value'] = sum(v for v in base['queries'].values() if v >= 0)
    # temp-file + rename: a crash mid-dump must not corrupt the full-run
    # baseline artifact
    tmp = f'/tmp/scaling/sf{sf}.json.tmp'
    json.dump(base, open(tmp, 'w'))
    os.replace(tmp, f'/tmp/scaling/sf{sf}.json')
print('merged')
PY
fi
python3 tools/scaling_report.py /tmp/scaling > SCALING.md
echo "wrote SCALING.md"
