#!/usr/bin/env bash
# 3-SF full-registry oracle sweep: runs graft.Verify + tools/selfcheck.py at
# sf0.001 / sf0.01 / sf0.1. The driver's gate only checks sf0.01; the round-10
# sweep caught two latent cross-engine divergences (percentile lerp-shape bin
# swaps, >2^53 DECIMAL→double drift) that ONLY manifest at other SFs — run
# this at least once per round before the end-of-round snapshot.
#
# Runs the compiled classes through tools/launch.sh (no sbt lock) so it can
# run alongside an sbt session; build first: `sbt compile`. Subset dev loop:
# pass a comma-separated query list as $1 (default: full registry).
set -uo pipefail
cd "$(dirname "$0")/.."

ONLY="${1:-}"

rc=0
# prove the SCALING-gap guard actually fires on a deliberately-missing op
# before trusting any green sweep that relied on it
python3 tools/selfcheck.py --selftest-scalegap || rc=1
for sf in 0.001 0.01 0.1; do
  echo "=== sweep sf$sf ==="
  out="/tmp/sweep_sf$sf"
  log="/tmp/sweep_sf$sf.verify.log"
  rm -rf "$out"
  tools/launch.sh \
    graft.Verify "/root/testdata/sf$sf" "$out" $ONLY 2>"$log" | grep '\[verify\]'
  vrc=${PIPESTATUS[0]}
  if [ "$vrc" -ne 0 ]; then
    echo "VERIFY CRASHED (exit $vrc) — last stderr lines ($log):"
    tail -5 "$log"
    rc=1
  fi
  if [ -n "$ONLY" ]; then
    # subset mode: missing-dir lines are expected noise, but FAIL/CLOSE on
    # a dumped query (or survey DRIFT — always full-registry) must go red
    scerr="/tmp/sweep_sf$sf.selfcheck.err"
    # subset dev loop: the SCALING-gap guard compares full-registry bench
    # artifacts, not this subset — full mode (below) keeps it on
    res=$(SELFCHECK_SCALEGAP=0 python3 tools/selfcheck.py "/root/testdata/sf$sf" "$out" 2>"$scerr")
    src=$?
    filtered=$(echo "$res" | grep -v 'no spark output dir' || true)
    echo "$filtered"
    echo "$filtered" | grep -qE '^(FAIL|CLOSE|DRIFT)' && rc=1
    # a selfcheck crash (traceback on stderr, no summary line) must not
    # read green: require the '== N pass' summary before trusting stdout
    if ! echo "$res" | grep -qE '^== [0-9]+ pass'; then
      echo "SELFCHECK CRASHED (exit $src) — last stderr lines ($scerr):"
      tail -5 "$scerr"
      rc=1
    fi
  else
    python3 tools/selfcheck.py "/root/testdata/sf$sf" "$out" \
      | grep -E '^(FAIL|CLOSE|DRIFT|SCALEGAP|== )'
    s=${PIPESTATUS[0]}
    [ "$s" -ne 0 ] && rc=1
  fi
done
[ "$rc" -eq 0 ] && echo "SWEEP GREEN" || echo "SWEEP RED"
exit $rc
