#!/usr/bin/env bash
# Final-HEAD gate for the round-close ritual (r10 verdict task 2).
#
# Round 10 shipped a red test suite undetected because the full-suite
# re-run at the exact closing commit was an ad-hoc habit (rounds 8-9)
# rather than a committed gate — and ad-hoc habits lapse. This script IS
# the gate: run it at the final HEAD before declaring a round closed.
# It re-runs the complete ScalaTest suite AND the full sf0.01 oracle
# sweep, checks every dump against the committed dump manifest, then
# prints a one-line PASS/FAIL verdict stamped with the SHA it certified,
# suitable for pasting into PLANS.md / the snapshot commit message.
#
# Usage: tools/round_close.sh  [sfDir]   (default /root/testdata/sf0.01)
# The manifest step runs for sf0.01 only (tools/manifest_sf0.01.json).
set -u
SF=${1:-/root/testdata/sf0.01}
SHA=$(git rev-parse --short HEAD)
DIRTY=$(git status --porcelain | wc -l)
OUT=/tmp/round_close_verify
echo "[round-close] gating HEAD=$SHA (dirty files: $DIRTY) against $SF"
if [ "$DIRTY" -ne 0 ]; then
  echo "[round-close] WARNING: working tree is dirty - the gate certifies the TREE, not $SHA"
fi

FAIL=0

echo "[round-close] 1/4 sbt test (full suite)..."
if sbt -batch test > /tmp/round_close_sbt_test.log 2>&1; then
  TESTS=$(grep -E "Tests: succeeded" /tmp/round_close_sbt_test.log | tail -1)
  echo "[round-close]   GREEN: $TESTS"
else
  echo "[round-close]   RED - tail of log:"
  grep -E "\*\*\* FAILED|Tests: succeeded|error\]" /tmp/round_close_sbt_test.log | tail -15
  FAIL=1
fi

echo "[round-close] 2/4 graft.Verify full dump at $SF..."
rm -rf "$OUT"
if sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -E "\[verify\].*failed"; then
  echo "[round-close]   RED: one or more queries threw (lines above)"
  FAIL=1
else
  echo "[round-close]   dump complete ($(ls "$OUT" | wc -l) entries)"
fi

echo "[round-close] 3/4 DuckDB oracle compare..."
if python3 tools/check_oracle.py "$SF" "$OUT" > /tmp/round_close_oracle.log 2>&1; then
  grep -E "^== " /tmp/round_close_oracle.log
else
  grep -E "^== |^  .*:" /tmp/round_close_oracle.log | tail -25
  FAIL=1
fi

echo "[round-close] 4/4 dump manifest check..."
MANIFEST=tools/manifest_$(basename "$SF").json
if [ ! -f "$MANIFEST" ]; then
  echo "[round-close]   skipped: no $MANIFEST"
elif python3 tools/dump_manifest.py "$OUT" --check "$MANIFEST" > /tmp/round_close_manifest.log 2>&1; then
  tail -1 /tmp/round_close_manifest.log
else
  echo "[round-close]   RED: dumps moved against $MANIFEST"
  tail -25 /tmp/round_close_manifest.log
  FAIL=1
fi

if [ "$FAIL" -eq 0 ]; then
  echo "[round-close] GATE PASS at $SHA ($(date -u +%FT%TZ)) - suite green, oracle sweep clean, dumps match the manifest"
else
  echo "[round-close] GATE FAIL at $SHA - DO NOT close the round on this tree"
fi
exit $FAIL
