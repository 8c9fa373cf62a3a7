#!/usr/bin/env bash
# Closing gate: the one command to run before declaring a round done.
#
#   tools/gate.sh <sfdir> [outdir]
#
# 1. graft.Verify dumps every SparkEntry query + oracle_sql.json;
# 2. tools/check.py compares against DuckDB with the TYPE-TAGGED,
#    FULL-PRECISION canon (matches the driver's hash semantics — the
#    round-8 lesson: a 6-sig-fig, type-blind local gate green-lit five
#    queries the driver failed);
# 3. tools/ledger_check.py re-validates SURVEY.md's ✓/◦ marks against
#    the latest CORRECTNESS_r*.json so the ledger cannot drift.
#
# Exit is non-zero if any stage fails. Requires a compiled
# target/scala-2.13/classes (sbt compile) and the driver-side python
# env (duckdb) — both present in this container.
set -uo pipefail
cd "$(dirname "$0")/.."

SFDIR="${1:?usage: tools/gate.sh <sfdir> [outdir]}"
OUTDIR="${2:-/tmp/graft_gate_out}"

# Heap: half of MemTotal (floor 2g, cap 64g), the same derivation as
# the test command's SPARK_DRIVER_MEM, so the gate fits a small host
# as well as the bench host.
XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 64 ? 64 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"

rm -rf "$OUTDIR"
echo "== gate stage 1: graft.Verify $SFDIR -> $OUTDIR (-Xmx$XMX)"
java "-Xmx$XMX" -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SFDIR" "$OUTDIR" || exit 1

echo "== gate stage 2: driver-calibrated DuckDB oracle compare"
python3 tools/check.py "$SFDIR" "$OUTDIR" | tee "$OUTDIR/check.log"
CHECK_RC=${PIPESTATUS[0]}

echo "== gate stage 3: SURVEY ledger consistency vs THIS sweep"
python3 tools/ledger_check.py --from-check-log "$OUTDIR/check.log"
LEDGER_RC=$?

if [ "$CHECK_RC" -ne 0 ] || [ "$LEDGER_RC" -ne 0 ]; then
  echo "== GATE: FAIL (check=$CHECK_RC ledger=$LEDGER_RC)"
  exit 1
fi
echo "== GATE: PASS"
