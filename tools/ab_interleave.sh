#!/usr/bin/env bash
# Interleaved two-classpath A/B: alternates single quiet-gated Bench
# passes between an OLD and a NEW classes snapshot so host weather
# hits both configs equally (the TUNING.md "same-minutes" rule for
# plan comparisons). Each pass's full bench_result.json (wall + the
# round-13 cpu_s blocks) is preserved in OUTDIR as <tag><round>.json.
#
#   tools/ab_interleave.sh <sfdir> <queries> <oldcp_classes> <newcp_classes> <outdir> [rounds] [load]
#
# Bench gets SPARK_GRAFT_CPUS from the caller's environment (default:
# nproc) and a heap of half of MemTotal (floor 2g, cap 64g), the same
# derivation as tools/gate.sh.
set -u
cd "$(dirname "$0")/.."
SFDIR="${1:?usage: ab_interleave.sh <sfdir> <queries> <old> <new> <outdir> [rounds] [load]}"
QUERIES="${2:?}"
OLD="${3:?}"
NEW="${4:?}"
OUT="${5:?}"
ROUNDS="${6:-3}"
MAXLOAD="${7:-2.0}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 64 ? 64 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
mkdir -p "$OUT"
for i in $(seq 1 "$ROUNDS"); do
  for side in old new; do
    CPDIR=$([ "$side" = old ] && echo "$OLD" || echo "$NEW")
    while :; do
      L=$(cut -d' ' -f1 /proc/loadavg)
      awk -v l="$L" -v m="$MAXLOAD" 'BEGIN{exit !(l<m)}' && break
      echo "[$side $i] load $L >= $MAXLOAD, waiting..." >&2
      sleep 30
    done
    echo "[$side $i] start load $(cut -d' ' -f1 /proc/loadavg) $(date +%T)" >&2
    rm -f bench_result.json
    SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_SF1=0 SPARK_GRAFT_QUERIES="$QUERIES" \
      SPARK_GRAFT_PRIOR=/nonexistent SPARK_GRAFT_CPUS="$CPUS" \
      java "-Xmx$XMX" -cp "$CPDIR:/opt/spark/jars/*" graft.Bench 2>/dev/null | grep metric
    cp bench_result.json "$OUT/$side$i.json" 2>/dev/null || true
    echo "[$side $i] end load $(cut -d' ' -f1 /proc/loadavg)" >&2
  done
done
