#!/usr/bin/env bash
# Interleaved pipebench A/B between two checkouts (a parent and a
# change): N pairs of `python3 pipebench/run.py` runs, one per side,
# alternating which side runs first so host load drifts hit both
# equally. Pair i runs both sides on seed i. Each run's JSON line is
# kept in OUTDIR as <side><i>.json; at the end it prints, per metric,
# each side's median and quartiles and how many pairs the change won
# (ties count for neither), and flags a gain only when the change won
# at least 9/10 of all pairs run and the medians differ by more than the
# parent's interquartile range. No gain is flagged if any run's JSON did
# not parse or the change failed more operations than the parent.
#
# Each end-to-end metric also gets a no-regression verdict, its `bound`
# in BENCHMARK.json read as a share of the parent median:
#   worse       the change median is worse than the parent median by
#               more than the bound;
#   unresolved  the parent's interquartile range is wider than the
#               bound, unless every change run beats every parent run;
#   ok          otherwise.
# Per-layer metrics have no bound and get "-".
#
# With trace=1 it then prints the per-query `jobs` diff: each query's
# median `jobs` over the traced passes each side ran here, read from that
# side's pipebench/results/<workload>-seed<i>-trace1-layers.jsonl (files
# older than this A/B are skipped), one row per query whose count changed.
#
#   tools/pipe_ab.sh <parent_dir> <change_dir> <workload> [pairs] [seconds] [trace] [outdir]
#
# Both checkouts must hold pipebench/; metric directions come from the
# parent's BENCHMARK.json.
set -uo pipefail
PARENT="$(cd "${1:?usage: pipe_ab.sh <parent_dir> <change_dir> <workload> [pairs] [seconds] [trace] [outdir]}" && pwd)"
CHANGE="$(cd "${2:?}" && pwd)"
WORKLOAD="${3:?}"
PAIRS="${4:-10}"
SECONDS_PER_RUN="${5:-30}"
TRACE="${6:-0}"
OUT="${7:-pipe_ab_${WORKLOAD}_trace${TRACE}}"
mkdir -p "$OUT"
OUT="$(cd "$OUT" && pwd)"
STARTED="$(date +%s)"

run_side() { # side pair
  local dir; dir=$([ "$1" = parent ] && echo "$PARENT" || echo "$CHANGE")
  echo "[$1 $2] start $(date +%T) load $(cut -d' ' -f1 /proc/loadavg)" >&2
  (cd "$dir" && python3 pipebench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" 2>"$OUT/$1$2.log" | tail -n 1 >"$OUT/$1$2.json")
  echo "[$1 $2] exit $? $(date +%T)" >&2
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then run_side parent "$i"; run_side change "$i"
  else run_side change "$i"; run_side parent "$i"; fi
done

python3 - "$OUT" "$PAIRS" "$PARENT/BENCHMARK.json" "$PARENT" "$CHANGE" "$WORKLOAD" "$TRACE" "$STARTED" <<'EOF'
import json, os, statistics, sys

out, pairs, bench = sys.argv[1], int(sys.argv[2]), sys.argv[3]
parent_dir, change_dir, workload, trace, started = sys.argv[4:9]
with open(bench) as f:
    spec = json.load(f)
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}

def load(side, i):
    try:
        with open(os.path.join(out, f"{side}{i}.json")) as f:
            return json.loads(f.read())
    except (OSError, ValueError):
        return None

runs = [(load("parent", i), load("change", i)) for i in range(1, pairs + 1)]
failures = []
for side, k in (("parent", 0), ("change", 1)):
    ok = [r[k] for r in runs if r[k]]
    failures.append(sum(r["failed"] for r in ok))
    print(f"{side}: {len(ok)}/{pairs} runs parsed, "
          f"{sum(1 for r in ok if r['correct'])} correct, "
          f"{failures[-1]} failures")
full = [(p, c) for p, c in runs if p and c]
if not full:
    sys.exit("pipe_ab: no complete pair")
# an unparsed run on either side, or more failures on the change, rules
# out a gain; wins are counted against every pair run, not just full ones
gain_possible = len(full) == pairs and failures[1] <= failures[0]

def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, q2, q3

def verdict(name, pv, cv, pm, iqr, cm, sign):
    if name not in bound:
        return "-"
    allowed = bound[name] * abs(pm)
    if sign * (cm - pm) > allowed:
        return "worse"
    if iqr > allowed and not all(sign * (p - c) > 0 for p in pv for c in cv):
        return "unresolved"
    return "ok"

print(f"{'metric':24} {'parent q1 / median / q3':>28} {'change q1 / median / q3':>28} {'wins':>6}  gain  verdict")
for name in full[0][0]["metrics"]:
    pv = [p["metrics"][name]["value"] for p, _ in full]
    cv = [c["metrics"][name]["value"] for _, c in full]
    sign = 1 if better.get(name, "lower") == "lower" else -1
    wins = sum(1 for a, b in zip(pv, cv) if sign * (a - b) > 0)
    (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
    gain = gain_possible and wins >= 0.9 * pairs and sign * (pm - cm) > (p3 - p1)
    unit = full[0][0]["metrics"][name]["unit"]
    print(f"{name + ' (' + unit + ')':24} {p1:8.3f} / {pm:8.3f} / {p3:8.3f} "
          f"{c1:8.3f} / {cm:8.3f} / {c3:8.3f} {wins:>3}/{pairs:<2}  {'yes' if gain else 'no ':4}"
          f"{verdict(name, pv, cv, pm, p3 - p1, cm, sign)}")

if trace != "1":
    sys.exit(0)

def query_jobs(root):
    jobs = {}
    for i in range(1, pairs + 1):
        path = os.path.join(root, "pipebench", "results", f"{workload}-seed{i}-trace1-layers.jsonl")
        if not os.path.exists(path) or os.path.getmtime(path) < float(started):
            continue
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                jobs.setdefault(r["query"], []).append(r["jobs"])
    return {q: statistics.median(v) for q, v in jobs.items()}

pj, cj = query_jobs(parent_dir), query_jobs(change_dir)
changed = [q for q in sorted(set(pj) | set(cj)) if pj.get(q) != cj.get(q)]
print(f"\nper-query jobs (median over traced passes), {len(changed)} of {len(set(pj) | set(cj))} queries changed")
print(f"{'query':28} {'parent':>8} {'change':>8} {'delta':>8}")
fmt = lambda v: "-" if v is None else f"{v:g}"
for q in changed:
    p, c = pj.get(q), cj.get(q)
    d = fmt(c - p) if p is not None and c is not None else "-"
    print(f"{q:28} {fmt(p):>8} {fmt(c):>8} {d:>8}")
EOF
