#!/usr/bin/env python3
"""Pipeline-pass benchmark for graft.

Run from the repository root:

    python3 pipebench/run.py --workload rialto_small --seed 1 --seconds 20 --trace 0

The first run builds the library and the benchmark with sbt (pipebench/
is its own sbt build that depends on the root project) and caches the
classpath under pipebench/.build/; later runs reuse it while the sources
are unchanged. Each run then:

1. generates the input tables from --seed (gen.py) in a scratch
   directory inside pipebench/.work/;
2. runs the Spark JVM (pipebench.PipeBench): session set-ups, one cold
   pass that also dumps every query output, then the timed warm passes;
3. checks every dumped output against its DuckDB oracle with
   tools/check.py, and the published report row counts against the
   oracle row counts;
4. writes the full record to pipebench/results/ and prints one JSON line
   as the last line of stdout: the end-to-end metrics with --trace 0,
   the per-layer metrics with --trace 1.

It exits non-zero when the build fails, the JVM fails, or any query
fails or mismatches its oracle.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")

# workload -> scale factor of its generated input (lineitem = 6M x sf)
WORKLOADS = {"rialto_small": 0.001, "graph_iter": 0.001}

E2E = {"pass_s": "s", "cold_pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
       "cpu_s": "s", "jobs": "count", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "sources.open_s": "s", "sources.open_jobs": "count", "sources.sink_s": "s",
    "sources.sink_mb": "MB", "sources.sink_files": "count",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_cpu_s": "s",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.plan_s": "s",
    "plans.exchanges": "count", "plans.broadcasts": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.cpu_s": "s", "exec.task_wait_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s"}

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 150  # the JVM; the whole run must end within 180 s
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to reuse a cached build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("pipebench: graft sources not found next to pipebench/")
    digest = source_digest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "digest")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export pipebench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"pipebench: build failed (exit {proc.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def run_jvm(cp, args, data, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", *opens, "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "pipebench.PipeBench",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            return subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, env=env,
                                  timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            return "timeout"


CHECK_LINE = re.compile(r"^(PASS|FAIL|MISSING|ORACLE-ERR) (\w+)(.*)$")


def oracle_check(data, dump):
    """Runs tools/check.py on the dumped outputs: {query: (ok, oracle_rows)}."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dump],
                          cwd=ROOT, capture_output=True, text=True, timeout=120)
    out = {}
    for line in proc.stdout.splitlines():
        m = CHECK_LINE.match(line)
        if not m:
            continue
        status, name, rest = m.groups()
        rows = re.search(r"\((\d+) rows\)", rest) if status == "PASS" else \
            re.search(r"(\d+) vs (\d+) rows", rest)
        oracle_rows = int(rows.group(rows.lastindex)) if rows else None
        out[name] = (status == "PASS", oracle_rows, line)
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def number(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    load_start = os.getloadavg()

    cp = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, dump = os.path.join(work, "data"), os.path.join(work, "dump")
    try:
        gen.generate(data, WORKLOADS[args.workload], args.seed)
        t0 = time.time()
        rc = run_jvm(cp, args, data, work)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"pipebench: benchmark JVM failed ({rc})")
        log(f"JVM run {time.time() - t0:.1f} s")
        with open(result_path) as f:
            res = json.load(f)

        oracle = oracle_check(data, dump)
        # a query without an oracle, or whose dump is missing, is a mismatch
        mismatches = [q for q in res["workload_queries"] if not oracle.get(q, (False,))[0]]
        sink_mismatches = {q: {"sink_rows": n, "oracle_rows": oracle.get(q, (0, None))[1]}
                           for q, n in res["sink_rows"].items()
                           if oracle.get(q, (0, None))[1] != n}
        failed = (len(res["query_failures"]) + len(mismatches) + len(sink_mismatches)
                  + len(res["hygiene_violations"]) + (0 if res["layer_sum_ok"] else 1))
        attempted = res["attempted"]

        res.update({
            "nproc": os.cpu_count(), "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "git_commit": git_commit(), "sf": WORKLOADS[args.workload],
            "oracle": {q: v[2] for q, v in sorted(oracle.items())},
            "oracle_mismatches": mismatches, "sink_row_mismatches": sink_mismatches,
            "failed": failed, "failed_frac": failed / attempted})
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        for name in ("layers.jsonl", "spans.jsonl"):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), f"{stem}-{name}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    source, wanted = (res["layers"], PER_LAYER) if args.trace else (res["metrics"], E2E)
    metrics = {k: {"value": source.get(k), "unit": u} for k, u in wanted.items()}
    bad = [k for k, m in metrics.items() if not number(m["value"])]
    if bad:
        raise SystemExit(f"pipebench: metrics missing: {bad}")
    if failed:
        log(f"{failed} failures: queries {res['query_failures']}, oracle {mismatches}, "
            f"sinks {sink_mismatches}, hygiene {res['hygiene_violations'][:3]}, "
            f"layer sum ok {res['layer_sum_ok']}")
    if args.trace:
        log(f"tracing overhead {res['layers']['trace.overhead_s']:+.3f} s per pass "
            f"(traced minus untraced pass_s)")
    log(f"record: {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
