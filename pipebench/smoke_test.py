"""Smoke test of the pipeline-pass benchmark.

One short traced run of rialto_small (the cold pass plus the minimum
three warm passes of a traced run) that asserts every end-to-end and
per-layer metric name is reported, and that nothing failed: every query
ran and matched its DuckDB oracle (failed_frac = 0).

Run from the repository root:  python3 pipebench/smoke_test.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


class SmokeTest(unittest.TestCase):
    def test_rialto_small_traced_run(self):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "rialto_small",
             "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertEqual(sorted(line["metrics"]), sorted(run.PER_LAYER))

        with open(os.path.join(run.RESULTS, "rialto_small-seed1-trace1.json")) as f:
            record = json.load(f)
        self.assertEqual(record["failed_frac"], 0)
        self.assertEqual(record["oracle_mismatches"], [])
        self.assertEqual(sorted(record["metrics"]), sorted(run.E2E))
        self.assertTrue(all(run.number(v) for v in record["metrics"].values()))

    def test_declared_metrics_match(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
