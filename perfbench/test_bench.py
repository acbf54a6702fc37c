#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

    python3 perfbench/test_bench.py        (from the repository root)

Checks that every metric named in BENCHMARK.json prints with its unit, that a
corrupted MatchID is counted as a failed op rather than a pass, and that an
unpinned engine switch makes the benchmark refuse to run. Each JVM run takes
about a minute on 4 cores.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace=0, extra=(), env=None):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class BenchSelfTest(unittest.TestCase):

    def assert_metrics(self, res, specs):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual([m["name"] for m in specs], list(res["metrics"]))
        for m in specs:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics_print_with_units(self):
        for w in SPEC["workloads"]:
            code, res, err = bench(w["name"])
            self.assertEqual(code, 0, err[-2000:])
            self.assert_metrics(res, SPEC["end_to_end"])
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            for m in SPEC["end_to_end"]:
                self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_layer_metric(self):
        code, res, err = bench("fold_chain", trace=1)
        self.assertEqual(code, 0, err[-2000:])
        self.assert_metrics(res, SPEC["per_layer"])
        self.assertTrue(res["correct"])
        spans = os.path.join(HERE, "out", "spans-fold_chain-seed5.jsonl")
        with open(spans) as fh:
            names = {json.loads(ln).get("name") for ln in fh}
        self.assertIn("pipeline.fold", names)
        self.assertIn("catalog.execute", names)
        self.assertIn("tracing overhead", err)

    def test_corrupted_matchid_is_a_failed_op(self):
        for w in SPEC["workloads"]:
            code, res, err = bench(w["name"], extra=["--corrupt-matchid"])
            self.assertEqual(code, 0, err[-2000:])
            self.assertGreaterEqual(res["failed"], 1, w["name"])
            self.assertFalse(res["correct"], w["name"])
            self.assertLess(res["metrics"]["ok_ops_ratio"]["value"], 1.0)

    def test_unpinned_engine_switch_is_refused(self):
        env = dict(os.environ, SPARK_GRAFT_FOLD_COUNTS="1")
        code, res, err = bench("fold_chain", env=env)
        self.assertNotEqual(code, 0)
        self.assertIsNone(res)
        self.assertIn("SPARK_GRAFT_FOLD_COUNTS", err)


if __name__ == "__main__":
    unittest.main(verbosity=2)
