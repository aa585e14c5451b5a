"""End-to-end smoke of every workload at sf 0.001, correctness check included.

Each case launches the real benchmark (building it first if needed), so the
suite takes a few minutes. Run from the repository root:
  python3 -m unittest graftbench.tests.test_smoke
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


class SmokeTest(unittest.TestCase):
    def run_workload(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "11", "--seconds", "1", "--trace",
             str(trace), "--sf", "0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        return res

    def test_olap(self):
        self.run_workload("olap", 0)

    def test_corpus(self):
        self.run_workload("corpus", 0)

    def test_table_churn(self):
        self.run_workload("table_churn", 0)

    def test_table_churn_traced(self):
        m = self.run_workload("table_churn", 1)["metrics"]
        self.assertGreater(m["write.spark.driver_s"]["value"], 0)
        self.assertGreater(m["refresh.txn.manifest_reads"]["value"], 0)

    def test_outside_a_checkout_it_fails_without_a_result(self):
        """Run with only the benchmark's files present: no graft sources to
        build, so it must exit non-zero and print no JSON line."""
        with tempfile.TemporaryDirectory(dir=os.path.join(
                ROOT, ".bench_build")) as d:
            shutil.copytree(BENCH, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run(
                [sys.executable, "graftbench/run.py", "--workload", "corpus",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=120,
                env=dict(os.environ, CARGO_TARGET_DIR=".bench_build"))
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("{", r.stdout)


if __name__ == "__main__":
    unittest.main()
