"""Self-tests of the benchmark's arithmetic and output shape.

Run from the repository root: python3 -m unittest discover graftbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def fake_raw(traced):
    """A raw record of two cycles of two ops, the second cycle traced."""
    ops, spans, jobs = [], [], []
    t = 1000.0
    for i, (name, kind, cycle) in enumerate(
            [("a", "write", 0), ("b", "serve", 0),
             ("a", "write", 1), ("b", "serve", 1)], start=1):
        tr = traced and cycle == 1
        ops.append({"id": i, "kind": kind, "name": name, "traced": tr,
                    "ok": True, "start_ms": t, "end_ms": t + 100.0 * i,
                    "counters": {"manifest_reads": 3.0}})
        if tr:
            spans.append({"op": i, "layer": kind, "name": name,
                          "start_ms": t, "end_ms": t + 100.0 * i})
            spans.append({"op": i, "layer": "txn", "name": name,
                          "start_ms": t, "end_ms": t + 50.0})
            jobs.append({"op": i, "start_ms": t + 10, "end_ms": t + 30,
                         "stages": 2, "tasks": 8, "task_s": 0.05,
                         "shuffle_bytes": 10, "input_bytes": 20,
                         "spill_bytes": 0})
        t += 100.0 * i
    return {"seed": 7, "cores": 4, "launched_ms": 0.0, "first_op_ms": 1000.0,
            "loop_end_ms": t, "session_s": 1.0, "create_s": 0.5, "warm_s": 2.0,
            "retained_heap_mb": 80.0, "heap_peak_mb": 500.0, "gc_s": 0.1,
            "gc_count": 3, "state": {"live_files": 4, "versions": 9,
                                     "stored_bytes": 30, "live_bytes": 10},
            "kernels": {k: 5.0 for k in stats.KERNELS},
            "ops": ops, "spans": spans, "jobs": jobs}


class TailTest(unittest.TestCase):
    def test_one_sample_is_its_own_tail(self):
        self.assertEqual(stats.tail([3.0]), (3.0, 90.0, 1))

    def test_under_100_samples_reports_the_90th(self):
        v, pct, n = stats.tail([float(i) for i in range(1, 11)])
        self.assertEqual((pct, n), (90.0, 10))
        self.assertTrue(9.0 < v < 10.0)

    def test_from_100_samples_about_ten_lie_above_the_tail(self):
        for n in (100, 150, 1000):
            xs = [float(i) for i in range(n)]
            v, pct, m = stats.tail(xs)
            self.assertEqual(m, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertIn(sum(1 for x in xs if x > v), (9, 10, 11))

    def test_harrell_davis_median_of_a_symmetric_sample(self):
        self.assertAlmostEqual(
            stats.hd_quantile([float(i) for i in range(1, 102)], 0.5), 51.0,
            places=2)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertEqual(stats.geomean([1.0, float("inf")]), float("inf"))

    def test_a_failed_op_is_a_miss_in_the_tail(self):
        v, _, _ = stats.tail([1.0] * 9 + [float("inf")])
        self.assertEqual(v, float("inf"))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-20, 10), (90, 150)]),
                         80)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(
            stats.self_time((0, 100), [(10, 50), (20, 30), (70, 80),
                                       (200, 300)]), 50)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 9), []), 4)


class ShapeTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def check(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        units = {m["name"]: m["unit"] for m in declared}
        for name, m in res["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], units[name])
            self.assertIsInstance(m["value"], float)

    def test_untraced_run_prints_every_end_to_end_metric(self):
        res = stats.result(fake_raw(False), False, [])
        self.check(res, self.bench["end_to_end"])
        self.assertEqual((res["correct"], res["attempted"], res["failed"]),
                         (True, 4, 0))
        self.assertEqual(res["metrics"]["setup_s"]["value"], 1.0)
        self.assertAlmostEqual(res["metrics"]["ops_per_s"]["value"], 4.0)

    def test_traced_run_prints_every_per_layer_metric(self):
        res = stats.result(fake_raw(True), True, [])
        self.check(res, self.bench["per_layer"])
        m = res["metrics"]
        # the traced write (op 3): 300 ms wall, one 20 ms job
        self.assertAlmostEqual(m["write.spark.driver_s"]["value"], 0.28)
        self.assertAlmostEqual(m["write.spark.jobs"]["value"], 1.0)
        # its txn span (50 ms) holds the job: 30 ms self time
        self.assertAlmostEqual(m["txn.call_s"]["value"], 0.03)
        self.assertAlmostEqual(m["serve.txn.manifest_reads"]["value"], 3.0)
        # traced a: 300 ms vs untraced 100 ms; b: 400 vs 200
        self.assertAlmostEqual(m["trace.overhead_ratio"]["value"],
                               700 / 300 - 1)

    def test_a_wrong_answer_fails_the_run(self):
        res = stats.result(fake_raw(False), False, ["serve b: 1 rows differ"])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertAlmostEqual(res["metrics"]["ok_ratio"]["value"], 0.75)

    def test_a_failed_op_is_never_a_fast_time(self):
        raw = fake_raw(False)
        for o in raw["ops"]:
            o["ok"] = o["id"] != 1
        res = stats.result(raw, False, [])
        self.assertFalse(res["correct"])
        # a failed op is a miss: no finite typical latency, so the loop's
        # whole wall time is reported, never a faster figure
        self.assertEqual(res["metrics"]["op_gmean_s"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
