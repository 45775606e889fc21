"""Self-tests of the benchmark's Python side: the percentile and its
sample count, the median estimate, the oracle comparison, the etl count
check, the generator's determinism, and that BENCHMARK.json lists
exactly the metrics run.py prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import tempfile
import unittest

import pandas as pd

import check
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(check.percentile(xs, 0.5), (3.0, 5))
        v, n = check.percentile(xs, 0.9)
        self.assertAlmostEqual(v, 4.6)
        self.assertEqual(n, 5)

    def test_agrees_with_statistics_inclusive_quantiles(self):
        xs = [0.3, 1.7, 0.9, 2.2, 0.4, 1.1, 3.0, 0.8, 1.4, 2.6, 0.5]
        deciles = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(check.percentile(xs, 0.9)[0], deciles[8])
        self.assertAlmostEqual(check.percentile(xs, 0.5)[0], statistics.median(xs))

    def test_sample_count_and_edges(self):
        self.assertEqual(check.percentile([], 0.9), (None, 0))
        self.assertEqual(check.percentile([7.0], 0.9), (7.0, 1))
        self.assertEqual(check.percentile(range(100), 0.9)[1], 100)


class HdMedianTest(unittest.TestCase):
    def test_symmetric_samples_give_their_centre(self):
        self.assertAlmostEqual(check.hd_median([1.0, 2.0, 3.0]), 2.0, places=6)
        self.assertAlmostEqual(check.hd_median([4.0, 1.0, 3.0, 2.0]), 2.5, places=6)
        self.assertEqual(check.hd_median([7.0]), 7.0)
        self.assertIsNone(check.hd_median([]))

    def test_stays_inside_the_sample_and_near_the_median(self):
        xs = [0.3, 1.7, 0.9, 2.2, 0.4, 1.1, 3.0, 0.8, 1.4, 2.6, 0.5]
        m = check.hd_median(xs)
        self.assertTrue(min(xs) < m < max(xs))
        self.assertAlmostEqual(m, statistics.median(xs), delta=0.2)

    def test_moves_smoothly_across_a_gap_at_the_middle_rank(self):
        low, high = [0.7] * 13, [1.3] * 13
        before = check.hd_median(low + high)
        after = check.hd_median(low[:-1] + high + [1.3])  # one op crosses the gap
        self.assertAlmostEqual(before, 1.0, places=6)
        self.assertLess(after - before, 0.15)
        self.assertGreaterEqual(check.percentile(low[:-1] + high + [1.3], 0.5)[0], 1.3)


class CompareTest(unittest.TestCase):
    def test_order_and_float_noise_do_not_matter(self):
        a = pd.DataFrame({"b": [1.0000000001, 2.0], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.0]})
        self.assertIsNone(check.frames_equal(a, b))

    def test_value_row_and_column_mismatches_are_reported(self):
        a = pd.DataFrame({"a": [1, 2]})
        self.assertIn("differ", check.frames_equal(a, pd.DataFrame({"a": [1, 3]})))
        self.assertIn("rows", check.frames_equal(a, pd.DataFrame({"a": [1]})))
        self.assertIn("columns", check.frames_equal(a, pd.DataFrame({"b": [1, 2]})))


class EtlTest(unittest.TestCase):
    def test_plan_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.etl(os.path.join(d, "a"), 3)
            gen.etl(os.path.join(d, "b"), 3)
            gen.etl(os.path.join(d, "c"), 4)
            plans = []
            for x in "abc":
                with open(os.path.join(d, x, "plan.json")) as f:
                    plans.append(json.load(f))
        self.assertEqual(plans[0]["ops"], plans[1]["ops"])
        self.assertNotEqual(plans[0]["ops"], plans[2]["ops"])
        block = plans[0]["block"]
        first = [o.get("query", o["kind"]) for o in plans[0]["ops"][:block]]
        self.assertEqual(first, gen.ETL_BLOCK)

    def test_every_count_mismatch_fails_its_op(self):
        plan = {"ops": [{"i": 0, "kind": "trades", "rejected": 3, "oversold": 1, "accepted": 9},
                        {"i": 1, "kind": "refresh", "positions": 5, "open": 4}]}
        ops = [{"id": 10, "kind": "etl", "error": None,
                "observed": {"i": 0, "rejected": 3, "oversold": 1, "accepted": 9}},
               {"id": 11, "kind": "etl", "error": None,
                "observed": {"i": 1, "positions": 5, "open": 3}}]
        failed, reasons = check.check_etl({"ops": ops}, plan)
        self.assertEqual(failed, {11})
        self.assertEqual(len(reasons), 1)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.LAYER_UNITS)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
