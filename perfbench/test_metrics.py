#!/usr/bin/env python3
"""Self-test of the benchmark's metric code: python3 perfbench/test_metrics.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile(xs, 0), 1)

    def test_unsorted_small_sample(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), 2.0)
        # ceil(0.9 * 3) = 3rd smallest
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 90), 3.0)
        self.assertEqual(metrics.percentile([7.5], 90), 7.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time((0.0, 10.0), []), 10.0)

    def test_overlapping_children_count_once(self):
        # [1,4] and [3,6] overlap on [3,4]: together they cover 5
        self.assertAlmostEqual(
            metrics.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 6.0)]), 5.0)

    def test_children_clipped_to_span(self):
        # a child that starts before and one that ends after the span
        self.assertAlmostEqual(
            metrics.self_time((2.0, 8.0), [(0.0, 3.0), (7.0, 12.0), (20.0, 30.0)]), 4.0)

    def test_nested_children(self):
        self.assertAlmostEqual(
            metrics.self_time((0.0, 10.0), [(2.0, 8.0), (3.0, 4.0)]), 4.0)


class TasksPerStageTest(unittest.TestCase):
    def test_mean_over_stage_attempts(self):
        stages = [{"tasks": 1}, {"tasks": 4}, {"tasks": 1}]
        self.assertAlmostEqual(metrics.tasks_per_stage(stages), 2.0)

    def test_no_stages(self):
        self.assertEqual(metrics.tasks_per_stage([]), 0.0)


class EndToEndTest(unittest.TestCase):
    @staticmethod
    def run_record(lat):
        ops = [{"query": q, "mode": "full", "start": 0.0, "end": x} for q, x in lat]
        passes = [{"traced": False, "start": 0.0, "full_end": 1.0, "cpu_s": 2.0}]
        return {"passes": passes, "ops": ops, "peak_rss_mb": 100.0}

    LAT = [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 5.0), ("b", 9.0)]

    def test_percentiles_over_query_medians(self):
        m = metrics.end_to_end(self.run_record(self.LAT), 5.0, set())
        # medians a 2.0, b 7.0
        self.assertEqual(m["query_p50_s"], 2.0)
        self.assertEqual(m["query_p90_s"], 7.0)
        self.assertEqual(m["example_p90_s"], 7.0)

    def test_failed_ops_left_out_of_latency(self):
        m = metrics.end_to_end(self.run_record(self.LAT), 5.0, {4})
        self.assertAlmostEqual(m["ok_ratio"], 4 / 5)
        self.assertEqual(m["query_p90_s"], 5.0)

    def test_all_failed_still_reports(self):
        m = metrics.end_to_end(self.run_record(self.LAT), 5.0, set(range(5)))
        self.assertEqual(m["ok_ratio"], 0.0)
        self.assertEqual(m["query_p50_s"], 2.0)


class OrderingTest(unittest.TestCase):
    QS = [f"q{i}" for i in range(10)]

    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders(self.QS, 7, 5),
                         metrics.pass_orders(self.QS, 7, 5))

    def test_each_order_is_a_permutation(self):
        for wl in WORKLOADS.values():
            for order in metrics.pass_orders(wl["queries"], 3, 4):
                self.assertEqual(sorted(order), sorted(wl["queries"]))

    def test_seed_changes_orders(self):
        self.assertNotEqual(metrics.pass_orders(self.QS, 1, 3),
                            metrics.pass_orders(self.QS, 2, 3))

    def test_passes_differ_within_a_run(self):
        a, b = metrics.pass_orders(self.QS, 1, 2)
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
