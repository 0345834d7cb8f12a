"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))   # p75 leaves 9.75
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_reports_percentile_and_value(self):
        xs = list(range(1, 201))
        p, v = stats.tail(xs)
        self.assertEqual(p, 95.0)
        self.assertAlmostEqual(v, stats.percentile(xs, 95.0))
        self.assertEqual(stats.tail([1.0, 2.0]), (None, None))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([1, 2, 3, 4]), 2.5)
        self.assertEqual(stats.percentile([0, 10], 90), 9.0)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([5.0]), 5.0)

    def test_geomean_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class SelfTime(unittest.TestCase):
    def test_self_time_is_duration_minus_children(self):
        # overlapping children cover [2, 6] once; one pokes outside the root
        rank = {"child": 1}.get
        parts = stats.blocking_path((0, 10), [("child", 2, 5), ("child", 4, 6),
                                              ("child", 9, 12)], rank)
        self.assertAlmostEqual(parts["residual"], 5.0)
        self.assertAlmostEqual(parts["child"], 5.0)
        self.assertEqual(stats.blocking_path((0, 10), [], rank), {"residual": 10.0})

    def test_blocking_path_sums_to_wall_time(self):
        spans = [("engine.sql_call", 0, 4), ("spark.job", 1, 3),
                 ("spark.stage", 1.5, 2.5), ("spark.action", 5, 9),
                 ("spark.stage", 6, 8), ("spark.stage", 7, 8.5)]
        rank = {"engine.sql_call": 1, "spark.action": 1, "spark.job": 2,
                "spark.stage": 3}.get
        parts = stats.blocking_path((0, 10), spans, rank)
        self.assertAlmostEqual(sum(parts.values()), 10.0)
        self.assertAlmostEqual(parts["residual"], 2.0)       # [4, 5] and [9, 10]
        self.assertAlmostEqual(parts["spark.stage"], 1 + 2.5)
        self.assertAlmostEqual(parts["spark.job"], 1.0)
        self.assertAlmostEqual(parts["engine.sql_call"], 2.0)
        self.assertAlmostEqual(parts["spark.action"], 1.5)


if __name__ == "__main__":
    unittest.main()
