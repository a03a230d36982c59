"""Tests of the benchmark's statistics: the median/percentile rule and its
sample-count floor, the union of overlapping job windows, and the
exclusive split of an op's wall time into layers.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class QuantileRule(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_floor(self):
        self.assertEqual(stats.min_samples(0.5), 5)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)

    def test_below_floor_is_not_reported(self):
        self.assertIsNone(stats.quantile([1, 2, 3, 4], 0.5))
        self.assertIsNone(stats.quantile(range(99), 0.9))

    def test_at_floor(self):
        self.assertEqual(stats.quantile([5, 1, 4, 2, 3], 0.5), 3)
        # nearest rank: the 90th of 100 sorted samples
        self.assertEqual(stats.quantile(range(100), 0.9), 89)
        self.assertEqual(stats.quantile(range(1, 201), 0.9), 180)


class JobWindowUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)

    def test_overlapping_and_nested(self):
        # a broadcast job inside its parent job, and a job overlapping both
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (8, 12)]), 12)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.union_length([(5, 7), (0, 5), (7, 8)]), 8)

    def test_empty_windows_ignored(self):
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.merge([(1, 2), (2, 2), (0, 1)]), [[0, 2]])


class SelfTimes(unittest.TestCase):
    PRIORITY = ["exec", "catalyst", "sources", "construct"]

    def split(self, window, **layers):
        return stats.self_times(window, layers, self.PRIORITY)

    def test_parts_sum_to_window(self):
        parts = self.split((0, 100), construct=[(0, 40)], catalyst=[(30, 50)],
                           exec=[(45, 80), (70, 90)])
        self.assertEqual(parts, {"exec": 45, "catalyst": 15, "sources": 0,
                                 "construct": 30, "gap": 10})
        self.assertEqual(sum(parts.values()), 100)

    def test_eager_job_inside_construct_counts_as_exec(self):
        parts = self.split((0, 10), construct=[(0, 8)], exec=[(2, 5)])
        self.assertEqual(parts["exec"], 3)
        self.assertEqual(parts["construct"], 5)
        self.assertEqual(parts["gap"], 2)

    def test_intervals_clipped_to_window(self):
        parts = self.split((10, 20), exec=[(5, 12), (18, 30)])
        self.assertEqual(parts["exec"], 4)
        self.assertEqual(parts["gap"], 6)

    def test_no_layers_is_all_gap(self):
        self.assertEqual(self.split((0, 7))["gap"], 7)

    def test_outside(self):
        self.assertEqual(stats.outside((5, 12), (10, 20)), 5)
        self.assertEqual(stats.outside((11, 12), (10, 20)), 0)


if __name__ == "__main__":
    unittest.main()
