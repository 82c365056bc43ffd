"""Self-tests of the benchmark's statistics.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics_module(self):
        values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = stats.quartiles(values)
        self.assertEqual([q1, q2, q3], statistics.quantiles(values, n=4))
        self.assertEqual(q2, stats.median(values))
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / q2)

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(stats.spread([2.5]), 0.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        values = list(range(1, 101))  # 100 samples
        p, v = stats.tail_percentile(values)
        self.assertGreaterEqual(sum(1 for x in values if x > v), 10)
        # one percentile higher would leave fewer than ten beyond it
        nxt = stats.percentile(values, p + 1)
        self.assertLess(sum(1 for x in values if x > nxt), 10)
        self.assertEqual(p, 90)

    def test_tail_percentile_needs_ten_beyond_the_median(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertIsNotNone(stats.tail_percentile(list(range(20))))

    def test_bound_check_respects_direction(self):
        parent = [10.0, 10.0, 10.0]
        self.assertTrue(stats.within_bound(parent, [11.0, 11.0, 11.0], 0.1, "lower"))
        self.assertFalse(stats.within_bound(parent, [11.5, 11.5, 11.5], 0.1, "lower"))
        self.assertTrue(stats.within_bound(parent, [9.0, 9.0, 9.0], 0.1, "higher"))
        self.assertFalse(stats.within_bound(parent, [8.5, 8.5, 8.5], 0.1, "higher"))
        self.assertTrue(stats.within_bound(parent, [5.0], 0.0, "lower"))


if __name__ == "__main__":
    unittest.main()
