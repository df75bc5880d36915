import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_the_exclusive_method(self):
        # statistics.quantiles(n=4) on 1..9: positions (n+1)p
        self.assertEqual(stats.quartiles(list(range(1, 10))), [2.5, 5.0, 7.5])
        self.assertEqual(stats.quartiles([1, 2, 3, 4]), [1.25, 2.5, 3.75])

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread(list(range(1, 10))), 1.0)
        self.assertEqual(stats.spread([7.0] * 10), 0.0)

    def test_p90_interpolates_between_ranks(self):
        self.assertAlmostEqual(stats.p90(list(range(1, 11))), 9.1)
        self.assertAlmostEqual(stats.p90(list(range(0, 101))), 90.0)
        self.assertEqual(stats.p90([42.0]), 42.0)
        # 10 of 100 values lie beyond p90
        values = list(range(100))
        self.assertEqual(sum(v > stats.p90(values) for v in values), 10)


class Spans(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_of_planted_nested_spans(self):
        spans = [
            {"t0": 0, "t1": 100, "parent": -1},   # pass
            {"t0": 10, "t1": 50, "parent": 0},    # transfer
            {"t0": 12, "t1": 20, "parent": 1},    # transfer.a
            {"t0": 20, "t1": 45, "parent": 1},    # transfer.b
            {"t0": 60, "t1": 90, "parent": 0},    # build
            {"t0": 60, "t1": 70, "parent": 4},    # build.derive
        ]
        self.assertEqual(stats.self_times(spans), [30, 7, 8, 25, 20, 10])

    def test_self_time_counts_overlapping_children_once(self):
        spans = [{"t0": 0, "t1": 10, "parent": -1},
                 {"t0": 1, "t1": 6, "parent": 0},
                 {"t0": 4, "t1": 8, "parent": 0}]
        self.assertEqual(stats.self_times(spans)[0], 3)


if __name__ == "__main__":
    unittest.main()
