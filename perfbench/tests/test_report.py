import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402


def p(wall, traced):
    return {"wall_s": wall, "traced": traced, "heap_mb": 10.0,
            "ops": [{"ms": wall * 1e3}]}


class TracingOverhead(unittest.TestCase):
    def test_traced_pass_against_both_neighbours(self):
        # untraced passes slow down as the run goes on: each traced
        # pass is compared with the mean of the passes around it
        passes = [p(10, False), p(12, True), p(10, False), p(9, True),
                  p(8, False)]
        self.assertEqual(report.neighbour_deltas(
            passes, lambda x: x["wall_s"]), [2.0, 0.0])

    def test_last_traced_pass_uses_its_one_neighbour(self):
        passes = [p(10, False), p(11, True)]
        self.assertEqual(report.neighbour_deltas(
            passes, lambda x: x["wall_s"]), [1.0])

    def test_overhead_of_the_end_to_end_figures(self):
        passes = [p(10, False), p(13, True), p(12, False)]
        out = report.tracing_overhead({"passes": passes})
        self.assertAlmostEqual(out["wall_s"], 2.0)
        self.assertAlmostEqual(out["pass_s"], 2.0)
        self.assertAlmostEqual(out["retained_heap_mb"], 0.0)


class OpMedians(unittest.TestCase):
    def test_sums_each_op_names_median_over_passes(self):
        def ops(a, b):
            return {"ops": [{"name": "a", "ms": a}, {"name": "b", "ms": b}]}
        # a slow `a` in the first pass and a slow `b` in the second
        # move neither median, where they make two of four pass sums
        # read 1.0 s and 1.5 s
        passes = [ops(900, 100), ops(500, 1000), ops(500, 100),
                  ops(500, 100)]
        self.assertAlmostEqual(report.op_medians_s(passes), 0.6)
        self.assertAlmostEqual(report.op_medians_s(passes[:1]), 1.0)


if __name__ == "__main__":
    unittest.main()
