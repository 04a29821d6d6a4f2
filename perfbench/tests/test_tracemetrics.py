"""Span self-time arithmetic; run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tracemetrics import self_times, union_length  # noqa: E402


def span(start, end, depth, layer):
    return {"start": start, "end": end, "depth": depth, "layer": layer}


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertAlmostEqual(union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)
        self.assertEqual(union_length([]), 0.0)

    def test_nested_spans_subtract_their_children(self):
        st = self_times([span(0, 10, 0, "bench"), span(2, 6, 1, "queries"),
                         span(3, 4, 2, "spark")])
        self.assertAlmostEqual(st["bench"], 6.0)
        self.assertAlmostEqual(st["queries"], 3.0)
        self.assertAlmostEqual(st["spark"], 1.0)

    def test_overlapping_children_count_once(self):
        # two concurrent jobs under one call: the parent loses their union
        st = self_times([span(0, 10, 0, "queries"), span(2, 6, 1, "spark"),
                         span(4, 8, 1, "spark")])
        self.assertAlmostEqual(st["spark"], 6.0)
        self.assertAlmostEqual(st["queries"], 4.0)

    def test_concurrent_layers_split_shared_time(self):
        st = self_times([span(0, 4, 0, "bench"), span(0, 2, 1, "model"),
                         span(1, 3, 1, "plans")])
        self.assertAlmostEqual(st["model"], 1.5)
        self.assertAlmostEqual(st["plans"], 1.5)
        self.assertAlmostEqual(st["bench"], 1.0)
        self.assertAlmostEqual(sum(st.values()), 4.0)


if __name__ == "__main__":
    unittest.main()
