"""Self-tests of run.py's order statistics and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


def span(key, start, end, parent=""):
    return {"key": key, "name": key.split("/")[0], "start_us": start * 1000,
            "end_us": end * 1000, "parent": parent}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertEqual(stats.percentile(xs, 1.0), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 3.7)

    def test_median_matches_statistics_module(self):
        for xs in ([1.0], [1.0, 5.0], [3.0, 1.0, 2.0], [9.0, 1.0, 4.0, 4.0, 7.0, 2.0]):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [span("batch/1", 0, 100), span("phase/a", 10, 40, "batch/1"),
                 span("phase/b", 30, 60, "batch/1"), span("job/1", 70, 80, "batch/1")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["batch"], 100 - 50 - 10)
        self.assertAlmostEqual(st["phase"], 30 + 30)
        self.assertAlmostEqual(st["job"], 10)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span("p/1", 0, 10), span("c/1", 5, 50, "p/1")])
        self.assertAlmostEqual(st["p"], 5)


if __name__ == "__main__":
    unittest.main()
