"""Self-tests for the benchmark's arithmetic: python3 perfbench/test_stats.py"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3, 2.3]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q[0])
        self.assertAlmostEqual(stats.percentile(xs, 50), q[1])
        self.assertAlmostEqual(stats.percentile(xs, 75), q[2])
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(stats.median([1.0, 2.0]), 1.5)

    def test_extremes_and_interpolation(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_top_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.top_percentile(1000), 99)
        self.assertEqual(stats.top_percentile(200), 95)
        self.assertEqual(stats.top_percentile(100), 90)
        self.assertEqual(stats.top_percentile(99), 75)
        self.assertEqual(stats.top_percentile(20), 50)
        self.assertIsNone(stats.top_percentile(19))
        for n in (20, 40, 100, 250, 1000, 5000):
            q = stats.top_percentile(n)
            self.assertGreaterEqual(n * (100 - q) / 100.0, 10)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([7.5]), 7.5)
        self.assertEqual(stats.geomean([]), 0.0)

    def test_geomean_sees_a_light_lane_regression_a_sum_hides(self):
        before = [30.0, 0.5, 0.5]
        after = [30.0, 1.0, 0.5]
        self.assertLess(sum(after) / sum(before), 1.02)
        self.assertGreater(stats.geomean(after) / stats.geomean(before), 1.25)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_is_driver_time_outside_jobs(self):
        self.assertEqual(stats.gap((0, 100), [(10, 30), (20, 40), (90, 120)]), 100 - 30 - 10)
        self.assertEqual(stats.gap((0, 50), []), 50)
        self.assertEqual(stats.gap((0, 50), [(-10, 60)]), 0)

    def test_self_times_partition_the_op(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op", "start": 0.0, "end": 100.0},
            {"id": 1, "parent": 0, "name": "construct", "start": 5.0, "end": 40.0},
            {"id": 2, "parent": 0, "name": "action", "start": 45.0, "end": 95.0},
        ]
        jobs = [(10.0, 30.0), (50.0, 70.0), (60.0, 90.0)]
        own, job_ms = stats.self_times(spans, jobs)
        self.assertEqual(own[0], 100 - 35 - 50)
        self.assertEqual(own[1], 35 - 20)
        self.assertEqual(own[2], 50 - 40)
        self.assertEqual(job_ms, 60)
        self.assertAlmostEqual(sum(own.values()) + job_ms, 100.0)


if __name__ == "__main__":
    unittest.main()
