"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class Levels(unittest.TestCase):
    def test_n_is_a_quarter_of_nproc_and_4n_fits(self):
        self.assertEqual(stats.levels(4), (1, 4))
        self.assertEqual(stats.levels(8), (2, 8))
        self.assertEqual(stats.levels(32), (8, 32))
        self.assertEqual(stats.levels(7), (1, 4))
        self.assertEqual(stats.levels(13), (3, 12))

    def test_small_boxes_never_exceed_nproc(self):
        self.assertEqual(stats.levels(1), (1, 1))
        self.assertEqual(stats.levels(2), (1, 2))
        self.assertEqual(stats.levels(3), (1, 3))
        for cpus in range(1, 65):
            n, n4 = stats.levels(cpus)
            self.assertGreaterEqual(n, 1)
            self.assertLessEqual(n4, cpus)
            self.assertLessEqual(n4, 4 * n)


class Sizing(unittest.TestCase):
    def test_heap_is_an_eighth_of_memory_within_limits(self):
        self.assertEqual(stats.heap_mb(16 * 1024 * 1024), 2048)
        self.assertEqual(stats.heap_mb(4 * 1024 * 1024), 1024)
        self.assertEqual(stats.heap_mb(256 * 1024 * 1024), 8192)

    def test_docs_are_capped_by_heap(self):
        self.assertEqual(stats.capped_docs(16000, 2048), 16000)
        self.assertEqual(stats.capped_docs(16000, 100), 1600)

    def test_doc_windows_differ_by_seed_and_stay_in_range(self):
        docs = 16000
        starts = {run.doc_window(s, docs) for s in range(1, 200)}
        self.assertEqual(len(starts), 199)
        for lo in starts:
            self.assertEqual(lo % docs, 0)
            self.assertLess(lo + docs, 100_000_000)
        self.assertEqual(run.doc_window(7, docs), run.doc_window(7, docs))


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_leaves_at_least_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in range(20, 3000, 7):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            cut = stats.percentile(xs, p)
            beyond = sum(x > cut for x in xs)
            self.assertGreaterEqual(beyond, 10, (n, p))


class Spread(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, _, q3 = __import__("statistics").quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / stats.median(xs))

    def test_identical_runs_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
