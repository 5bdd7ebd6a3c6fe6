"""Tests of the benchmark's statistics and metric assembly.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class GeomeanTest(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)

    def test_accepts_iterators(self):
        self.assertAlmostEqual(stats.geomean(x for x in [1, 100]), 10.0)

    def test_scale_invariant(self):
        xs = [0.3, 1.7, 2.2, 0.9]
        self.assertAlmostEqual(stats.geomean([3 * x for x in xs]), 3 * stats.geomean(xs))

    def test_rejects_empty_and_non_positive(self):
        for bad in ([], [1, 0], [2, -1]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_counts(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 90), (90, 100, 10))
        self.assertEqual(stats.percentile(xs, 50), (50, 100, 50))
        self.assertEqual(stats.percentile(xs, 100), (100, 100, 0))

    def test_order_free(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))

    def test_small_samples(self):
        # ceil(0.9 * 4) = 4: the p90 of four samples is the largest,
        # with nothing beyond it
        self.assertEqual(stats.percentile([1, 2, 3, 4], 90), (4, 4, 0))
        self.assertEqual(stats.percentile([7], 90), (7, 1, 0))
        # ten beyond p90 needs a hundred samples
        self.assertEqual(stats.percentile(range(99), 90)[2], 9)
        self.assertEqual(stats.percentile(range(110), 90)[2], 11)

    def test_low_percentile_is_the_minimum(self):
        self.assertEqual(stats.percentile([3, 9, 5], 0), (3, 3, 2))

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 90)


class FailRatioTest(unittest.TestCase):
    def test_values(self):
        self.assertEqual(stats.fail_ratio(0, 30), 0.0)
        self.assertEqual(stats.fail_ratio(3, 30), 0.1)
        self.assertEqual(stats.fail_ratio(30, 30), 1.0)

    def test_rejects_impossible_counts(self):
        for failed, attempted in ((0, 0), (-1, 3), (4, 3)):
            with self.assertRaises(ValueError):
                stats.fail_ratio(failed, attempted)


class SummarizeTest(unittest.TestCase):
    """End-to-end metric assembly over a hand-made run record."""

    @staticmethod
    def lane(p, name, wall, error=None):
        return {"kind": "lane", "phase": "timed", "pass": p, "traced": False, "lane": name,
                "build_s": 0.0, "plan_s": 0.0, "action_s": wall, "wall_s": wall,
                "error": error, "codegen_compiles": 1}

    @staticmethod
    def pass_(p, wall):
        return {"kind": "pass", "phase": "timed", "pass": p, "traced": False, "wall_s": wall,
                "jit_s": 0.1, "gc_s": 0.0, "steal_s": 0.0, "codegen_compiles": 2}

    @staticmethod
    def round_(k, wall):
        return {"kind": "setup_round", "round": k, "stage_s": wall / 4, "pass_s": wall / 2,
                "wall_s": wall}

    def records(self):
        recs = [{"kind": "session", "at_ms": 101_000}]
        recs += [self.round_(0, 9.0), self.round_(1, 4.0), self.round_(2, 5.0)]
        recs += [{"kind": "answer", "lane": "a", "error": None, "oracle": None},
                 {"kind": "answer", "lane": "b", "error": None, "oracle": None},
                 {"kind": "heap", "live_heap_mb": 90.5},
                 {"kind": "timed_start", "at_ms": 120_500}]
        recs += [self.lane(0, "a", 1.0), self.lane(0, "b", 4.0), self.pass_(0, 5.0),
                 self.lane(1, "a", 3.0), self.lane(1, "b", 4.0, error="boom"),
                 self.pass_(1, 7.0), self.lane(2, "a", 2.0),
                 self.lane(2, "b", 4.0), self.pass_(2, 6.0)]
        recs += [{"kind": "timed_end", "timed_s": 18.0}]
        return recs

    def test_end_to_end(self):
        import run
        e2e, record, attempted, failed = run.summarize(
            self.records(), 100.0, {"a": None, "b": "row 0 differs"}, 4, False)
        self.assertEqual(attempted, 6 + 2)
        self.assertEqual(failed, 1 + 1)
        # launch to session, 1 s, plus the median set-up round, 5 s
        self.assertAlmostEqual(e2e["setup_s"], 6.0)
        self.assertAlmostEqual(record["launch_to_timed_s"], 20.5)
        self.assertEqual(e2e["pass_s"], 6.0)
        # per-lane medians a: 2.0, b: 4.0 (the failed execution is out)
        self.assertAlmostEqual(e2e["lane_geomean_s"], math.sqrt(8.0))
        self.assertEqual(e2e["lane_p50_s"], 3.0)
        self.assertEqual(record["lane_p90_s"], 4.0)
        self.assertEqual(e2e["live_heap_mb"], 90.5)
        self.assertEqual(e2e["ok_ratio"], 1 - 2 / 8)
        self.assertEqual(record["fail_ratio"], 2 / 8)
        self.assertEqual(record["lane_samples"], 5)
        self.assertAlmostEqual(record["pass_drift"], 6.0 / 5.0)


if __name__ == "__main__":
    unittest.main()
