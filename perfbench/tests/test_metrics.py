"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 perfbench/tests/test_metrics.py
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(0))
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(39), 50)
        self.assertEqual(M.tail_percentile(40), 75)
        self.assertEqual(M.tail_percentile(99), 75)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_rule_holds_for_every_size(self):
        for n in range(1, 2000):
            p = M.tail_percentile(n)
            if p is None:
                continue
            k = math.ceil(p * n / 100)
            self.assertGreaterEqual(n - k, 10, (n, p))
            higher = [q for q in M.PERCENTILES if q > p]
            if higher:
                self.assertLess(n - math.ceil(higher[0] * n / 100), 10, (n, p))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile([7], 90), 7)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, None, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),
                 self.span(4, 1, 80, 90)]
        st = M.self_times(spans)
        # children cover [10, 60] and [80, 90]: 60 of 100
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_children_are_clipped_to_the_parent(self):
        # a job that outlives the span that started it
        spans = [self.span(1, None, 0, 50), self.span(2, 1, 40, 70)]
        self.assertEqual(M.self_times(spans)[1], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, None, 0, 100), self.span(2, 1, 0, 50),
                 self.span(3, 2, 0, 50)]
        st = M.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))

    def test_nested_and_touching_intervals(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (10, 20)]), 20)
        self.assertEqual(M.union_length([(5, 1)]), 0)
        self.assertEqual(M.union_length([(0, 10), (20, 30)], 5, 25), 10)


class Digest(unittest.TestCase):
    def test_column_order_does_not_matter(self):
        a = M.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = M.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_nan_and_float_repr(self):
        cols, rows = M.canonical_table(["v"], [(float("nan"),), (0.1 + 0.2,), (1.0,)])
        self.assertEqual(cols, ["v"])
        self.assertEqual(rows, sorted([("NaN",), ("0.30000000000000004",), ("1.0",)]))
        # repr keeps every digit: values one ulp apart differ
        self.assertNotEqual(M.digest(["v"], [(0.3,)]), M.digest(["v"], [(0.1 + 0.2,)]))
        # an int and a float of equal value are different cells
        self.assertNotEqual(M.digest(["v"], [(1,)]), M.digest(["v"], [(1.0,)]))
        self.assertEqual(M.digest(["v"], [(float("nan"),)]),
                         M.digest(["v"], [(float("nan"),)]))

    def test_rows_are_a_multiset(self):
        self.assertNotEqual(M.digest(["a"], [(1,), (1,)]), M.digest(["a"], [(1,)]))
        self.assertEqual(M.digest(["a"], [(None,), (2,)]), M.digest(["a"], [(2,), (None,)]))

    def test_column_names_matter(self):
        self.assertNotEqual(M.digest(["a"], [(1,)]), M.digest(["b"], [(1,)]))


class Generator(unittest.TestCase):
    def test_lateness_from_due_time(self):
        drops = [{"due_ns": 1_000_000_000, "moved_ns": 1_002_500_000},
                 {"due_ns": 3_000_000_000, "moved_ns": 3_000_000_000},
                 {"due_ns": 5_000_000_000, "moved_ns": 4_999_000_000}]
        self.assertEqual(M.generator_lateness_ms(drops), [2.5, 0.0, 0.0])

    def test_backlog(self):
        # released at 0, 10, 20; committed at 15, 25, 26
        self.assertEqual(M.max_backlog([0, 10, 20], [15, 25, 26]), 2)
        # each committed before the next release
        self.assertEqual(M.max_backlog([0, 10, 20], [5, 15, 25]), 1)
        # a release at the instant of a commit counts after it
        self.assertEqual(M.max_backlog([0, 10], [10, 20]), 1)

    def test_latency_counts_from_due_not_release(self):
        # drop 3 was due at 0 s but released 0.4 s late; it landed in batch
        # 7, which started at 0.5 s and ran 1 s; drop 4 never landed
        drops = [{"drop": 3, "due_ns": 0, "moved_ns": 400_000_000},
                 {"drop": 4, "due_ns": 2_000_000_000, "moved_ns": 2_000_000_000}]
        progress = {7: {"batch_id": 7, "trigger_start_ms": 500,
                        "duration_ms": {"triggerExecution": 1000}}}
        t = M.paced_timings(drops, progress, {3: 7, 4: None})
        self.assertEqual(t["latency_ms"], [1500.0])
        self.assertEqual(t["wait_ms"], [500.0])
        self.assertEqual(t["released_ns"], [400_000_000])
        self.assertEqual(t["committed_ns"], [1_500_000_000])


if __name__ == "__main__":
    unittest.main()
