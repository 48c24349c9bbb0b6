#!/usr/bin/env python3
"""Self-tests for the benchmark's arithmetic; no Spark needed.

    python3 -m unittest perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 75), 3.25)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.0], 75), 7.0)

    def test_samples_beyond(self):
        # ranks 0..43; p75 sits at rank 32.25, so ranks 33..43 lie beyond
        self.assertEqual(stats.samples_beyond(44, 75), 11)
        self.assertEqual(stats.samples_beyond(44, 90), 5)
        self.assertEqual(stats.samples_beyond(97, 90), 10)

    def test_ten_beyond_rule(self):
        # the full workloads of 44, 72 and 97 queries all allow p75,
        # and 97 is the only one that also allows p90
        for n in (44, 72, 97):
            self.assertGreaterEqual(stats.samples_beyond(n, 75), stats.MIN_BEYOND)
        self.assertLess(stats.samples_beyond(72, 90), stats.MIN_BEYOND)
        self.assertGreaterEqual(stats.samples_beyond(97, 90), stats.MIN_BEYOND)
        # 38 pooled samples is the fewest that allow p75
        self.assertLess(stats.samples_beyond(37, 75), stats.MIN_BEYOND)
        self.assertGreaterEqual(stats.samples_beyond(38, 75), stats.MIN_BEYOND)


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.1, 2.2, 9.9, 4.4, 5.0, 6.5, 1.0, 8.8, 7.7, 2.9]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        q1, q2, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0, 5.0], n=4)
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), (q3 - q1) / q2)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, name="x"):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end}

    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_overlapping_children(self):
        # three builds overlap on a thread pool inside one 10 s query
        spans = [self.span(1, 0, 0, 10, "query"),
                 self.span(2, 1, 1, 5, "memo"), self.span(3, 1, 2, 6, "memo"),
                 self.span(4, 1, 3, 4, "memo")]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 10 - 5)
        self.assertEqual(own[2], 4)
        self.assertEqual(stats.self_time_by_layer(spans), {"query": 5, "memo": 4 + 4 + 1})

    def test_grandchildren_do_not_count_against_root(self):
        spans = [self.span(1, 0, 0, 10, "query"), self.span(2, 1, 0, 4, "exec"),
                 self.span(3, 2, 1, 3, "job")]
        own = stats.self_times(spans)
        self.assertEqual((own[1], own[2], own[3]), (6, 2, 2))


class PairWins(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertEqual(stats.pair_wins([10] * 10, [9] * 9 + [11], "lower"), (9, 10))

    def test_higher_is_better(self):
        self.assertEqual(stats.pair_wins([1, 2, 3], [2, 2, 4], "higher"), (2, 3))

    def test_nine_in_ten(self):
        self.assertTrue(stats.nine_in_ten(9, 10))
        self.assertFalse(stats.nine_in_ten(8, 10))
        self.assertTrue(stats.nine_in_ten(18, 20))
        self.assertFalse(stats.nine_in_ten(0, 0))


class SeededOrder(unittest.TestCase):
    names = [f"q{i:02d}" for i in range(40)]

    def test_each_pass_is_a_permutation(self):
        for order in stats.seeded_orders(self.names, 3, 5):
            self.assertEqual(sorted(order), sorted(self.names))

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.seeded_orders(self.names, 7, 4),
                         stats.seeded_orders(list(reversed(self.names)), 7, 4))

    def test_passes_and_seeds_differ(self):
        self.assertEqual(len({tuple(o) for o in stats.seeded_orders(self.names, 1, 10)}), 10)
        firsts = {tuple(stats.seeded_orders(self.names, s, 1)[0]) for s in range(10)}
        self.assertEqual(len(firsts), 10)

    def test_odd_passes_reverse_the_pass_before(self):
        orders = stats.seeded_orders(self.names, 4, 6)
        for i in (1, 3, 5):
            self.assertEqual(orders[i], orders[i - 1][::-1])
        self.assertNotEqual(orders[2], orders[0])

    def test_prefix_is_stable(self):
        # a run that stops after fewer passes saw the same first orders
        self.assertEqual(stats.seeded_orders(self.names, 5, 8)[:3],
                         stats.seeded_orders(self.names, 5, 3))


if __name__ == "__main__":
    unittest.main()
