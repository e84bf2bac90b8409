"""Tests for the benchmark's statistics and check helpers.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_returns_a_measured_sample(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(list(range(1, 101)), 99), 99)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailPercentileTest(unittest.TestCase):
    """The highest percentile with at least ten samples beyond it."""

    def test_exactly_ten_beyond_qualifies(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_one_sample_short_drops_to_the_next_rung(self):
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)

    def test_too_few_samples_for_any_percentile(self):
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))

    def test_custom_ladder(self):
        self.assertIsNone(stats.tail_percentile(30, ladder=(99.0, 90.0)))
        self.assertEqual(stats.tail_percentile(100, ladder=(99.0, 90.0)), 90.0)


class DeliveryFailuresTest(unittest.TestCase):
    SENT = [("a", "out", 1), ("b", "audit", 2), ("c", "poison", 3),
            ("d", "out", 4), ("e", "out", 5), ("f", "out", 6)]

    def test_clean_delivery(self):
        arrived = [(m, t, c, True) for m, t, c in self.SENT]
        f = stats.delivery_failures(self.SENT, arrived)
        self.assertEqual(f["failed"], 0)
        self.assertEqual(stats.failed_frac(f["failed"], len(self.SENT)), 0.0)

    def test_lost_and_duplicated_each_count_once(self):
        arrived = [("a", "out", 1, True), ("a", "out", 1, True), ("a", "out", 1, True),
                   ("b", "audit", 2, True), ("d", "out", 4, True),
                   ("e", "out", 5, True), ("f", "out", 6, True)]
        f = stats.delivery_failures(self.SENT, arrived)
        self.assertEqual(f["lost"], 1)  # c
        self.assertEqual(f["duplicated"], 1)  # a, three copies
        self.assertEqual(f["failed"], 2)
        self.assertAlmostEqual(stats.failed_frac(f["failed"], len(self.SENT)), 2 / 6)

    def test_wrong_topic_corrupt_missing_id_and_stray(self):
        arrived = [("a", "audit", 1, True), ("b", "audit", 99, True),
                   ("c", "poison", 3, False), ("d", "out", 4, True),
                   ("e", "out", 5, True), ("f", "out", 6, True),
                   ("zz", "out", 7, True)]
        f = stats.delivery_failures(self.SENT, arrived)
        self.assertEqual((f["wrong_topic"], f["corrupt"], f["no_correlation_id"],
                          f["stray"]), (1, 1, 1, 1))
        self.assertEqual(f["failed"], 4)

    def test_nothing_attempted_counts_as_all_failed(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)


class SelfTimeTest(unittest.TestCase):
    """Duration minus the union of the child spans, clipped to the span."""

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5)]), 6)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((0, 10), [(8, 12), (-5, 1)]), 7)

    def test_no_children_and_full_cover(self):
        self.assertEqual(stats.self_time((2, 4), []), 2)
        self.assertEqual(stats.self_time((2, 4), [(0, 3), (3, 9)]), 0)

    def test_union_length_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 4), (0, 1)]), 1)


if __name__ == "__main__":
    unittest.main()
