"""Tests for the benchmark's metric arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "name": f"s{id_}", "start_ms": start, "end_ms": end,
            "jobs": 1, "stages": 2, "tasks": 3, "shuffle_write_bytes": 4, "spill_bytes": 0}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(metrics.tail(xs), (90.0, 90))
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10))
        self.assertEqual(metrics.tail([1.0] * 5), (None, None))


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 2.0, 5.0),
                 span(4, 1, 8.0, 12.0)]  # overlapping children; one runs past the parent
        self.assertEqual(metrics.self_times(spans), {1: 4.0, 2: 2.0, 3: 3.0, 4: 4.0})

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 0.0, 6.0), span(3, 2, 1.0, 4.0)]
        self.assertEqual(metrics.self_times(spans), {1: 4.0, 2: 3.0, 3: 3.0})

    def test_summary_sums_self_time_and_listener_counts_per_name(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 3.0)]
        s = metrics.span_summary(spans)
        self.assertAlmostEqual(s["s1"]["self_s"], 0.008)
        self.assertEqual((s["s2"]["count"], s["s2"]["tasks"]), (1, 3))


class FailedFrac(unittest.TestCase):
    def test_ratio_of_failed_to_attempted(self):
        self.assertEqual(metrics.failed_frac(10, 0), 0.0)
        self.assertEqual(metrics.failed_frac(8, 2), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)


class SetupTime(unittest.TestCase):
    def test_median_leaves_out_the_cold_first_repetition(self):
        self.assertEqual(metrics.setup_time([9.0, 1.2, 1.0, 1.1]), 1.1)
        self.assertEqual(metrics.setup_time([9.0, 1.0, 2.0]), 1.5)


class MergeRewrite(unittest.TestCase):
    def test_replaced_over_live_from_manifest_diffs(self):
        diffs = [{"live_before": ["a", "b", "c", "d"], "live_after": ["a", "e"]},
                 {"live_before": ["a", "e"], "live_after": ["a", "e", "f"]}]
        frac, live = metrics.rewrite_frac(diffs)
        self.assertEqual(frac, 3 / 6)  # 3 of 4, then 0 of 2 (an insert-only merge)
        self.assertEqual(live, 3.0)

    def test_no_batches(self):
        self.assertEqual(metrics.rewrite_frac([]), (0.0, 0.0))


if __name__ == "__main__":
    unittest.main()
