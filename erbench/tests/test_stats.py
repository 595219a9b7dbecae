"""Unit tests of the benchmark's pure statistics code.

    python3 -m unittest discover -s erbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(stats.self_times([span(0, 1.0, 4.0)])[0], 3.0)

    def test_disjoint_children(self):
        t = stats.self_times([span(0, 0, 10), span(1, 1, 3, 0), span(2, 5, 6, 0)])
        self.assertAlmostEqual(t[0], 7.0)
        self.assertAlmostEqual(t[1], 2.0)

    def test_overlapping_children_count_once(self):
        t = stats.self_times([span(0, 0, 10), span(1, 1, 5, 0), span(2, 3, 7, 0)])
        self.assertAlmostEqual(t[0], 4.0)  # children cover [1, 7)

    def test_nested_child_inside_sibling(self):
        t = stats.self_times([span(0, 0, 10), span(1, 2, 8, 0), span(2, 3, 4, 0)])
        self.assertAlmostEqual(t[0], 4.0)

    def test_children_clipped_to_parent(self):
        t = stats.self_times([span(0, 2, 6), span(1, 0, 3, 0), span(2, 5, 9, 0)])
        self.assertAlmostEqual(t[0], 2.0)  # only [2,3) and [5,6) are inside

    def test_grandchildren_do_not_reduce_the_root_twice(self):
        t = stats.self_times([span(0, 0, 10), span(1, 0, 6, 0), span(2, 1, 2, 1)])
        self.assertAlmostEqual(t[0], 4.0)
        self.assertAlmostEqual(t[1], 5.0)

    def test_unattributed_is_root_self_time(self):
        spans = [span(0, 0, 10), span(1, 1, 4, 0), span(2, 2, 6, 0)]
        self.assertAlmostEqual(stats.unattributed(spans, 0), 5.0)

    def test_union_length_ignores_empty_intervals(self):
        self.assertAlmostEqual(stats.union_length([(3, 3), (5, 4), (0, 1)]), 1.0)


class Spread(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartile_spread_matches_statistics_quantiles(self):
        v = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 12.0, 9.7]
        q1, _, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(stats.quartile_spread(v), (q3 - q1) / statistics.median(v))

    def test_quartile_spread_of_constant_values_is_zero(self):
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)

    def test_quartile_spread_needs_two_samples(self):
        with self.assertRaises(ValueError):
            stats.quartile_spread([1.0])


class TailPercentile(unittest.TestCase):
    def test_samples_needed(self):
        self.assertEqual(stats.samples_needed(0.9), 100)
        self.assertEqual(stats.samples_needed(0.99), 1000)
        self.assertEqual(stats.samples_needed(0.5), 20)

    def test_too_few_samples_beyond_gives_none(self):
        self.assertIsNone(stats.tail_percentile(list(range(99)), 0.9))

    def test_enough_samples_gives_nearest_rank(self):
        v = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail_percentile(v, 0.9), 90)
        self.assertEqual(len([x for x in v if x > 90]), stats.MIN_SAMPLES_BEYOND)

    def test_order_does_not_matter(self):
        v = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(list(reversed(v)), 0.9), 90)

    def test_bad_percentile_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.samples_needed(1.0)


class Ratio(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        self.assertEqual(stats.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})

    def test_zero_base_gives_zero_value_and_keeps_the_base(self):
        self.assertEqual(stats.ratio(0, 0), {"value": 0.0, "num": 0, "den": 0})



class SplitStep(unittest.TestCase):
    ENDS = [("insert", 1500), ("audit", 1700), ("compact", 2600)]

    def job(self, start):
        return {"start_ms": start, "jobs": 1}

    def test_walls_follow_the_ends(self):
        out = stats.split_step(1000, self.ENDS, [])
        self.assertEqual(list(out), ["insert", "audit", "compact"])
        self.assertAlmostEqual(out["insert"]["wall_s"], 0.5)
        self.assertAlmostEqual(out["audit"]["wall_s"], 0.2)
        self.assertAlmostEqual(out["compact"]["wall_s"], 0.9)

    def test_jobs_go_to_the_verb_running_when_they_start(self):
        out = stats.split_step(1000, self.ENDS, [self.job(t) for t in (1000, 1500, 1501, 1800)])
        self.assertEqual([j["start_ms"] for j in out["insert"]["jobs"]], [1000, 1500])
        self.assertEqual([j["start_ms"] for j in out["audit"]["jobs"]], [1501])
        self.assertEqual([j["start_ms"] for j in out["compact"]["jobs"]], [1800])

    def test_a_job_after_every_end_goes_to_the_last_verb(self):
        out = stats.split_step(1000, self.ENDS, [self.job(2700)])
        self.assertEqual(len(out["compact"]["jobs"]), 1)

    def test_an_end_before_the_previous_one_gives_no_negative_wall(self):
        out = stats.split_step(1000, [("insert", 1500), ("audit", 1400)], [])
        self.assertEqual(out["audit"]["wall_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
