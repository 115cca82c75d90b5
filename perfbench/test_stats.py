"""Tests for the benchmark's metric helpers: python3 -m unittest discover perfbench"""
import unittest

from stats import beyond, nearest_rank, self_time, tail_percentile, union_length


class UnionAndSelfTime(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_jobs_count_once(self):
        # two clients' jobs overlap each other and nest a third
        self.assertEqual(union_length([(0, 10), (5, 15), (6, 7)]), 15)

    def test_touching_and_empty_intervals(self):
        self.assertEqual(union_length([(0, 5), (5, 8), (9, 9)]), 8)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        # jobs of concurrent requests overlap; the span loses their union
        self.assertEqual(self_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_children_clipped_to_span(self):
        # a job that started before and ends after the span counts only inside it
        self.assertEqual(self_time(10, 20, [(0, 12), (18, 30)]), 6)
        self.assertEqual(self_time(10, 20, [(0, 30)]), 0)

    def test_no_children(self):
        self.assertEqual(self_time(3, 8, []), 5)


class TailPercentile(unittest.TestCase):
    def test_200_samples_support_p95(self):
        self.assertEqual(beyond(200, 95.0), 10)
        self.assertEqual(tail_percentile(200), 95.0)

    def test_199_samples_fall_back_to_p90(self):
        self.assertEqual(beyond(199, 95.0), 9)
        self.assertEqual(tail_percentile(199), 90.0)

    def test_large_and_tiny_counts(self):
        self.assertEqual(tail_percentile(10000), 99.9)
        self.assertEqual(tail_percentile(1000), 99.0)
        self.assertEqual(tail_percentile(19), None)
        self.assertEqual(tail_percentile(20), 50.0)

    def test_nearest_rank_picks_observed_sample(self):
        xs = list(range(1, 201))
        self.assertEqual(nearest_rank(xs, 95.0), 190)
        self.assertEqual(nearest_rank(xs, 50.0), 100)
        self.assertEqual(nearest_rank([7], 95.0), 7)


if __name__ == "__main__":
    unittest.main()
