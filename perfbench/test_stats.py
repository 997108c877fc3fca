"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 99), 99)
        self.assertEqual(stats.percentile(values, 100), 100)
        self.assertEqual(stats.percentile([7.0], 1), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)

    def test_median_matches_statistics(self):
        for xs in ([3, 1, 2], [4, 1, 3, 2], [0.5], [2.0, 2.0, 9.0, 1.0]):
            self.assertEqual(stats.median(xs), statistics.median(xs))


class TailRule(unittest.TestCase):
    """The highest percentile with at least ten samples beyond it."""

    def test_71_samples_give_p85(self):
        self.assertEqual(stats.tail_percentile(71), 85)
        # p90 would leave 71 - ceil(63.9) = 7 beyond it
        values = list(range(71))
        rank85 = values.index(stats.percentile(values, 85)) + 1
        self.assertGreaterEqual(71 - rank85, 10)

    def test_larger_counts(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(200), 95)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))

    def test_exactly_ten_beyond(self):
        # 100 samples: p90 has rank 90, leaving exactly 10 beyond
        self.assertEqual(stats.tail_percentile(100), 90)


class DueTimeLatency(unittest.TestCase):
    def test_from_due_time_not_send_time(self):
        # due at t = 1000 ms, posted at 1250.5 ms: 250.5 ms, whatever the
        # generator's own lateness was
        self.assertAlmostEqual(stats.due_latency_ms(1000, 1250500), 250.5)

    def test_sub_millisecond(self):
        self.assertAlmostEqual(stats.due_latency_ms(1700000000000, 1700000000000001),
                               0.001, places=6)


class FillRatio(unittest.TestCase):
    def test_full_and_partial_posts(self):
        self.assertEqual(stats.fill_ratio(400, 2), 1.0)
        self.assertEqual(stats.fill_ratio(300, 2), 0.75)
        self.assertEqual(stats.fill_ratio(50, 1, bulk_max=100), 0.5)

    def test_no_posts(self):
        self.assertEqual(stats.fill_ratio(0, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
