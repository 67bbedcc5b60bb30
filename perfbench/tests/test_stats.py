"""The percentile rule and the per-kind summary."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(99), 50)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        # exactly ten samples lie beyond the reported p90
        self.assertEqual(sum(1 for x in xs if x > stats.percentile(xs, 90)), 10)

    def test_kind_geomean_weights_each_kind_once(self):
        ops = []
        for label, ms, n in (("a", 10.0, 9), ("b", 1000.0, 1)):
            for _ in range(n):
                o = stats.Op("read", 0.0, 0.0)
                o.t1, o.label = ms / 1000.0, label
                ops.append(o)
        self.assertAlmostEqual(stats.kind_geomean(ops), 100.0)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([8, 9, 10, 11, 12, 8, 9, 10, 11, 12]), 0.1)


if __name__ == "__main__":
    unittest.main()
