"""Unit tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # unsorted on purpose
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_smallest_sample_count(self):
        self.assertIsNone(stats.tail(range(10)))
        value, pct, n = stats.tail(range(11))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_ties_keep_ten_beyond_by_rank(self):
        value, _, _ = stats.tail([1.0] * 5 + [2.0] * 20)
        self.assertEqual(value, 2.0)


class DriverTimeTest(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        self.assertEqual(stats.union_len([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_len([]), 0)
        self.assertEqual(stats.union_len([(0, 10), (2, 3)]), 10)

    def test_wall_minus_job_union(self):
        # span 0..10, jobs 1..3 and 2..4 overlap, 6..7: busy 4, driver 6
        self.assertEqual(stats.driver_time([(0, 10)], [(1, 3), (2, 4), (6, 7)]), 6)

    def test_jobs_clipped_to_window(self):
        self.assertEqual(stats.driver_time([(0, 10)], [(-5, 2), (9, 20)]), 7)
        self.assertEqual(stats.driver_time([(0, 10)], [(20, 30)]), 10)

    def test_windows_add_up(self):
        self.assertEqual(
            stats.driver_time([(0, 4), (10, 12)], [(1, 2), (10, 12)]), 3)


class CoreUtilTest(unittest.TestCase):
    def test_share_of_cores(self):
        self.assertAlmostEqual(stats.core_util(4.0, 2.0, 4), 0.5)
        self.assertAlmostEqual(stats.core_util(8.0, 2.0, 4), 1.0)

    def test_empty_span(self):
        self.assertEqual(stats.core_util(1.0, 0.0, 4), 0.0)


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        # exclusive quartiles of 1..5 are 1.5 and 4.5
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), 1.0)


class GeneratorTest(unittest.TestCase):
    def test_seeds_give_similar_sizes_and_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = {}
            for seed, tag in [(1, "a"), (2, "b"), (1, "c")]:
                out = os.path.join(d, tag)
                gen.make_inputs(out, seed)
                sizes[tag] = {f: os.path.getsize(os.path.join(out, "lake", f))
                              for f in os.listdir(os.path.join(out, "lake"))}
            self.assertEqual(sizes["a"], sizes["c"])
            for f, a in sizes["a"].items():
                b = sizes["b"][f]
                self.assertLess(abs(a - b) / max(a, b), 0.1, f)
            self.assertEqual(len(os.listdir(os.path.join(d, "a", "configs"))), 5)


if __name__ == "__main__":
    unittest.main()
