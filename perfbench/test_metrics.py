"""Tests of the benchmark's own math on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from metrics import (attribute_files, driver_gap, percentile, self_times, tail,
                     union_length)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(tail(list(range(1, 1001)))[0], 99.0)  # 10 beyond p99
        self.assertEqual(tail(list(range(1, 200)))[0], 90.0)   # 9.95 beyond p95: too few
        self.assertEqual(tail(list(range(1, 41)))[0], 75.0)    # exactly 10 beyond p75
        self.assertEqual(tail(list(range(1, 40)))[0], 50.0)    # 9.75 beyond p75
        self.assertEqual(tail(list(range(1, 20))), (None, None))

    def test_value_is_the_interpolated_percentile(self):
        xs = [float(x) for x in range(1, 41)]
        p, v = tail(xs)
        self.assertEqual(v, percentile(xs, p))
        self.assertAlmostEqual(v, 30.25)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 8
        self.assertEqual(tail(xs), tail(sorted(xs)))


class FreshnessAttribution(unittest.TestCase):
    names = ["f0", "f1", "f2", "f3", "f4"]
    # writeJsonFiles splits rows round-robin, so sizes differ by a few rows
    rows = [497, 503, 500, 499, 501]

    def test_files_map_to_their_batches_with_actual_rows(self):
        owner, batch_rows = attribute_files(
            self.names, self.rows, {3: ["f0"], 4: ["f1", "f2"], 6: ["f3", "f4"]})
        self.assertEqual(owner, [3, 4, 4, 6, 6])
        self.assertEqual(batch_rows, {3: 497, 4: 1003, 6: 1000})

    def test_freshness_uses_the_owning_batch(self):
        owner, _ = attribute_files(self.names, self.rows, {0: ["f0", "f1"], 1: ["f2"]})
        due = [0.0, 250.0, 500.0, 750.0, 1000.0]
        end = {0: 600.0, 1: 900.0}
        fresh = [end[b] - d for b, d in zip(owner, due) if b is not None]
        self.assertEqual(fresh, [600.0, 350.0, 400.0])

    def test_unread_files_stay_unattributed(self):
        owner, _ = attribute_files(self.names, self.rows, {0: ["f0"]})
        self.assertEqual(owner, [0, None, None, None, None])

    def test_a_file_read_twice_is_an_error(self):
        with self.assertRaises(ValueError):
            attribute_files(self.names, self.rows, {0: ["f0"], 1: ["f0", "f1"]})
        with self.assertRaises(ValueError):
            attribute_files(self.names, self.rows, {0: ["g9"]})


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, "op", 0.0, 10.0),
                 (2, 1, "job", 1.0, 4.0),
                 (3, 1, "job", 3.0, 6.0),   # overlaps the first job
                 (4, 2, "stage", 1.5, 2.0)]
        st = self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0)
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 0.5)

    def test_child_outside_parent_is_clipped(self):
        st = self_times([(1, 0, "batch", 0.0, 2.0), (2, 1, "phase", 1.5, 3.0)])
        self.assertAlmostEqual(st[1], 1.5)


class DriverGap(unittest.TestCase):
    def test_no_jobs_is_all_gap(self):
        self.assertAlmostEqual(driver_gap(0.0, 5.0, []), 5.0)

    def test_overlapping_jobs_count_once(self):
        jobs = [(1.0, 3.0), (2.0, 4.0), (2.5, 2.6), (6.0, 7.0)]
        self.assertAlmostEqual(driver_gap(0.0, 10.0, jobs), 10.0 - 4.0)

    def test_jobs_beyond_the_operation_are_clipped(self):
        self.assertAlmostEqual(driver_gap(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]), 2.0)

    def test_union_ignores_empty_intervals(self):
        self.assertAlmostEqual(union_length([(1.0, 1.0), (3.0, 2.0), (0.0, 1.0)]), 1.0)


if __name__ == "__main__":
    unittest.main()
