"""Percentile, spread, coverage and self-time arithmetic on hand-built
records."""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": 1, "name": name,
            "start_us": start, "end_us": end}


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1, 2], 25), 1.25)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_typical_median_is_geomean_of_per_op_medians(self):
        ss = [{"name": n, "wall_s": w} for n, w in
              [("a", 1.0), ("a", 9.0), ("a", 2.0), ("b", 8.0), ("b", 8.0)]]
        # medians a = 2, b = 8; geometric mean 4
        self.assertAlmostEqual(stats.typical_median(ss), 4.0)
        with self.assertRaises(ValueError):
            stats.typical_median([])

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 9, 10.5, 12, 10.2, 9.8, 10.1, 11.5, 9.9]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(stats.covered([(-5, 3), (9, 20)], 0, 10), 4)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(1, 2), (1, 2)], 0, 10), 1)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, 0, 100, "op"),
                 span(2, 1, 10, 40, "construct"),
                 span(3, 1, 30, 70, "exec"),      # overlaps its sibling
                 span(4, 3, 35, 45, "inner"),
                 span(5, 0, 200, 260, "other")]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 60)   # children cover 10..70
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 40 - 10)
        self.assertEqual(st[4], 10)
        self.assertEqual(st[5], 60)
        by = stats.self_seconds_by_name(spans)
        self.assertAlmostEqual(by["op"][0], 40e-6)

    def test_spark_per_op_attributes_by_window(self):
        samples = [{"start_us": 0, "end_us": 1_000_000, "wall_s": 1.0},
                   {"start_us": 2_000_000, "end_us": 4_000_000, "wall_s": 2.0}]
        jobs = [{"start_ms": 100, "end_ms": 600},
                {"start_ms": 400, "end_ms": 900},
                {"start_ms": 2500, "end_ms": 3000},
                {"start_ms": 5000, "end_ms": 5100}]   # outside every op
        stage = dict(attempt=0, failed=0, busy_ms=800, wait_ms=100,
                     input_b=1 << 20, shuffle_read_b=0, shuffle_write_b=0,
                     spill_b=0, output_b=0)
        stages = [dict(stage, id=1, submit_ms=150, done_ms=550, tasks=4,
                       max_task_ms=400, median_task_ms=100),
                  dict(stage, id=2, submit_ms=2600, done_ms=2700, tasks=2,
                       max_task_ms=50, median_task_ms=50)]
        m = stats.spark_per_op(samples, jobs, stages, cores=4)
        self.assertEqual(m["spark.jobs_per_op"], 1.5)
        self.assertEqual(m["spark.stages_per_op"], 1.0)
        self.assertEqual(m["spark.tasks_per_op"], 3.0)
        # op 1: jobs cover 100..900 of 0..1000; op 2: 2500..3000 of 2000..4000
        self.assertAlmostEqual(m["spark.driver_gap_s"], (0.2 + 1.5) / 2)
        self.assertAlmostEqual(m["spark.core_util"], 1.6 / (3.0 * 4))
        self.assertAlmostEqual(m["spark.task_skew"], (4.0 + 1.0) / 2)
        self.assertAlmostEqual(m["spark.input_mb"], 1.0)


if __name__ == "__main__":
    unittest.main()
