"""Unit tests of the benchmark's statistics and oracle comparison.

    python3 -m unittest discover -s hedisbench -p 'test_*.py'
"""
import datetime
import math
import unittest

import numpy as np
import pandas as pd

import benchlib


class MedianPercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(benchlib.median([5, 1, 3]), 3)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(benchlib.median([7.25]), 7.25)

    def test_median_empty_raises(self):
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_percentile_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(benchlib.percentile(xs, 0), 10)
        self.assertEqual(benchlib.percentile(xs, 50), 30)
        self.assertEqual(benchlib.percentile(xs, 100), 50)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 46.0)
        self.assertAlmostEqual(benchlib.percentile([1, 2, 3, 4], 25), 1.75)

    def test_percentile_matches_numpy_on_unsorted_sample(self):
        xs = [0.31, 0.29, 1.7, 0.33, 0.30, 0.35, 0.28, 0.9, 0.32, 0.27, 0.34]
        for q in (5, 25, 50, 75, 95, 99):
            self.assertAlmostEqual(benchlib.percentile(xs, q), float(np.percentile(xs, q)))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(39))))
        self.assertEqual(benchlib.tail_percentile(list(range(40))), (75, 29.25))
        self.assertEqual(benchlib.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(benchlib.tail_percentile(list(range(1000)))[0], 99)

    def test_percentile_rejects_rank_out_of_range(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([1, 2], 101)


class UnstolenTest(unittest.TestCase):
    def test_scales_wall_time_by_the_granted_share_of_cpu(self):
        # 6 s of CPU granted out of 6 + 2 asked for: 8 s of wall read as 6 s
        self.assertAlmostEqual(benchlib.unstolen(8.0, 6.0, 2.0), 6.0)

    def test_no_steal_leaves_wall_time(self):
        self.assertEqual(benchlib.unstolen(4.25, 9.5, 0.0), 4.25)

    def test_unreported_steal_or_no_cpu_leaves_wall_time(self):
        self.assertEqual(benchlib.unstolen(4.25, 9.5, -1), 4.25)
        self.assertEqual(benchlib.unstolen(0.5, 0.0, 0.0), 0.5)


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(benchlib.union_length([(0, 1), (2, 5)]), 4)

    def test_overlapping_and_nested_intervals_count_once(self):
        # [0,4] u [2,6] u [3,5] u [10,12] = 6 + 2
        self.assertEqual(benchlib.union_length([(2, 6), (0, 4), (10, 12), (3, 5)]), 8)

    def test_touching_intervals_merge(self):
        self.assertEqual(benchlib.union_length([(0, 2), (2, 3)]), 3)

    def test_clipping_to_the_pass(self):
        self.assertEqual(benchlib.union_length([(-5, 1), (9, 20), (3, 4)], lo=0, hi=10), 3)

    def test_empty_and_inverted(self):
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(3, 1)]), 0)


class CompareFramesTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({
            "member_id": np.array([3, 1, 2], dtype="int64"),
            "gap": ["open", "closed", "open"],
            "cost": [10.5, 0.25, float("nan")],
            "service_date": [datetime.date(2025, 7, 1), datetime.date(2025, 2, 10),
                             datetime.date(2025, 3, 15)],
        })

    def test_same_rows_in_another_order_and_column_order_pass(self):
        a = self.frame()
        b = a.iloc[[2, 0, 1]][["cost", "gap", "service_date", "member_id"]]
        self.assertIsNone(benchlib.compare_frames(a, b))

    def test_date_against_midnight_timestamp_passes(self):
        a = self.frame()
        b = a.copy()
        b["service_date"] = pd.to_datetime(b["service_date"])
        self.assertIsNone(benchlib.compare_frames(a, b))

    def test_one_altered_cell_fails(self):
        a = self.frame()
        b = a.copy()
        b.loc[1, "gap"] = "open"
        reason = benchlib.compare_frames(a, b)
        self.assertIsNotNone(reason)
        self.assertIn("1/3 rows differ", reason)

    def test_one_altered_float_by_an_ulp_fails(self):
        a = self.frame()
        b = a.copy()
        b.loc[0, "cost"] = math.nextafter(10.5, 11.0)
        self.assertIsNotNone(benchlib.compare_frames(a, b))

    def test_int_against_equal_float_fails(self):
        a = self.frame()
        b = a.copy()
        b["member_id"] = b["member_id"].astype("float64")
        self.assertIsNotNone(benchlib.compare_frames(a, b))

    def test_row_count_and_columns_must_match(self):
        a = self.frame()
        self.assertIn("row count", benchlib.compare_frames(a, a.iloc[:2]))
        self.assertIn("columns", benchlib.compare_frames(a, a.drop(columns=["gap"])))


class PassLayersTest(unittest.TestCase):
    def test_jobs_and_stages_roll_up_to_their_pass(self):
        rec = {
            "cores": 4,
            "passes": [
                {"index": 1, "timed": False, "start_ms": 0, "end_ms": 100, "cpu_ns": 0,
                 "gc_ms": 0, "stored_bytes": 0, "stored_files": 0},
                {"index": 2, "timed": True, "start_ms": 100, "end_ms": 1100,
                 "cpu_ns": 3_000_000_000, "gc_ms": 50, "stored_bytes": 2_000_000,
                 "stored_files": 3},
            ],
            "spans": [
                {"id": 1, "parent": 0, "kind": "pass", "name": "pass1", "start_ms": 0, "end_ms": 100},
                {"id": 2, "parent": 0, "kind": "pass", "name": "pass2", "start_ms": 100, "end_ms": 1100},
                {"id": 3, "parent": 2, "kind": "op", "name": "q", "start_ms": 100, "end_ms": 1100},
                {"id": 4, "parent": 3, "kind": "call", "name": "q", "start_ms": 100, "end_ms": 300},
                {"id": 5, "parent": 3, "kind": "action", "name": "q", "start_ms": 300, "end_ms": 1100},
            ],
            "jobs": [
                {"id": 0, "span": 4, "start_ms": 150, "end_ms": 250},
                {"id": 1, "span": 5, "start_ms": 400, "end_ms": 800},
                {"id": 2, "span": 5, "start_ms": 700, "end_ms": 900},
            ],
            "stages": [
                {"id": 0, "span": 4, "tasks": 1, "run_ms": 100, "cpu_ns": 90_000_000,
                 "input_bytes": 1_000_000, "input_rows": 500, "output_bytes": 4_000_000,
                 "output_rows": 100, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "spill_bytes": 0},
                {"id": 1, "span": 5, "tasks": 4, "run_ms": 1500, "cpu_ns": 1_200_000_000,
                 "input_bytes": 0, "input_rows": 0, "output_bytes": 0, "output_rows": 0,
                 "shuffle_write_bytes": 2_000_000, "shuffle_read_bytes": 2_000_000,
                 "spill_bytes": 0},
            ],
            "plans": [{"start_ms": 120, "analysis_ms": 10, "optimization_ms": 20,
                       "planning_ms": 5},
                      {"start_ms": 50, "analysis_ms": 99, "optimization_ms": 99,
                       "planning_ms": 99}],
        }
        [p] = benchlib.pass_layers(rec, result_rows=50)
        self.assertAlmostEqual(p["spark.job_busy_s"], 0.6)
        self.assertAlmostEqual(p["spark.driver_gap_s"], 0.4)
        self.assertEqual(p["spark.jobs"], 3)
        self.assertEqual(p["spark.stages"], 2)
        self.assertEqual(p["spark.single_task_stages"], 1)
        self.assertEqual(p["spark.tasks"], 5)
        self.assertAlmostEqual(p["spark.core_use"], 1.6 / (4 * 0.6))
        self.assertAlmostEqual(p["queries.call_s"], 0.2)
        self.assertAlmostEqual(p["queries.action_s"], 0.8)
        self.assertEqual(p["plans.sql_executions"], 1)
        self.assertAlmostEqual(p["plans.optimization_s"], 0.02)
        self.assertEqual(p["sources.rows_read_per_row_out"], 10.0)
        self.assertAlmostEqual(p["engine.written_per_stored"], 2.0)


if __name__ == "__main__":
    unittest.main()
