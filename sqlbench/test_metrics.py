"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s sqlbench -p 'test_*.py'

The row hash lives on the JVM side; its self-test (RowHash.selfTest) runs
at the start of every benchmark run.
"""

import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive_quartiles(self):
        for xs in ([5.0], [3.0, 1.0], [1, 2, 3, 4], [9, 1, 7, 3, 5, 11, 2, 8]):
            q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
            self.assertAlmostEqual(metrics.percentile(xs, 25), q[0])
            self.assertAlmostEqual(metrics.percentile(xs, 50), q[1])
            self.assertAlmostEqual(metrics.percentile(xs, 75), q[2])

    def test_p90_of_hundred_samples_has_ten_above(self):
        xs = list(range(1, 101))
        p90 = metrics.percentile(xs, 90)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)

    def test_extremes_and_order(self):
        xs = [4, 8, 1, 6]
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 8)
        self.assertEqual(metrics.percentile(xs, 50), metrics.percentile(sorted(xs), 50))

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class CheckNamesTest(unittest.TestCase):
    DECLARED = [{"name": "select_p50_ms", "unit": "ms"}, {"name": "setup_s", "unit": "s"}]

    def test_exact_set_passes(self):
        values = {"select_p50_ms": 1.5, "setup_s": 2.0}
        self.assertEqual(metrics.check_names(values, self.DECLARED), [])

    def test_missing_undeclared_and_nan(self):
        problems = metrics.check_names({"extra": 1, "setup_s": float("nan")}, self.DECLARED)
        self.assertIn("missing metric select_p50_ms", problems)
        self.assertIn("undeclared metric extra", problems)
        self.assertIn("metric setup_s has no finite value", problems)


class LayerMathTest(unittest.TestCase):
    def raw(self):
        sel = {"insert": False, "ok": True, "wall_ms": 100.0, "parser_ms": 2.0,
               "build_ms": 40.0, "catalyst_ms": 10.0, "exec_ms": 49.5, "rows_out": 5,
               "insert_rows": 0, "files": 0, "bytes": 0,
               "cells": [{"phase": "build", "site": "stats", "jobs": 3, "job_ms": 30,
                          "stages": 3, "tasks": 3, "task_run_ms": 9, "shuffle_write": 0,
                          "shuffle_read": 0, "spill": 0, "input_rows": 10},
                         {"phase": "exec", "site": "other", "jobs": 1, "job_ms": 45,
                          "stages": 2, "tasks": 8, "task_run_ms": 60, "shuffle_write": 100,
                          "shuffle_read": 100, "spill": 0, "input_rows": 500}]}
        ins = dict(sel, insert=True, wall_ms=200.0, insert_rows=100, files=4, bytes=4000,
                   cells=[{"phase": "insert", "site": "other", "jobs": 1, "job_ms": 80,
                           "stages": 1, "tasks": 1, "task_run_ms": 70, "shuffle_write": 0,
                           "shuffle_read": 0, "spill": 0, "input_rows": 0}])
        plain = dict(sel, wall_ms=90.0, cells=[])
        return {"phases": [{"records": [plain], "gc_ms": 0, "elapsed_s": 1.0},
                           {"records": [sel, ins], "gc_ms": 20, "elapsed_s": 1.0}]}

    def test_self_times_and_remainder(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(m["build.self_ms"], 40 - 2 - 30)
        # wall 100 = build 40 + catalyst 10 + exec 49.5 + 0.5 between intervals
        self.assertEqual(m["trace.unaccounted_ms"], 0.5)
        self.assertEqual(m["trace.overhead_ms"], 10)
        self.assertEqual(m["exec.input_rows_per_output_row"], 100)
        self.assertEqual(m["write.rows_per_s"], 500)
        self.assertEqual(m["stats.jobs"], 1.5)
        layers = metrics.layer_self_ms(self.raw())
        self.assertEqual(layers["unaccounted"], 0.5)
        self.assertEqual(layers["stmt_wall"], 100)

    def test_overshooting_estimates_show_as_negative_build_self(self):
        raw = self.raw()
        raw["phases"][1]["records"][0]["parser_ms"] = 15.0
        self.assertEqual(metrics.per_layer(raw)["build.self_ms"], 40 - 15 - 30)


if __name__ == "__main__":
    unittest.main()
