"""Tests of the benchmark's own logic: the percentile rule, the replica
state a binlog schedule implies, and the oracle-comparison
normalisation.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks   # noqa: E402
import metrics  # noqa: E402
import plan     # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(99), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(999), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(100, 0, -1))          # 1..100, unsorted
        self.assertEqual(metrics.quantile(xs, 50), 50)
        self.assertEqual(metrics.quantile(xs, 90), 90)
        self.assertEqual(metrics.quantile([7], 99), 7)
        self.assertEqual(metrics.tail(xs), (90, 90))
        self.assertEqual(metrics.tail(xs[:5]), (None, None))

    def test_union_of_job_spans(self):
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 4), (6, 7)], 0, 10), 4)
        self.assertAlmostEqual(metrics.union_length([(1, 3), (2, 4)], 2.5, 3.5), 1)
        self.assertEqual(metrics.union_length([], 0, 1), 0)


class ExpectedState(unittest.TestCase):
    def test_appends_and_upserts(self):
        # standing txns 1..4 (keys 1..20); f1 appends txns 5..6 (keys 21..30);
        # f2 rewrites txns 2..3 (keys 6..15); f3 rewrites txn 3 (keys 11..15)
        sched = [("f1", 5, 2, 0.0), ("f2", 2, 2, 0.0), ("f3", 3, 1, 0.0)]
        src = plan.expected_sources(4, sched)
        self.assertEqual(len(src), 31)
        self.assertEqual(set(src[1:6]), {""})
        self.assertEqual(set(src[6:11]), {"f2"})
        self.assertEqual(set(src[11:16]), {"f3"})
        self.assertEqual(set(src[16:21]), {""})
        self.assertEqual(set(src[21:31]), {"f1"})

    def test_schedule_is_seeded_and_alternates(self):
        a = plan.schedule("replica_stream", 5, 10)
        self.assertEqual(a, plan.schedule("replica_stream", 5, 10))
        self.assertNotEqual(a, plan.schedule("replica_stream", 6, 10))
        w = plan.WORKLOADS["replica_stream"]
        top = w["standing_txns"]
        for i, (name, first, n, due) in enumerate(a, start=1):
            self.assertEqual(name, plan.file_name(i))
            backlog = i <= w["backlog_files"]
            self.assertEqual(due < 0, backlog)
            if i % 2:
                self.assertEqual(first, top + 1)
                top += n
            else:
                self.assertTrue(1 <= first and first + n - 1 <= top)
                if not backlog:
                    self.assertGreater(first, top - w["upsert_window_txns"])

    def test_stream_files_are_due_at_a_fixed_rate(self):
        w = plan.WORKLOADS["replica_stream"]
        streamed = [f for f in plan.schedule("replica_stream", 3, 15) if f[3] >= 0]
        self.assertEqual(len(streamed), round((w["warmup_s"] + 15) / w["file_interval_s"]))
        for i, f in enumerate(streamed):
            self.assertAlmostEqual(f[3], i * w["file_interval_s"])
        measured = plan.measured_files("replica_stream", plan.schedule("replica_stream", 3, 15))
        self.assertEqual(len(measured), round(15 / w["file_interval_s"]))

    def test_table_check_catches_a_stale_row(self):
        sched = [("f1", 3, 1, 0.0), ("f2", 1, 1, 0.0)]
        src = plan.expected_sources(2, sched)
        keys = np.arange(1, 16)
        good = pd.DataFrame({"key": keys, "title": [f"row-{k}" for k in keys],
                             "source_file": ["file:/x/f2"] * 5 + ["bootstrap"] * 5 + ["file:/x/f1"] * 5})
        self.assertIsNone(checks.table_problem(good, src))
        stale = good.copy()
        stale.loc[0, "source_file"] = "bootstrap"
        self.assertIn("key 1", checks.table_problem(stale, src))
        self.assertIn("key set", checks.table_problem(good.iloc[1:], src))
        retitled = good.copy()
        retitled.loc[3, "title"] = "row-x"
        self.assertIn("title", checks.table_problem(retitled, src))


class OracleNormalisation(unittest.TestCase):
    def test_order_of_rows_and_columns_is_ignored(self):
        got = pd.DataFrame({"b": [2.5, 1.0], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5]})
        self.assertIsNone(checks.compare(got, exp))
        self.assertEqual(checks.content_hash(got), checks.content_hash(exp))

    def test_values_compare_as_strings(self):
        exp = pd.DataFrame({"a": [1, 2]})
        self.assertIsNone(checks.compare(pd.DataFrame({"a": [2, 1]}), exp))
        self.assertIn("column a", checks.compare(pd.DataFrame({"a": [1.0, 2.0]}), exp))
        self.assertIn("rows", checks.compare(pd.DataFrame({"a": [1]}), exp))
        self.assertIn("columns", checks.compare(pd.DataFrame({"c": [1, 2]}), exp))

    def test_nulls_match_nulls(self):
        got = pd.DataFrame({"a": ["x", None]})
        self.assertIsNone(checks.compare(got, pd.DataFrame({"a": [None, "x"]})))


class BenchmarkFile(unittest.TestCase):
    """run.py prints exactly the metrics BENCHMARK.json declares."""
    RAW = {"jvm": {"gc_s": 1.0, "heap_peak_mb": 1.0, "vmhwm_mb": 1.0, "live_heap_mb": 1.0},
           "wall_s": 1.0,
           "session_start_s": 1.0, "setup_s": [1.0], "catchup_s": 1.0, "trace": {}}

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        self.bench = json.load(open(os.path.join(root, "BENCHMARK.json")))

    def test_names_and_units(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(plan.WORKLOADS))
        for w in plan.WORKLOADS:
            e2e = metrics.end_to_end(w, self.RAW, [])
            self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                             {k: u for k, (_, u) in e2e.items()})
            layer = metrics.per_layer(w, self.RAW, [])
            self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                             {k: u for k, (_, u) in layer.items()})

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
