#!/usr/bin/env python3
"""Self-tests for the benchmark's own helpers.

    python3 perfbench/selftest.py            # pure helpers, then the Spark counter readers
    python3 perfbench/selftest.py --no-spark # pure helpers only

The Spark part starts a ``local[2]`` session from the program's
``get_spark`` and checks that the status-store, SQL-metric and codegen
deltas the traced run reports move when a job runs.
"""

from __future__ import annotations

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture_stats  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


class TailRule(unittest.TestCase):
    def test_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10), 50)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(25), 60)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 95)
        for n in range(1, 500):
            p = stats.tail_percentile(n)
            if p > 50:
                self.assertGreaterEqual(n * (1 - p / 100), stats.TAIL_MIN_BEYOND - 1e-9, n)

    def test_tail_value(self):
        values = list(range(1, 41))  # 40 samples -> p75
        value, p = stats.tail(values)
        self.assertEqual(p, 75)
        self.assertAlmostEqual(value, 30.25)
        self.assertEqual(stats.tail(values, max_p=60)[1], 60)
        self.assertEqual(stats.tail([]), (0.0, 50))


class Freshness(unittest.TestCase):
    PROGRESS = {
        "timestamp": "2026-01-01T00:00:10.000Z",
        "numInputRows": 1000,
        "durationMs": {"triggerExecution": 900, "addBatch": 700},
        "eventTime": {"max": "2026-01-01T00:00:09.750Z", "watermark": "2026-01-01T00:00:00.000Z"},
    }

    def test_freshness_from_progress(self):
        # commit at 10.900 s, newest event at 9.750 s
        self.assertAlmostEqual(stats.freshness_ms(self.PROGRESS), 1150.0)

    def test_empty_batch_has_no_freshness(self):
        self.assertIsNone(stats.freshness_ms({**self.PROGRESS, "numInputRows": 0}))
        self.assertIsNone(stats.freshness_ms({**self.PROGRESS, "eventTime": {"watermark": "x"}}))


class Accounting(unittest.TestCase):
    def test_idle_slot_s(self):
        self.assertAlmostEqual(stats.idle_slot_s(3, 2.0, 4.5), 1.5)
        self.assertEqual(stats.idle_slot_s(3, 1.0, 5.0), 0.0)

    def test_counter_delta(self):
        before = {"codegen_compilations": 10, "codegen_compile_s": 1.5}
        after = {"codegen_compilations": 14, "codegen_compile_s": 2.0, "new": 3}
        self.assertEqual(stats.counter_delta(before, after),
                         {"codegen_compilations": 4, "codegen_compile_s": 0.5, "new": 3})

    def test_metric_text(self):
        self.assertEqual(harness.parse_metric_text("1,000"), 1000)
        self.assertEqual(harness.parse_metric_text(
            "total (min, med, max (stageId: taskId))\n8.0 KiB (2.0 KiB, 2.0 KiB, 4.0 KiB (stage 2.0: task 5))"),
            8192)
        self.assertEqual(harness.parse_metric_text("0.0 B"), 0)

    def test_lag_grows(self):
        self.assertFalse(stats.lag_grows([1000, 1200, 900, 1100, 1000, 950], tolerance=2000))
        self.assertTrue(stats.lag_grows([1000, 1500, 3000, 4500, 6000, 7500], tolerance=2000))

    def test_self_times(self):
        spans = [
            {"id": 0, "layer": "harness", "parent": None, "start": 0.0, "end": 10.0},
            {"id": 1, "layer": "plans", "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "layer": "operators", "parent": 0, "start": 4.0, "end": 9.0},
            {"id": 3, "layer": "caching", "parent": 2, "start": 8.0, "end": 9.5},  # clipped at 9
        ]
        self.assertEqual(harness.self_times(spans),
                         {"harness": 2.0, "plans": 3.0, "operators": 4.0, "caching": 1.5})

    def test_same_result_ignores_order(self):
        self.assertTrue(stats.same_result(["b", "a"], [(1, "x"), (2, "y")],
                                          ["a", "b"], [("y", 2), ("x", 1)]))
        self.assertFalse(stats.same_result(["a"], [(1.0,)], ["a"], [(1.0000001,)]))


class GeneratedTables(unittest.TestCase):
    def test_near_dup_share(self):
        docs = ["a b c d e f g", "x y z w v u t", "a b c d e f g dup"]
        self.assertAlmostEqual(fixture_stats.near_dup_share(docs), 1 / 3)

    def test_same_seed_same_tables(self):
        one, two = tables.build_tables(3, 0.001), tables.build_tables(3, 0.001)
        self.assertEqual(one["documents"]["text"].to_pylist(), two["documents"]["text"].to_pylist())
        self.assertEqual(one["lineitem"]["l_orderkey"].to_pylist(), two["lineitem"]["l_orderkey"].to_pylist())
        texts = one["documents"]["text"].to_pylist()
        self.assertEqual(sum(t.endswith(" dup") for t in texts),
                         sum(1 for t in texts if t.endswith(" dup") and t[:-4] in texts))


class SparkCounterDeltas(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        sys.path.insert(0, os.path.dirname(HERE))
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        from kinesis_analytics_demo_spark.session import get_spark

        cls.spark = get_spark(app_name="perfbench-selftest")
        cls.counters = harness.SparkCounters(cls.spark)

    @classmethod
    def tearDownClass(cls):
        cls.spark.stop()

    def test_job_stage_and_codegen_deltas(self):
        c = self.counters
        c.settle()
        job0, cg0 = c.last_job_id(), c.codegen()
        self.spark.range(5000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        c.settle()
        job1 = c.last_job_id()
        tot = c.stage_totals(c.jobs(job0 + 1, job1))
        self.assertGreaterEqual(tot["jobs"], 1)
        self.assertGreaterEqual(tot["stages"], 1)
        self.assertGreaterEqual(tot["tasks"], 2)
        self.assertGreater(tot["shuffle_write_bytes"], 0)
        self.assertEqual(tot["shuffle_write_bytes"], tot["shuffle_read_bytes"])
        self.assertGreater(stats.counter_delta(cg0, c.codegen())["codegen_compilations"], 0)

    def test_python_node_metrics(self):
        def ident(batches):
            yield from batches

        c = self.counters
        c.settle()
        ex0 = c.last_execution_id()
        self.spark.range(1000).mapInPandas(ident, "id long").write.format("noop").mode("overwrite").save()
        c.settle()
        py = c.python_metrics(ex0 + 1, c.last_execution_id())
        self.assertGreater(py["python_bytes_in"], 0)
        self.assertGreater(py["python_bytes_out"], 0)
        self.assertEqual(py["python_rows"], 1000)


if __name__ == "__main__":
    if "--no-spark" in sys.argv:
        sys.argv.remove("--no-spark")
        del SparkCounterDeltas
    unittest.main()
