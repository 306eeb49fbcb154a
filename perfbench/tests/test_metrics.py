"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, layer, t0, t1, parent=-1, op=0):
    return {"id": i, "parent": parent, "layer": layer, "op": op,
            "t0": t0, "t1": t1}


def job(i, sp, t0, t1, **task):
    j = {"id": i, "span": sp, "t0": t0, "t1": t1, "execution": -1,
         "tasks": 1, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
         "shuffle_bytes": 0, "input_bytes": 0, "input_records": 0,
         "output_bytes": 0, "output_records": 0}
    j.update(task)
    return j


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, q in [(20, 0.5), (39, 0.5), (40, 0.75), (100, 0.9),
                     (199, 0.9), (200, 0.95), (1000, 0.99), (10000, 0.999)]:
            values = list(range(1, n + 1))
            value, got = metrics.tail(values)
            self.assertEqual(got, q, n)
            self.assertGreaterEqual(sum(1 for v in values if v > value), 10)

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 1.0))
        self.assertEqual(metrics.tail([5.0]), (5.0, 1.0))

    def test_tail_never_below_median(self):
        for n in range(1, 60):
            values = [float((i * 7919) % 31) for i in range(n)]
            self.assertGreaterEqual(metrics.tail(values)[0],
                                    metrics.median(values) - 1e-9)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length(
            [(0, 2), (1, 3), (5, 6), (6, 6), (7, 5)]), 4)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_is_span_minus_children(self):
        spans = [span(0, "pipeline", 0, 100),
                 span(1, "extraction", 10, 40, parent=0),
                 span(2, "tables", 20, 30, parent=1),
                 span(3, "mapping", 50, 90, parent=0)]
        parts = metrics.partition_op(0, 100, spans, [])
        self.assertEqual(parts, {"pipeline": 30, "extraction": 20,
                                 "tables": 10, "mapping": 40})

    def test_driver_and_unattributed_buckets_close_the_sum(self):
        spans = [span(0, "sql", 10, 40)]
        jobs = [job(0, 0, 15, 35), job(1, -1, 50, 60), job(2, -1, 55, 70)]
        parts = metrics.partition_op(0, 100, spans, jobs)
        self.assertEqual(parts["sql"], 30)
        self.assertEqual(parts["unattributed"], 20)   # 50..70
        self.assertEqual(parts["driver"], 50)          # 0..10, 40..50, 70..100
        self.assertEqual(sum(parts.values()), 100)

    def test_jobs_outside_the_op_are_clipped(self):
        parts = metrics.partition_op(10, 20, [], [job(0, -1, 0, 15)])
        self.assertEqual(parts, {"unattributed": 5, "driver": 5})


class AttributionTest(unittest.TestCase):
    def test_job_goes_to_its_span_layer_or_unattributed(self):
        by_id = {0: span(0, "pipeline", 0, 10), 1: span(1, "mapping", 1, 5, 0)}
        self.assertEqual(metrics.job_layer(job(0, 1, 2, 3), by_id), "mapping")
        self.assertEqual(metrics.job_layer(job(1, -1, 2, 3), by_id),
                         "unattributed")
        self.assertEqual(metrics.job_layer(job(2, 9, 2, 3), by_id),
                         "unattributed")

    def test_layer_metrics_per_op(self):
        ops = [{"i": 0, "t0": 0, "t1": 1000}, {"i": 1, "t0": 2000, "t1": 3000}]
        spans = [span(0, "extraction", 100, 900, op=0),
                 span(1, "extraction", 2100, 2900, op=1)]
        jobs = [job(0, 0, 200, 400, input_records=30, output_records=10,
                    run_ms=300, output_bytes=100),
                job(1, 0, 300, 500, input_records=30, output_records=10),
                job(2, 1, 2200, 2300, input_records=40, output_records=20),
                job(3, -1, 2950, 2990)]
        execs = [{"id": 1, "t": 250}]
        m = metrics.layer_metrics(ops, spans, jobs, execs, {})
        self.assertEqual(m["extraction.jobs"], 1.5)
        self.assertAlmostEqual(m["extraction.job_s"], (0.3 + 0.1) / 2)
        self.assertAlmostEqual(m["extraction.self_s"], 0.8)
        self.assertAlmostEqual(m["extraction.task_run_s"], 0.15)
        self.assertEqual(m["extraction.output_bytes"], 50)
        self.assertEqual(m["unattributed.jobs"], 0.5)
        self.assertAlmostEqual(m["unattributed.self_s"], 0.02)
        self.assertAlmostEqual(m["driver.self_s"], 0.18)
        # op 0: 1000 - 300 ms of jobs; op 1: 1000 - 100 - 40
        self.assertAlmostEqual(m["driver.gap_s"], (0.7 + 0.86) / 2)
        self.assertAlmostEqual(m["driver.plan_s"], 0.2)
        self.assertEqual(m["driver.jobs_per_op"], 2)
        self.assertEqual(m["extraction.rows_read_per_row_written"], 100 / 40)
        self.assertEqual(m["trace.accounted_share"], 1.0)
        self.assertEqual(m["sql.executions_per_query"], 0.0)
        self.assertEqual(m["mapping.jobs"], 0.0)


class FailRatioTest(unittest.TestCase):
    def test_counts_failed_over_attempted(self):
        self.assertEqual(metrics.fail_ratio(8, 0), 0.0)
        self.assertEqual(metrics.fail_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            metrics.fail_ratio(0, 0)


if __name__ == "__main__":
    unittest.main()
