"""Tests for the benchmark harness's own logic.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root. The generator test compiles the benchmark
(as run.py does) and runs the JVM input generator.
"""

import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import harness  # noqa: E402


def raw_report(n_queries=200, ops=None):
    return {
        "setup_s": [3.0, 1.0, 2.0],
        "query_ms": [float(i + 1) for i in range(n_queries)],
        "serve_window_s": 10.0,
        "recall": [1.0, 0.5],
        "ingest": [{"items": 100, "seconds": 2.0}, {"items": 100, "seconds": 4.0}],
        "refresh_ms": [1000.0, 3000.0, 2000.0],
        "refresh_rows": [100, 100, 100],
        "index_mem_bytes": 3 * 2**20,
        "ops": ops if ops is not None else {
            "query": {"attempted": n_queries + 2, "failed": 2},
            "refresh": {"attempted": 3, "failed": 0}},
    }


class TailPercentileTest(unittest.TestCase):
    def test_p95_needs_200_samples(self):
        self.assertEqual(harness.tail_percentile(200), 95.0)
        self.assertEqual(harness.tail_percentile(199), 90.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(harness.tail_percentile(1000), 99.0)
        self.assertEqual(harness.tail_percentile(10000), 99.9)
        self.assertEqual(harness.tail_percentile(40), 75.0)
        self.assertEqual(harness.tail_percentile(20), 50.0)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(harness.tail_percentile(19))
        self.assertIsNone(harness.tail_percentile(0))

    def test_every_choice_leaves_ten_beyond(self):
        for n in list(range(20, 400)) + [999, 1000, 1001, 9999, 10000]:
            p = harness.tail_percentile(n)
            beyond = n - 1 - harness.percentile(range(n), p)
            self.assertGreaterEqual(beyond, harness.MIN_BEYOND, (n, p))

    def test_nearest_rank(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(harness.percentile(values, 50.0), 3.0)
        self.assertEqual(harness.percentile(values, 100.0), 5.0)
        self.assertEqual(harness.percentile(values, 1.0), 1.0)
        self.assertEqual(harness.percentile(list(range(1, 201)), 95.0), 190)

    def test_end_to_end_refuses_a_p95_without_200_samples(self):
        with self.assertRaises(ValueError):
            harness.end_to_end(raw_report(n_queries=199))
        m = harness.end_to_end(raw_report(n_queries=200))
        self.assertEqual(m["query_p95_ms"], 190.0)
        self.assertEqual(m["query_p50_ms"], 100.0)


class FailureAccountingTest(unittest.TestCase):
    def test_totals_sum_kinds(self):
        ops = {"query": {"attempted": 10, "failed": 1},
               "refresh": {"attempted": 5, "failed": 2}}
        self.assertEqual(harness.failure_totals(ops), (15, 3))

    def test_inconsistent_counts_are_refused(self):
        with self.assertRaises(ValueError):
            harness.failure_totals({"query": {"attempted": 1, "failed": 2}})
        with self.assertRaises(ValueError):
            harness.failure_totals({"query": {"attempted": -1, "failed": 0}})

    def test_success_fraction_counts_every_attempt(self):
        m = harness.end_to_end(raw_report())
        self.assertAlmostEqual(m["ops_success_frac"], 1 - 2 / 205)

    def test_no_attempts_is_an_error(self):
        r = raw_report(ops={"query": {"attempted": 0, "failed": 0}})
        with self.assertRaises(ValueError):
            harness.end_to_end(r)

    def test_result_line_carries_counts_and_units(self):
        m = harness.end_to_end(raw_report())
        line = harness.result_line(m, harness.END_TO_END_UNITS, 205, 2)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((line["attempted"], line["failed"]), (205, 2))
        self.assertEqual(set(line["metrics"]), set(harness.END_TO_END_UNITS))
        self.assertEqual(line["metrics"]["setup_s"], {"value": 2.0, "unit": "s"})

    def test_rates(self):
        m = harness.end_to_end(raw_report())
        self.assertEqual(m["refresh_p50_ms"], 2000.0)
        self.assertEqual(m["upsert_rows_per_s"], 50.0)
        self.assertEqual(m["ingest_images_per_s"], 37.5)
        self.assertEqual(m["index_mem_mb"], 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "req": 1, "name": "request.query", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "req": 1, "name": "embed.forQuery", "start_ns": 0, "end_ns": 10},
            {"id": 3, "parent": 1, "req": 1, "name": "index.search", "start_ns": 10, "end_ns": 90},
        ]
        t = harness.self_times(spans)
        self.assertAlmostEqual(t["request.query"][2], 10 / 1e6)
        self.assertAlmostEqual(t["index.search"][2], 80 / 1e6)


class GeneratorDeterminismTest(unittest.TestCase):
    """A seed fixes every generated input; another seed changes each kind."""

    @classmethod
    def setUpClass(cls):
        sys.path.insert(0, os.path.dirname(HERE))
        import run
        cls.classes = os.path.abspath(run.build())
        cls.jars = run.spark_jars()

    def digest(self, seed):
        scratch = tempfile.mkdtemp(dir=os.path.dirname(self.classes))
        try:
            out = subprocess.run(
                ["java", "-cp", os.pathsep.join([self.classes, os.path.join(self.jars, "*")]),
                 "perfbench.GenDigest", str(seed), scratch],
                check=True, capture_output=True, text=True).stdout
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return dict(line.split() for line in out.strip().splitlines())

    def test_same_seed_same_inputs(self):
        a, b = self.digest(7), self.digest(7)
        self.assertEqual(set(a), {"captions", "queries", "changes", "images"})
        self.assertEqual(a, b)

    def test_other_seed_other_inputs(self):
        a, b = self.digest(7), self.digest(8)
        for kind in a:
            self.assertNotEqual(a[kind], b[kind], kind)


if __name__ == "__main__":
    unittest.main()
