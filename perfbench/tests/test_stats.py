"""Unit tests of the benchmark's summary statistics and metric assembly.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_single(self):
        self.assertEqual(stats.median([0.7]), 0.7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class RateTest(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(stats.rate(30, 15.0), 2.0)
        with self.assertRaises(ValueError):
            stats.rate(3, 0.0)


class SpreadTest(unittest.TestCase):
    def test_iqr_share_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_has_no_spread(self):
        self.assertEqual(stats.iqr_share([2.0] * 10), 0.0)


SPEC = {
    "end_to_end": [
        {"name": "setup_s", "unit": "s"}, {"name": "ops_per_s", "unit": "1/s"},
        {"name": "op_p50_s", "unit": "s"}, {"name": "retained_heap_mb", "unit": "MB"}],
    "per_layer": [
        {"name": "engine.jobs_per_op", "unit": "count"},
        {"name": "streaming.batches", "unit": "count"},
        {"name": "overhead.op_p50_s", "unit": "s"},
        {"name": "overhead.setup_s", "unit": "s"},
        {"name": "overhead.retained_heap_mb", "unit": "MB"},
        {"name": "run.ops", "unit": "count"},
        {"name": "run.cpu_given", "unit": "ratio"}],
}
RAW = {
    "session_s": 5.0, "setup_rep_s": [9.0, 3.0, 4.0], "op_s": [1.0, 2.0, 3.0],
    "op_given": [1.0, 0.8, 0.9],
    "heap_mb": 100.0, "reference_setup_rep_s": 4.0, "traced_setup_rep_s": 6.0,
    "reference_op_s": [2.0, 3.0, 1.0], "traced_op_s": [2.0, 2.0, 5.0],
    "traced_heap_mb": 110.0, "layers": {"engine.jobs_per_op": [4.0]},
}


OWN = {"engine.jobs_per_op", "overhead.op_p50_s", "overhead.setup_s",
       "overhead.retained_heap_mb", "run.ops", "run.cpu_given"}


class SummarizeTest(unittest.TestCase):
    def test_end_to_end(self):
        m = run.summarize(RAW, False, SPEC, OWN)
        self.assertEqual(set(m), {"setup_s", "ops_per_s", "op_p50_s", "retained_heap_mb"})
        self.assertEqual(m["setup_s"]["value"], 5.0 + 4.0)  # median of the reps
        self.assertEqual(m["ops_per_s"]["value"], 3 / 6.0)  # ops / summed latency
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["retained_heap_mb"], {"value": 100.0, "unit": "MB"})

    def test_per_layer_and_overhead(self):
        m = run.summarize(RAW, True, SPEC, OWN)
        self.assertEqual(set(m), {x["name"] for x in SPEC["per_layer"]})
        self.assertEqual(m["engine.jobs_per_op"]["value"], 4.0)
        self.assertEqual(m["streaming.batches"]["value"], 0.0)  # not this workload's
        # traced minus the untraced reference run beside it
        self.assertEqual(m["overhead.op_p50_s"]["value"], 0.0)
        self.assertEqual(m["overhead.setup_s"]["value"], 2.0)
        self.assertEqual(m["overhead.retained_heap_mb"]["value"], 10.0)
        self.assertEqual(m["run.ops"]["value"], 3)
        self.assertEqual(m["run.cpu_given"]["value"], 0.9)

    def test_own_metric_without_samples_is_an_error(self):
        with self.assertRaisesRegex(run.BenchError, "streaming.batches"):
            run.summarize(RAW, True, SPEC, OWN | {"streaming.batches"})
        raw = dict(RAW, layers={"engine.jobs_per_op": []})
        with self.assertRaisesRegex(run.BenchError, "engine.jobs_per_op"):
            run.summarize(raw, True, SPEC, OWN)

    def test_sampled_metric_of_another_workload_is_an_error(self):
        raw = dict(RAW, layers={"engine.jobs_per_op": [4.0], "streaming.batches": [3.0]})
        with self.assertRaisesRegex(run.BenchError, "streaming.batches"):
            run.summarize(raw, True, SPEC, OWN)


class WorkloadsTest(unittest.TestCase):
    """perfbench/workloads.json agrees with BENCHMARK.json."""

    def test_every_metric_has_a_workload_and_every_workload_its_metrics(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        desc = run.load_json(os.path.join(ROOT, "perfbench", "workloads.json"))
        names = {m["name"] for m in spec["per_layer"]}
        owned = set()
        for w in spec["workloads"]:
            own = run.own_metrics(desc, w["name"])
            self.assertLessEqual(own, names, w["name"])
            owned |= own
        self.assertEqual(owned, names)


class SessionTest(unittest.TestCase):
    """The benchmark builds its Spark session as graft.Bench does."""

    CHAIN = """
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // a comment
      .config("spark.sql.shuffle.partitions", cpus)
      .config(
        "spark.ui.enabled", "false")
      .getOrCreate()
    """

    def calls(self, text):
        with tempfile.NamedTemporaryFile("w", suffix=".scala") as f:
            f.write(text)
            f.flush()
            return run.session_calls(f.name)

    def test_reads_calls_in_any_layout(self):
        self.assertEqual(self.calls(self.CHAIN), [
            ("config", '"spark.sql.shuffle.partitions",cpus'),
            ("config", '"spark.ui.enabled","false"'),
            ("master", 's"local[$cpus]"')])

    def test_a_changed_setting_differs(self):
        changed = self.CHAIN.replace('"false"', '"true"')
        self.assertNotEqual(self.calls(changed), self.calls(self.CHAIN))

    def test_an_unreadable_chain_is_an_error(self):
        with self.assertRaises(run.BenchError):
            self.calls(self.CHAIN.replace(".getOrCreate()", ".enableHiveSupport; .getOrCreate()"))

    def test_repository_session_matches(self):
        run.check_session(ROOT)


if __name__ == "__main__":
    unittest.main()
