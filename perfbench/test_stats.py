"""Tests for the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import checks
import stats
from run import unit_of

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_p90_of_113_has_eleven_beyond(self):
        self.assertEqual(stats.beyond(113, 90), 11)
        self.assertEqual(stats.highest_percentile(113), 91)

    def test_no_percentile_when_too_few_samples(self):
        self.assertIsNone(stats.highest_percentile(10))
        self.assertEqual(stats.highest_percentile(20), 50)

    def test_nearest_rank(self):
        xs = list(range(1, 114))
        self.assertEqual(stats.percentile(xs, 50), 57)
        self.assertEqual(stats.percentile(xs, 90), 102)
        self.assertEqual(sum(1 for x in xs if x > stats.percentile(xs, 90)), 11)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)


class Quartiles(unittest.TestCase):
    def test_match_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 30.0, 9.0, 10.5, 11.5, 12.5, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_iqr_share(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)
        self.assertEqual(stats.iqr_share([4.0] * 10), 0.0)


    def test_spreads_over_runs(self):
        runs = [{"metrics": {"x": {"value": v, "unit": "s"}}} for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
        med, share = stats.spreads(runs)["x"]
        self.assertEqual(med, 3.0)
        self.assertAlmostEqual(share, stats.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children_counts_once(self):
        spans = [(0, "query", 0.0, 10.0, -1),
                 (0, "a", 1.0, 4.0, 0),
                 (0, "b", 3.0, 6.0, 0),
                 (0, "c", 8.0, 12.0, 0)]
        self.assertEqual(stats.self_times(spans)[0], 10.0 - 5.0 - 2.0)

    def test_concurrent_queries_do_not_cover_each_other(self):
        # Two clients: query 1 runs inside query 0's interval, but only a
        # span's own children reduce its self time.
        spans = [(0, "query", 0.0, 10.0, -1),
                 (1, "query", 2.0, 8.0, -1),
                 (0, "spark.execute", 5.0, 9.0, 0),
                 (1, "spark.analyze", 2.0, 3.0, 1),
                 (1, "planner.optimize", 3.0, 7.0, 1),
                 (1, "sketch.build", 3.5, 6.0, 4),
                 (1, "enumerate", 5.0, 6.5, 4)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[0], 6.0)
        self.assertEqual(selfs[1], 1.0)
        self.assertEqual(selfs[4], 4.0 - 3.0)
        self.assertEqual(selfs[5], 2.5)

    def test_splice_excludes_extract_sketch_and_enumerate(self):
        # The replayed extraction is a child of the query span, outside the
        # layer tree; its duration is laid out again inside optimize.
        spans = [[0, "query", 0.0, 20.0, -1],
                 [0, "spark.analyze", 0.0, 2.0, 0],
                 [0, "trace.extract_replay", 2.0, 3.0, 0],
                 [0, "planner.optimize", 3.0, 13.0, 0],
                 [0, "plans.extract", 3.0, 4.0, 3],
                 [0, "sketch.build", 4.0, 9.0, 3],
                 [0, "enumerate", 9.0, 11.0, 3],
                 [0, "spark.execute", 13.0, 19.5, 0]]
        timed = {"wall_ms": 20.0, "cpu_ms": 1.0, "heap_peak_mb": 1.0, "setup_s": 1.0,
                 "gc_ms": 0, "jit_ms": 0, "codegen_compile_ms": 0.0, "counters": {},
                 "queries": [{"name": "1a", "result": 1, "start_ms": 0.0, "end_ms": 20.0}],
                 "spans": spans}
        m = stats.per_layer({"config": {"clients": 1}}, [timed, timed], timed, [])
        self.assertEqual(m["planner.splice_ms"], 10.0 - 1.0 - 5.0 - 2.0)
        self.assertEqual(m["plans.extract_ms"], 1.0)
        self.assertEqual(m["trace.query_self_frac"], 0.5 / 20.0)

    def test_child_outside_parent_is_clipped(self):
        self.assertEqual(stats.covered([(-5.0, 2.0), (9.0, 20.0)], 0.0, 10.0), 3.0)


class FailedFrac(unittest.TestCase):
    def test_wrong_count_is_a_failure(self):
        runs = [{"name": "1a", "result": 7}, {"name": "1b", "result": 3},
                {"name": "2a", "result": 5}, {"name": "2b", "result": -1, "error": "boom"}]
        expected = {"1a": 7, "1b": 4, "2a": 5, "2b": 0}
        self.assertEqual([r["name"] for r in stats.failures(runs, expected)], ["1b", "2b"])
        self.assertEqual(stats.failed_frac(runs, expected), 0.5)

    def test_missing_expectation_is_a_failure(self):
        self.assertEqual(stats.failed_frac([{"name": "q", "result": 1}], {}), 1.0)

    def test_throughput_counts_only_correct_results(self):
        timed = {"wall_ms": 2000.0, "cpu_ms": 800.0, "heap_peak_mb": 100.0, "setup_s": 3.0,
                 "queries": [{"name": "a", "result": 1, "start_ms": 0, "end_ms": 10},
                             {"name": "b", "result": 2, "start_ms": 0, "end_ms": 20}]}
        m = stats.end_to_end(timed, {"a": 1, "b": 3})
        self.assertEqual(m["throughput_qps"], 0.5)


class OracleReport(unittest.TestCase):
    def test_fail_lines_are_read(self):
        report = ("PASS 2: q_a q_b [rows-only]\n"
                  "FAIL 2:\n"
                  "  q_c: VALUES col=x row0: spark=1 duck=2\n"
                  "  q_d [rows-only]: rows=0\n")
        self.assertEqual(checks.oracle_failures(report),
                         {"q_c": "VALUES col=x row0: spark=1 duck=2", "q_d": "rows=0"})

    def test_all_pass(self):
        self.assertEqual(checks.oracle_failures("PASS 1: q_a\nFAIL 0:\n"), {})


class Contract(unittest.TestCase):
    """The metric names and units run.py prints are the ones BENCHMARK.json
    declares."""

    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        with open(os.path.join(HERE, "design.json")) as f:
            self.entries = [e["name"] for e in
                            json.load(f)["workloads"]["analytics_sf01"]["entries"]]

    def _pass(self, traced):
        return {"wall_ms": 1000.0, "cpu_ms": 900.0, "heap_peak_mb": 50.0, "setup_s": 4.0,
                "gc_ms": 1, "jit_ms": 2, "codegen_compile_ms": 3.0, "traced": traced,
                "counters": {"filtered_builds": 1, "filtered_hits": 1, "filtered_disk_hits": 0,
                             "template_hits": 2, "template_misses": 0},
                "spark": {"jobs": 1, "tasks": 2, "task_run_ms": 3, "task_wait_ms": 1,
                          "shuffle_bytes": 0, "spill_bytes": 0, "result_bytes": 10},
                "queries": [{"name": "1a", "result": 1, "start_ms": 0.0, "end_ms": 5.0,
                             "sketch_ms": 1, "enumerate_ms": 1, "sketch_rows": 10,
                             "instances": 3}],
                "spans": [[0, "query", 0.0, 5.0, -1], [0, "planner.optimize", 1.0, 4.0, 0]]}

    def test_names_and_units(self):
        e2e = stats.end_to_end(self._pass(False), {"1a": 1})
        layer = stats.per_layer({"config": {"clients": 4}}, [self._pass(False)] * 2,
                                self._pass(True), self.entries)
        for printed, declared in ((e2e, self.bench["end_to_end"]),
                                  (layer, self.bench["per_layer"])):
            self.assertEqual(sorted(printed), sorted(m["name"] for m in declared))
            for m in declared:
                self.assertEqual(unit_of(m["name"]), m["unit"], m["name"])


if __name__ == "__main__":
    unittest.main()
