"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def op(i, wall, ok=True, traced=False, problems=(), **kw):
    rec = {"i": i, "wall_s": wall, "ok": ok, "traced": traced, "problems": list(problems),
           "task_cpu_s": 2.0 * wall, "cache_peak_mb": 1.5, "cache_left_mb": 0.5,
           "jobs": 3, "stages": 4, "tasks": 12, "task_run_s": 4.0, "gc_s": 0.1,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
           "wscg_fallbacks": 2, "layers": {"rules.load_s": 0.25}}
    rec.update(kw)
    return rec


def result(ops, warm_wall=7.0, probe=None):
    r = {"setup_s": 11.0, "warmup": op(0, warm_wall), "ops": ops}
    if probe is not None:
        r["cold_probe"] = probe
    return r


class Quartiles(unittest.TestCase):
    def test_median_and_quartiles_follow_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, q2, q3 = harness.quartiles(xs)
        self.assertEqual((q1, q2, q3), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(q2, 5.5)
        self.assertEqual(harness.median(xs), 5.5)

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(harness.quartiles([3.25]), (3.25, 3.25, 3.25))


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_task_time_over_cores(self):
        self.assertAlmostEqual(harness.driver_gap_s(10.0, 24.0, cores=4), 4.0)
        self.assertAlmostEqual(harness.driver_gap_s(10.0, 24.0), 10.0 - 24.0 / harness.CORES)

    def test_traced_layer_uses_each_ops_own_gap(self):
        r = result([op(1, 5.0), op(2, 6.0, traced=True, task_run_s=8.0)])
        self.assertAlmostEqual(harness.per_layer(r)["exec.driver_gap_s"]["value"], 6.0 - 8.0 / harness.CORES)


class Failures(unittest.TestCase):
    def test_warmup_and_timed_ops_are_attempted_failed_ones_counted(self):
        r = result([op(1, 5.0), op(2, 5.0, ok=False, problems=["op failed: boom"]), op(3, 5.1)])
        self.assertEqual(harness.failure_counts(r), (4, 1))

    def test_cold_probe_is_not_an_op(self):
        r = result([op(1, 5.0)], probe={"ok": False, "s": 1.9, "error": "java.lang.StackOverflowError"})
        self.assertEqual(harness.failure_counts(r), (2, 0))
        self.assertEqual(harness.per_layer(
            result([op(1, 5.0), op(2, 5.0, traced=True)], probe=r["cold_probe"])
        )["rules.cold_probe_ok"]["value"], 0)

    def test_failed_ops_stay_out_of_the_timings(self):
        r = result([op(1, 5.0), op(2, 50.0, ok=False), op(3, 7.0)])
        self.assertEqual(harness.end_to_end(r)["wall_s"]["value"], 6.0)

    def test_a_run_whose_only_op_failed_still_gets_a_line(self):
        for trace in (0, 1):
            line, _ = harness.result_line(result([op(1, 12.0, ok=False, problems=["op failed: boom"])]), trace)
            self.assertEqual(line, {"correct": False, "attempted": 2, "failed": 1, "metrics": {}})

    def test_a_mismatch_makes_the_run_incorrect(self):
        line, _ = harness.result_line(result([op(1, 5.0, problems=["shards: got 31, expected 32"])]), 0)
        self.assertFalse(line["correct"])
        line, _ = harness.result_line(result([op(1, 5.0)]), 0)
        self.assertTrue(line["correct"])


class Names(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK_JSON) as fh:
            self.bench = json.load(fh)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(harness.WORKLOADS))

    def test_metric_names_and_units_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]], harness.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], harness.PER_LAYER)

    def test_emitted_lines_carry_exactly_the_declared_metrics(self):
        r = result([op(1, 5.0), op(2, 5.5, traced=True), op(3, 5.2)],
                   probe={"ok": False, "s": 1.9, "error": "x"})
        for trace, declared in ((0, "end_to_end"), (1, "per_layer")):
            line, _ = harness.result_line(r, trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(sorted(line["metrics"]), sorted(m["name"] for m in self.bench[declared]))
            for m in self.bench[declared]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
                self.assertIsInstance(line["metrics"][m["name"]]["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
