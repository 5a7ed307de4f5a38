"""Tests of the benchmark's own rules. They need neither Spark nor a build:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import json
import os
import unittest

import datagen
import digest
import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(metrics.percentile(xs, 50), 5)
        self.assertEqual(metrics.percentile(xs, 75), 8)
        self.assertEqual(metrics.percentile(xs, 100), 10)
        self.assertEqual(metrics.percentile(xs, 0), 1)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_p75_of_45_leaves_ten_samples_above(self):
        xs = list(range(45))
        p75 = metrics.percentile(xs, 75)
        self.assertGreaterEqual(sum(1 for x in xs if x > p75), 10)

    def test_p99_of_a_pass_is_its_slowest_query(self):
        self.assertEqual(metrics.percentile(list(range(51)), 99), 50)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class GeneratorDeterminism(unittest.TestCase):
    def test_stream_plan_repeats_per_seed(self):
        a = datagen.stream_plan(7, 2000, 10, 2, 1, 2, 4000, 200)
        b = datagen.stream_plan(7, 2000, 10, 2, 1, 2, 4000, 200)
        c = datagen.stream_plan(8, 2000, 10, 2, 1, 2, 4000, 200)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_stream_plan_shape(self):
        files = datagen.stream_plan(1, 2000, 10, 2, 1, 2, 4000, 200)
        keys = [e["key"] for _, _, evs in files for e in evs]
        self.assertEqual(keys, list(range(1, len(keys) + 1)))
        dues = [due for _, due, _ in files]
        self.assertEqual(dues, sorted(dues))
        for _, due, evs in files:
            self.assertTrue(all(e["ts"] == datagen.STREAM_EPOCH_US + int(due * 1_000_000)
                                for e in evs))

    def test_tables_repeat_per_seed(self):
        a = datagen.make_tables(0.001, 42)
        b = datagen.make_tables(0.001, 42)
        self.assertEqual(sorted(a), sorted(datagen.TABLES))
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["orders"].equals(datagen.make_tables(0.001, 43)["orders"]))


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [(1, "a", 2.5), (2, "b", None), (3, "c", -0.0)]
        self.assertEqual(digest.digest(["k", "s", "v"], rows),
                         digest.digest(["k", "s", "v"], rows[::-1]))

    def test_columns_in_name_order(self):
        self.assertEqual(digest.digest(["b", "a"], [(1, 2)]), digest.digest(["a", "b"], [(2, 1)]))

    def test_canonical_values(self):
        self.assertEqual(digest.canon(0.0), digest.canon(-0.0))
        self.assertEqual(digest.canon(dt.date(1970, 1, 2)), digest.canon(dt.datetime(1970, 1, 2)))
        self.assertEqual(digest.canon("é"), "s2:é")
        self.assertNotEqual(digest.canon(1), digest.canon(1.0))


class Spans(unittest.TestCase):
    def test_children_account_for_the_op(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 30},
            {"id": 2, "parent": 0, "start_ns": 30, "end_ns": 90},
        ]
        self.assertEqual(metrics.self_times(spans), {0: 10e-6, 1: 30e-6, 2: 60e-6})


class MetricNames(unittest.TestCase):
    bench = run.benchmark_json()

    def _e2e(self):
        return {m["name"]: 1.0 for m in self.bench["end_to_end"]}

    def test_command_and_paths(self):
        self.assertEqual(self.bench["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(self.bench["paths"], ["perfbench"])

    def test_workloads_are_the_runnable_ones(self):
        names = {w["name"] for w in self.bench["workloads"]}
        self.assertTrue(names <= set(run.MIXES) | {"stream_topology"})

    def test_untraced_run_reports_every_end_to_end_metric_with_its_unit(self):
        out = run.result(self.bench, 0, self._e2e(), None, 10, 0, {"steal_s": 0.0})
        self.assertEqual(list(out["metrics"]), [m["name"] for m in self.bench["end_to_end"]])
        for m in self.bench["end_to_end"]:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_missing_end_to_end_metric_is_an_error(self):
        e2e = self._e2e()
        e2e.pop("setup_s")
        with self.assertRaises(KeyError):
            run.result(self.bench, 0, e2e, None, 10, 0, {"steal_s": 0.0})

    def test_traced_run_reports_every_per_layer_metric_with_its_unit(self):
        out = run.result(self.bench, 1, self._e2e(), {"construct_ms": 3.0}, 10, 1,
                         {"steal_s": 0.5})
        self.assertEqual(list(out["metrics"]), [m["name"] for m in self.bench["per_layer"]])
        for m in self.bench["per_layer"]:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(out["metrics"]["error_rate"]["value"], 0.1)
        self.assertFalse(out["correct"])

    def test_reductions_emit_declared_names(self):
        declared = {m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]}
        rec = {"ops": [{"query": "q", "pass": 1, "ms": 5.0, "ok": True}],
               "checks": [{"query": "q", "ok": True}], "first_op_epoch_ms": 2000.0,
               "peak_rss_mb": 100.0}
        e2e, attempted, failed = metrics.batch_end_to_end(rec, 1000.0)
        self.assertEqual(set(e2e), {m["name"] for m in self.bench["end_to_end"]})
        self.assertEqual((attempted, failed), (2, 0))
        self.assertTrue(set(metrics.batch_per_layer(rec, [], [])) <= declared)

    def test_stream_reductions_emit_declared_names(self):
        declared = {m["name"] for m in self.bench["per_layer"]}
        progress = [json.dumps({
            "id": qid, "batchId": b, "timestamp": f"2026-01-01T00:00:0{b}.000Z",
            "numInputRows": 10, "durationMs": {"triggerExecution": 900, "addBatch": 500},
            "sources": [], "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 64,
                                                "commitTimeMs": 40}]})
            for qid in ("t", "d") for b in range(3)]
        rec = {"progress": progress, "topology_id": "t", "dedup_id": "d",
               "t0_epoch_ms": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000,
               "moves_us": [0, 500_000], "schedule_due_us": [0, 400_000], "compile_ms": [3.0]}
        layers = metrics.stream_per_layer(rec, {}, {}, 0, 10)
        self.assertTrue(set(layers) <= declared, set(layers) - declared)
        self.assertEqual(layers["batches"], 3.0)
        self.assertEqual(layers["generator_lag_ms_max"], 100.0)
        self.assertEqual(metrics.window_metrics(rec, {}, {}, 0, 10)["metrics"]["query_p50_ms"], 900)

    def test_bench_json_is_valid_json_with_the_contract_keys(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])


if __name__ == "__main__":
    unittest.main()
