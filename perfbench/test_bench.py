"""Self-tests of the benchmark's own arithmetic and metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import re
import unittest

import metrics
import run

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def span(id_, parent, name, start_us, end_us, req=-1):
    return {"id": id_, "parent": parent, "req": req, "name": name,
            "start_us": start_us, "end_us": end_us}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertAlmostEqual(metrics.percentile(xs, 100), 100)
        self.assertAlmostEqual(metrics.percentile([7.0], 95), 7.0)
        self.assertAlmostEqual(metrics.median([3, 1, 2]), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_ten_beyond(self):
        self.assertEqual(metrics.samples_beyond(200, 95), 10)
        self.assertEqual(metrics.samples_beyond(199, 95), 9)
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertEqual(metrics.samples_beyond(40, 75), 10)
        self.assertEqual(metrics.samples_beyond(39, 75), 9)


class SelfTimeTest(unittest.TestCase):
    def test_cumulative_differences(self):
        got = metrics.cumulative_self([("parse", 1.0), ("replay", 3.0), ("agg", 2.5), ("write", 6.0)])
        self.assertEqual(got, {"parse": 1.0, "replay": 2.0, "agg": 0.0, "write": 3.5})

    def test_import_layers_add_up_to_the_untraced_cycle(self):
        s = 1000000  # one second in span microseconds
        spans = [
            span(1, 0, "import.cycle", 0, 29 * s),
            span(2, 1, "import.create", 0, 14 * s),
            span(3, 2, "cum:chess.PgnSource.parse", 0, 1 * s),
            span(4, 2, "cum:chess.ChessIngest.replay", 1 * s, 4 * s),
            span(5, 2, "cum:chess.ChessIngest.agg", 4 * s, 8 * s),
            span(6, 2, "cum:chess.store.write", 8 * s, 14 * s),
            span(7, 1, "import.append", 14 * s, 28 * s),
            span(8, 7, "cum:sources.Bcgn.decode", 14 * s, 15 * s),
            span(9, 7, "cum:chess.ChessIngest.replay", 15 * s, 18 * s),
            span(10, 7, "cum:chess.ChessIngest.agg", 18 * s, 22 * s),
            span(11, 7, "cum:chess.store.write", 22 * s, 28 * s),
            span(12, 1, "chess.StreamingImport.merge", 28 * s, 29 * s),
        ]
        got = metrics.import_layers(spans, [14000.0, 14200.0])
        self.assertAlmostEqual(got["chess.PgnSource.parse_s"], 1.0)
        self.assertAlmostEqual(got["sources.Bcgn.decode_s"], 1.0)
        self.assertAlmostEqual(got["chess.ChessIngest.replay_s"], 4.0)
        self.assertAlmostEqual(got["chess.ChessIngest.agg_s"], 2.0)
        self.assertAlmostEqual(got["chess.store.write_s"], 4.0)
        self.assertAlmostEqual(got["chess.StreamingImport.merge_s"], 1.0)
        self.assertAlmostEqual(got["chess.import.unattributed_s"], 14.1 - 13.0)
        layers = sum(v for k, v in got.items() if k != "chess.import.unattributed_s")
        self.assertAlmostEqual(layers + got["chess.import.unattributed_s"], 14.1)

    def test_probe_layers_add_up_to_the_untraced_latency(self):
        r = 1000001
        spans = [
            span(1, 0, "client.request", 0, 30000, req=5),
            span(2, 0, "client.request", 0, 50000, req=6),
            span(3, 0, "probe.request", 100000, 170000, req=r),
            span(4, 3, "chess.ChessServer.parse", 100000, 101000, req=r),
            span(5, 3, "chess.QueryEngine.probekeys", 101000, 102000, req=r),
            span(6, 3, "chess.QueryEngine.lookup", 102000, 122000, req=r),
            span(7, 3, "chess.ChessServer.execute", 122000, 147000, req=r),
            span(8, 3, "chess.QueryEngine.lookup", 147000, 167000, req=r),
        ]
        got = metrics.probe_layers(spans, [45.0, 55.0])
        self.assertAlmostEqual(got["chess.ChessServer.parse_ms"], 1.0)
        self.assertAlmostEqual(got["chess.QueryEngine.probekeys_ms"], 1.0)
        self.assertAlmostEqual(got["chess.QueryEngine.lookup_p50_ms"], 20.0)
        self.assertAlmostEqual(got["chess.ChessServer.nest_ms"], 5.0)
        self.assertAlmostEqual(got["chess.ChessServer.transport_ms"], 40.0 - 26.0)
        total = (got["chess.ChessServer.parse_ms"] + got["chess.QueryEngine.lookup_p50_ms"]
                 + got["chess.ChessServer.nest_ms"] + got["chess.ChessServer.transport_ms"]
                 + got["chess.probe.unattributed_ms"])
        self.assertAlmostEqual(total, 50.0)

    def test_overhead(self):
        self.assertAlmostEqual(metrics.overhead_pct([100.0, 100.0], [110.0]), 10.0)


class LayerFiguresTest(unittest.TestCase):
    def test_store_and_probe_ratios(self):
        store = metrics.store_layers({"store": {"files": 4, "bytes": 1800, "entries": 90},
                                      "corpus": {"games": 10, "occurrences": 100},
                                      "per_cycle": {"games_parsed": 9.0, "positions": 100.0}})
        self.assertAlmostEqual(store["chess.store.bytes_per_pos"], 18.0)
        self.assertAlmostEqual(store["chess.entries_per_position"], 0.9)
        self.assertAlmostEqual(store["chess.games_skipped"], 1.0)
        probe = metrics.probe_counts({"decomposed": {"requests": 4, "keys": 8, "rows": 20, "scans": 5,
                                                     "store_rows": 1000},
                                      "probe_spark": {"jobs": 30, "tasks": 90},
                                      "probe_traced_ms": [100.0] * 10})
        self.assertAlmostEqual(probe["chess.lookup.useful_ratio"], 20 / 5000)
        self.assertAlmostEqual(probe["spark.tasks_per_request"], 9.0)

    def test_streaming_harness_is_wall_minus_triggers(self):
        batches = [dict(getBatch=1.0, queryPlanning=2.0, addBatch=30.0, walCommit=4.0,
                        triggerExecution=t, inputRows=10.0, stateRows=5.0, stateBytes=100.0)
                   for t in (200.0, 400.0, 300.0)]
        ops = [{"module": "Streaming", "s": 2.0}, {"module": "Text", "s": 0.5}]
        got = metrics.streaming_layers(batches, ops)
        self.assertAlmostEqual(got["streaming.harness_s"], 2.0 - 0.9)
        self.assertAlmostEqual(got["streaming.trigger_p50_ms"], 300.0)
        self.assertEqual(got["streaming.input_rows"], 30.0)
        layers = metrics.operator_layers([span(1, 0, "operators.exec", 0, 250000)], ops)
        self.assertAlmostEqual(layers["operators.Text.total_s"], 0.5)
        self.assertAlmostEqual(layers["operators.exec_s"], 0.25)
        self.assertEqual(layers["operators.Sketch.total_s"], 0.0)

    def test_pass_percentile(self):
        once = metrics.pass_percentile(["a", "b"], [1.0, 10.0], 50)
        twice = metrics.pass_percentile(["a", "b", "a", "b"], [1.0, 10.0, 3.0, 12.0], 50)
        self.assertEqual(once, 11.0)
        self.assertEqual(twice, 13.0)
        self.assertEqual(metrics.pass_percentile(["a", "a", "b"], [1.0, 3.0, 10.0], 75), 12.5)


class MetricNamesTest(unittest.TestCase):
    """Every name the benchmark prints is declared in BENCHMARK.json, and
    every declared per-layer name is printed by some workload."""
    spec = run.spec()
    spark = {"jobs": 1, "stages": 1, "tasks": 1, "run_ms": 1, "cpu_ns": 1, "gc_ms": 1,
             "shuffle_write_bytes": 1, "shuffle_read_bytes": 1, "spill_bytes": 1,
             "input_bytes": 1, "wall_s": 1.0}
    raw = {"spark": spark, "store": {"files": 1, "bytes": 1, "entries": 1},
           "corpus": {"games": 1, "occurrences": 1}, "per_cycle": {"games_parsed": 1, "positions": 1},
           "decomposed": {"requests": 1, "keys": 1, "rows": 1, "scans": 1, "store_rows": 1},
           "probe_spark": spark, "probe_ms": [1.0], "probe_traced_ms": [2.0],
           "op_queries": ["q1", "q2"], "traced_ops": [{"module": "Streaming", "s": 1.0}],
           "streaming_batches": []}
    fake = {"setup_s": [1.0, 2.0, 3.0], "units": 10.0, "units_s": 2.0, "ops_ms": [1.0, 2.0],
            "traced_ops_ms": [2.0], "live_mem_mb": 100.0, "raw": raw}
    spans = [span(1, 0, "client.request", 0, 10),
             span(2, 0, "chess.ChessServer.parse", 0, 1, req=1000001),
             span(3, 0, "chess.QueryEngine.probekeys", 1, 2, req=1000001),
             span(4, 0, "chess.QueryEngine.lookup", 2, 3, req=1000001),
             span(5, 0, "chess.ChessServer.execute", 3, 4, req=1000001)]

    def names(self, kind):
        return [m["name"] for m in self.spec[kind]]

    def test_names_are_well_formed_and_unique(self):
        every = self.names("end_to_end") + self.names("per_layer") + [w["name"] for w in self.spec["workloads"]]
        for name in every:
            self.assertRegex(name, NAME_RE)
        self.assertEqual(len(every), len(set(every)))

    def test_end_to_end_names_match(self):
        for workload in run.WORKLOADS:
            self.assertEqual(set(run.end_to_end(workload, self.fake)), set(self.names("end_to_end")))
        self.assertIn("setup_s", self.names("end_to_end"))

    def test_per_layer_names_are_declared_and_printed(self):
        declared = set(self.names("per_layer"))
        host = {"loadavg_pre": 0, "loadavg_post": 0, "steal_pct": 0, "canary_ms": 0}
        printed = set()
        for workload in run.WORKLOADS:
            names = set(run.per_layer(workload, self.fake, self.spans, host))
            self.assertLessEqual(names, declared, workload)
            printed |= names
        self.assertEqual(printed, declared)

    def test_workloads_are_listed(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))

    def test_benchmark_json_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.spec["end_to_end"]))
        json.dumps(self.spec)


if __name__ == "__main__":
    unittest.main()
