"""Unit tests of the benchmark's statistics, span self time and result line.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


def span(id_, parent, layer, start, end, name="x", pass_=0):
    return {"id": id_, "parent": parent, "layer": layer, "name": name,
            "pass": pass_, "start": start, "end": end}


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(metrics.percentile(xs, 95), 95.05)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 100)

    def test_single_value_and_empty(self):
        self.assertEqual(metrics.percentile([7.5], 99), 7.5)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 30]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(xs),
                               (q3 - q1) / statistics.median(xs))
        self.assertEqual(metrics.quartile_spread([5.0] * 10), 0.0)

    def test_interquartile_mean_drops_each_outer_quarter(self):
        self.assertEqual(metrics.interquartile_mean([1, 2, 3, 100]), 2.5)
        self.assertEqual(metrics.interquartile_mean([5.0, 7.0]), 6.0)
        self.assertEqual(metrics.interquartile_mean(list(range(1, 9)) + [1000]), 5.0)
        with self.assertRaises(ValueError):
            metrics.interquartile_mean([])

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [span(1, 0, "query", 0, 10_000_000_000),
                 span(2, 1, "driver", 1_000_000_000, 3_000_000_000),
                 span(3, 1, "driver", 5_000_000_000, 9_000_000_000)]
        st = metrics.self_time(spans)
        self.assertAlmostEqual(st["query"], 4.0)
        self.assertAlmostEqual(st["driver"], 6.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "batch", 0, 10),
                 span(2, 1, "stream", 2, 6),
                 span(3, 1, "stream", 4, 8)]
        self.assertAlmostEqual(metrics.self_time(spans)["batch"] * 1e9, 4)

    def test_child_clipped_to_parent(self):
        spans = [span(1, 0, "stream", 0, 10), span(2, 1, "codec", 5, 20)]
        st = metrics.self_time(spans)
        self.assertAlmostEqual(st["stream"] * 1e9, 5)
        self.assertAlmostEqual(st["codec"] * 1e9, 15)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, "a", 0, 100), span(2, 1, "b", 0, 50),
                 span(3, 2, "c", 0, 50)]
        st = metrics.self_time(spans)
        self.assertAlmostEqual(st["a"] * 1e9, 50)
        self.assertAlmostEqual(st["b"] * 1e9, 0)
        self.assertAlmostEqual(st["c"] * 1e9, 50)


def bulk_raw(trace=False):
    ops = []
    t = 0
    for p in range(4):
        for kind, ms in [("tsv_echo", 1100), ("tsv_agg", 450),
                         ("arrow_echo", 430), ("rdf_echo", 600)]:
            traced = trace and p >= 2
            ops.append({"kind": kind, "pass": p, "traced": traced, "start": t,
                        "end": t + ms * 1_000_000 + p, "rows": 600000, "ok": True,
                        "error": None,
                        "result": {"forks": 4 if p == 2 else 0, "task_s": ms / 250.0,
                                   "tasks": 5, "threads_started": 9}})
            t += ms * 1_000_000 + 1
    return {"workload": "pipe_bulk", "ops": ops, "setup_s": [9.1, 5.2, 5.0],
            "rss_peak_mb": 3071.25,
            "counters": {"codec.tsv.encode_ns_per_row": 300.0,
                         "codec.tsv.decode_ns_per_row": 100.0,
                         "codec.arrow.encode_ns_per_row": 90.0,
                         "codec.arrow.decode_ns_per_row": 5.0,
                         "codec.rdf.encode_ns_per_row": 150.0,
                         "codec.rdf.decode_ns_per_row": 120.0},
            "extra": {"partition_rows": [150000] * 4,
                      "exchanges": {"tsv_echo": 126, "tsv_agg": 126,
                                    "arrow_echo": 80, "rdf_echo": 80},
                      "turnaround_us": [40.0] * 990 + [400.0] * 10,
                      "leak": {"children": 0, "watchdogs": 0}}}


def micro_raw(traced_from=None):
    rate, t0 = 5000, 1_000_000_000
    batches, progress = [], []
    for k in range(40):  # 200-row batches, each ending 150 ms after its last row
        lo, hi = 200 * k, 200 * k + 199
        end = t0 + int((hi * 1000.0 / rate + 150.0) * 1e6)
        traced = traced_from is not None and k >= traced_from
        batches.append({"id": k, "end": end, "n": 200,
                        "id_lo": lo, "id_hi": hi, "id_sum": (lo + hi) * 100,
                        "forks": 4, "traced": traced})
        progress.append({"batch": k, "rows": 200, "triggerExecution": 120 + k % 3,
                         "addBatch": 80, "queryPlanning": 5, "getBatch": 0,
                         "walCommit": 20})
    return {"workload": "pipe_microbatch", "ops": [], "setup_s": [3.0, 0.4, 0.5],
            "rss_peak_mb": 1200.5, "counters": {"child.spawn_ms.mawk": 3.0},
            "extra": {"t0": t0, "rate": rate, "warmup_s": 0.4, "partitions": 4,
                      "generated": 8000,
                      "sunk": 8000, "distinct": 8000, "duplicated": 0, "missing": 0,
                      "out_of_range": 0, "late_ms_max": 2.5, "backlog_rows_max": 900,
                      "batches": batches, "progress": progress,
                      "turnaround_us": [30.0] * 1000,
                      "leak": {"children": 0, "watchdogs": 0}}}


class EndToEndTest(unittest.TestCase):
    def test_bulk_metrics(self):
        m = metrics.end_to_end(bulk_raw())
        self.assertEqual(list(m), list(metrics.END_TO_END))
        self.assertAlmostEqual(m["setup_s"], 5.2)
        self.assertAlmostEqual(m["op_total_s"], 2.58, places=5)
        self.assertAlmostEqual(m["op_geomean_ms"],
                               metrics.geomean([1100, 450, 430, 600]), places=3)

    def test_microbatch_latency_is_due_to_sink_per_row(self):
        m = metrics.end_to_end(micro_raw())
        # a 200-row batch spans 40 ms of due times and ends 150 ms after
        # its last row: row latencies are uniform on [150, 190] ms
        self.assertAlmostEqual(m["latency_p50_ms"], 170.0, delta=0.2)
        self.assertAlmostEqual(m["latency_p95_ms"], 188.0, delta=0.3)
        self.assertAlmostEqual(m["op_total_s"], 0.121, places=3)

    def test_warmup_rows_are_not_samples(self):
        lats, batches = metrics.microbatch_samples(micro_raw())
        self.assertEqual(len(lats), 8000 - 2000)
        self.assertEqual(batches[0]["id"], 10)


class PerLayerTest(unittest.TestCase):
    def test_every_metric_reported_for_every_workload(self):
        spans = [span(1, 0, "stream", 0, 5, name="stream.tsv", pass_=2)]
        for raw in (bulk_raw(trace=True), micro_raw(traced_from=20)):
            m = metrics.per_layer(raw, spans)
            self.assertEqual(set(m), set(metrics.PER_LAYER))
            self.assertTrue(all(isinstance(v, float) for v in m.values()))

    def test_bulk_counts(self):
        m = metrics.per_layer(bulk_raw(trace=True), [])
        self.assertEqual(m["child.forks"], 16.0)
        self.assertEqual(m["child.reuses"], 4 * 8 - 16.0)
        self.assertEqual(m["stream.exchanges"], 412.0)
        self.assertAlmostEqual(m["child.turnaround_us_p99"], 40.0 + 360.0 * 0.01, places=6)
        self.assertGreater(m["stream.tsv.rows_per_s"], 0)

    def test_overhead_compares_traced_with_untraced(self):
        raw = bulk_raw(trace=True)
        for o in raw["ops"]:
            if o["traced"]:
                o["end"] += (o["end"] - o["start"]) // 10
        m = metrics.per_layer(raw, [])
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1, places=3)


class ResultLineTest(unittest.TestCase):
    def test_end_to_end_line_is_compact_and_complete(self):
        units = {k: u for k, (u, _) in metrics.END_TO_END.items()}
        values = {k: 123456.78901234567 for k in units}
        line = metrics.result_line(True, 10**9, 0, values, units)
        self.assertLess(len(line), 2000)
        self.assertNotIn("\n", line)
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(d["metrics"]), set(units))
        self.assertEqual(d["metrics"]["setup_s"], {"value": 123456.78901234567, "unit": "s"})

    def test_values_keep_all_their_digits(self):
        units = {"setup_s": "s"}
        d = json.loads(metrics.result_line(False, 3, 1, {"setup_s": 0.1234567891234}, units))
        self.assertEqual(d["metrics"]["setup_s"]["value"], 0.1234567891234)
        self.assertIs(d["correct"], False)


class RegistrationTest(unittest.TestCase):
    def test_benchmark_json_registers_what_run_py_prints(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER)
        setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
