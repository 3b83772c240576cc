"""Tests for the benchmark's own helpers and its BENCHMARK.json.

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import analysis  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        v = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(analysis.percentile(v, 0), 1.0)
        self.assertEqual(analysis.percentile(v, 100), 4.0)
        self.assertAlmostEqual(analysis.percentile(v, 50), 2.5)
        self.assertAlmostEqual(analysis.percentile(v, 90), 3.7)

    def test_single_and_empty(self):
        self.assertEqual(analysis.percentile([7.0], 90), 7.0)
        self.assertIsNone(analysis.percentile([], 50))
        self.assertEqual(analysis.median([3, 1, 2]), 2)

    def test_tail_support_needs_ten_samples_beyond(self):
        self.assertTrue(analysis.tail_supported(100, 90))
        self.assertFalse(analysis.tail_supported(99, 90))
        self.assertTrue(analysis.tail_supported(20, 50))

    def test_spread_matches_statistics_quantiles(self):
        v = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(analysis.spread(v), (q3 - q1) / q2)
        self.assertEqual(analysis.spread([5.0]), 0.0)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, "manifest.ResumableEncodeJob.run", 0, 1000),
                 span(1, 0, "spark.job", 100, 300),
                 span(2, 0, "spark.job", 200, 500)]  # overlaps job 1
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["manifest"], 0.6)  # 1000 - union(100..500)
        self.assertAlmostEqual(st["spark"], 0.5)

    def test_nesting_and_clipping(self):
        spans = [span(0, -1, "replay.kernel", 0, 100),
                 span(1, 0, "engine.BlockEncoder.encodeBlock", 10, 60),
                 span(2, 1, "analyze.Analyzer.stats", 10, 30),
                 span(3, 1, "codecs.rle.encode", 50, 80)]  # ends past its parent
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["replay"], 0.05)
        self.assertAlmostEqual(st["engine"], 0.02)
        self.assertAlmostEqual(st["analyze"], 0.02)
        self.assertAlmostEqual(st["codecs"], 0.03)

    def test_layers_add_up_to_the_root(self):
        spans = [span(0, -1, "streaming.StreamingEncode.compact", 0, 50),
                 span(1, 0, "spark.job", 5, 45)]
        self.assertAlmostEqual(sum(analysis.self_times(spans).values()), 0.05)


class CallSiteTest(unittest.TestCase):
    def test_short_form_naming_an_engine_file(self):
        self.assertEqual(analysis.call_site("parquet at manifest.scala:335", "", "x"),
                         ("parquet", "manifest"))
        self.assertEqual(analysis.call_site("collect at streaming.scala:63", "", "x"),
                         ("collect", "streaming"))

    def test_harness_call_site_uses_first_engine_frame(self):
        details = "\n".join([
            "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
            "graft.perfbench.Workloads$.run(Workloads.scala:12)",
            "graft.MinhashIndex$.commit(dedupindex.scala:150)",
            "graft.perfbench.PerfBench$.main(PerfBench.scala:55)"])
        self.assertEqual(analysis.call_site("collect at Workloads.scala:12", details, "query"),
                         ("collect", "dedupindex"))

    def test_harness_only_falls_back_to_the_span_layer(self):
        details = "graft.perfbench.BulkRoundtrip.roundTrip(Workloads.scala:115)"
        self.assertEqual(analysis.call_site("count at Workloads.scala:115", details, "engine"),
                         ("count", "engine"))

    def test_pool_thread_stage_without_engine_frames(self):
        name = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        self.assertEqual(analysis.call_site(name, "java.base/java.lang.Thread.run", "reader")[1],
                         "reader")


def record(workload, ops, **extra):
    rec = {"workload": workload, "session_s": 4.0, "session_cpu_s": 5.0,
           "setup_reps_s": [9.0, 2.0, 1.0], "setup_reps_cpu_s": [8.0, 3.0, 2.5],
           "warmup_s": 3.0, "warmup_cpu_s": 6.0, "peak_rss_mb": 1500.0, "attempted": len(ops), "failed": 0,
           "ops": [dict(o, op=i) for i, o in enumerate(ops)]}
    rec.update(extra)
    return rec


class RecordTest(unittest.TestCase):
    def test_bulk_round_trip_metrics(self):
        ops = [{"kind": "encode", "s": 9.0, "warmup": True, "tokens": 1, "stored_bytes": 1,
                "raw_bytes": 1}]
        for e, d in [(2.0, 0.5), (2.4, 0.4), (2.2, 0.6)]:
            ops += [{"kind": "encode", "s": e, "cpu_s": 3 * e, "warmup": False,
                     "tokens": 11_000_000, "stored_bytes": 200, "raw_bytes": 1000},
                    {"kind": "decode", "s": d, "cpu_s": 3 * d, "warmup": False}]
        rec = record("bulk_roundtrip", ops)
        e2e = analysis.end_to_end(rec)
        self.assertAlmostEqual(e2e["setup_s"], 5.0 + 3.0 + 6.0)  # CPU seconds
        self.assertAlmostEqual(e2e["unit_cpu_s"], 3 * (2.2 + 0.5))
        self.assertAlmostEqual(e2e["stored_bytes_per_raw_byte"], 0.2)
        h = analysis.headline(rec)
        self.assertAlmostEqual(h["unit_s"], 2.2 + 0.5)
        self.assertAlmostEqual(h["op_ms.p50"], 2800.0)  # trips 2.5, 2.8, 2.8
        self.assertAlmostEqual(h["encode_mtok_s"], 5.0)
        self.assertEqual(h["failed_op_share"], 0.0)

    def test_serve_unit_weights_kinds_by_the_cycle(self):
        ops = [{"kind": "lookup", "s": 0.2}, {"kind": "lookup", "s": 0.3},
               {"kind": "range", "s": 0.5}, {"kind": "append", "s": 1.0},
               {"kind": "compact", "s": 2.0}, {"kind": "lookup", "s": 9.0, "error": True}]
        cycle = ["lookup", "range", "lookup", "append", "lookup", "range", "lookup",
                 "append", "lookup", "lookup", "compact"]
        rec = record("serve_mix", ops, sizes={"cycle": cycle})
        self.assertAlmostEqual(analysis.unit_s(rec), 6 * 0.25 + 2 * 0.5 + 2 * 1.0 + 2.0)

    def test_probe_queries_stay_out_of_the_end_to_end_metrics(self):
        ops = [{"kind": "lookup", "s": 0.2}, {"kind": "compact", "s": 1.0},
               {"kind": "query_cold", "name": "a", "s": 5.0, "probe": True},
               {"kind": "query", "name": "a", "s": 1.0, "probe": True},
               {"kind": "query", "name": "a", "s": 3.0, "probe": True},
               {"kind": "query", "name": "b", "s": 0.5, "probe": True}]
        rec = record("serve_mix", ops, sizes={"cycle": ["lookup", "compact"]})
        self.assertAlmostEqual(analysis.unit_s(rec), 1.2)
        self.assertAlmostEqual(analysis.op_ms_p50(rec), 600.0)
        self.assertEqual(analysis.query_medians(rec), {"a": 2.0, "b": 0.5})
        self.assertAlmostEqual(analysis.headline(rec)["query_s.sum"], 2.5)


class BenchmarkJsonTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_keys_and_limits(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]] + \
            [m["name"] for m in s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_per_layer_list_matches_the_analysis(self):
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], analysis.per_layer_names())

    def test_end_to_end_list_matches_the_analysis(self):
        rec = record("bulk_roundtrip", [{"kind": "encode", "s": 1.0, "cpu_s": 3.0,
                                         "stored_bytes": 1, "raw_bytes": 5},
                                        {"kind": "decode", "s": 0.1, "cpu_s": 0.3}])
        self.assertEqual({m["name"] for m in self.spec["end_to_end"]},
                         set(analysis.end_to_end(rec)))


if __name__ == "__main__":
    unittest.main()
