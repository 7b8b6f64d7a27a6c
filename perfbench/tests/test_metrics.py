"""The benchmark's own tests: metric arithmetic and the output contract.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import metrics as m  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def op(i, lat, ok=True, traced=False, reads=()):
    return {"i": i, "ok": ok, "lat_s": lat, "traced": traced,
            "reads": list(reads), "payload": {}}


def span(sid, parent, name, op_i, start, end):
    return {"id": sid, "parent": parent, "name": name, "op": op_i,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


def raw_record(workload, trace):
    """A synthetic harness record with every field the metrics read."""
    ops = [op(i, 1.0 + 0.1 * i, traced=trace and i % 2 == 1,
              reads=[0.2, 0.3] if workload == "ingest_serve" else [])
           for i in range(4)]
    if workload == "rag_qa":
        ops[1]["payload"]["dense"] = [[0, 1, 0, 0.5]] * 40
        ops[3]["payload"]["dense"] = [[0, 1, 0, 0.5]] * 40
    spans = []
    if trace:
        spans = [span(1, 0, "setup", -1, 0, 2),
                 span(2, 1, "sources.mirror", -1, 0, 0.5),
                 span(3, 0, "op", 1, 10, 11),
                 span(4, 3, "queries.bm25", 1, 10, 10.6),
                 span(5, 4, "queries.build", 1, 10, 10.1),
                 span(6, 4, "exec.action", 1, 10.1, 10.6),
                 span(7, 0, "op", 3, 20, 21.3),
                 span(8, 7, "queries.bm25", 3, 20, 20.8),
                 span(9, 7, "operators.ivf_probe", 3, 20.8, 21.1),
                 span(10, 9, "exec.action", 3, 20.9, 21.1)]
    ex = {"5": {"jobs": 2, "run_ms": 300, "cpu_ns": 2e8, "input_bytes": 1000},
          "6": {"jobs": 1, "stages": 3, "tasks": 12, "exchanges": 4,
                "join_rows": 999},
          "8": {"jobs": 3},
          "9": {"join_rows": 200},
          "10": {"join_rows": 400}}
    return {
        "workload": workload, "trace": trace, "cores": 4, "items_per_op": 8,
        "jvm_start_ms": 1000, "session_ready_ms": 5000,
        "first_op_ms": 30000, "setup_reps_s": [9.0, 2.0, 3.0],
        "warmup_lat_s": [4.0], "window_s": 5.0,
        "ops": ops, "finish_s": 1.0, "functions_s": 1.0,
        "check": {"write_bytes": 300, "text_bytes": 100, "space_bytes": 200},
        "counters": {"per_op": [{"op": 1, "shingle_index_files": 5,
                                 "lake_files": 3, "lake_versions": 1}],
                     "maintenance": [{"compact_s": 1.0, "maintain_s": 0.5,
                                      "bytes_rewritten": 10}]},
        "functions": {"tokens_ns_per_doc": 100.0},
        "trace_record": {"spans": spans, "exec": ex if trace else {},
                         "streaming": [{"op": 1, "rows": 500,
                                        "duration_ms": {"addBatch": 900}}]},
        "rss_peak_mb": 1500.0,
    }


class TailRule(unittest.TestCase):
    def test_omitted_below_ten_beyond(self):
        self.assertIsNone(m.tail([1.0] * 99))  # p90 would leave 9.9 beyond

    def test_p90_at_100(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(m.tail(xs), (90.0, 90.0))

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 1001)]
        self.assertEqual(m.tail(xs), (99.0, 990.0))
        xs = [float(i) for i in range(1, 10001)]
        self.assertEqual(m.tail(xs), (99.9, 9990.0))

    def test_p95_needs_200(self):
        self.assertEqual(m.tail([1.0] * 199)[0], 90.0)
        self.assertEqual(m.tail([1.0] * 200)[0], 95.0)


class FailRatio(unittest.TestCase):
    def test_injected_failing_op(self):
        raw = raw_record("rag_qa", False)
        raw["ops"][1]["ok"] = False  # harness exception
        bad = {2}  # output check failed
        d = layers.detail(raw, bad, 0.0, {})
        self.assertEqual(d["fail_ratio"], 0.5)
        lat = m.op_latencies(raw["ops"], bad)
        self.assertEqual(sum(1 for x in lat if x == float("inf")), 2)
        # a failed op misses every latency limit: the median moves up,
        # and is printed as a finite number
        self.assertEqual(m.median(lat), float("inf"))
        self.assertEqual(layers.end_to_end(raw, bad, 0.0)["op_p50_s"]["value"],
                         m.MISSED_S)
        json.loads(json.dumps(layers.end_to_end(raw, bad, 0.0)), parse_constant=self.fail)
        e2e = layers.end_to_end(raw, bad, 0.0)
        self.assertAlmostEqual(e2e["items_per_s"]["value"], 8 * 2 / 5.0)

    def test_no_failures(self):
        self.assertEqual(m.fail_ratio(10, 0), 0.0)
        self.assertEqual(m.fail_ratio(0, 0), 1.0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, "a", 0, 0, 10), span(2, 1, "b", 0, 1, 3),
                 span(3, 1, "c", 0, 5, 6), span(4, 2, "d", 0, 1, 2)]
        st = m.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_overlap_counted_once_and_clipped(self):
        spans = [span(1, 0, "a", 0, 0, 10), span(2, 1, "b", 0, 2, 6),
                 span(3, 1, "c", 0, 4, 8), span(4, 1, "d", 0, 9, 12)]
        self.assertAlmostEqual(m.self_times(spans)[1], 10 - 6 - 1)


class OutputContract(unittest.TestCase):
    def check_line(self, line, names):
        parsed = json.loads(line)
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(parsed["attempted"], int)
        self.assertGreaterEqual(parsed["attempted"], 1)
        self.assertEqual(set(parsed["metrics"]), set(names))
        for k, v in parsed["metrics"].items():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], (int, float))
            self.assertEqual(v["unit"], names[k])

    def test_end_to_end_line(self):
        names = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
        for w in [x["name"] for x in SPEC["workloads"]]:
            raw = raw_record(w, False)
            line = json.dumps(m.result_line(
                True, 4, 0, layers.end_to_end(raw, set(), 0.0)))
            self.check_line(line, names)
            vals = json.loads(line)["metrics"]
            self.assertAlmostEqual(vals["setup_s"]["value"], 30.0 - 14.0 + 3.0)
            for v in vals.values():
                self.assertNotEqual(v["value"], 0)

    def test_per_layer_line(self):
        names = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
        for w in [x["name"] for x in SPEC["workloads"]]:
            raw = raw_record(w, True)
            line = json.dumps(m.result_line(
                True, 4, 0, layers.per_layer(raw, set())))
            self.check_line(line, names)
            vals = json.loads(line)["metrics"]
            # medians over the traced ops 1 and 3
            self.assertAlmostEqual(vals["queries.bm25_s"]["value"], 0.7)
            self.assertAlmostEqual(vals["exec.jobs"]["value"], 3)
            self.assertAlmostEqual(vals["queries.build_jobs"]["value"], 1)
            self.assertAlmostEqual(vals["sources.mirror_s"]["value"], 0.5)
            # op 1: 1.0 s minus its 0.6 s bm25 child; op 3: 1.3 - 0.8 - 0.3
            self.assertAlmostEqual(vals["trace.op_self_s"]["value"], 0.3)
            # join rows under the ivf_probe span only: op 1 has none
            # (its 999 rows ran in bm25), op 3 scored 600 for 40 hits
            self.assertAlmostEqual(vals["operators.ivf_scored_per_hit"]["value"],
                                   600 / 40 / 2 if w == "rag_qa" else 0.0)

    def test_trace_overhead_uses_both_neighbours(self):
        ops = [op(0, 1.0), op(1, 1.65, traced=True), op(2, 2.0),
               op(3, 2.2, traced=True), op(4, 3.0), op(5, 9.9, traced=True)]
        # op 1 against (1.0 + 2.0) / 2; op 3 against (2.0 + 3.0) / 2;
        # op 5 has no later neighbour and is left out
        self.assertAlmostEqual(m.trace_overhead(ops), (1.1 + 0.88) / 2)
        ops[4]["ok"] = False  # op 3 loses a neighbour
        self.assertAlmostEqual(m.trace_overhead(ops), 1.1)

    def test_trace_overhead_cancels_linear_growth(self):
        ops = [op(i, 10.0 + 2.0 * i, traced=i % 2 == 1) for i in range(3)]
        self.assertAlmostEqual(m.trace_overhead(ops), 1.0)


if __name__ == "__main__":
    unittest.main()
