"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests

The generator-determinism test compiles the harness on first use (about
half a minute) and runs its input generators without Spark.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def synthetic_raw(workload, trace):
    """A raw run record shaped like the JVM's, with one traced call of
    every span and a parent/child pair to exercise self time."""
    spans = []
    for i, name in enumerate(run.STANDARD_SPANS + run.SETUP_SPANS, start=1):
        spans.append({"id": i, "name": name, "parent": 0, "req": i, "start_ns": 0,
                      "end_ns": 10_000_000, "jobs": 2, "task_ms": 5, "records_in": 40,
                      "plan_ms": 1.5, "heads": 3})
    ops = [[k, 10.0 + j, j % 2 == 1, 1.0] for k in run.PRIMARY_OPS[workload] for j in range(4)]
    return {
        "workload": workload, "seed": 1, "trace": trace, "input_checksum": "x",
        "generate_s": 0.5, "setup_s": 2.5, "attempted": len(ops), "failed": 0,
        "checks": [{"name": "c", "ok": True, "detail": ""}], "ops": ops,
        "timed_wall_s": 10.0, "items": 1000, "retained_heap_mb": 100.0, "gc_ms": 5,
        "calibration_ms": [100.0, 120.0, 130.0],
        "counters": {}, "results_per_query": 10,
        "spark": {"job_walls_ms": [10, 20, 30], "task_ms_total": 4000, "wall_s": 10.0,
                  "cores": 4, "shuffle_write_bytes": 1e6, "spill_bytes": 0,
                  "storage_bytes_end": 0, "persisted_rdds_end": 0},
        "spans": spans,
    }


class MetricNames(unittest.TestCase):
    def test_printed_names_equal_benchmark_json(self):
        s = spec()
        for w in run.PRIMARY_OPS:
            for trace, table in ((False, "end_to_end"), (True, "per_layer")):
                line = run.metric_line(synthetic_raw(w, trace), s, trace)
                self.assertEqual(list(line["metrics"]), [m["name"] for m in s[table]])
                for m in s[table]:
                    self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])

    def test_harness_computes_every_declared_metric(self):
        # a declared name the reducer never computes would print as 0
        s = spec()
        w = s["workloads"][0]["name"]
        self.assertEqual(set(run.end_to_end(synthetic_raw(w, False))),
                         {m["name"] for m in s["end_to_end"]})
        self.assertEqual(set(run.per_layer(synthetic_raw(w, True))),
                         {m["name"] for m in s["per_layer"]})

    def test_workloads_have_primary_ops(self):
        self.assertLessEqual({w["name"] for w in spec()["workloads"]}, set(run.PRIMARY_OPS))


class HostDeflation(unittest.TestCase):
    def test_each_phase_is_deflated_by_the_probes_around_it(self):
        raw = synthetic_raw("curation_batch", False)
        e = run.end_to_end(raw)  # probes 1.1x around set-up, 1.25x around the window
        fs, f = 1.1 ** run.HOST_EXPONENT, 1.25 ** run.HOST_EXPONENT
        self.assertAlmostEqual(e["op_p50_ms"], 11.5 / f)
        self.assertAlmostEqual(e["items_per_s"], 100.0 * f)
        self.assertAlmostEqual(e["setup_s"], 2.5 / fs)
        self.assertEqual(e["retained_heap_mb"], 100.0)


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.tail_percentile(list(range(1, 100)), 90))   # 99: 9 beyond
        self.assertEqual(run.tail_percentile(list(range(1, 101)), 90), 90)  # 100: 10 beyond
        self.assertEqual(run.tail_percentile(list(range(110, 0, -1)), 90), 99)
        self.assertIsNone(run.tail_percentile([], 90))

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail_latency(list(range(1, 49))), (75, 36))
        self.assertEqual(run.tail_latency(list(range(1, 101))), (90, 90))
        self.assertEqual(run.tail_latency(list(range(1, 1001))), (99, 990))
        self.assertEqual(run.tail_latency(list(range(1, 41))), (75, 30))
        self.assertEqual(run.tail_latency(list(range(1, 40))), (0, 0.0))
        self.assertEqual(run.tail_latency(list(range(1, 20))), (0, 0.0))

    def test_median_p50_of_small_sets(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([]), 0.0)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "name": "a", "parent": 0, "req": 1, "start_ns": 0, "end_ns": 10_000_000,
             "jobs": 1, "task_ms": 0, "records_in": 0, "plan_ms": 0.0, "heads": 0},
            {"id": 2, "name": "b", "parent": 1, "req": 1, "start_ns": 1_000_000,
             "end_ns": 5_000_000, "jobs": 0, "task_ms": 0, "records_in": 0, "plan_ms": 0.0,
             "heads": 0},
        ]
        st = run.span_stats(spans)
        self.assertAlmostEqual(st["a"][0][0], 6.0)
        self.assertAlmostEqual(st["b"][0][0], 4.0)

    def test_trace_overhead_is_traced_over_untraced(self):
        raw = {"ops": [["x", 10.0, False, 1.0], ["x", 12.0, True, 1.0], ["y", 5.0, False, 1.0],
                       ["y", 10.0, True, 2.0]]}
        self.assertAlmostEqual(run.trace_overhead(raw), (1.2 * 1.0) ** 0.5)


@unittest.skipUnless(os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")),
                     "needs a graft checkout")
class Generators(unittest.TestCase):
    def checksum(self, workload, seed):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--inputs",
                              workload, "--seed", str(seed)],
                             cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return out.stdout.strip().splitlines()[-1]

    def test_same_seed_same_inputs(self):
        for w in run.PRIMARY_OPS:
            a = self.checksum(w, 11)
            self.assertEqual(a, self.checksum(w, 11), w)
            self.assertNotEqual(a, self.checksum(w, 12), w)


if __name__ == "__main__":
    unittest.main()
