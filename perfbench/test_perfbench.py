"""Tests for the benchmark's own code: python3 -m unittest discover -s perfbench"""
import filecmp
import json
import os
import tempfile
import unittest

import gen
import layers
from stats import concurrency, partition, tail, union_length, valid_name

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 300, 7):
            p, v, m = tail(list(range(n)))
            self.assertEqual(m, n)
            self.assertGreaterEqual(n - 1 - v, 10, (n, p))      # ten or more above
            p2, v2, _ = tail(list(range(n)), min_beyond=10)
            self.assertEqual((p, v), (p2, v2))
            if p < 99:  # one percentile higher would leave fewer than ten
                k = -(-(p + 1) * n // 100) - 1
                self.assertLess(n - 1 - k, 10, (n, p))

    def test_known_values(self):
        self.assertEqual(tail(list(range(100))), (90, 89, 100))
        self.assertEqual(tail(list(range(1000))), (99, 989, 1000))
        self.assertEqual(tail(list(range(20))), (50, 9, 20))

    def test_too_few_samples_reports_max(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (100, 3.0, 3))
        self.assertEqual(tail([]), (100, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_partition_sums_to_window(self):
        parts = partition((0, 10), [("exec", [(1, 3), (2, 4)]), ("planning", [(3, 6)])])
        self.assertAlmostEqual(parts["exec"], 3)        # [1, 4) counted once
        self.assertAlmostEqual(parts["planning"], 2)    # [4, 6): [3, 4) went to exec
        self.assertAlmostEqual(parts["self"], 5)
        self.assertAlmostEqual(sum(parts.values()), 10)

    def test_partition_clips_to_window(self):
        parts = partition((5, 8), [("exec", [(0, 6), (7, 20)])])
        self.assertEqual(parts, {"exec": 2, "self": 1})

    def test_union_and_concurrency(self):
        self.assertAlmostEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(concurrency([(0, 2), (1, 3), (1.5, 4)]), (2, 3))
        self.assertEqual(concurrency([(0, 1), (1, 2)]), (0, 1))

    def test_per_layer_accounts_for_the_pass(self):
        res = fake_result()
        metrics, doc = layers.per_layer(res, {"tokens": 100}, 4, 10, 1)
        m = {k: v for k, (v, _) in metrics.items()}
        self.assertAlmostEqual(m["trace.coverage"], 1.25)   # 1.0 s traced / 0.8 s untraced
        self.assertAlmostEqual(m["trace.wall_s"], 1.0)
        self.assertAlmostEqual(m["exec.self_s"], 0.45)      # [100, 350) and [750, 950)
        self.assertAlmostEqual(m["planning.self_s"], 0.1)
        self.assertAlmostEqual(m["operators.build_self_s"], 0.35)
        self.assertAlmostEqual(m["sink.self_s"], 0.05)
        self.assertAlmostEqual(m["operators.session_s"], 0.05)
        self.assertAlmostEqual(m["overlap.concurrent_job_s"], 0.1)
        self.assertEqual(m["overlap.max_concurrent_jobs"], 2)
        self.assertAlmostEqual(m["trace.overhead"], 1.25)
        self.assertAlmostEqual(sum(doc["layer_self_s"].values()), 1.0)
        declared = {x["name"] for x in benchmark()["per_layer"]}
        self.assertEqual(declared, set(m))
        self.assertEqual(m["functions.word_shingles.ns_per_row"], 100.0)
        self.assertEqual(m["functions.dot_product.ns_per_row"], 0.0)  # not in the plans


class Names(unittest.TestCase):
    def test_valid_name(self):
        self.assertTrue(valid_name("functions.word_shingles.ns_per_row"))
        self.assertTrue(valid_name("setup_s"))
        for bad in ("", "_x", "a b", "a/b", "x" * 65, "ünï"):
            self.assertFalse(valid_name(bad), bad)

    def test_declared_names(self):
        b = benchmark()
        names = [w["name"] for w in b["workloads"]]
        names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(valid_name(n), n)

    def test_declared_units_are_printed_units(self):
        for m in benchmark()["per_layer"]:
            self.assertEqual(m["unit"], layers.unit_of(m["name"]), m["name"])


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for workload in gen.SIZES:
                a, b, c = (os.path.join(tmp, f"{workload}-{x}") for x in "abc")
                gen.generate(workload, 7, a)
                gen.generate(workload, 7, b)
                gen.generate(workload, 8, c)
                files = sorted(os.path.relpath(os.path.join(d, f), a)
                               for d, _, fs in os.walk(a) for f in fs)
                self.assertIn("inputs.json", files)
                _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)
                data = [f for f in files if f != "inputs.json"]
                match, _, _ = filecmp.cmpfiles(a, c, data, shallow=False)
                self.assertEqual(match, [], workload)


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result():
    """One traced pass of one job: session [0, 50), build [50, 700),
    sink [700, 1000) in ms, with two overlapping Spark jobs in the build,
    one in the sink and planning phases in both."""
    job = {"row": "r", "start_ms": 0.0, "build_start_ms": 50.0, "build_end_ms": 700.0,
           "end_ms": 1000.0, "error": None, "warm_build_s": 0.1,
           "final_phases": {"optimization": {"start_ms": 700.0, "end_ms": 750.0}}}
    pas = {"start_ms": 0.0, "end_ms": 1000.0, "wall_s": 1.0, "cpu_s": 1.0,
           "write_bytes": 0, "jobs": [job]}
    stage = {"id": 0, "attempt": 0, "submit_ms": 100, "end_ms": 300, "num_tasks": 1,
             "tasks": 1, "run_ms": 150, "cpu_ns": 1e8, "gc_ms": 0, "wait_ms": 1,
             "sw_bytes": 10, "sw_records": 5, "sw_time_ns": 1e6, "sr_bytes": 10,
             "sr_records": 5, "fetch_wait_ms": 0, "spill_disk": 0, "spill_mem": 0,
             "in_bytes": 100, "in_records": 10, "failed_tasks": 0}
    return {
        "setup": {"session_s": 1.0, "register_s": 0.1, "warmup_s": 2.0, "ready_ms": 0},
        "passes": [{**pas, "wall_s": 0.8}],
        "traced_passes": [pas],
        "rebuild_pass": {"jobs": [job]},
        "trace": {
            "spark_jobs": [{"id": 0, "start_ms": 100, "end_ms": 300, "stages": [0], "ok": True},
                           {"id": 1, "start_ms": 200, "end_ms": 350, "stages": [], "ok": True},
                           {"id": 2, "start_ms": 750, "end_ms": 950, "stages": [], "ok": True}],
            "stages": [stage],
            "queries": [{"row": "r", "func": "f", "ok": True, "phases": {
                "analysis": {"start_ms": 400, "end_ms": 450}}}],
            "progress": [],
            "graft_exprs": {},
        },
        "sources": {"documents": {"load_s": 0.1, "scan_s": 0.2}},
        "functions": {"word_shingles": 100.0},
    }


if __name__ == "__main__":
    unittest.main()
