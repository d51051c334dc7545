"""Smoke self-test of the benchmark at tiny input sizes.

    python3 perfbench/tests/test_smoke.py

Runs every workload untraced and traced with --scale smoke and checks that
each run is correct, that it emits exactly the metrics BENCHMARK.json
names with their units, that one seed yields byte-identical inputs and
another seed different ones, and that bad arguments and a checkout
without sources are refused. Takes a few minutes.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def smoke(workload, seed, trace):
    p = run("--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["record"], lines


class Smoke(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            for trace in (0, 1):
                cls.runs[(w, trace)] = smoke(w, SEED, trace)

    def check_metrics(self, result, spec):
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in spec}
        got = result["metrics"]
        self.assertEqual(set(got), set(want))
        for name, m in got.items():
            self.assertEqual(set(m), {"value", "unit"}, name)
            self.assertEqual(m["unit"], want[name], name)
            self.assertTrue(math.isfinite(m["value"]), name)

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            result, record, _ = self.runs[(w, 0)]
            with self.subTest(workload=w):
                self.check_metrics(result, SPEC["end_to_end"])
                for name, m in result["metrics"].items():
                    self.assertGreater(m["value"], 0, name)
                self.assertEqual(record["failed_ratio"], 0.0)

    def test_per_layer_metrics_and_overhead(self):
        for w in WORKLOADS:
            result, _, lines = self.runs[(w, 1)]
            with self.subTest(workload=w):
                self.check_metrics(result, SPEC["per_layer"])
                overhead = json.loads(lines[-3])["tracing_overhead"]
                self.assertEqual(set(overhead), {m["name"] for m in SPEC["end_to_end"]})

    def test_layers_do_their_workloads_work(self):
        layer = {w: self.runs[(w, 1)][0]["metrics"] for w in WORKLOADS}
        self.assertGreater(layer["olap_point"]["pinot.fixedbit_ns_per_value.b17"]["value"], 0)
        self.assertGreater(layer["olap_point"]["sources.pinot.rows_out"]["value"], 0)
        self.assertGreater(layer["llm_dedup"]["streaming.triggers"]["value"], 0)
        self.assertGreater(layer["llm_dedup"]["queries.neardup.join_rows_out"]["value"], 0)
        self.assertEqual(layer["llm_dedup"]["sources.pinot.rows_out"]["value"], 0)

    def test_record(self):
        for w in WORKLOADS:
            record = self.runs[(w, 0)][1]
            with self.subTest(workload=w):
                self.assertEqual(record["seed"], SEED)
                self.assertEqual(record["nproc"], os.cpu_count())
                for k in ("threads", "max_heap_mb", "commit"):
                    self.assertTrue(record[k], k)

    def test_seed_gives_identical_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.runs[(w, 0)][1]["input_sha256"],
                                 self.runs[(w, 1)][1]["input_sha256"])
        other = smoke("olap_point", SEED + 1, 0)[1]
        self.assertNotEqual(other["input_sha256"], self.runs[("olap_point", 0)][1]["input_sha256"])

    def test_bad_threads_refused(self):
        for bad in ("0", "x", "2.5", str((os.cpu_count() or 1) + 1)):
            with self.subTest(threads=bad):
                p = run("--workload", "olap_point", "--seed", "1", "--seconds", "1",
                        "--threads", bad)
                self.assertEqual(p.returncode, 2)
                self.assertEqual(p.stdout, "")

    def test_checkout_without_sources_refused(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run("--workload", "olap_point", "--seed", "1", "--seconds", "1", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
