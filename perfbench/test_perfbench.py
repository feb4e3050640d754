"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The counter-repeatability tests build the library and run traced
benchmark runs (a few minutes in all).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bench(workload, trace, seed=5, seconds=1):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["stamp"], json.loads(lines[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a)
            gen.generate(7, b)
            for part in ("corpus", "etl", "kernels"):
                self.assertEqual(tree_digest(os.path.join(a, part)),
                                 tree_digest(os.path.join(b, part)), part)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a, ("etl",))
            gen.generate(8, b, ("etl",))
            self.assertNotEqual(tree_digest(a), tree_digest(b))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_implementation(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([m["name"] for m in bench["per_layer"]], metrics.PER_LAYER)


class IncompleteCheckoutTest(unittest.TestCase):
    def test_fails_without_the_library_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_drain",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("correct", p.stdout)


class WarmCountersRepeatTest(unittest.TestCase):
    """Warm spark.jobs, spark.stages and spark.tasks are identical across
    the warm iterations of one run (a traced run makes at least two)."""

    def check_workload(self, workload):
        stamp, result = run_bench(workload, trace=1)
        self.assertTrue(result["correct"], stamp.get("problems"))
        counts = stamp["warm_counts"]
        self.assertGreaterEqual(len(counts), 2)
        self.assertTrue(all(c == counts[0] for c in counts), counts)

    def test_tpch_sql(self):
        self.check_workload("tpch_sql")

    def test_refinery(self):
        self.check_workload("refinery")


if __name__ == "__main__":
    unittest.main()
