#!/usr/bin/env python3
"""Checks the benchmark's output contract on real short runs.

    python3 -m unittest perfbench/test_run.py      (from the repository root)

Each run builds on first use, so the first test can take a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace)],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines()


class OutputContract(unittest.TestCase):
    def check(self, trace, listed):
        rc, lines = run("object-io", trace)
        self.assertEqual(rc, 0)
        header, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual((header["seed"], header["workload"]), (7, "object-io"))
        self.assertGreaterEqual(header["cores"], 1)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(list(result["metrics"]), [m["name"] for m in listed])
        for m in listed:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return result["metrics"]

    def test_untraced_run_prints_every_end_to_end_metric(self):
        metrics = self.check(0, BENCH["end_to_end"])
        for m in BENCH["end_to_end"]:
            self.assertGreater(metrics[m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_per_layer_metric(self):
        metrics = self.check(1, BENCH["per_layer"])
        # span self times against op wall time taken outside the tracer
        self.assertGreater(metrics["trace.self_sum_ratio"]["value"], 0.95)
        self.assertLessEqual(metrics["trace.self_sum_ratio"]["value"], 1.0)
        self.assertGreater(metrics["trace.child_cover"]["value"], 0.5)
        self.assertGreater(metrics["s3like.put_ms.xlsx"]["value"], 0)

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            rc, lines = run("relational", 0, cwd=d)
        self.assertNotEqual(rc, 0)
        self.assertFalse(any(ln.startswith("{") for ln in lines))


if __name__ == "__main__":
    unittest.main()
