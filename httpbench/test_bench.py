#!/usr/bin/env python3
"""The benchmark's own test, at a tiny store size.

For one seed, two runs must report identical bytes_per_event and
identical count metrics, and every correctness check must pass. Run
from the root of a checkout:

    python3 httpbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("engine.jobs", "engine.stages", "engine.tasks", "engine.result_rows",
          "sources.files_read", "sources.files_per_leaf_max",
          "sources.bytes_rewritten_ratio", "ingest.rows_out_ratio")


def run(*args, cwd=".", script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, *args],
                       capture_output=True, text=True, cwd=cwd)
    return p.returncode, p.stdout


def result(trace, seed=5):
    code, out = run("--workload", "ingest_mixed", "--seed", str(seed), "--seconds", "2",
                    "--trace", trace, "--scale", "tiny")
    assert code == 0, out
    return json.loads(out.strip().splitlines()[-1])


class BenchTest(unittest.TestCase):

    def check(self, r):
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreater(r["attempted"], 0)

    def test_counts_repeat_for_one_seed(self):
        a, b = result("1"), result("1")
        for r in (a, b):
            self.check(r)
        for name in COUNTS:
            self.assertEqual(a["metrics"][name], b["metrics"][name], name)
        self.assertGreater(a["metrics"]["ingest.rows_out_ratio"]["value"], 0)

    def test_bytes_per_event_repeat_for_one_seed(self):
        a, b = result("0"), result("0")
        for r in (a, b):
            self.check(r)
        self.assertEqual(a["metrics"]["bytes_per_event"], b["metrics"]["bytes_per_event"])

    def test_refuses_without_the_program_sources(self):
        os.makedirs(".bench_build", exist_ok=True)
        with tempfile.TemporaryDirectory(dir=".bench_build") as d:
            shutil.copytree(HERE, os.path.join(d, "httpbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, out = run("--workload", "interactive", "--seed", "1", "--seconds", "1",
                            "--trace", "0", cwd=d,
                            script=os.path.join(d, "httpbench", "run.py"))
        self.assertNotEqual(code, 0)
        self.assertEqual(out.strip(), "")


if __name__ == "__main__":
    unittest.main()
