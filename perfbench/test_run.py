#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_run.py

Runs every workload in smoke mode (tiny inputs, one short round), untraced
and traced, and fails on a report that is not the single line on stdout, on
any missing, extra or non-numeric metric, on a unit that differs from
BENCHMARK.json, and on a failed or wrong operation. It also checks that the
benchmark exits non-zero, printing nothing, where there is no program to
build.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check_report(self, p, wanted):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.splitlines()
        self.assertEqual(len(lines), 1, "stdout must carry the report and nothing else")
        report = json.loads(lines[0])
        self.assertEqual(set(report), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(report["correct"], True)
        self.assertIsInstance(report["attempted"], int)
        self.assertGreaterEqual(report["attempted"], 1)
        self.assertEqual(report["failed"], 0, p.stderr[-3000:])
        self.assertEqual(set(report["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = report["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"}, m["name"])
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], float, m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_every_workload_reports_every_metric(self):
        for w in SPEC["workloads"]:
            for trace, wanted in (("0", SPEC["end_to_end"]), ("1", SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check_report(bench(ROOT, "--workload", w["name"], "--seed", "1",
                                            "--seconds", "1", "--trace", trace, "--smoke"),
                                      wanted)

    def test_fails_without_a_program(self):
        bare = os.path.join(ROOT, ".bench_build", "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            p = bench(bare, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
