#!/usr/bin/env python3
"""The benchmark's own tests, on the small corpus (`--smoke`).

    python3 perfbench/test_smoke.py

Each workload runs untraced and traced; a run must exit 0, check its
outputs as correct, and print every metric BENCHMARK.json declares, by name
and with its unit. A checkout holding only BENCHMARK.json and the benchmark
must make the command fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def bench(cwd, workload, trace, smoke=True):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds",
                             str(SPEC["run_seconds"]), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        r = bench(REPO, workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], r.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        got = result["metrics"]
        self.assertEqual(sorted(got), sorted(m["name"] for m in declared))
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got[m["name"]]["value"], 0, m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)

    def test_fails_without_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(REPO, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = bench(d, SPEC["workloads"][0]["name"], 0, smoke=False)
            self.assertNotEqual(r.returncode, 0)
            lines = r.stdout.strip().splitlines()
            self.assertFalse(lines and lines[-1].startswith("{"), r.stdout)


if __name__ == "__main__":
    sys.exit(unittest.main())
