#!/usr/bin/env python3
"""Smoke tests of the benchmark harness: tiny inputs, a few seconds per workload.

    python3 -m unittest perfbench/test_smoke.py     (from the checkout root)

They check the harness, not graft: each workload runs end to end and prints a
well-formed result line with every metric BENCHMARK.json declares, and a
directory holding only the benchmark fails fast without a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--workload", workload, "--seed", "7",
                        "--seconds", "3", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=1000)
    return p.returncode, p.stdout.strip().splitlines()


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        code, lines = run(workload, trace)
        self.assertEqual(code, 0, "\n".join(lines[-20:]))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertLessEqual(result["failed"], result["attempted"])
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        if not trace:
            for name, v in result["metrics"].items():
                self.assertGreater(v["value"], 0, name)
        # The workload's own metric names are printed before the result.
        self.assertTrue(any(f"{workload} correct=" in l for l in lines[:-1]))

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0)

    def test_traced(self):
        self.check("monitor_fanout", 1)
        self.check("batch_suite", 1)

    def test_bare_directory_fails(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        def build_outputs(d, names):
            return [n for n in names if n in ("target", "__pycache__")
                    or (n == "project" and os.path.basename(d) == "project")]
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=build_outputs)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, lines = run("batch_suite", 0, cwd=bare,
                              script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertFalse(lines and lines[-1].startswith("{"))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
