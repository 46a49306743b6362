"""Smoke test of the benchmark: every workload, untraced and traced.

    python3 perfbench/test_smoke.py

Each workload must complete a run with no failed query, and print
every metric that BENCHMARK.json names, with its unit, both on a human
line and in the closing JSON line. A copy of the benchmark without the
engine's sources must fail without printing a result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def check_run(self, workload, trace, kind):
        out = run(ROOT, workload, trace)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed",
                                       "metrics"})
        self.assertTrue(result["correct"], out.stdout)
        self.assertEqual(result["failed"], 0, out.stdout)
        self.assertIn("# fail_ratio 0.0000", out.stdout)
        want = {m["name"]: m["unit"] for m in self.bench[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, unit in want.items():
            self.assertRegex(out.stdout, re.compile(
                rf"^{re.escape(name)}\s+\S+\s+{re.escape(unit)}\b", re.M))

    def test_workloads(self):
        for w in self.bench["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check_run(w["name"], trace, kind)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            out = run(bare, self.bench["workloads"][0]["name"], 0)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
