"""Smoke test of the benchmark at tiny input sizes.

    python3 -m unittest perfbench/test_smoke.py     (from the checkout root)

Every workload is run untraced and traced for a few seconds. Each run must
check its outputs as correct, report no failed operation (an error rate
of 0), and print every metric `BENCHMARK.json` names, with its unit. The
benchmark must also refuse, with a non-zero exit and no result line, to
run from a directory that holds only itself.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace, seed=11):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_run(self, workload, trace):
        out = run(ROOT, workload, trace)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        lines = out.stdout.strip().splitlines()
        stamp, result = lines[-2], json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out.stderr[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"] / result["attempted"], 0.0)
        for key in ("workload=", "seed=", "cpus=", "heap=", "commit="):
            self.assertIn(key, stamp)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], float, m["name"])

    def test_workloads(self):
        for w in self.spec["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check_run(w["name"], trace)

    def test_refuses_without_engine_sources(self):
        alone = os.path.join(ROOT, ".bench_build", "smoke-alone")
        shutil.rmtree(alone, ignore_errors=True)
        os.makedirs(alone)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
        for p in self.spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(alone, p),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            out = run(alone, self.spec["workloads"][0]["name"], 0)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)
        finally:
            shutil.rmtree(alone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
