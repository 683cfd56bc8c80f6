"""Smoke run of the benchmark itself at a tiny size (sf0.001, few iterations).

Run: python3 -m unittest discover -s perfbench/tests -v

Each workload must finish, pass its own correctness checks and print every
end-to-end metric of BENCHMARK.json; one traced run must print every
per-layer metric, the tracing overhead among them. Takes a few minutes (one JVM per run).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def manifest(kind):
    return sorted(m["name"] for m in run.spec()[kind])


def bench(workload, trace=0, seed=7):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else {}), r.stdout + r.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace=0):
        code, res, out = bench(workload, trace)
        self.assertEqual(code, 0, out[-3000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        for m in res["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))
            self.assertTrue(m["unit"])
        return res

    def test_pmap(self):
        res = self.check("pmap")
        self.assertEqual(sorted(res["metrics"]), manifest("end_to_end"))

    def test_queries(self):
        res = self.check("queries")
        self.assertEqual(sorted(res["metrics"]), manifest("end_to_end"))

    def test_stream(self):
        res = self.check("stream")
        self.assertEqual(sorted(res["metrics"]), manifest("end_to_end"))

    def test_pmap_traced(self):
        res = self.check("pmap", trace=1)
        self.assertEqual(sorted(res["metrics"]), manifest("per_layer"))


if __name__ == "__main__":
    unittest.main()
