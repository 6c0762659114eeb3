"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala-side checks (input digests per seed, the mix digest under a
perturbed result, self time of overlapping spans, metric names) run
through `run.py --selftest`; this file also holds BENCHMARK.json to
the format the benchmark promises. Set PERFBENCH_SLOW=1 to also run
each workload once with a deliberately corrupted result and see it
counted as a failed operation (about a minute per workload).
"""

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run(*args, timeout=1200):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=timeout)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_keys_and_limits(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_workloads_match_runner(self):
        sys.path.insert(0, HERE)
        import run as runner
        self.assertEqual(tuple(w["name"] for w in self.b["workloads"]), runner.WORKLOADS)


class SelfTest(unittest.TestCase):
    """Same seed → same input digest; perturbed result → digest check
    fails; self time of overlapping spans; metric names and units."""

    @classmethod
    def setUpClass(cls):
        cls.proc = run("--selftest")

    def test_all_checks_pass(self):
        lines = self.proc.stdout.splitlines()
        self.assertEqual(self.proc.returncode, 0, self.proc.stderr[-2000:])
        checks = [l for l in lines if l.startswith(("PASS", "FAIL"))]
        self.assertGreater(len(checks), 10)
        self.assertEqual([l for l in checks if l.startswith("FAIL")], [])

    def test_declared_metrics_match_benchmark_json(self):
        declared = json.loads(self.proc.stdout.splitlines()[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual([m["name"] for m in b[kind]], declared[kind])
            for m in b[kind]:
                self.assertEqual(m["unit"], declared["units"][m["name"]], m["name"])


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class CorruptedResults(unittest.TestCase):
    def check_corrupt(self, workload, kind):
        p = run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0",
                "--corrupt", kind, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        r = json.loads(p.stdout.splitlines()[-1])
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_etl(self):
        self.check_corrupt("etl_batch", "etl")

    def test_serve(self):
        self.check_corrupt("recommend_serve", "serve")

    def test_mix(self):
        self.check_corrupt("etl_batch", "mix")


if __name__ == "__main__":
    unittest.main()
