"""Smoke test of the benchmark at tiny input sizes.

Run from the repository root (takes a few minutes; it builds first if
needed):

    python3 perfbench/tests/test_smoke.py

Checks, for every workload in BENCHMARK.json:
  * an untraced run emits every end-to-end metric, a traced run every
    per-layer metric, each with its declared unit, and both pass their
    correctness gates;
  * in the traced run, the per-layer self times account for the traced
    units' wall time to within COVERAGE_TOLERANCE (`trace.coverage`, the
    share of traced wall time that falls inside a layer's span rather
    than in the benchmark's own glue);
  * another seed changes the generated inputs but not the metric names.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
COVERAGE_TOLERANCE = 0.10

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, seed, trace):
    """(details line, result line) of one tiny run."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):

    def check_names(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(
            {k: v["unit"] for k, v in result["metrics"].items()},
            {m["name"]: m["unit"] for m in declared})
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                details1, untraced = run(w["name"], 1, 0)
                self.check_names(untraced, SPEC["end_to_end"])

                _, traced = run(w["name"], 1, 1)
                self.check_names(traced, SPEC["per_layer"])
                coverage = traced["metrics"]["trace.coverage"]["value"]
                self.assertGreaterEqual(coverage, 1 - COVERAGE_TOLERANCE)
                self.assertLessEqual(coverage, 1 + 1e-9)

                details2, other = run(w["name"], 2, 0)
                self.assertNotEqual(details1["details"]["input_digest"],
                                    details2["details"]["input_digest"])
                self.assertEqual(set(other["metrics"]), set(untraced["metrics"]))


if __name__ == "__main__":
    unittest.main()
