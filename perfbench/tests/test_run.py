"""End-to-end tests of the one command on the test-only ``selftest``
workload (sf 0.001, three queries). Each test runs the real harness JVM, so
the suite takes a few minutes; the first test builds the engine if needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import metrics  # noqa: E402
import workloads  # noqa: E402


def run(*extra, trace=0, seed=5, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", "selftest",
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class RunTest(unittest.TestCase):
    def assert_metrics(self, out, names):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(out["metrics"]), [n for n, _ in names])
        for name, unit in names:
            self.assertEqual(out["metrics"][name]["unit"], unit)

    def test_untraced_run_prints_every_end_to_end_metric(self):
        rc, out, err = run()
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assert_metrics(out, metrics.END_TO_END)
        for name, _ in metrics.END_TO_END:
            self.assertGreater(out["metrics"][name]["value"], 0, name)

    def test_traced_run_prints_every_per_layer_metric(self):
        rc, out, err = run(trace=1)
        self.assertEqual(rc, 0, err[-3000:])
        self.assert_metrics(out, metrics.PER_LAYER)
        self.assertIn("accounting: OK", err)
        self.assertGreater(out["metrics"]["exec.jobs"]["value"], 0)
        # the codegen layer is the cold pass's, which compiles
        self.assertGreater(out["metrics"]["codegen.classes"]["value"], 0)
        self.assertGreater(out["metrics"]["codegen.compile_s"]["value"], 0)

    def test_a_query_that_throws_fails_the_run_and_has_no_time(self):
        rc, out, err = run("--tamper", "q_window_lag=throw")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        # every pass plus the check pass of q_window_lag threw
        self.assertGreaterEqual(out["failed"], 5)
        for name in ("cold_pass_s", "warm_pass_s", "query_geomean_s"):
            self.assertIsNone(out["metrics"][name]["value"], name)
        self.assertIn("injected failure in q_window_lag", err)

    def test_a_wrong_output_fails_the_check(self):
        rc, out, err = run("--tamper", "q_q1=wrong")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertIn("q_q1:", err)
        self.assertIn("!= oracle", err)

    def test_without_the_engine_sources_it_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            os.symlink(PERFBENCH, os.path.join(d, "perfbench"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rel_x16",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


class WorkloadTest(unittest.TestCase):
    def test_benchmark_workloads_are_defined(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        for name in names:
            self.assertIn(name, workloads.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
