"""Unit tests of the metric helpers, the end-to-end metric rules and the
per-layer computation from a trace."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


def query(name, build, execute, error=None):
    q = {"name": name, "build_s": build, "exec_s": execute}
    if error:
        q["error"] = error
    return q


def report(passes):
    return {"setup_s": 7.5, "peak_rss_mb": 2000.0, "check_s": 1.0, "checks": [],
            "passes": [{"index": i, "kind": k, "wall_s": sum(q["build_s"] + q["exec_s"] for q in qs),
                        "queries": qs} for i, (k, qs) in enumerate(passes)]}


class HelperTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(metrics.median([5.0]), 5.0)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([0.5]), 0.5)


class EndToEndTest(unittest.TestCase):
    def test_clean_run(self):
        r = report([("cold", [query("a", 1.0, 2.0), query("b", 0.5, 0.5)]),
                    ("warm", [query("a", 0.1, 0.9), query("b", 0.1, 0.3)]),
                    ("warm", [query("a", 0.1, 1.1), query("b", 0.1, 0.1)]),
                    ("warm", [query("a", 0.1, 0.7), query("b", 0.1, 0.5)])])
        e2e, n_warm = metrics.end_to_end(r)
        self.assertEqual(n_warm, 3)
        self.assertAlmostEqual(e2e["cold_pass_s"], 4.0)
        self.assertAlmostEqual(e2e["warm_pass_s"], 1.4)
        # per-query medians 1.0 and 0.4
        self.assertAlmostEqual(e2e["query_geomean_s"], (1.0 * 0.4) ** 0.5)
        self.assertEqual(e2e["setup_s"], 7.5)
        self.assertEqual(e2e["peak_rss_mb"], 2000.0)

    def test_failed_query_never_reads_as_a_fast_time(self):
        boom = "IllegalStateException: injected"
        r = report([("cold", [query("a", 1.0, 2.0), query("b", 0.01, 0.0, boom)]),
                    ("warm", [query("a", 0.1, 0.9), query("b", 0.01, 0.0, boom)]),
                    ("warm", [query("a", 0.1, 1.1), query("b", 0.01, 0.0, boom)])])
        e2e, _ = metrics.end_to_end(r)
        self.assertIsNone(e2e["cold_pass_s"])
        self.assertIsNone(e2e["warm_pass_s"])
        self.assertIsNone(e2e["query_geomean_s"])

    def test_one_failed_warm_pass_voids_the_warm_time(self):
        r = report([("cold", [query("a", 1.0, 2.0)]),
                    ("warm", [query("a", 0.1, 0.9)]),
                    ("warm", [query("a", 0.0, 0.0, "boom")])])
        e2e, _ = metrics.end_to_end(r)
        self.assertIsNone(e2e["warm_pass_s"])
        self.assertAlmostEqual(e2e["cold_pass_s"], 3.0)


def span(i, parent, kind, name, start, end, **attrs):
    return dict(id=i, parent=parent, kind=kind, name=name, start_ms=start, end_ms=end, **attrs)


def stage(i, job, run_ms, tasks, **kw):
    s = dict(id=i, job=job, start_ms=0.0, end_ms=0.0, tasks=len(tasks), run_ms=run_ms,
             cpu_ns=run_ms * 500_000, gc_ms=1, result_bytes=1000, input_bytes=2_000_000,
             shuffle_write_bytes=3_000_000, shuffle_records=10, fetch_wait_ms=5,
             spill_bytes=0, peak_mem_bytes=4_000_000, task_run_ms=tasks)
    s.update(kw)
    return s


class PerLayerTest(unittest.TestCase):
    def trace(self):
        cold = dict(start_compile_ns=0.0, end_compile_ns=9e8, start_classes=0.0, end_classes=40.0)
        counters = dict(start_compile_ns=9e8, end_compile_ns=11e8, start_classes=40.0, end_classes=43.0)
        spans = [
            span(0, -1, "run", "run", -2000, 1000),
            span(5, 0, "pass", "cold-0", -2000, -1000, index=0, **cold),
            span(1, 0, "pass", "warm-1", 0, 1000, index=1, **counters),
            span(2, 1, "query", "a", 0, 1000),
            span(3, 2, "build", "a", 0, 200, df_analysis_ms=10.0),
            span(4, 2, "execute", "a", 200, 1000),
        ]
        jobs = [dict(id=0, span=3, start_ms=50, end_ms=150),
                dict(id=1, span=4, start_ms=300, end_ms=900),
                dict(id=2, span=4, start_ms=500, end_ms=950)]
        stages = [stage(0, 0, 100, [100]), stage(1, 1, 1200, [100, 200, 300, 600]),
                  stage(2, 2, 200, [100, 100])]
        plans = [dict(func="command", exchanges=2, interpreted=1,
                      phases={"analysis": dict(start_ms=210, end_ms=220),
                              "optimization": dict(start_ms=220, end_ms=250),
                              "planning": dict(start_ms=250, end_ms=290)})]
        return dict(slots=4, spans=spans, jobs=jobs, stages=stages, plans=plans)

    def test_layers_and_accounting(self):
        r = report([("cold", [query("a", 0.2, 0.8)]), ("warm", [query("a", 0.2, 0.8)])])
        r["trace"] = self.trace()
        layers, warm, bad = metrics.per_layer(r)
        self.assertEqual(bad, {1: []})
        self.assertEqual([n for n, _ in metrics.PER_LAYER], list(layers))
        self.assertAlmostEqual(layers["queries.build_s"], 0.2)
        self.assertEqual(layers["queries.build_jobs"], 1)
        self.assertAlmostEqual(layers["plans.analyze_s"], 0.02)
        self.assertAlmostEqual(layers["plans.optimize_s"], 0.03)
        self.assertAlmostEqual(layers["plans.physical_s"], 0.04)
        self.assertEqual(layers["plans.exchanges"], 2)
        self.assertEqual(layers["plans.interpreted_exprs"], 1)
        # codegen comes from the cold pass; the warm pass's is kept beside it
        self.assertAlmostEqual(layers["codegen.compile_s"], 0.9)
        self.assertEqual(layers["codegen.classes"], 40)
        self.assertAlmostEqual(warm["codegen.compile_s"], 0.2)
        self.assertEqual(warm["codegen.classes"], 3)
        self.assertEqual({k: v for k, v in warm.items() if not k.startswith("codegen.")},
                         {k: v for k, v in layers.items() if not k.startswith("codegen.")})
        # jobs cover 50-150 and 300-950
        self.assertAlmostEqual(layers["exec.run_s"], 0.75)
        self.assertAlmostEqual(layers["exec.task_s"], 1.5)
        self.assertAlmostEqual(layers["exec.core_util"], 1.5 / (0.75 * 4))
        self.assertEqual(layers["exec.jobs"], 3)
        self.assertEqual(layers["exec.stages"], 3)
        self.assertEqual(layers["exec.tasks"], 7)
        # the busiest stage's tasks: max 600 over median 250
        self.assertAlmostEqual(layers["exec.skew"], 600 / 250)
        self.assertAlmostEqual(layers["exec.scan_mb"], 6.0)
        self.assertAlmostEqual(layers["exec.task_peak_mem_mb"], 4.0)
        self.assertAlmostEqual(layers["exchange.write_mb"], 9.0)
        self.assertEqual(layers["exchange.records"], 30)
        self.assertAlmostEqual(layers["exchange.fetch_wait_s"], 0.015)
        self.assertAlmostEqual(layers["driver.result_mb"], 0.003)

    def test_accounting_flags_uncovered_time_and_oversubscribed_tasks(self):
        r = report([("warm", [query("a", 0.2, 1.8)])])
        t = self.trace()
        t["spans"] = [s for s in t["spans"] if s["name"] != "cold-0"]
        t["spans"][1]["index"] = 0
        t["stages"][1]["run_ms"] = 100_000
        r["trace"] = t
        layers, _, bad = metrics.per_layer(r)
        self.assertTrue(any("build+plan+execute" in b for b in bad[0]), bad)
        self.assertTrue(any("exec.task_s" in b for b in bad[0]), bad)
        # no cold pass: the cold-pass metrics have no value
        self.assertIsNone(layers["codegen.compile_s"])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_benchmark_file(self):
        with open(BENCHMARK) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
