"""Tests of the benchmark's failure accounting (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

import pandas as pd  # noqa: E402


def sample(query, pass_, kind, build, plan, execute, ok=True, error="", sort_ok=True):
    return {"query": query, "pass": pass_, "kind": kind, "ok": ok, "build_s": build,
            "plan_s": plan, "execute_s": execute, "error": error, "sort_ok": sort_ok}


def record(queries, warm_passes=3):
    """A result record with deterministic per-query times: query i takes
    (i + 1) / 10 s in each warm pass and twice that in the cold pass."""
    samples = []
    for i, q in enumerate(queries):
        t = (i + 1) / 10
        samples.append(sample(q, 0, "cold", t, 0.0, t))
        for p in range(1, warm_passes + 1):
            samples.append(sample(q, p, "warm", t / 2, t / 4, t / 4))
    return {"queries": list(queries), "warm_passes": warm_passes, "samples": samples,
            "setups": [{"session_s": 1.0, "staging": {"shingles": 0.5}},
                       {"session_s": 0.5, "staging": {"shingles": 0.25}},
                       {"session_s": 2.0, "staging": {"shingles": 1.0}}],
            "peak_rss_mb": 1000.0, "staging_mb": 1.0, "layers": {}, "traced_passes": []}


def with_failing_query(result, name="perfbench_injected_failure"):
    """Add a query that raises in every pass, as the harness records it."""
    r = dict(result, queries=result["queries"] + [name], samples=list(result["samples"]))
    for p in range(0, result["warm_passes"] + 1):
        r["samples"].append(sample(name, p, "cold" if p == 0 else "warm", 0, 0, 0, ok=False,
                                   error="java.lang.IllegalStateException: deliberately failing"))
    return r


class FailureAccounting(unittest.TestCase):
    def setUp(self):
        self.base = record(["a", "b", "c", "d"])

    def test_clean_run(self):
        m, info = metrics.end_to_end(self.base, metrics.failed_queries(self.base, {}))
        self.assertAlmostEqual(m["panel_s"], 1.0)
        self.assertAlmostEqual(m["cold_panel_s"], 2.0)
        self.assertAlmostEqual(m["setup_s"], 1.5)
        self.assertAlmostEqual(info["query_tail_s"], 0.4)
        self.assertEqual(info["failed_frac"], 0.0)
        self.assertEqual(info["samples"], 12)

    def test_failing_query_raises_failed_frac_and_leaves_timings(self):
        clean, _ = metrics.end_to_end(self.base, {})
        bad = with_failing_query(self.base)
        failed = metrics.failed_queries(bad, {})
        self.assertEqual(list(failed), ["perfbench_injected_failure"])
        self.assertIn("IllegalStateException", failed["perfbench_injected_failure"])
        m, info = metrics.end_to_end(bad, failed)
        self.assertAlmostEqual(info["failed_frac"], 1 / 5)
        for name in ("panel_s", "cold_panel_s", "query_p50_s", "setup_s"):
            self.assertAlmostEqual(m[name], clean[name], msg=name)
        self.assertAlmostEqual(info["query_tail_s"], 0.4)
        self.assertEqual(info["samples"], 12)

    def test_failure_in_one_pass_excludes_the_query_everywhere(self):
        r = dict(self.base, samples=[dict(s) for s in self.base["samples"]])
        hit = next(s for s in r["samples"] if s["query"] == "d" and s["pass"] == 2)
        hit.update(ok=False, error="java.lang.RuntimeException: boom")
        failed = metrics.failed_queries(r, {})
        m, info = metrics.end_to_end(r, failed)
        self.assertEqual(set(failed), {"d"})
        self.assertAlmostEqual(m["panel_s"], 0.6)
        self.assertAlmostEqual(m["cold_panel_s"], 1.2)
        self.assertAlmostEqual(info["failed_frac"], 0.25)

    def test_dropped_sort_and_oracle_mismatch_fail_the_query(self):
        r = dict(self.base, samples=[dict(s) for s in self.base["samples"]])
        hit = next(s for s in r["samples"] if s["query"] == "a" and s["kind"] == "cold")
        hit.update(ok=False, sort_ok=False, error="final Sort dropped from the executed plan")
        failed = metrics.failed_queries(r, {"b": "row 0 differs"})
        self.assertEqual(set(failed), {"a", "b"})
        self.assertTrue(failed["b"].startswith("oracle:"))
        _, info = metrics.end_to_end(r, failed)
        self.assertAlmostEqual(info["failed_frac"], 0.5)


class OracleCompare(unittest.TestCase):
    def test_equal_up_to_column_and_row_order(self):
        a = pd.DataFrame({"x": [2, 1], "y": ["b", "a"]})
        b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
        self.assertIsNone(oracle.mismatch(a, b))

    def test_cell_and_dtype_differences(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIn("row 1", oracle.mismatch(a, pd.DataFrame({"x": [1, 3]})))
        self.assertIn("dtypes", oracle.mismatch(a, pd.DataFrame({"x": [1.0, 2.0]})))
        self.assertIn("rows", oracle.mismatch(a, pd.DataFrame({"x": [1]})))


class MetricDeclarations(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics the benchmark prints."""

    def setUp(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        self.bench = json.load(open(path))
        self.layers = json.load(open(os.path.join(HERE, "layers.json")))

    def test_end_to_end(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         metrics.E2E_UNITS)

    def test_per_layer(self):
        self.assertEqual(self.bench["per_layer"],
                         [{k: l[k] for k in ("name", "unit", "better")} for l in self.layers])
        for layer in self.layers:
            self.assertTrue(layer["moves"] and layer["on"], layer["name"])


if __name__ == "__main__":
    unittest.main()
