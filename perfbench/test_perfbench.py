"""Tests of the benchmark's own logic.

Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The workload test builds the harness (perfbench/build.sh) to list the
registered queries; the others need no JVM.
"""
import os
import statistics
import subprocess
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import digest  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class WorkloadTest(unittest.TestCase):
    def test_queries_are_registered_and_in_one_workload(self):
        run.build()
        out = subprocess.run(
            ["java", "-cp", f"{run.BUILD}/classes:{run.SPARK_JARS}/*",
             "perfbench.Harness", "--list"],
            check=True, capture_output=True, text=True).stdout
        registered = set(out.split())
        self.assertEqual(len(registered), 103)
        seen = []
        for w in run.WORKLOADS.values():
            self.assertTrue(set(w["queries"]) <= registered, w["queries"])
            self.assertTrue(w["why"])
            self.assertGreaterEqual(w["warm"], 1)
            seen += w["queries"]
        self.assertEqual(len(seen), len(set(seen)), "a query is in two workloads")

    def test_workloads_have_pins(self):
        import json
        with open(run.PINS) as f:
            pins = json.load(f)
        for name, w in run.WORKLOADS.items():
            self.assertEqual(sorted(pins[name]), sorted(w["queries"]))


class StatsTest(unittest.TestCase):
    def test_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        self.assertEqual(stats.quartiles([1.0, 2.0, 3.0, 4.0]), (1.25, 3.75))

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99))))
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(999)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)
        p, v = stats.tail_percentile(list(range(10000)))
        self.assertEqual(p, 99.9)
        self.assertAlmostEqual(v, 9989.001)


def span(sid, parent, layer, start, end):
    return [sid, parent, layer, layer, start, end]


class SelfTimeTest(unittest.TestCase):
    def test_nested_tree(self):
        spans = [
            span("s1", "", "run", 0, 100),
            span("s2", "s1", "pass", 10, 90),
            span("q3", "s2", "query", 20, 80),
            span("s4", "q3", "queries.build", 20, 40),
            span("s5", "q3", "queries.execute", 40, 80),
            span("j1", "gq3", "spark.job", 45, 75),
            span("t1.0", "j1", "spark.stage", 50, 70),
            span("c1", "", "catalyst.planning", 41, 44),
        ]
        self.assertEqual(stats.self_times(spans), {
            "run": 20, "pass": 20, "query": 0, "queries.build": 20,
            "queries.execute": 7, "spark.job": 10, "spark.stage": 20,
            "catalyst.planning": 3})

    def test_overlapping_children_count_once(self):
        spans = [
            span("s1", "", "run", 0, 20),
            span("j1", "", "spark.job", 0, 10),
            span("t1.0", "j1", "spark.stage", 0, 6),
            span("t2.0", "j1", "spark.stage", 4, 10),
        ]
        self.assertEqual(stats.self_times(spans),
                         {"run": 10, "spark.job": 0, "spark.stage": 12})

    def test_job_group_places_job_under_its_query(self):
        spans = [
            span("s1", "", "run", 0, 100),
            span("s2", "s1", "pass", 0, 100),
            span("q3", "s2", "query", 0, 50),
            span("q4", "s2", "query", 50, 100),
            span("j1", "gq4", "spark.job", 40, 60),
        ]
        self.assertEqual(stats.resolve_parents(spans)["j1"], "q4")

    def test_child_outside_parent_is_clipped(self):
        spans = [span("s1", "", "run", 0, 10), span("j1", "s1", "spark.job", 5, 30)]
        self.assertEqual(stats.self_times(spans)["run"], 5)


class DigestTest(unittest.TestCase):
    def test_order_independent(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
        b = pd.DataFrame({"v": [None, "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(digest.frame_digest(a), digest.frame_digest(b))

    def test_list_cells_which_canon_cannot_sort(self):
        a = pd.DataFrame({"k": [1, 2], "v": [[3, 4], [5]]})
        b = pd.DataFrame({"v": [[5], [3, 4]], "k": [2, 1]})
        self.assertEqual(digest.frame_digest(a), digest.frame_digest(b))
        c = pd.DataFrame({"k": [1, 2], "v": [[4, 3], [5]]})
        self.assertNotEqual(digest.frame_digest(a), digest.frame_digest(c))

    def test_values_matter(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.2500001]})
        self.assertNotEqual(digest.frame_digest(a), digest.frame_digest(b))
        c = pd.DataFrame({"v": [None]}, dtype=object)
        d = pd.DataFrame({"v": ["null"]})
        self.assertNotEqual(digest.frame_digest(c), digest.frame_digest(d))

    def test_normalizes_like_the_oracle_check(self):
        # object columns of numbers compare as numbers; -0.0 equals 0.0
        a = pd.DataFrame({"n": pd.Series([1, 2], dtype=object), "f": [-0.0, 1.5]})
        b = pd.DataFrame({"n": [1, 2], "f": [0.0, 1.5]})
        self.assertEqual(digest.frame_digest(a), digest.frame_digest(b))


def result(passes):
    return {"setup_s": 3.0, "session_s": 1.0, "warm_steady": True, "peak_rss_mb": 100.0,
            "spans": [],
            "passes": passes}


def pass_of(kind, execs, wall=1.0):
    return {"kind": kind, "wall_s": wall, "cpu_s": 2.0, "gc_ms": 0, "jit_ms": 0,
            "warehouse_bytes": 0, "warehouse_tables": 0, "telemetry": {}, "listener": {},
            "execs": [{"name": n, "build_s": 0.1, "execute_s": 0.2, "error": err}
                      for n, err in execs]}


class FailureTest(unittest.TestCase):
    queries = run.WORKLOADS["sql_batch"]["queries"]

    def pins(self):
        return {"sql_batch": {q: "d" + q for q in self.queries}}

    def test_clean_run(self):
        res = result([pass_of("check", [(q, None) for q in self.queries])])
        self.assertEqual(run.failures("sql_batch", res, self.pins()["sql_batch"], self.pins()),
                         (len(self.queries), 0, []))

    def test_throw_missing_and_wrong_digest_count(self):
        execs = [(q, None) for q in self.queries[1:]]
        execs[0] = (execs[0][0], "boom")
        res = result([pass_of("timed", execs)])
        digests = dict(self.pins()["sql_batch"], **{self.queries[-1]: "other"})
        attempted, failed, reasons = run.failures("sql_batch", res, digests, self.pins())
        self.assertEqual(attempted, len(self.queries))
        self.assertEqual(failed, 3)
        self.assertEqual(len(reasons), 3)

    def test_check_pass_throw_counts_once(self):
        execs = [(q, None) for q in self.queries]
        execs[0] = (execs[0][0], "boom")
        res = result([pass_of("check", execs), pass_of("timed", execs[1:])])
        digests = {q: d for q, d in self.pins()["sql_batch"].items() if q != self.queries[0]}
        attempted, failed, reasons = run.failures("sql_batch", res, digests, self.pins())
        self.assertEqual(attempted, 2 * len(self.queries))
        self.assertEqual(failed, 2)
        self.assertEqual(reasons, [f"check pass: {self.queries[0]} threw: boom",
                                   f"timed pass: {self.queries[0]} missing"])

    def test_no_result_fails_every_query(self):
        n = len(self.queries)
        self.assertEqual(run.failures("sql_batch", None, {}, self.pins())[:2], (n, n))


class EndToEndTest(unittest.TestCase):
    def test_medians_and_tail_note(self):
        few = result([pass_of("timed", [("a", None)] * 10, wall=w) for w in (1.0, 3.0, 2.0)])
        m, notes = run.end_to_end(few)
        self.assertEqual(m["pass_s"][0], 2.0)
        self.assertAlmostEqual(m["query_p50_s"][0], 0.3)
        self.assertIn("too few", notes["query_p50_s"])
        many = result([pass_of("timed", [("a", None)] * 50)] * 2)
        self.assertIn("p90 = ", run.end_to_end(many)[1]["query_p50_s"])

    def test_failed_executions_leave_latency(self):
        res = result([pass_of("timed", [("a", None), ("b", "boom")])] * 2)
        self.assertTrue(run.end_to_end(res)[1]["query_p50_s"].startswith("n=2 executions"))


class ContractTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        import json
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        res = result([pass_of(k, [("a", None)]) for k in ("timed", "traced", "traced", "timed")])
        e2e, _ = run.end_to_end(res)
        layers, _ = run.per_layer(res)
        self.assertEqual(set(e2e), {m["name"] for m in bench["end_to_end"]})
        self.assertEqual(set(layers), {m["name"] for m in bench["per_layer"]})
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for name, (_, unit) in list(e2e.items()) + list(layers.items()):
            self.assertEqual(units[name], unit, name)
        self.assertEqual({w["name"]: w["why"] for w in bench["workloads"]},
                         {n: w["why"] for n, w in run.WORKLOADS.items()})


if __name__ == "__main__":
    unittest.main()
