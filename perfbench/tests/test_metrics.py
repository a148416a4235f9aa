"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import json
import os
import re
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402
import plans  # noqa: E402
import run  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.supported_tail(19))
        self.assertEqual(metrics.supported_tail(20), 50)
        self.assertEqual(metrics.supported_tail(40), 75)
        self.assertEqual(metrics.supported_tail(99), 80)
        self.assertEqual(metrics.supported_tail(100), 90)
        self.assertEqual(metrics.supported_tail(199), 90)
        self.assertEqual(metrics.supported_tail(200), 95)
        self.assertEqual(metrics.supported_tail(1000), 99)

    def test_tail_is_capped_and_counts_failures_as_infinite(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (90, 900))
        self.assertEqual(metrics.tail(list(range(1, 41))), (75, 30))
        self.assertEqual(metrics.tail([1.0] * 89 + [metrics.INF] * 11)[1], metrics.INF)


class ScheduleDeterminism(unittest.TestCase):
    def plan(self, workload, seed):
        return plans.make(workload, seed, 5, 0, "corpus", "run")

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.plan("ingest_serve", 7), self.plan("ingest_serve", 7))
        self.assertEqual(plans.analytics_plan({}, 7, 20), plans.analytics_plan({}, 7, 20))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.plan("ingest_serve", 7)[0]["gets"],
                            self.plan("ingest_serve", 8)[0]["gets"])
        self.assertNotEqual(self.plan("ingest_serve", 7)[0]["posts"],
                            self.plan("ingest_serve", 8)[0]["posts"])

    def test_analytics_passes_are_seeded_permutations_of_the_sample(self):
        a = plans.analytics_plan({}, 7, 20)["passes"]
        self.assertEqual(len(a), plans.MIN_PASSES)
        for order in a:
            self.assertEqual(sorted(order), list(range(len(metrics.MODULES))))
        self.assertNotEqual(a, plans.analytics_plan({}, 8, 20)["passes"])

    def test_analytics_sample_count_and_tail_do_not_depend_on_host_speed(self):
        # the pass count is fixed by --seconds alone; 24 s runs always give
        # 68 samples and so always a p80
        n = plans.analytics_passes(24) * len(metrics.MODULES)
        self.assertEqual(n, 68)
        self.assertEqual(metrics.supported_tail(n), 80)
        self.assertEqual(plans.analytics_passes(1), plans.MIN_PASSES)

    def test_fixed_count_sorted_arrivals_in_two_phases(self):
        plan = self.plan("ingest_serve", 3)[0]
        serve_ms = plan["serve_ms"]
        self.assertEqual(serve_ms, 2500)
        times = [t for t, _ in plan["gets"]]
        self.assertEqual(times, sorted(times))
        self.assertEqual(sum(t < serve_ms for t in times), round(plans.SERVE_GET_RATE * 2.5))
        self.assertEqual(sum(t >= serve_ms for t in times), round(plans.INGEST_GET_RATE * 2.5))
        self.assertTrue(all(0 <= t <= 5000 for t in times))
        posts = [t for t, _ in plan["posts"]]
        self.assertEqual(len(posts), round(plans.INGEST_POST_RATE * 2.5))
        self.assertTrue(all(serve_ms <= t <= 5000 for t in posts))

    def test_expected_counters_cover_valid_lines(self):
        plan, expect = self.plan("ingest_serve", 3)
        lines = plan["warm_post"].count("\n") + sum(b.count("\n") for _, b in plan["posts"])
        self.assertEqual(expect["lines"], lines)
        valid = sum(c for _, c in expect["daily"].values())
        self.assertEqual(valid + expect["corrupt"], lines)
        self.assertEqual(valid, sum(c for _, c in expect["year"].values()))


class Freshness(unittest.TestCase):
    def test_from_cumulative_rows(self):
        # POSTs of 10 lines created at 0, 100, 200 ms; query a commits 15
        # rows at 500 and 15 at 900; query b all 30 at 700
        prog = {"a": [(500, 15), (900, 15)], "b": [(700, 30)]}
        f = metrics.freshness([0, 100, 200], [10, 10, 10], [True] * 3, prog)
        self.assertEqual(f, [700, 800, 700])

    def test_refused_and_uncommitted_are_infinite(self):
        prog = {"a": [(500, 10)]}
        f = metrics.freshness([0, 100, 200], [10, 10, 10], [True, False, True], prog)
        self.assertEqual(f, [500, metrics.INF, metrics.INF])

    def test_backlog(self):
        self.assertEqual(metrics.backlog_max([0, 10, 20], [100, 100, 5]), 3)
        self.assertEqual(metrics.backlog_max([0, 10, 20], [5, 5, 5]), 1)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, layer="x"):
        return {"id": i, "parent": parent, "layer": layer, "start_ns": a, "end_ns": b}

    def test_children_union_is_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120)]  # overlapping and overhanging children
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))
        self.assertEqual(st[2], 20)

    def test_layer_summary(self):
        spans = [self.span(1, 0, 0, 100, "api"), self.span(2, 1, 0, 60, "spark")]
        s = metrics.layer_summary(spans)
        self.assertAlmostEqual(s["api"]["self_ms"], 40 / 1e6)
        self.assertAlmostEqual(s["spark"]["self_ms"], 60 / 1e6)


class WrongDigestFailsTheCommand(unittest.TestCase):
    RAW = {
        "setup": {"jvm_start_s": 0.5, "steps": [{"name": "session", "s": 1.0, "ok": True}]},
        "peak_rss_kb": 1024000, "heap_retained_bytes": 2 ** 27, "provenance": {"spark_version": "x"}, "spans": [],
        "queries": [{"name": "q1", "module": "WeatherOps", "pass": p, "ok": True,
                     "build_ms": 1.0, "plan_ms": 1.0, "exec_ms": 1.0, "wall_ms": 3.0 + p % 7,
                     "rows": 1, "digest": "1:00000000000000aa"} for p in range(111)],
        "pass_totals": [{}, {}, {}], "execs": [],
    }

    def run_command(self, digest):
        digests = {"queries": [{"name": "q1", "module": "WeatherOps", "digest": digest}]}
        out = io.StringIO()
        with mock.patch.object(run, "checkout_ok", return_value=True), \
                mock.patch.object(run, "build", return_value="cp"), \
                mock.patch.object(run, "prepare", return_value=(
                    {"trace": 0, "sf": 0.001}, {}, os.path.join(ROOT, ".bench_build", "t"))), \
                mock.patch.object(run, "run_harness", return_value=self.RAW), \
                mock.patch.object(run, "load_digests", return_value=digests), \
                mock.patch.object(run, "git_tree", return_value=None), \
                mock.patch("os.getcwd", return_value=os.path.abspath(ROOT)), \
                contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            code = run.main(["--workload", "analytics", "--seed", "1", "--seconds", "1"])
        return code, json.loads(out.getvalue().strip().splitlines()[-1])

    def test_right_digest_passes(self):
        code, last = self.run_command("1:00000000000000aa")
        self.assertEqual(code, 0)
        self.assertTrue(last["correct"])

    def test_wrong_digest_exits_non_zero(self):
        code, last = self.run_command("1:00000000000000ab")
        self.assertNotEqual(code, 0)
        self.assertFalse(last["correct"])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})


class ModuleOrder(unittest.TestCase):
    def test_plan_indices_follow_the_harness_module_order(self):
        src = os.path.join(ROOT, "perfbench/src/main/scala/graft/perfbench/Analytics.scala")
        with open(src) as f:
            order = re.findall(r'"(\w+)" -> \w+\.all', f.read())
        self.assertEqual(order, metrics.MODULES)


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         metrics.per_layer_names())


if __name__ == "__main__":
    unittest.main()
