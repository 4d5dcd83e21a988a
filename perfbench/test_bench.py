"""Self-tests of the benchmark's own arithmetic and accounting.  No Spark.

    python3 perfbench/test_bench.py
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from measure import (OpRecord, Reading, core_busy_ratio, self_time,  # noqa: E402
                     summarize, tail_percentile, union_length)
from tracing import Span, Tracer, layer_metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(tail_percentile(xs), (90.0, 90.0))
        self.assertEqual(tail_percentile([1.0] * 1000)[0], 99.0)
        self.assertEqual(tail_percentile(list(range(40)))[0], 75.0)

    def test_too_few_samples(self):
        self.assertIsNone(tail_percentile([1.0] * 39))
        self.assertIsNone(tail_percentile([2.0, 1.0, 3.0]))


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        kids = [(1, 3), (2, 5), (7, 8), (9, 12)]
        self.assertEqual(union_length([(1, 3), (2, 5), (7, 8)]), 5)
        self.assertEqual(self_time(0, 10, kids), 4)
        self.assertEqual(self_time(0, 10, []), 10)

    def test_nested_spans_from_the_tracer(self):
        t = Tracer()
        t.op = 0
        with t.span("profile.describe") as d:
            with t.span("wide_agg.pass1"):
                pass
            with t.span("frequency.topk") as f:
                pass
        self.assertEqual(f.parent, d.id)
        self.assertLessEqual(
            self_time(d.start, d.end, [(s.start, s.end) for s in t.spans
                                       if s.parent == d.id]), d.seconds)

    def test_overlap_ratios(self):
        spans = [Span(1, "profile_many", 0, 10, None, 0),
                 Span(2, "profile.describe", 0, 4, 1, 0),
                 Span(3, "profile.describe", 1, 9, 1, 0),
                 Span(4, "wide_agg.task", 1, 3, 3, 0),
                 Span(5, "wide_agg.pass1", 1, 3, 4, 0),
                 Span(6, "frequency.topk", 2, 8, 3, 0),
                 Span(7, "sources.probe", 0, 1, 2, 0)]
        m = layer_metrics(spans)
        self.assertEqual(m["profile.describe_s"], 12)
        self.assertEqual(m["profile.overlap_ratio"], (2 + 6 + 1) / 12)
        self.assertEqual(m["profile_many.overlap_ratio"], 12 / 10)
        self.assertEqual(m["profile.describe_self_s"], 3 + 1)
        self.assertEqual(m["wide_agg.chunks"], 1)


class Accounting(unittest.TestCase):
    def test_failures_stay_in_the_denominator(self):
        recs = [OpRecord(0, 2, True), OpRecord(2, 3, False),
                OpRecord(3, 5, True), OpRecord(5, 9, False)]
        s = summarize(recs)
        self.assertEqual((s.attempted, s.failed), (4, 2))
        self.assertEqual(s.failed_frac, 0.5)
        self.assertEqual(s.window_s, 9)
        # failed ops count as slower than any success: half failed puts
        # the median at infinity, which reads as the whole window
        self.assertEqual(s.p50_s, 9)
        s = summarize([OpRecord(0, 1, False), OpRecord(1, 3, True),
                       OpRecord(3, 4, True)])
        self.assertEqual(s.p50_s, 2)

    def test_all_failed_reads_as_the_window(self):
        s = summarize([OpRecord(0, 1, False), OpRecord(1, 4, False)])
        self.assertEqual(s.p50_s, 4)

    def test_core_busy_ratio(self):
        self.assertEqual(core_busy_ratio(8.0, 4.0, 4), 0.5)


class _Ctx:
    def setJobGroup(self, *a):
        pass


class _Spark:
    sparkContext = _Ctx()


class _Sampler:
    def read(self):
        return Reading(0.0, 0.0, 0)


class _Workload:
    name = "stub"

    def __init__(self, expect):
        self.expect = expect

    def op(self, spark, span):
        with span("op"):
            return 41

    def check(self, out):
        return [] if out == self.expect else [f"{out} != {self.expect}"]


class WrongExpectation(unittest.TestCase):
    def _bench(self, expect):
        return run.Bench(_Spark(), _Workload(expect), _Sampler(), Tracer(), 4)

    def test_a_wrong_expectation_fails_the_op(self):
        b = self._bench(42)
        recs = [b.run_op(), b.run_op()]
        self.assertFalse(any(r.ok for r in recs))
        self.assertEqual(summarize(recs).failed, 2)
        self.assertTrue(self._bench(41).run_op().ok)

    @staticmethod
    def _profile():
        """Expectations and a matching profile of a numeric column x, a
        string column s and a column y rejected as correlated with x."""
        num = {"count": 3, "distinct": 3, "classes": {"NUM", "CORR"},
               "freq": False, "min": 1.0, "max": 3.0, "mean": 2.0,
               "quantiles": {k: (1.0, 3.0) for k in oracle.QUANTILES}}
        exp = {"n": 4, "cols": {
            "x": num, "y": dict(num),
            "s": {"count": 4, "distinct": 2, "classes": {"CAT", "UNIQUE"},
                  "freq": True, "values": {"a": 3, "b": 1},
                  "top_counts": [3, 1]}},
            "corr": {("x", "y"): 0.95, ("y", "x"): 0.95}}
        base = {"n": 4, "count": 3, "n_missing": 1, "distinct_count": 3,
                "type_class": "NUM", "min_num": 1.0, "max_num": 3.0,
                "mean": 2.0, "freq": None, "corr_with": None,
                "corr_value": None, **{k: 2.0 for k in oracle.QUANTILES}}
        rows = [dict(base, column="x"),
                dict(base, column="y", type_class="CORR", corr_with="x",
                     corr_value=0.95),
                dict(base, column="s", count=4, n_missing=0,
                     distinct_count=2, type_class="CAT", min_num=None,
                     max_num=None, mean=None,
                     freq=[{"value": "a", "cnt": 3}, {"value": "b", "cnt": 1}],
                     **{k: None for k in oracle.QUANTILES})]
        return exp, rows

    def _problems(self, exp, rows):
        return oracle.check_profile("t", rows, "<td>x</td><td>y</td><td>s</td>",
                                    exp)

    def test_profile_check_passes_a_right_profile(self):
        self.assertEqual(self._problems(*self._profile()), [])

    def test_profile_check_catches_a_wrong_mean(self):
        exp, rows = self._profile()
        exp["cols"]["x"]["mean"] = 2.5
        self.assertTrue(self._problems(exp, rows))

    def test_profile_check_catches_missing_statistics(self):
        # the program's output never decides which checks run
        for col, key, value in (("s", "freq", None), ("s", "freq", []),
                                ("x", "distinct_count", None),
                                ("x", "type_class", "CAT"),
                                ("s", "type_class", "NUM"),
                                ("x", "mean", None), ("x", "q50", None)):
            exp, rows = self._profile()
            row = next(r for r in rows if r["column"] == col)
            row[key] = value
            self.assertTrue(self._problems(exp, rows), (col, key, value))

    def test_profile_check_catches_wrong_correlation_rejection(self):
        exp, rows = self._profile()
        rows[1].update(type_class="NUM", corr_with=None, corr_value=None)
        self.assertTrue(self._problems(exp, rows))  # pair left unrejected
        exp, rows = self._profile()
        rows[1]["corr_value"] = 0.5
        self.assertTrue(self._problems(exp, rows))
        exp, rows = self._profile()
        exp["corr"] = {("x", "y"): 0.2, ("y", "x"): 0.2}
        self.assertTrue(self._problems(exp, rows))  # rejected, uncorrelated

    def test_llm_check_catches_a_missed_pair(self):
        exp = {"n_docs": 2, "tokens": 6, "n_distinct": 1,
               "same_pairs": {(0, 1)}, "knn": {}}
        out = {"features": (2, 6), "exact": 1, "pairs": [(0, 1)], "knn": []}
        self.assertEqual(oracle.check_llm(out, exp), [])
        out["pairs"] = []
        self.assertTrue(oracle.check_llm(out, exp))


class TimedOps(unittest.TestCase):
    def test_count_depends_on_seconds_only(self):
        self.assertEqual(run.timed_ops(10, False), 2)
        self.assertEqual(run.timed_ops(1, False), run.MIN_TIMED_OPS)
        self.assertEqual(run.timed_ops(11, False), 3)
        self.assertEqual(run.timed_ops(10, True), 3)
        self.assertEqual(run.timed_ops(21, True), 5)

    def test_window_runs_exactly_that_many_ops(self):
        b = run.Bench(_Spark(), _Workload(42), _Sampler(), Tracer(), 4)
        recs = b.window(3, trace=False)
        self.assertEqual(len(recs), 3)  # failed ops do not end it early
        self.assertEqual(summarize(recs).failed, 3)


class SizeBands(unittest.TestCase):
    def test_band_edges(self):
        def info(size, groups=1):
            return gen.TableInfo("t", "", 1, size, groups, {}, 1, 1)
        self.assertEqual(info(gen.MiB - 1).band(4), "tiny")
        self.assertEqual(info(gen.MiB).band(4), "standard")
        self.assertEqual(info(4 * gen.MiB).band(4), "small")
        self.assertEqual(info(4 * gen.MiB).band(1), "standard")
        self.assertEqual(info(4 * gen.MiB, groups=4).band(4), "standard")
        self.assertEqual(info(16 * gen.MiB).band(4), "standard")


class MatchesBenchmarkJson(unittest.TestCase):
    def test_emitted_names(self):
        import json
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        bench = run.Bench(_Spark(), _Workload(41), _Sampler(), Tracer(), 4)
        m = layer_metrics([])
        m.update({k: 0.0 for k in ("spark.jobs", "spark.tasks",
                                   "spark.executor_run_s",
                                   "spark.shuffle_write_bytes",
                                   "spark.failed_tasks",
                                   "spark.core_busy_ratio",
                                   "driver.python_cpu_s", "driver.jvm_cpu_s",
                                   "dedup.minhash_precision")})
        bench.layers.append(m)
        got = run.per_layer(bench, [OpRecord(0, 1, True)])
        self.assertEqual(set(got), {x["name"] for x in spec["per_layer"]})
        bench.wl.rows = 1
        _, e2e = run.end_to_end(bench.wl, 1.0, [OpRecord(0, 1, True)],
                                Reading(0, 0, 0), Reading(1, 1, 0), 0)
        self.assertEqual(set(e2e), {x["name"] for x in spec["end_to_end"]})
        self.assertLessEqual(set(got) | set(e2e), set(run.metric_units()))


if __name__ == "__main__":
    unittest.main()
