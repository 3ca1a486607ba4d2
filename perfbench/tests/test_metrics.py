"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics as M  # noqa: E402
import run  # noqa: E402


def span(i, name, parent, start, end, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start_us": start, "end_us": end}


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(M.tail(list(range(10))))

    def test_eleven_samples_keep_ten_beyond(self):
        v, pct, n = M.tail(list(range(11, 0, -1)))
        self.assertEqual(v, 1)
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_hundred_samples_is_p90(self):
        xs = list(range(1, 101))
        v, pct, _ = M.tail(xs)
        self.assertEqual((v, pct), (90, 90.0))
        self.assertEqual(sum(x > v for x in xs), M.MIN_BEYOND)

    def test_always_exactly_ten_beyond(self):
        for n in range(11, 60):
            xs = [x * 1.5 for x in range(n)]
            v, _, _ = M.tail(xs)
            self.assertEqual(sum(x > v for x in xs), 10)


class FailRatioTest(unittest.TestCase):
    def test_base_is_attempted_including_thrown(self):
        self.assertEqual(M.fail_ratio(20, 5), 0.25)
        self.assertEqual(M.fail_ratio(1, 0), 0.0)

    def test_rejects_bad_counts(self):
        with self.assertRaises(ValueError):
            M.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            M.fail_ratio(3, 4)


class QuantileTest(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)

    def test_quantile_ends(self):
        self.assertEqual(M.quantile([5, 1, 9], 0.0), 1)
        self.assertEqual(M.quantile([5, 1, 9], 1.0), 9)


class UnionTest(unittest.TestCase):
    def test_cases(self):
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(M.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(M.union_length([(0, 30), (5, 10), (12, 20)]), 30)
        self.assertEqual(M.union_length([(0, 10), (10, 20)]), 20)
        self.assertEqual(M.union_length([(5, 5), (7, 3)]), 0)

    def test_clip(self):
        self.assertEqual(M.clip([(0, 10), (15, 30), (40, 50)], 5, 20), [(5, 10), (15, 20)])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_uses_union_of_children(self):
        spans = [span(1, "op", -1, 0, 100), span(2, "a", 1, 10, 40),
                 span(3, "b", 1, 30, 60), span(4, "c", 2, 15, 20)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_children_are_clipped_to_parent(self):
        st = M.self_times([span(1, "op", -1, 0, 100), span(2, "a", 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_breakdown_sums_to_wall(self):
        op = span(1, "op", -1, 0, 1000)
        spans = [op, span(2, "etl.pipeline", 1, 100, 800),
                 span(3, "etl.bronze", 2, 150, 300), span(4, "etl.silver.cust", 2, 320, 500),
                 span(5, "etl.reports", 1, 810, 990), span(9, "other", -1, 0, 5, op=7)]
        b = M.op_breakdown(op, spans)
        self.assertEqual(b["wall_us"], 1000)
        self.assertEqual(b["layers_us"], {"etl.pipeline": 700 - 330, "etl.bronze": 150,
                                          "etl.silver.cust": 180, "etl.reports": 180})
        self.assertEqual(b["unattributed_us"], 1000 - 700 - 180)
        self.assertEqual(b["residual_us"], 0)
        self.assertEqual(b["unattributed_us"] + sum(b["layers_us"].values()), b["wall_us"])


class AttributionTest(unittest.TestCase):
    def job(self, span_id, start_ms, end_ms, **kw):
        j = {k: 0 for k in M.SPARK_SUMS}
        j.update(span=span_id, start_ms=start_ms, end_ms=end_ms, desc=kw.get("desc", ""))
        j.update(kw)
        return j

    def test_jobs_map_by_span_then_time(self):
        ops = [{"op": 0, "start_us": 0, "end_us": 1_000_000},
               {"op": 1, "start_us": 1_000_000, "end_us": 2_000_000}]
        spans = [span(1, "op", -1, 0, 1_000_000, op=0), span(2, "op", -1, 1_000_000, 2_000_000, op=1)]
        jobs = [self.job(1, 100, 200), self.job(-1, 1500, 1600), self.job(-1, 5000, 5100)]
        events = [{"kind": "sql", "start_ms": 150, "end_ms": 150}]
        per = M.attribute(ops, spans, jobs, events)
        self.assertEqual(len(per[0]["jobs"]), 1)
        self.assertEqual(len(per[1]["jobs"]), 1)
        self.assertEqual(len(per[0]["events"]), 1)

    def test_driver_gap_is_wall_minus_job_union(self):
        op = {"op": 0, "start_us": 0, "end_us": 1_000_000}
        rec = {"jobs": [self.job(1, 100, 300, task_run_ms=50, desc="curation: gates"),
                        self.job(1, 200, 400)],
               "events": [{"kind": "codegen", "start_ms": 10, "end_ms": 10, "ms": 7.5},
                          {"kind": "analysis", "start_ms": 5, "end_ms": 9}]}
        m = M.spark_layer(op, rec)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.driver_gap_ms"], 1000 - 300)
        self.assertEqual(m["codegen.compile_ms"], 7.5)
        self.assertEqual(m["catalyst.analysis_ms"], 4)
        self.assertEqual(m["textops.curation_gates.task_ms"], 50)
        self.assertEqual(m["textops.curation_gates.jobs"], 1)


class TimedOpsTest(unittest.TestCase):
    def test_whole_groups_fixed_by_the_arguments(self):
        pool = len(run.gen.QUERY_POOL)
        self.assertEqual(run.timed_ops("star_queries", 1), pool)
        self.assertEqual(run.timed_ops("star_queries", 8), pool)
        self.assertEqual(run.timed_ops("star_queries", 16), 2 * pool)
        self.assertEqual(run.timed_ops("etl_incremental", 8), 1)
        self.assertEqual(run.timed_ops("etl_incremental", 30), 2)


class NamesTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_sanitize(self):
        self.assertEqual(M.sanitize("nd-probe: batch sketch"), "nd-probe_batch_sketch")
        self.assertEqual(M.sanitize("curation: gates"), "curation_gates")
        self.assertEqual(M.sanitize("nd-ingest: survivor rows + index append"),
                         "nd-ingest_survivor_rows_index_append")

    def test_metric_names_valid_and_unique(self):
        names = [n for n, _ in M.PER_LAYER + M.textops_layer() + run.END_TO_END]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)

    def test_benchmark_json_matches_the_harness(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], M.PER_LAYER)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
