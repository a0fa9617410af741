"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(9999), 99.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.median(xs), 2.5)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class AccountingTest(unittest.TestCase):
    def test_ops_and_checks(self):
        a = stats.Accounting()
        a.ops([True, True, False])
        a.check(True)
        a.check(False, "wrong total")
        a.checks(3, 1, ["read-back"])
        self.assertEqual((a.attempted, a.failed), (8, 3))
        self.assertAlmostEqual(a.fail_frac, 3 / 8)
        self.assertFalse(a.correct)
        self.assertEqual(a.reasons, ["wrong total", "read-back"])

    def test_clean_run_is_correct(self):
        a = stats.Accounting()
        a.ops([True] * 5)
        self.assertTrue(a.correct)
        self.assertEqual(a.fail_frac, 0.0)

    def test_nothing_attempted_is_not_correct(self):
        a = stats.Accounting()
        self.assertFalse(a.correct)
        self.assertEqual(a.fail_frac, 1.0)


class MetricNameTest(unittest.TestCase):
    def test_validity(self):
        self.assertTrue(stats.valid_metric("lat_p50_ms", "ms"))
        self.assertTrue(stats.valid_metric("spark.jobs_per_op", "count"))
        self.assertTrue(stats.valid_metric("ops_per_s", "1/s"))
        self.assertFalse(stats.valid_metric("_lat", "ms"))
        self.assertFalse(stats.valid_metric("lat ms", "ms"))
        self.assertFalse(stats.valid_metric("x" * 65, "ms"))
        self.assertFalse(stats.valid_metric("lat", "m s"))
        self.assertFalse(stats.valid_metric("lat", "u" * 17))

    def test_benchmark_json_matches_the_driver(self):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
        layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        names = [n for n, _, _ in e2e + layer] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n, u, b in e2e + layer:
            self.assertTrue(stats.valid_metric(n, u), n)
            self.assertIn(b, ("lower", "higher"))
        self.assertIn(("setup_s", "s", "lower"), e2e)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


class ResultLineTest(unittest.TestCase):
    def test_shape(self):
        line = stats.result_line(True, 12, 0, {"lat_p50_ms": (1.25, "ms"), "setup_s": (3, "s")})
        r = json.loads(line)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(r["correct"], True)
        self.assertEqual((r["attempted"], r["failed"]), (12, 0))
        self.assertEqual(r["metrics"]["lat_p50_ms"], {"value": 1.25, "unit": "ms"})
        self.assertEqual(r["metrics"]["setup_s"], {"value": 3.0, "unit": "s"})

    def test_rejects_bad_values(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x": (math.nan, "ms")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {"x": (1.0, "ms")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"bad name": (1.0, "ms")})


class CompareTest(unittest.TestCase):
    def test_tolerance_and_nulls(self):
        want = [{"a": 1, "b": 0.1 + 0.2, "c": None}, {"a": 2, "b": 5.0, "c": "x"}]
        got = [{"a": 2, "b": 5.0, "c": "x"}, {"a": 1, "b": 0.3}]
        self.assertIsNone(checks.same_rows(want, got))
        self.assertIsNotNone(checks.same_rows(want, got, ordered=True))
        self.assertIn("column b", checks.same_rows(want, [{"a": 1, "b": 0.4}, got[0]]))
        self.assertIn("row count", checks.same_rows(want, got[:1]))

    def test_timestamps_compare_across_encodings(self):
        ts = dt.datetime(2024, 1, 1, 0, 0, 11, 172000)
        self.assertTrue(checks.same(ts, "2024-01-01T00:00:11.172Z"))
        self.assertTrue(checks.same(ts, "2024-01-01 00:00:11.172"))
        self.assertFalse(checks.same(ts, "2024-01-01T00:00:12.172Z"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        self.assertEqual(gen.finops_ops(7, 2), gen.finops_ops(7, 2))
        self.assertNotEqual(gen.finops_ops(7, 2), gen.finops_ops(8, 2))

    def test_batch_pass_has_every_family_and_index_op(self):
        ops = gen.BATCH_PASS
        self.assertEqual(len(ops), len(set(ops)))
        self.assertEqual(sorted(o for o in ops if o.startswith("index:")),
                         ["index:append", "index:dedup", "index:knn", "index:stats",
                          "index:vector"])

    def test_finops_block_is_uniform_over_the_routes(self):
        warm, ops = gen.finops_ops(1, 2)
        routes = [p for p in gen.FINOPS_BLOCK if p != "sql"]
        self.assertEqual(len(routes), len(set(routes)))
        for block in (ops[:20], ops[20:]):
            paths = [o["path"].removeprefix(gen.FINOPS_PREFIX) for o in block]
            self.assertEqual([p for p in paths if p != "sql/query"], routes)
            self.assertGreater(len(routes), len(block) - len(routes))
        self.assertEqual(len(ops), 2 * len(gen.FINOPS_BLOCK))
        self.assertEqual([o["path"] for o in ops], [o["path"] for o in gen.finops_ops(2, 2)[1]])

    def test_no_adhoc_sql_repeats_or_was_warmed_up(self):
        warm, ops = gen.finops_ops(3, 3)
        warm_sql = [o["sql"] for o in warm if o["cls"] == "adhoc"]
        sqls = [o["sql"] for o in ops if o["cls"] == "adhoc"]
        self.assertEqual(len(warm_sql), gen.ADHOC_SHAPES)
        self.assertEqual(len(sqls), len(set(sqls)))
        self.assertFalse(set(warm_sql) & set(sqls))
        self.assertEqual(len({o["id"] for o in warm + ops}), len(warm) + len(ops))
        warm_routes = {o["path"] for o in warm if o["cls"] == "route"}
        self.assertEqual(warm_routes, {o["path"] for o in ops if o["cls"] == "route"})

    def test_cur_covers_every_branch(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(gen.write_cur(d, 5, 3000), 83)
            missing = gen.cur_coverage(checks.connect(), f"{d}/*/*.parquet")
            self.assertEqual(missing, ([], []))


if __name__ == "__main__":
    unittest.main()
