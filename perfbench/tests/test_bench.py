"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402
from checks import HtapOracle  # noqa: E402


def same_files(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def test_htap_batches_repeat_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_htap_batches(f"{d}/a", 7, 3)
            gen.write_htap_batches(f"{d}/b", 7, 3)
            gen.write_htap_batches(f"{d}/c", 8, 3)
            self.assertTrue(same_files(f"{d}/a", f"{d}/b"))
            self.assertFalse(filecmp.cmp(f"{d}/a/batch-00000.parquet",
                                         f"{d}/c/batch-00000.parquet", shallow=False))

    def test_htap_batches_shape(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            gen.write_htap_batches(d, 3, 2)
            ids, users, errors, n = duckdb.sql(
                f"SELECT list(event_id ORDER BY event_id), count(DISTINCT user_id), "
                f"avg(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END), count(*) "
                f"FROM '{d}/*.parquet'").fetchone()
            self.assertEqual(ids, list(range(2 * gen.HTAP_BATCH_ROWS)))
            self.assertEqual(n, 2 * gen.HTAP_BATCH_ROWS)
            self.assertLess(users, gen.HTAP_KEYS)  # Zipf skew leaves keys unused
            self.assertAlmostEqual(errors, gen.HTAP_ERROR_SHARE, delta=0.02)

    def test_zipf_skew(self):
        import random
        draw = gen.zipf_sampler(100, 1.1)
        rng = random.Random(1)
        xs = [draw(rng) for _ in range(5000)]
        self.assertTrue(all(0 <= x < 100 for x in xs))
        self.assertGreater(xs.count(0), 5 * xs.count(50))

    def test_query_rounds(self):
        mix = layers.MIXES["olap_tpch"]
        a = gen.query_rounds(mix, 1, 3)
        self.assertEqual(a, gen.query_rounds(mix, 1, 3))
        self.assertNotEqual(a, gen.query_rounds(mix, 2, 3))
        self.assertEqual(len(a), 3)
        for r in a:
            self.assertEqual(sorted(r), sorted(mix))

    def test_database_is_fixed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_database(f"{d}/a")
            gen.write_database(f"{d}/b")
            self.assertTrue(same_files(f"{d}/a", f"{d}/b"))
            self.assertEqual(len(os.listdir(f"{d}/a")), 10)


class MetricsTest(unittest.TestCase):
    def test_tail_has_ten_samples_above(self):
        xs = list(range(1, 25))  # 24 samples
        value, pct, n = M.tail(reversed(xs))
        self.assertEqual((value, n), (14, 24))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 14 / 24)

    def test_tail_below_p90_is_not_reported(self):
        self.assertIn("n/a", layers.tail_line("latency_tail_s", range(20), "ops"))
        self.assertIn("20 ops", layers.tail_line("latency_tail_s", range(20), "ops"))
        self.assertIn("n/a", layers.tail_line("freshness_tail_s", range(4), "batches"))
        self.assertIn("p90.0 of 100", layers.tail_line("latency_tail_s", range(100), "ops"))
        self.assertNotIn("n/a", layers.tail_line("latency_tail_s", range(100), "ops"))

    def test_tail_with_few_samples_is_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))
        self.assertEqual(M.tail(range(11))[0], 0)

    def test_lateness(self):
        d = [{"batch": 0, "due_ms": 1000.0, "done_ms": 1000.5},
             {"batch": 1, "due_ms": 2000.0, "done_ms": 2250.0},
             {"batch": 2, "due_ms": 3000.0, "done_ms": 2999.0}]
        self.assertEqual(M.lateness(d), [0.0005, 0.25, 0.0])

    def test_freshness_uses_first_tick_that_saw_the_batch(self):
        deliveries = [{"batch": 5, "due_ms": 0.0}, {"batch": 6, "due_ms": 1000.0},
                      {"batch": 7, "due_ms": 2000.0}]
        ticks = [{"end_ms": 1500.0, "committed": 6},   # had batch 5 only
                 {"end_ms": 4000.0, "committed": 8}]  # had 6 and 7
        self.assertEqual(M.freshness(deliveries, ticks), [1.5, 3.0, 2.0])
        self.assertEqual(M.freshness(deliveries, ticks[:1]), [1.5])

    def test_self_times_cover_wall_time(self):
        spans = [
            {"id": "op", "parent": None, "start_ms": 0, "end_ms": 100},
            {"id": "build", "parent": "op", "start_ms": 0, "end_ms": 40},
            {"id": "exec", "parent": "op", "start_ms": 50, "end_ms": 100},
            {"id": "j1", "parent": "exec", "start_ms": 55, "end_ms": 80},
            {"id": "j2", "parent": "exec", "start_ms": 70, "end_ms": 90},  # overlaps j1
            {"id": "s1", "parent": "j1", "start_ms": 56, "end_ms": 120},   # runs past its job
        ]
        clipped = M.clip_to_parents(spans)
        self.assertEqual(clipped[-1]["end_ms"], 80)
        st = M.self_times(clipped)
        self.assertEqual(st, {"op": 10, "build": 40, "exec": 15, "j1": 1, "j2": 10, "s1": 24})
        self.assertEqual(sum(st.values()), 100)  # the root's wall time

    def test_self_times_of_nested_spans(self):
        spans = [{"id": 1, "parent": None, "start_ms": 0, "end_ms": 10},
                 {"id": 2, "parent": 1, "start_ms": 2, "end_ms": 6}]
        self.assertEqual(M.self_times(spans), {1: 6, 2: 4})

    def test_self_time_table_accounts_for_wall_time(self):
        trace = {
            "spans": [{"id": 1, "parent": 0, "name": "op", "op": "o1", "start_ms": 0, "end_ms": 10},
                      {"id": 2, "parent": 1, "name": "build", "op": "o1", "start_ms": 0, "end_ms": 4},
                      {"id": 3, "parent": 1, "name": "exec", "op": "o1", "start_ms": 4, "end_ms": 10}],
            "jobs": [{"job": 0, "op": "o1", "start_ms": 5, "end_ms": 9}],
            "stages": [{"stage": 0, "attempt": 0, "job": 0, "op": "o1", "start_ms": 6, "end_ms": 11}]}
        spans = layers.span_tree(trace)
        table, wall = layers.self_time_table(spans, ["o1"])
        self.assertAlmostEqual(sum(table.values()), wall)
        self.assertAlmostEqual(wall, 0.010)
        self.assertAlmostEqual(table["exec.stage"], 0.003)  # clipped to its job
        self.assertAlmostEqual(table["exec.job"], 0.001)
        self.assertAlmostEqual(table["operators.exec"], 0.002)
        self.assertAlmostEqual(table["operators.build"], 0.004)
        self.assertEqual(layers.unattributed_job_share(spans, ["o1"]), 0.0)

    def test_jobs_outside_the_op_spans_are_unattributed(self):
        trace = {
            "spans": [{"id": 1, "parent": 0, "name": "op", "op": "o1", "start_ms": 0, "end_ms": 10}],
            "jobs": [{"job": 0, "op": "o1", "start_ms": 2, "end_ms": 5},
                     {"job": 1, "op": "o1", "start_ms": 12, "end_ms": 21}],
            "stages": []}
        spans = layers.span_tree(trace)
        self.assertAlmostEqual(layers.unattributed_job_share(spans, ["o1"]), 0.75)
        table, wall = layers.self_time_table(spans, ["o1"])
        self.assertAlmostEqual(table["exec.job"], 0.003)
        self.assertAlmostEqual(wall, 0.010)


class HtapOracleTest(unittest.TestCase):
    def test_accepts_right_and_rejects_wrong_reads(self):
        with tempfile.TemporaryDirectory() as d:
            files = gen.write_htap_batches(d, 5, 2)
            o = HtapOracle(files, gen.HTAP_BATCH_ROWS)
            v = gen.HTAP_BATCH_ROWS - 1
            rows = [list(r) for r in o.snapshot(v)]
            snap = {"kind": "snapshot", "version": v, "rows": rows, "error": None}
            self.assertIsNone(o.check(snap))
            rows[0][1] = str(int(rows[0][1]) + 1)
            self.assertIsNotNone(o.check(snap))

            mv = [[g[0], g[1], c, s, u] for g, (c, s, u) in o.rollup(2).items()]
            read = {"kind": "mv", "rows": mv, "committed_at_start": 1,
                    "delivered_at_end": 2, "error": None}
            self.assertIsNone(o.check(read))
            self.assertIsNotNone(o.check(dict(read, delivered_at_end=1)))
            mv[0][3] = "0.01"
            self.assertIsNotNone(o.check(read))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        spec = json.load(open(path))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, layers.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(layers.MIXES) + ["htap_ingest"])


if __name__ == "__main__":
    unittest.main()
