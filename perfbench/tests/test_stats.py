"""Tests of the benchmark's own arithmetic and correctness accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


ANSWER = pd.DataFrame({"stage": ["0_ingest", "1_quality"],
                       "n_docs": [10, 7], "n_tokens": [100, 60]})


class MedianAndPercentile(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_no_tail_below_twenty_samples(self):
        # the median needs ten samples above it
        self.assertIsNone(stats.tail_percentile(range(19)))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        p, value, beyond = stats.tail_percentile(xs)
        self.assertEqual((p, value, beyond), (90.0, 90, 10))
        p, value, beyond = stats.tail_percentile(list(range(1, 1001)))
        self.assertEqual((p, value, beyond), (99.0, 990, 10))

    def test_tail_is_order_free(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.tail_percentile(xs),
                         stats.tail_percentile(sorted(xs)))


class IntervalsAndSelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(stats.union_length([(20, 30), (0, 10), (2, 3)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (10, 12)]), 12)
        # an unfinished (end < start) interval counts nothing
        self.assertEqual(stats.union_length([(5, -1), (0, 1)]), 1)

    def test_self_time_subtracts_the_union_of_children(self):
        # two overlapping jobs inside a 100 ms call: busy 0-40 and 60-70
        self.assertEqual(stats.self_time((0, 100), [(0, 30), (10, 40), (60, 70)]), 50)

    def test_self_time_clips_children_to_the_span(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 40)]), 3)

    def test_gap_between_jobs_of_a_traced_pass(self):
        record = {
            "spans": [
                {"id": 1, "parent": 0, "kind": "pass", "name": "1",
                 "start_ms": 0.0, "end_ms": 100.0},
                {"id": 2, "parent": 1, "kind": "query", "name": "q1_pricing_summary",
                 "start_ms": 5.0, "end_ms": 60.0},
                {"id": 3, "parent": 1, "kind": "query", "name": "q2_min_cost_supplier",
                 "start_ms": 60.0, "end_ms": 95.0}],
            "jobs": [
                {"span": 2, "start_ms": 10, "end_ms": 30, "site": "collect at Sink.scala:16",
                 "run_ms": 80, "cpu_ns": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "spill": 0, "stages": []},
                {"span": 2, "start_ms": 20, "end_ms": 50, "site": "x at Ckpt.scala:34",
                 "run_ms": 40, "cpu_ns": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "spill": 0, "stages": []},
                {"span": 3, "start_ms": 70, "end_ms": 80,
                 "site": "$anonfun$run at CompletableFuture.java:1768",
                 "run_ms": 0, "cpu_ns": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "spill": 0, "stages": []}],
            "sql": []}
        m, _ = stats.pass_layers(record, record["spans"][0])
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual(m["spark.jobs_small"], 3)
        # jobs busy 10-50 and 70-80: 50 ms of the 100 ms pass
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.050)
        self.assertAlmostEqual(m["spark.parallelism"], 120 / 50)
        self.assertAlmostEqual(m["self.pass_s"], 0.010)  # 0-5 and 95-100
        self.assertAlmostEqual(m["self.calls_s"], 0.040)  # (55-40) + (35-10)
        self.assertAlmostEqual(m["tpch.q1_pricing_summary_s"], 0.055)
        self.assertEqual((m["ckpt.cuts"], m["site.Sink.jobs"], m["site.async.jobs"]),
                         (1, 1, 1))


class LayerMetrics(unittest.TestCase):
    def test_overhead_dag_speedup_and_timed_passes(self):
        def p(i, role, traced, wall):
            return {"index": i, "role": role, "traced": traced, "wall_s": wall,
                    "gc_s": 0.1, "blocks_mb": 0.0, "facts": {"warehouse_mb": 5.0}}
        def span(i, parent, kind, name, start, end):
            return {"id": i, "parent": parent, "kind": kind, "name": name,
                    "start_ms": start, "end_ms": end}
        record = {
            "passes": [p(0, "timed", True, 9.0), p(1, "overhead", True, 2.3),
                       p(2, "overhead", False, 2.0), p(3, "overhead", True, 2.1)],
            "spans": [span(1, 0, "pass", "0", 0, 9000),
                      span(2, 1, "catalog", "run", 0, 8000),
                      span(3, 0, "pass", "1", 10000, 12200),
                      span(4, 3, "catalog", "run", 10000, 12000),
                      span(5, 0, "layer", "layer", 20000, 23000),
                      span(6, 5, "node", "olist_orders_dataset", 20000, 21000),
                      span(7, 5, "node", "fct_orders", 21000, 23000)],
            "jobs": [], "sql": []}
        m = stats.layer_metrics(record)
        self.assertEqual(set(m), {n for n, _ in stats.LAYER_METRICS})
        self.assertAlmostEqual(m["trace.overhead"]["value"], 2.2 / 2.0)
        # 3 s of nodes over the warm traced pass's 2 s Catalog.run
        self.assertAlmostEqual(m["olist.dag_speedup"]["value"], 1.5)
        self.assertAlmostEqual(m["olist.node.fct_orders_s"]["value"], 2.0)
        self.assertEqual(m["olist.node.stg_items_s"]["value"], 0.0)
        self.assertAlmostEqual(m["self.pass_s"]["value"], 1.0)  # timed pass only
        self.assertEqual(m["olist.warehouse_mb"]["unit"], "MB")


class ErrorRate(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(stats.error_rate(4, 0), 0.0)
        self.assertEqual(stats.error_rate(4, 1), 0.25)

    def _verify_corpus(self, expected_rows, digests=("d", "d")):
        """run.verify on a corpus record whose kept answer is ANSWER and
        whose recorded DuckDB answer has `expected_rows`.
        """
        inputs = {"docs": 3, "generator_seed": 42}
        with tempfile.TemporaryDirectory() as tmp:
            answers = os.path.join(tmp, "answers")
            for name in ("llm_pipeline_e2e", "llm_pipeline_incremental"):
                os.makedirs(os.path.join(answers, name))
                ANSWER.to_parquet(os.path.join(answers, name, "part-0.parquet"))
            with open(os.path.join(tmp, "corpus_funnel.json"), "w") as f:
                json.dump({"inputs": inputs, "answers": {
                    name: {"columns": list(ANSWER.columns), "rows": expected_rows}
                    for name in ("llm_pipeline_e2e", "llm_pipeline_incremental")}}, f)
            rec = {"answers": answers, "kept_pass": 1,
                   "passes": [{"index": i, "ok": True, "digest": d,
                               "error": None, "facts": {}}
                              for i, d in enumerate(digests)]}
            with mock.patch.object(oracle, "EXPECTED_DIR", tmp):
                return run.verify("corpus_funnel", rec,
                                  {"corpus_funnel": inputs}, None, tmp)

    def test_right_expected_answer_passes(self):
        failed, problems = self._verify_corpus(ANSWER.values.tolist())
        self.assertEqual((failed, problems), (0, []))

    def test_wrong_expected_answer_fails_every_pass(self):
        """A deliberately wrong expected answer must give error_rate > 0."""
        wrong = [["0_ingest", 10, 100], ["1_quality", 8, 60]]
        failed, problems = self._verify_corpus(wrong)
        self.assertEqual(failed, 2)
        self.assertGreater(stats.error_rate(2, failed), 0)
        self.assertTrue(any("values differ" in p for p in problems))

    def test_fct_orders_replay_catches_a_changed_row(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp, table = os.path.join(tmp, "in"), os.path.join(tmp, "fct")
            gen.olist_csvs(inp, 5, 500)
            os.makedirs(table)
            con = duckdb.connect()
            fct = oracle.FCT_ORDERS_SQL.format(d=inp)
            con.execute(f"COPY ({fct}) TO '{table}/a.parquet' (FORMAT parquet)")
            self.assertEqual(oracle.check_fct_orders(inp, table, tmp), (500, ""))
            con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN order_id = (SELECT
                min(order_id) FROM '{table}/a.parquet') THEN 'lost' ELSE
                order_status END AS order_status) FROM '{table}/a.parquet')
                TO '{tmp}/b.parquet' (FORMAT parquet)""")
            os.replace(os.path.join(tmp, "b.parquet"), os.path.join(table, "a.parquet"))
            rows, why = oracle.check_fct_orders(inp, table, tmp)
            self.assertEqual(rows, 500)
            self.assertIn("1 not in the replay, 1 missing", why)

    def test_pass_that_disagrees_with_the_checked_one_fails(self):
        failed, problems = self._verify_corpus(ANSWER.values.tolist(),
                                               digests=("other", "d"))
        self.assertEqual(failed, 1)
        self.assertEqual(stats.error_rate(2, failed), 0.5)
        self.assertTrue(any("differs from the checked one" in p for p in problems))


if __name__ == "__main__":
    unittest.main()
