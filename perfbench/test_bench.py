"""Tests for the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import statistics
import tempfile
import unittest

import report
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_order_does_not_matter(self):
        xs = [random.Random(3).random() for _ in range(57)]
        self.assertEqual(stats.percentile(xs, 90),
                         stats.percentile(sorted(xs, reverse=True), 90))

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 0)

    def test_sample_count_rule(self):
        # p90 needs ten samples beyond it: 100 samples is the first size
        self.assertFalse(stats.supported(99, 90))
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(19, 50))
        self.assertTrue(stats.supported(20, 50))
        self.assertIsNone(stats.highest_supported(10))
        self.assertEqual(stats.highest_supported(150), 90)
        self.assertEqual(stats.highest_supported(1000), 99)

    def test_summary_carries_count(self):
        s = stats.summarize([float(x) for x in range(30)])
        self.assertEqual(s["n"], 30)
        self.assertTrue(s["p50_supported"])
        self.assertFalse(s["p90_supported"])


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips_to_parent(self):
        self.assertEqual(stats.union_length([(-5, 3), (8, 20)], 0, 10), 5)

    def test_self_time_subtracts_union_of_children(self):
        # children overlap (2..5 and 4..7) and one spills past the parent
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 7), (9, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (1, 2)]), 0)

    def test_span_tree_self_times(self):
        raw = {"requests": [{"id": 1, "query": "q", "start": 0.0,
                             "construct_end": 10.0, "plan_start": 12.0,
                             "plan_end": 15.0, "end": 40.0}],
               "jobs": [{"id": 0, "req": "1", "start": 2, "end": 6,
                         "stages": [0]},
                        {"id": 1, "req": "1", "start": 20, "end": 30,
                         "stages": [1, 2]}],
               "stages": [{"id": 0, "attempt": 0, "req": "1", "submit": 3,
                           "complete": 5},
                          {"id": 1, "attempt": 0, "req": "1", "submit": 20,
                           "complete": 25},
                          {"id": 2, "attempt": 0, "req": "1", "submit": 24,
                           "complete": 28}]}
        sp = {s["id"]: s for s in report.spans(raw)}
        self.assertEqual(sp["j0"]["parent"], "c1")
        self.assertEqual(sp["j1"]["parent"], "e1")
        self.assertEqual(sp["s1.0"]["parent"], "j1")
        selfs = report.self_times(list(sp.values()))
        self.assertEqual(selfs["c1"], 6)      # 10 minus job 2..6
        self.assertEqual(selfs["p1"], 3)
        self.assertEqual(selfs["e1"], 15)     # 15..40 minus job 20..30
        self.assertEqual(selfs["j1"], 2)      # 20..30 minus stages 20..28
        self.assertEqual(selfs["r1"], 2)      # gap 10..12 between phases


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


class NameTest(unittest.TestCase):
    def test_metric_names(self):
        for ok in ("setup_s", "exec.task_ms", "plancache.hit_ratio", "9x",
                   "a-b.c_d"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "exec task", "exec/ms", "é", "x" * 65,
                    None):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_units(self):
        for ok in ("ms", "s", "1/s", "count", "%", "MiB"):
            self.assertTrue(stats.valid_unit(ok), ok)
        self.assertFalse(stats.valid_unit("milli seconds"))

    def test_benchmark_json_matches_report(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"]:
            self.assertEqual(report.END_TO_END_UNITS[m["name"]], m["unit"])
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual({m["name"] for m in b["end_to_end"]},
                         set(report.END_TO_END_UNITS))
        for m in b["per_layer"]:
            self.assertEqual(report.PER_LAYER_UNITS[m["name"]], m["unit"])
        self.assertEqual({m["name"] for m in b["per_layer"]},
                         set(report.PER_LAYER_UNITS))
        for n in (m["unit"] for m in b["end_to_end"] + b["per_layer"]):
            self.assertTrue(stats.valid_unit(n), n)


class CheckTest(unittest.TestCase):
    EXPECTED = {"fts_bm25": {"rows": 2, "schema": "a:int", "hash": "ab"},
                "vec_knn_pq": {"rows": 2, "schema": "a:int",
                               "approximate": True},
                "graph_khop": {"rows": 5, "schema": "n:bigint", "hash": "cd"}}

    def req(self, query, rows=2, h="ab", phase="warm", error=None):
        return {"query": query, "rows": rows, "hash": h, "schema": "a:int",
                "phase": phase, "error": error}

    def test_request_checks(self):
        def check(r, workload="search-warm"):
            return report.check_request(r, self.EXPECTED, workload)
        self.assertEqual(check(self.req("fts_bm25")), "ok")
        self.assertEqual(check(self.req("fts_bm25", h="00")), "mismatch")
        self.assertEqual(check(self.req("fts_bm25", rows=3)), "mismatch")
        self.assertEqual(check(self.req("vec_knn_pq", h="00")), "ok")
        self.assertEqual(check(self.req("vec_knn_pq", rows=1)), "mismatch")
        self.assertEqual(check(self.req("fts_bm25", error="boom")), "error")
        self.assertEqual(check(self.req("nope")), "no-expected-value")
        # steady graph reads under churn have no recorded value; their cold
        # reads, before any churn, do
        khop = self.req("graph_khop", rows=9, h="ee")
        self.assertEqual(check(khop, "watch-churn"), "edges-changed")
        self.assertEqual(check(dict(khop, phase="cold"), "watch-churn"),
                         "mismatch")

    def watch(self, views, reader_view=12):
        w = {"sent": [{"batch": 0, "due": 0.0, "sent": 1.0, "offset": 0}],
             "appeared": [{"index": 0, "at": 50.0}],
             "progress": [{"batch_id": 0, "end_offset": 0}],
             "ledger": [{"batch_id": 0, "duration_ms": 40, "n_new_edges": 2,
                         "total_edges": 12, "error": None}],
             "round_views": views, "base_edges": 10, "edge_distinct": 12,
             "edge_distinct_reader_view": reader_view, "failed_reloads": 0}
        churn = {"base_edges": 10,
                 "batches": [{"new": [[1, 2], [3, 4]], "renotify": [[0, 0]]}]}
        return report.watch_summary(w, churn)

    def test_watch_exactness_and_round_views(self):
        fresh = {"round": 0, "reader_view": 12, "ledger_before": 12}
        s = self.watch([fresh])
        self.assertTrue(s["exact"]["ok"])
        self.assertEqual(s["stale_rounds"], 0)
        self.assertEqual(s["lag_ms"]["n"], 1)
        stale = dict(fresh, reader_view=10)
        self.assertEqual(self.watch([fresh, stale])["stale_rounds"], 1)
        # the reader's own session must see the final table too
        self.assertFalse(self.watch([fresh], reader_view=10)["exact"]["ok"])


class GeneratorTest(unittest.TestCase):
    QUERIES = sorted(set(workloads.SEARCH_MIX) | {"q1_agg", "dedup_exact",
                                                  "curate_d4"})

    def test_same_seed_same_inputs(self):
        for w in ("cold-sweep", "search-warm"):
            a = workloads.inputs(w, 7, self.QUERIES, None, 10)
            b = workloads.inputs(w, 7, self.QUERIES, None, 10)
            self.assertEqual(a, b, w)
            c = workloads.inputs(w, 8, self.QUERIES, None, 10)
            self.assertNotEqual(a["cold"], c["cold"], w)

    def test_search_rounds_are_permutations(self):
        inp = workloads.inputs("search-warm", 3, self.QUERIES, None, 10)
        for rnd in inp["steady"][:5]:
            self.assertEqual(sorted(rnd), sorted(workloads.SEARCH_MIX))

    def test_churn_batches(self):
        base = {(s, p) for s in range(5) for p in range(0, 40, 3)}
        a = workloads.churn_batches(11, 9, base, 10, 50)
        self.assertEqual(a, workloads.churn_batches(11, 9, base, 10, 50))
        self.assertNotEqual(a, workloads.churn_batches(12, 9, base, 10, 50))
        new = [tuple(e) for b in a for e in b["new"]]
        self.assertEqual(len(new), len(set(new)), "new edges never repeat")
        self.assertFalse(set(new) & base, "new edges are new")
        for i, b in enumerate(a):
            self.assertEqual(bool(b["new"]), i != len(a) - 1)
            earlier = base | {tuple(e) for x in a[:i] for e in x["new"]}
            for e in b["renotify"]:
                self.assertIn(tuple(e), earlier, "re-notified edges exist")
        # the last batch is sent after batches a run may never reach
        self.assertTrue({tuple(e) for e in a[-1]["renotify"]} <= base)

    def test_churn_inputs_from_corpus(self):
        import gen_corpus
        scratch = os.path.join(HERE, "..", ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            gen_corpus.write(d, 0.003, 42)
            a = workloads.inputs("watch-churn", 5, self.QUERIES, d, 6)
            self.assertEqual(a, workloads.inputs("watch-churn", 5,
                                                 self.QUERIES, d, 6))
            self.assertEqual(a["churn"]["base_edges"],
                             len(workloads.base_edges(d)))


class CorpusTest(unittest.TestCase):
    def test_corpus_is_deterministic(self):
        import gen_corpus
        a = gen_corpus.tables(0.001, 42)
        b = gen_corpus.tables(0.001, 42)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(gen_corpus.tables(0.001, 43)["lineitem"]))


if __name__ == "__main__":
    unittest.main()
