"""Tests of the benchmark's own helpers: percentiles, the compare verdicts,
the oracle comparison, the input generator and the metric catalogue.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stats import geomean, percentile, quartiles, spread  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(percentile(xs, 0), 1.0)
        self.assertEqual(percentile(xs, 100), 4.0)
        self.assertAlmostEqual(percentile(xs, 50), 2.5)
        self.assertAlmostEqual(percentile(xs, 90), 3.7)
        self.assertEqual(percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            percentile([], 50)

    def test_geomean_weighs_every_sample_alike(self):
        self.assertAlmostEqual(geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(geomean([2.0, 2.0, 2.0]), 2.0)
        # one slow query moves it by its own share, not by its size
        self.assertAlmostEqual(geomean([1.0] * 4 + [16.0]), 16 ** 0.2)
        with self.assertRaises(ValueError):
            geomean([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_spread_is_iqr_over_median(self):
        q1, q2, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0, 5.0], n=4)
        self.assertAlmostEqual(spread([1.0, 2.0, 3.0, 4.0, 5.0]), (q3 - q1) / q2)
        self.assertEqual(spread([2.0, 2.0, 2.0]), 0.0)


class CompareTest(unittest.TestCase):
    base = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.02, 9.98, 10.03, 9.97]

    def test_clear_gain_is_better(self):
        change = [x * 0.8 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 10, 10, 0.1, True), "better")

    def test_gain_needs_nine_in_ten_pair_wins(self):
        change = [x * 0.95 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 8, 10, 0.1, True), "same")
        self.assertEqual(compare.verdict(self.base, change, 9, 10, 0.1, True), "better")

    def test_regression_beyond_bound_is_worse(self):
        change = [x * 1.2 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 0, 10, 0.1, True), "worse")
        # the same numbers read as a throughput are a gain
        self.assertEqual(compare.verdict(self.base, change, 10, 10, 0.1, False), "better")

    def test_small_change_within_bound_is_same(self):
        change = [x * 1.05 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 0, 10, 0.1, True), "same")

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(self.base, noisy, 5, 10, 0.1, True), "unresolved")

    def test_wide_spread_with_complete_separation_resolves(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        far = [x + 100 for x in noisy]
        self.assertEqual(compare.verdict(noisy, far, 0, 10, 0.1, True), "worse")
        self.assertEqual(compare.verdict(far, noisy, 10, 10, 0.1, True), "better")

    def test_pairs_are_matched_by_seed(self):
        b = [{"seed": s, "m": {"x": v}} for s, v in ((1, 10.0), (2, 20.0), (3, 30.0))]
        c = [{"seed": s, "m": {"x": v}} for s, v in ((2, 19.0), (3, 31.0), (4, 1.0))]
        self.assertEqual(compare.pair_wins(b, c, "x", "m", True), (1, 2))
        self.assertEqual(compare.pair_wins(b, c, "x", "m", False), (1, 2))

    def test_load_groups_records_by_workload_and_trace(self):
        with tempfile.TemporaryDirectory() as d:
            for i, (w, t) in enumerate([("a", 0), ("a", 0), ("a", 1), ("b", 0)]):
                with open(os.path.join(d, f"{i}.json"), "w") as f:
                    json.dump({"workload": w, "trace": t, "seed": i}, f)
            runs = compare.load(d)
        self.assertEqual({k: len(v) for k, v in runs.items()},
                         {("a", 0): 2, ("a", 1): 1, ("b", 0): 1})


class CheckTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        b = pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
        self.assertIsNone(check.compare(a, b))

    def test_floats_compare_bit_exact(self):
        a = pd.DataFrame({"v": [0.0]})
        self.assertIn("value", check.compare(a, pd.DataFrame({"v": [-0.0]})))
        self.assertIn("value", check.compare(a, pd.DataFrame({"v": [1e-300]})))

    def test_int_against_float_column_is_a_mismatch(self):
        a = pd.DataFrame({"v": [3]})
        self.assertIn("dtype", check.compare(a, pd.DataFrame({"v": [3.0]})))

    def test_row_count_and_schema_mismatch(self):
        a = pd.DataFrame({"v": [1, 2]})
        self.assertIn("rows", check.compare(a, pd.DataFrame({"v": [1]})))
        self.assertIn("schema", check.compare(a, pd.DataFrame({"w": [1, 2]})))

    def test_nulls_match_nulls(self):
        a = pd.DataFrame({"s": ["x", None], "v": [1.0, float("nan")]})
        self.assertIsNone(check.compare(a, a.copy()))


class GenTest(unittest.TestCase):
    def tables(self, seed, sf=0.001):
        return dict(gen.tables(seed, sf))

    def test_same_seed_same_inputs(self):
        a, b = self.tables(7), self.tables(7)
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_seed_changes_values_not_domains(self):
        a, b = self.tables(7), self.tables(8)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        for t in (a, b):
            ev = t["events"].to_pandas()
            self.assertEqual(sorted(ev.event_type.unique()), gen.EVENT_TYPES)
            self.assertGreaterEqual(ev.value.min(), 0.01)
            self.assertTrue(ev.ts.is_monotonic_increasing)

    def test_every_table_at_its_size(self):
        t = self.tables(1, 0.01)
        self.assertEqual(sorted(t), sorted(gen.TABLES))
        z = gen.sizes(0.01)
        self.assertEqual(t["lineitem"].num_rows, 60_000)
        self.assertEqual(t["events"].num_rows, z["events"])
        self.assertEqual(t["documents"].num_rows, 500)

    def test_documents_hold_near_duplicates(self):
        docs = self.tables(3, 0.01)["documents"].to_pandas()
        dups = docs[docs.text.str.endswith(" dup")]
        self.assertGreaterEqual(len(dups), len(docs) // 25)
        self.assertTrue((docs.n_chars == docs.text.str.len()).all())

    def test_embeddings_are_unit_vectors(self):
        import numpy as np
        e = self.tables(3)["embeddings"].to_pandas()
        norms = np.linalg.norm(np.stack(e.embedding.values), axis=1)
        self.assertTrue(np.allclose(norms, 1.0, atol=1e-5))


class EndToEndTest(unittest.TestCase):
    def record(self, probe_s):
        walls = [1.0, 4.0, 2.0]
        return {"setup_s": 9.0, "peak_rss_mb": 100.0, "passes": 1,
                "probe_s": [probe_s] * 3,
                "queries": [{"wall_s": w, "error": ""} for w in walls]}

    def test_ref_metrics_scale_with_the_probe(self):
        at_ref = run.end_to_end(self.record(run.PROBE_REF_S), 700)
        self.assertAlmostEqual(at_ref["query_geomean_s_ref"], 2.0)
        self.assertAlmostEqual(at_ref["queries_per_s_ref"], 3 / 7)
        self.assertAlmostEqual(at_ref["rows_per_s_ref"], 100.0)
        # a host at half speed doubles every wall and the probe alike
        slow = self.record(2 * run.PROBE_REF_S)
        for q in slow["queries"]:
            q["wall_s"] *= 2
        half = run.end_to_end(slow, 700)
        for k in ("query_geomean_s_ref", "queries_per_s_ref", "rows_per_s_ref"):
            self.assertAlmostEqual(half[k], at_ref[k])
        self.assertAlmostEqual(half["query_geomean_s"], 4.0)
        self.assertEqual(half["setup_s"], 9.0)


class CatalogueTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def test_benchmark_json_matches_run(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
