"""Tests of the benchmark's own logic. Run: python3 -m unittest discover -s perfbench/tests"""
import datetime
import decimal
import random
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from pbench import canon, plan, stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 400, 7):
            values = list(range(1, n + 1))
            p, v = stats.tail_percentile(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                higher = stats.nearest_rank(values, p + 1)
                self.assertLess(sum(1 for x in values if x > higher), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (75, 30))

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile([3, 1, 2, 5, 4]), (50, 3))

    def test_order_does_not_matter(self):
        values = [random.Random(7).random() for _ in range(57)]
        self.assertEqual(stats.tail_percentile(values), stats.tail_percentile(sorted(values)))


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, name, a, b):
        return {"id": id_, "parent": parent, "name": name, "start_us": a, "end_us": b}

    def test_nested_spans(self):
        spans = [
            self.span(1, 0, "pipeline.interval", 0, 100),
            self.span(2, 1, "streaming.a", 10, 40),
            self.span(3, 1, "streaming.b", 30, 60),   # overlaps its sibling
            self.span(4, 1, "pipeline.retry", 70, 90),
            self.span(5, 4, "shardwriter.replay", 75, 85),
        ]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 50 - 20)       # children cover 10..60 and 70..90
        self.assertEqual(own[2], 30)
        self.assertEqual(own[4], 10)
        self.assertEqual(own[5], 10)
        mods = stats.module_self_seconds(spans)
        self.assertAlmostEqual(mods["pipeline"], (30 + 10) / 1e6)
        self.assertAlmostEqual(mods["streaming"], 60 / 1e6)
        self.assertAlmostEqual(mods["shardwriter"], 10 / 1e6)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, "a", 10, 20), self.span(2, 1, "b", 0, 15)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_covered(self):
        self.assertEqual(stats.covered((0, 10), []), 0)
        self.assertEqual(stats.covered((0, 10), [(2, 4), (3, 6), (8, 20)]), 6)


class WinFraction(unittest.TestCase):
    def test_ties_count_for_neither(self):
        parent = [10, 10, 10, 10]
        change = [9, 10, 11, 8]
        self.assertEqual(stats.win_fractions(parent, change, "lower"), (0.25, 0.5))
        self.assertEqual(stats.win_fractions(parent, change, "higher"), (0.5, 0.25))

    def test_gain_needs_nine_tenths_and_a_gap_beyond_the_spread(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        faster = [v - 1.0 for v in parent]
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.2), "gain")
        # wins 9 of 10 but by less than the parent's own spread
        barely = [v - 0.01 for v in parent[:9]] + [parent[9] + 0.01]
        self.assertEqual(stats.verdict(parent, barely, "lower", 0.2), "no change")

    def test_regression_and_unresolved(self):
        parent = [10.0] * 5 + [10.1] * 5
        self.assertEqual(stats.verdict(parent, [13.0] * 10, "lower", 0.2), "regression")
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        self.assertEqual(stats.verdict(parent, noisy, "lower", 0.2), "unresolved")

    def test_spread_matches_statistics_quantiles(self):
        v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / q2)


class Canonicalisation(unittest.TestCase):
    def test_numbers_compare_by_value_across_types(self):
        self.assertEqual(canon.cell(5), canon.cell(5.0))
        self.assertEqual(canon.cell(5), canon.cell(decimal.Decimal("5.000")))
        self.assertEqual(canon.cell(1.5), canon.cell(decimal.Decimal("1.50")))
        self.assertEqual(canon.cell(0.0), canon.cell(-0.0))
        self.assertNotEqual(canon.cell(0.1), canon.cell(decimal.Decimal("0.1")))  # as Python ==
        self.assertNotEqual(canon.cell(1), canon.cell(True))
        self.assertEqual(canon.cell(float("nan")), canon.cell(float("nan")))

    def test_types_stay_apart(self):
        self.assertNotEqual(canon.cell("1"), canon.cell(1))
        self.assertNotEqual(canon.cell(None), canon.cell("N"))
        self.assertNotEqual(canon.cell(datetime.date(2024, 1, 1)), canon.cell(datetime.datetime(2024, 1, 1)))
        naive = datetime.datetime(2024, 1, 1)
        aware = naive.replace(tzinfo=datetime.timezone.utc)
        self.assertNotEqual(canon.cell(naive), canon.cell(aware))

    def test_non_scalar_cells_are_refused(self):
        with self.assertRaises(canon.NonScalarCell):
            canon.cell([1, 2])

    def test_digest_sorts_columns_and_keeps_row_order(self):
        import pyarrow as pa
        a = pa.table({"x": [1, 2], "y": ["a", "b"]})
        b = pa.table({"y": ["a", "b"], "x": [1.0, 2.0]})
        c = pa.table({"x": [2, 1], "y": ["b", "a"]})
        self.assertEqual(canon.table_digest(a), canon.table_digest(b))
        self.assertNotEqual(canon.table_digest(a)[1], canon.table_digest(c)[1])
        self.assertEqual(canon.table_digest(a)[0], 2)


class Plans(unittest.TestCase):
    CATALOG = [{"name": q, "oracle": None if q == "q50_approx_distinct" else "SELECT 1",
                "twins": ["q82_hll_sketch"] if q == "q50_approx_distinct" else []}
               for q in sorted({q for spec in plan.WORKLOADS.values() for q in spec.get("ops", [])}
                               | {"q50_approx_distinct", "q82_hll_sketch"})]

    def test_same_seed_same_plan(self):
        for w in plan.WORKLOADS:
            self.assertEqual(plan.make(w, 7, 18, 0, self.CATALOG), plan.make(w, 7, 18, 0, self.CATALOG))

    def test_seed_orders_the_fixed_query_set_per_pass(self):
        p = plan.make("llm_shared_views", 5, 18, 0, self.CATALOG)
        orders = [p[f"ops.{i}"] for i in range(p["passes"] + 1)]
        orders += [plan.make("llm_shared_views", s, 18, 0, self.CATALOG)["ops.1"] for s in range(20)]
        self.assertGreater(len(set(orders)), 1)
        spec = plan.WORKLOADS["llm_shared_views"]
        for o in orders:
            lead, *queries = o.split(",")
            self.assertEqual(lead, spec["lead"])
            self.assertEqual(sorted(queries), sorted(spec["ops"]))

    def test_oracle_less_ops_are_checked_by_their_twins(self):
        self.assertEqual(plan.checked(["q50_approx_distinct", "q55_dedup_clusters"], self.CATALOG),
                         ["q50_approx_distinct", "q55_dedup_clusters", "q82_hll_sketch"])

    def test_dag_plan_draws_consecutive_days_and_their_inputs(self):
        spec = plan.WORKLOADS["dag_daily"]
        p = plan.make("dag_daily", 3, 18, 0, self.CATALOG)
        days = [datetime.date.fromisoformat(d) for d in p["days"].split(",")]
        self.assertEqual(len(days), spec["days"])
        self.assertEqual([(b - a).days for a, b in zip(days, days[1:])], [1] * (len(days) - 1))
        for key in ("land_events_ms", "land_docs_ms", "fail_first", "splits"):
            self.assertEqual(len(p[key].split(",")), spec["days"])
        self.assertTrue(all(100 <= int(d) < 200 for d in p["land_events_ms"].split(",")))
        self.assertTrue(all(0.3 <= float(f) <= 0.7 for f in p["splits"].split(",")))
        self.assertGreaterEqual(p["passes"], spec["min_passes"])
        self.assertEqual(plan.make("dag_daily", 3, 18, 1, self.CATALOG)["passes"], 2)


if __name__ == "__main__":
    unittest.main()
