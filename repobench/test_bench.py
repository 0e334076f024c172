"""Self-tests of the benchmark's own code (no engine, no JVM).

    python3 -m unittest discover -s repobench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def span(i, parent, name, t0_s, t1_s):
    return [i, parent, name, int(t0_s * 1e9), int(t1_s * 1e9)]


class PercentileChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_value(self):
        xs = list(range(1, 101))          # 100 samples: p90, 10 beyond it
        self.assertEqual(stats.tail(xs), (90, 90))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)
        self.assertEqual(stats.tail([3, 1, 2]), (100, 3))   # too few: the maximum

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile([7], 90), 7)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "a.x", 1, 5),
                 span(2, 1, "b.y", 2, 4), span(3, 0, "c.z", 6, 9)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0][3], 10 - 4 - 3)
        self.assertAlmostEqual(st[1][3], 4 - 2)
        self.assertAlmostEqual(st[2][3], 2)
        self.assertAlmostEqual(st[3][3], 3)

    def test_layer_self_seconds(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "dedup.build", 0, 4),
                 span(2, 0, "dedup.exec", 4, 6), span(3, 0, "sql.exec", 6, 9)]
        self.assertEqual({k: round(v, 9) for k, v in stats.layer_self_seconds(spans).items()},
                         {"dedup": 6.0, "sql": 3.0})


class TraceReconciliation(unittest.TestCase):
    def test_layers_cover_ninety_percent(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "cleaning.clean", 0, 5),
                 span(2, 0, "feeds.write", 5, 9.5)]
        self.assertAlmostEqual(stats.coverage(spans), 0.95)
        self.assertGreaterEqual(stats.coverage(spans), 0.9)

    def test_gap_lowers_coverage(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "cleaning.clean", 0, 5),
                 span(2, -1, "op", 10, 20), span(3, 2, "feeds.write", 10, 20)]
        self.assertAlmostEqual(stats.coverage(spans), 0.75)
        self.assertLess(stats.coverage(spans), 0.9)

    def test_layer_self_times_sum_to_covered_wall(self):
        spans = [span(0, -1, "op", 0, 8), span(1, 0, "params.plan", 0, 3),
                 span(2, 0, "params.exec", 3, 7.5), span(3, 2, "cleanstore.serve", 3, 4)]
        covered = sum(stats.layer_self_seconds(spans).values())
        self.assertAlmostEqual(covered / 8, stats.coverage(spans))


class RecordReduction(unittest.TestCase):
    """A hand-made dashboard record: one untraced and two traced warm ops."""

    def record(self):
        spans, work = [], {}
        for k, t0 in enumerate((10.0, 20.0)):
            base = 4 * k
            spans += [span(base, -1, "op", t0, t0 + 2),
                      span(base + 1, base, "cleanstore.serve", t0, t0 + 0.1),
                      span(base + 2, base, "params.plan", t0 + 0.1, t0 + 0.3),
                      span(base + 3, base, "params.exec", t0 + 0.3, t0 + 1.9)]
            work[str(base + 3)] = [19, 19, 30, int(2e9), 0, 0, 0, 5000, 0]
        op = {"kind": "warm", "gc_ms": 0.0, "wall": [0, 0], "matching": 200}
        return {"workload": "dashboard", "cpus": "4", "setup_s": 9.0,
                "setup_staging_s": 3.0, "cold_staging_s": 0.0, "timed_rebuilds": 0, "rss_hwm_kb": 2048 * 1024,
                "ops": [dict(op, kind="cold", traced=False, ms=4000.0),
                        dict(op, kind="warmup", traced=False, ms=2500.0),
                        dict(op, traced=False, ms=1800.0), dict(op, traced=True, ms=2000.0),
                        dict(op, traced=True, ms=2000.0)],
                "spans": spans, "work": work, "progress": [], "checks": []}

    def test_end_to_end(self):
        e2e, info = metrics.end_to_end(self.record())
        self.assertEqual([k for k, _ in metrics.END_TO_END], list(e2e))
        self.assertEqual(e2e["setup_s"][0], 9.0)
        self.assertEqual(e2e["warmup_s"][0], 6.5)
        self.assertEqual(e2e["warm_op_ms"][0], 1800.0)
        self.assertEqual(info["cold_op_s"], 4.0)

    def test_per_layer(self):
        m = {k: v for k, (v, _) in metrics.per_layer(self.record()).items()}
        self.assertEqual(set(m), {k for k, _ in metrics.PER_LAYER})
        self.assertAlmostEqual(m["trace.coverage"], 0.95)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 2000 / 1800 - 1)
        self.assertAlmostEqual(m["cleanstore.serve_ms"], 100.0)
        self.assertEqual(m["params.jobs_per_interaction"], 19)
        self.assertAlmostEqual(m["params.scan_selectivity"], 200 / (5000 / 5))
        self.assertAlmostEqual(m["spark.busy_ratio"], 2.0 / (2.0 * 4))
        self.assertEqual(m["feeds.write_s"], 0.0)


class SeedHandling(unittest.TestCase):
    def test_same_seed_same_parameter_stream(self):
        self.assertEqual(stats.dashboard_params(7, 200), stats.dashboard_params(7, 200))
        self.assertNotEqual(stats.dashboard_params(7, 200), stats.dashboard_params(8, 200))

    def test_parameter_stream_is_a_prefix_stream(self):
        self.assertEqual(stats.dashboard_params(7, 50), stats.dashboard_params(7, 200)[:50])

    def test_widget_states_are_valid(self):
        for lo, hi, h0, h1, types in stats.dashboard_params(3, 500):
            days = (int(hi[8:10]) - int(lo[8:10])) if hi[5:7] == "01" else 31 - int(lo[8:10])
            self.assertTrue(1 <= days <= 27, (lo, hi))
            self.assertTrue(lo >= "2024-01-01" and hi <= "2024-01-31 00:00:00")
            self.assertTrue(0 <= h0 <= h1 <= 23)
            self.assertTrue(types and set(types) <= set(gen.EVENT_TYPES))

    def test_same_seed_same_query_order(self):
        self.assertEqual(stats.registry_order(11), stats.registry_order(11))
        self.assertNotEqual(stats.registry_order(11), stats.registry_order(12))
        self.assertEqual(sorted(stats.registry_order(11)),
                         sorted(stats.REGISTRY_BATCH + stats.REGISTRY_STREAM))

    def test_same_seed_same_corpus(self):
        small = dict(gen.SHAPE, lineitem=500, orders=200, events=300, documents=60,
                     embeddings=40, customer=50, part=60, supplier=10)
        a, b, c = gen.tables(5, small), gen.tables(5, small), gen.tables(6, small)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(all(a[t].equals(c[t]) for t in a))
        self.assertEqual({t: a[t].num_rows for t in a}, {t: c[t].num_rows for t in c})


class PlantedRows(unittest.TestCase):
    """Every cleaning rule and the clean store's null drop have rows to remove."""

    def test_each_rule_fails_its_planted_rows(self):
        small = dict(gen.SHAPE, lineitem=2000, orders=200, events=500, documents=60,
                     embeddings=40, customer=50, part=60, supplier=10)
        t = gen.tables(9, small)
        li, ev = t["lineitem"].to_pydict(), t["events"].to_pydict()
        self.assertEqual(t["lineitem"].num_rows, 2000)
        for c in ("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"):
            self.assertEqual(li[c].count(None), gen.PLANTED[c])
        self.assertEqual(li["l_discount"].count(None), gen.PLANTED["discount_null"])
        self.assertEqual(sum(1 for x in li["l_quantity"] if x is not None and x <= 0),
                         gen.PLANTED["quantity"])
        self.assertEqual(sum(1 for x in li["l_extendedprice"] if x is not None and x <= 0),
                         gen.PLANTED["price_pos"])
        self.assertEqual(sum(1 for x in li["l_discount"] if x is not None and not 0 <= x <= 1),
                         gen.PLANTED["discount"])
        for c in ("ts", "user_id", "event_type", "value"):
            self.assertEqual(ev[c].count(None), gen.PLANTED[c])


if __name__ == "__main__":
    unittest.main()
