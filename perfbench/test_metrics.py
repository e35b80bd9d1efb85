"""Unit tests for perfbench's metric arithmetic and compare rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 20 samples: p50 (rank 10) leaves 10 beyond; p75 (rank 15) only 5
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50, 10))

    def test_picks_highest_that_qualifies(self):
        xs = list(range(1, 201))  # p95 = rank 190 leaves 10 beyond; p99 leaves 2
        self.assertEqual(metrics.tail_percentile(xs), (95, 190))
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90, 90))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile(list(range(15))), (0, 0.0))
        self.assertEqual(metrics.tail_percentile([]), (0, 0.0))

    def test_order_independent(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))


def span(i, parent, s, e, name="x"):
    return {"id": i, "parent": parent, "op": 1, "name": name, "start_us": s, "end_us": e}


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_when_overlapping(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 80, 90)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 50 - 10)

    def test_children_clipped_to_parent(self):
        # a job that outlives the op (async end event) covers only the op's part
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 150)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_count_for_their_parent_only(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 40, 10))

    def test_leaf(self):
        self.assertEqual(metrics.self_times([span(7, 0, 5, 9)]), {7: 4})


class Compare(unittest.TestCase):
    base = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.0]

    def test_regression_beyond_bound(self):
        new = [x * 1.2 for x in self.base]
        self.assertEqual(metrics.verdict(self.base, new, 0.1, "lower")[0], "regression")
        self.assertEqual(metrics.verdict(self.base, new, 0.25, "lower")[0], "no change")

    def test_higher_is_better_direction(self):
        new = [x * 0.8 for x in self.base]
        self.assertEqual(metrics.verdict(self.base, new, 0.1, "higher")[0], "regression")
        self.assertEqual(metrics.verdict(self.base, new, 0.1, "lower")[0], "gain")

    def test_gain_needs_nine_of_ten_pairs(self):
        new = [x * 0.9 for x in self.base]
        self.assertEqual(metrics.verdict(self.base, new, 0.25, "lower")[0], "gain")
        mixed = new[:8] + [self.base[8] * 1.01, self.base[9] * 1.01]  # wins 8/10
        self.assertEqual(metrics.verdict(self.base, mixed, 0.25, "lower")[0], "no change")

    def test_gain_needs_more_than_base_spread(self):
        wide = [80.0, 90.0, 100.0, 110.0, 120.0] * 2
        new = [x - 1 for x in wide]  # wins every pair by less than the quartile distance
        self.assertEqual(metrics.verdict(wide, new, 0.5, "lower")[0], "no change")

    def test_unresolved_when_base_spread_exceeds_bound(self):
        wide = [50.0, 150.0, 80.0, 120.0, 100.0, 60.0, 140.0, 90.0, 110.0, 100.0]
        self.assertEqual(metrics.verdict(wide, wide, 0.1, "lower")[0], "unresolved")
        # ... unless every new run beats every base run
        self.assertEqual(metrics.verdict(wide, [10.0] * 10, 0.1, "lower")[0], "gain")

    def test_spread_and_quartiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(metrics.spread(xs), 5.5 / 5.5)


class Metrics(unittest.TestCase):
    def raw(self):
        op = lambda i, kind, wall, measured=True: {
            "id": i, "kind": kind, "cls": "1hop", "wall_ms": wall, "measured": measured,
            "traced": False, "ok": True, "phase": {}, "layer": {}}
        return {"setup": {"setup_s": [3.0, 1.0, 2.0]}, "window_s": 2.0,
                "extra": {"held_heap_mb": 10.0}, "spans": [],
                "ops": [op(0, "read", 999.0, measured=False), op(1, "read", 10.0),
                        op(2, "write", 30.0), op(3, "read", 20.0)]}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.raw())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["op_p50_ms"], 20.0)  # warm-up op excluded
        self.assertEqual(m["ops_per_s"], 1.5)

    def test_per_layer_reports_every_name(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(set(m), {n for n, _, _ in metrics.PER_LAYER})


if __name__ == "__main__":
    unittest.main()
