"""Tests of the benchmark's arithmetic. Run: python3 perfbench/test_stats.py"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import stats  # noqa: E402


def op(dur, ok=True, start=0.0):
    return {"start": start, "end": start + dur, "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(1, 100)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile(list(range(1, 201)), 0.9), 180)
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)

    def test_highest_percentile(self):
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertIsNone(stats.highest_percentile(10))


class Geomean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 2.0, 2.0]), 2.0)

    def test_light_values_are_not_hidden_by_a_heavy_one(self):
        self.assertLess(stats.geomean([0.1] * 19 + [6.0]), stats.statistics.mean([0.1] * 19 + [6.0]))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class FailuresAreMisses(unittest.TestCase):
    def test_failed_op_is_infinite_latency(self):
        self.assertEqual(stats.latencies([op(1.0), op(0.5, ok=False)]), [1.0, math.inf])

    def test_failures_move_the_median(self):
        self.assertEqual(stats.median(stats.latencies([op(1.0), op(1.0), op(2.0, ok=False)])), 1.0)
        self.assertEqual(stats.median(stats.latencies([op(1.0), op(2.0, ok=False), op(2.0, ok=False)])),
                         math.inf)

    def test_failures_land_in_the_tail(self):
        lat = stats.latencies([op(1.0)] * 95 + [op(0.1, ok=False)] * 15)
        self.assertEqual(stats.percentile(lat, 0.9), math.inf)


class RoundsAndMix(unittest.TestCase):
    def rec(self, *ops):
        return {"op_timeout_s": 60.0, "ops": [
            {"round": r, "kind": k, "start": a, "end": b, "ok": ok} for r, k, a, b, ok in ops]}

    def test_round_wall_counts_a_failed_op_at_the_timeout(self):
        rec = self.rec((0, "dash_open", 0.0, 2.0, True), (0, "q:q1", 2.5, 3.0, False))
        self.assertAlmostEqual(metrics.round_s(rec)[0], 3.0 + 59.5)

    def test_mix_pass_holds_only_queries_and_misses_at_the_timeout(self):
        rec = self.rec((0, "dash_open", 0.0, 2.0, True), (0, "q:q1", 2.0, 3.0, True),
                       (0, "q:q2", 3.0, 3.5, False))
        passes, per_q = metrics.mix_passes(rec)
        self.assertEqual(passes, [61.0])
        self.assertEqual(per_q, {"q:q1": [1.0], "q:q2": [60.0]})


class SelfTime(unittest.TestCase):
    def span(self, sid, parent, a, b, name="x"):
        return {"id": sid, "parent": parent, "start": a, "end": b, "name": name}

    def test_duration_minus_union_of_children(self):
        parent = self.span(0, -1, 0.0, 10.0)
        kids = [self.span(1, 0, 1.0, 3.0), self.span(2, 0, 2.0, 5.0), self.span(3, 0, 8.0, 12.0)]
        self.assertAlmostEqual(stats.self_time(parent, kids), 4.0)

    def test_self_times_add_up_to_wall(self):
        o = {"start": 0.0, "end": 10.0}
        spans = [self.span(0, -1, 1.0, 6.0, "a"), self.span(1, 0, 2.0, 4.0, "b"),
                 self.span(2, -1, 7.0, 9.0, "c")]
        st = stats.self_times(o, spans)
        self.assertAlmostEqual(st[None], 3.0)
        self.assertAlmostEqual(st["a"], 3.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)


if __name__ == "__main__":
    unittest.main()
