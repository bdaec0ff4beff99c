#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic: the tail-percentile rule,
latency attribution to the chunk that carried the min watermark, and the
output checks, each of which must reject a deliberately perturbed result.

    python3 perfbench/selftest.py
"""
import copy
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "..", "tools")]
import metrics  # noqa: E402

HOUR = 3_600_000


def pageview_fixture():
    """One pass of three chunks. Input A is one hour ahead of input B, so
    the min watermark is B's: window [0h,1h) fires only with chunk 2,
    when B's max event time reaches 1h."""
    chunks = [
        {"pass": 0, "chunk": 0, "add_ns": 0, "done_ns": 100, "ok": True, "measured": True,
         "events": 4, "max_ts_a": 1 * HOUR - 1000, "max_ts_b": 0},
        {"pass": 0, "chunk": 1, "add_ns": 200, "done_ns": 300, "ok": True, "measured": True,
         "events": 4, "max_ts_a": 2 * HOUR - 1000, "max_ts_b": 1 * HOUR - 1000},
        {"pass": 0, "chunk": 2, "add_ns": 400, "done_ns": 500, "ok": True, "measured": True,
         "events": 4, "max_ts_a": 3 * HOUR - 1000, "max_ts_b": 2 * HOUR - 1000},
    ]
    expected = [{"start": 0, "end": HOUR, "url": "u0", "cnt": 3},
                {"start": 0, "end": HOUR, "url": "u1", "cnt": 2},
                {"start": HOUR, "end": 2 * HOUR, "url": "u0", "cnt": 5}]
    emitted = [{"pass": 0, "batch": 5, "arrival_ns": 450, "start": 0, "end": HOUR,
                "url": "u0", "cnt": 3},
               {"pass": 0, "batch": 5, "arrival_ns": 450, "start": 0, "end": HOUR,
                "url": "u1", "cnt": 2}]
    return {"chunks": chunks, "expected": expected, "emitted": emitted,
            "rows_dropped_by_watermark": 0}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(range(1, 101))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_small_sample_has_lower_percentile(self):
        value, pct, n = metrics.tail(range(1, 25))
        self.assertEqual((value, n), (14, 24))
        self.assertAlmostEqual(pct, 100 * 14 / 24)

    def test_unsorted_input(self):
        self.assertEqual(metrics.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 10, 11])[0], 1)

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail(range(10)), (None, None, 10))


class Attribution(unittest.TestCase):
    def test_min_not_max_watermark(self):
        chunks = pageview_fixture()["chunks"]
        # A alone passes 1h at chunk 1; the min of A and B passes it at chunk 2
        self.assertEqual(metrics.attribute(chunks, HOUR)["chunk"], 2)

    def test_window_not_yet_fired(self):
        self.assertIsNone(metrics.attribute(pageview_fixture()["chunks"], 3 * HOUR))

    def test_latency_runs_from_the_carrying_chunk(self):
        errors, lat, passes = metrics.check_pageview(pageview_fixture())
        self.assertEqual((errors, passes), ([], 1))
        self.assertEqual(lat, [50 / 1e6, 50 / 1e6])  # arrival 450 - chunk 2 added at 400

    def test_arrival_in_an_earlier_chunk_is_rejected(self):
        f = pageview_fixture()
        f["emitted"][0]["arrival_ns"] = 250  # during chunk 1: before the min passed 1h
        errors, _, _ = metrics.check_pageview(f)
        self.assertTrue(any("did not fire in the chunk" in e for e in errors), errors)


class PerturbedOutputs(unittest.TestCase):
    def test_window_count_off_by_one(self):
        f = pageview_fixture()
        f["emitted"][1]["cnt"] += 1
        errors, _, _ = metrics.check_pageview(f)
        self.assertTrue(any("count 3 != 2" in e for e in errors), errors)

    def test_window_fired_twice(self):
        f = pageview_fixture()
        f["emitted"].append(copy.deepcopy(f["emitted"][0]))
        errors, _, _ = metrics.check_pageview(f)
        self.assertTrue(any("fired twice" in e for e in errors), errors)

    def test_missing_window(self):
        f = pageview_fixture()
        del f["emitted"][1]
        errors, _, _ = metrics.check_pageview(f)
        self.assertTrue(any("expected 2" in e for e in errors), errors)

    def test_rows_dropped_by_watermark(self):
        f = pageview_fixture()
        f["rows_dropped_by_watermark"] = 1
        self.assertTrue(metrics.check_pageview(f)[0])

    def test_search_hit_dropped(self):
        served = [[7, 2, 900, 1], [3, 1, 400, 2], [9, 1, 100, 3]]
        good = {"kind": "bm25", "terms": ["hash", "join"],
                "served": served, "replayed": copy.deepcopy(served)}
        self.assertEqual(metrics.check_searches([good]), [])
        bad = copy.deepcopy(good)
        del bad["served"][1]
        self.assertEqual(len(metrics.check_searches([good, bad])), 1)

    def test_catalog_compare(self):
        import pandas as pd
        exp = pd.DataFrame({"k": [1, 2, 3], "n": [10, 20, 30]})
        self.assertIsNone(metrics.compare(exp.iloc[::-1][["n", "k"]], exp))  # order-free
        off = exp.copy()
        off.loc[1, "n"] = 21
        self.assertIn("values differ", metrics.compare(off, exp))
        self.assertIn("rows", metrics.compare(exp.iloc[:2], exp))


class Rollup(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        trace = {"spans": [
            {"id": 0, "layer": "DedupQueries", "name": "q", "parent": -1, "start_us": 0, "end_us": 1000},
            {"id": 1, "layer": "SparkEntry", "name": "build", "parent": 0, "start_us": 100, "end_us": 400}],
            "tasks": [{"at_us": 200, "run_ms": 5}, {"at_us": 800, "run_ms": 7}],
            "jobs": [{"id": 0, "start_us": 150}, {"id": 0, "end_us": 300}]}
        layers = metrics.rollup(trace, wall_s=0.002)
        self.assertEqual(layers["DedupQueries"]["self_ms"], 0.7)
        self.assertEqual(layers["SparkEntry"]["self_ms"], 0.3)
        self.assertEqual(layers["SparkEntry"]["tasks"], 1)
        self.assertEqual(layers["DedupQueries"]["executor_run_ms"], 7)
        self.assertEqual(layers["SparkEntry"]["jobs"], 1)
        self.assertEqual(layers["perfbench"]["self_ms"], 1.0)


if __name__ == "__main__":
    unittest.main()
