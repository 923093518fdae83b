"""Tests of the benchmark's arithmetic: python3 -m unittest discover perfbench/tests"""
import random
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(metrics.tail(xs), (90, 90.0, 100, 10))

    def test_exactly_ten_samples_lie_beyond(self):
        rng = random.Random(2)
        for n in (20, 21, 37, 250, 1001):
            xs = [rng.random() for _ in range(n)]
            value, pct, count, beyond = metrics.tail(xs)
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertEqual((count, beyond), (n, 10))
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_twenty_samples_give_the_median_rank(self):
        value, pct, _, _ = metrics.tail(list(range(20)))
        self.assertEqual((value, pct), (9, 50.0))

    def test_below_twenty_samples_the_maximum_is_reported(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3, 0))
        self.assertEqual(metrics.tail(list(range(19))), (18, 100.0, 19, 0))
        with self.assertRaises(ValueError):
            metrics.tail([])


def span(id_, parent, start, end, name="x.y", op=1):
    return {"id": id_, "parent": parent, "op": op, "name": name,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(0, 100), (10, 20)]), 100)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50)]
        self.assertEqual(metrics.self_times(spans), {1: 60, 2: 20, 3: 30})

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 120), span(3, 1, -5, 5)]
        self.assertEqual(metrics.self_times(spans)[1], 85)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        self.assertEqual(metrics.self_times(spans), {1: 50, 2: 0, 3: 50})


def result(ops, spans=(), jobs=(), groups=None, window="traced"):
    return {"workload": "analytics", "setup": {"engine.session": 2.0},
            "windows": {window: {"start_ms": 0, "end_ms": 1000},
                        "untraced": {"start_ms": 0, "end_ms": 1000}},
            "heap_retained_mb": 100.0, "ops": ops, "spans": list(spans),
            "jobs": list(jobs), "groups": groups or {}, "report": {}}


def op(id_, start, end, window="traced", ok=True):
    return {"id": id_, "kind": "analytics", "name": "q", "window": window,
            "start_ms": start, "end_ms": end, "ok": ok, "err": "", "rows": 5}


class LayerTest(unittest.TestCase):
    def test_concurrent_sibling_jobs_merge(self):
        jobs = [span(-1, 2, 10, 30), span(-2, 2, 20, 40), span(-3, 2, 50, 60),
                span(-4, 3, 0, 5)]
        merged = sorted((s["parent"], s["start_ms"], s["end_ms"])
                        for s in metrics.merge_siblings(jobs))
        self.assertEqual(merged, [(2, 10, 40), (2, 50, 60), (3, 0, 5)])

    def test_driver_self_time_is_wall_minus_union_of_jobs(self):
        spans = [span(1, 0, 0, 100, "driver.op"), span(2, 1, 0, 60, "queries.build"),
                 span(3, 1, 60, 100, "spark.exec")]
        jobs = [{"id": 0, "group": "2", "start_ms": 10, "end_ms": 30},
                {"id": 1, "group": "2", "start_ms": 20, "end_ms": 40},
                {"id": 2, "group": "3", "start_ms": 70, "end_ms": 90}]
        groups = {"2": {"tasks": 8, "stages": 2}, "3": {"tasks": 4, "stages": 1}}
        m = metrics.per_layer(result([op(1, 0, 100)], spans, jobs, groups))
        self.assertEqual(m["driver.self_ms"][0], 50)
        self.assertEqual(m["queries.build_ms"][0], 60)
        self.assertEqual(m["queries.build_jobs"][0], 2)
        self.assertEqual(m["spark.jobs"][0], 3)
        self.assertEqual(m["spark.tasks"][0], 12)
        self.assertEqual(m["spark.stages"][0], 3)
        self.assertEqual(m["queries.self_ms"][0], 30)
        # collect overhead outside jobs, plus the jobs' union
        self.assertEqual(m["spark.self_ms"][0], 20 + 50)

    def test_end_to_end_rates_and_percentiles(self):
        ops = [op(i, i * 10, i * 10 + 5 + i, window="main") for i in range(40)]
        ops.append(op(99, 0, 1, window="warmup", ok=False))
        m, report = metrics.end_to_end(result(ops, window="main"))
        self.assertEqual(m["ops_per_s"][0], 40.0)
        self.assertEqual(m["latency_p50_ms"][0], 24.5)
        self.assertEqual(m["latency_tail_ms"][0], 34)
        self.assertEqual(report["latency_tail"], {"percentile": 75.0, "samples": 40, "beyond": 10})
        self.assertAlmostEqual(report["error_rate"], 1 / 41)


if __name__ == "__main__":
    unittest.main()
