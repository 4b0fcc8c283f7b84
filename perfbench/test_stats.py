"""Tests for the benchmark's own metric logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def raw_record(workload):
    """A small raw record as the JVM program writes it."""
    raw = {
        "workload": workload, "session_start_ms": 9000.0, "setup_ms": [5000.0, 2000.0, 3000.0],
        "recall": 0.95, "space_amp": 1.1, "peak_rss_kb": 2048000, "clock_start_ms": 1000.0,
        "ops": [], "spans": [], "jobs": [], "attempted": 4, "failed": 0,
    }
    if workload == "curate":
        raw["ops"] = [["chunk", 2000.0, True, 1], ["chunk", 3000.0, False, 2]]
        raw.update(docs=1200, pairs_out=120,
                   stage_ms=[[400.0, 800.0, 600.0, 500.0], [500.0, 900.0, 700.0, 600.0]])
        raw["spans"] = [[0, -1, "bench.chunk", 1, 1000.0, 3000.0],
                        [1, 0, "dedup.exact", 1, 1000.0, 1400.0],
                        [2, 1, "spark.write", 1, 1050.0, 1350.0]]
        raw["jobs"] = [[0, 1060, 1300, 2, -1, 80.0, 10, 0, 500, 700]]
        return raw
    raw["ops"] = [["probe", 100.0 + i, i % 2 == 0, i] for i in range(20)]
    raw["spans"] = [[0, -1, "index.build", 100, 0.0, 3000.0],
                    [1, -1, "bench.probe", 0, 1000.0, 1100.0],
                    [2, 1, "index.searchLayout", 0, 1000.0, 1040.0],
                    [3, 1, "spark.collect", 0, 1040.0, 1100.0]]
    raw["jobs"] = [[0, 10, 2000, 0, -1, 500.0, 0, 0, 0, 0],
                   [1, 1045, 1070, 3, -1, 20.0, 0, 0, 4096, 0],
                   [2, 1075, 1095, 3, -1, 20.0, 100, 0, 0, 0]]
    if workload == "cdc":
        raw.update(rows_committed=520, drain_ms=10000.0, user_bytes=520 * 264,
                   compactions=2, layout_bytes=3000000, probe_legs=[[1, 2], [1, 3]],
                   drains=[[5000.0, 4900.0]],
                   batches=[{"batch": 1, "trigger_ms": 4900, "add_ms": 4800,
                             "planning_ms": 10, "rows": 260}])
        raw["jobs"].append([3, 2000, 3000, -1, 1, 100.0, 0, 0, 0, 5000])
    else:
        raw["layout_bytes"] = 5000000
    return raw


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_exactly_ten_beyond_whatever_the_order(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0, 10, 11, 12]
        value, pct, n = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 3 / 13)

    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertEqual(stats.tail([1.0] * 10), (0.0, 0.0, 10))

    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(stats.median([]), 0.0)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(stats.union_length([(0, 10), (10, 20)]), 20)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0.0)

    def test_driver_gap_clips_jobs_to_the_span(self):
        # covered: [10, 40] and [90, 100] of the span [0, 100]
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)

    def test_driver_gap_without_jobs_is_the_whole_span(self):
        self.assertEqual(stats.driver_gap(5, 50, []), 45)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [stats.Span(r) for r in [
            [0, -1, "bench.op", 0, 0.0, 100.0],
            [1, 0, "index.a", 0, 10.0, 50.0],
            [2, 0, "spark.b", 0, 40.0, 70.0],
            [3, 1, "spark.c", 0, 20.0, 30.0],
        ]]
        self.assertEqual(stats.self_times(spans), {0: 40.0, 1: 30.0, 2: 30.0, 3: 10.0})

    def test_layer_is_the_name_prefix(self):
        self.assertEqual(stats.Span([0, -1, "index.searchLayout", 0, 0, 1]).layer, "index")


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_declared_metrics_match_the_code(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         stats.PER_LAYER)
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(stats.MAIN_OP))

    def test_every_workload_reports_every_metric(self):
        for wl in stats.MAIN_OP:
            raw = raw_record(wl)
            e2e = stats.end_to_end(raw)
            self.assertEqual(list(e2e), list(stats.END_TO_END), wl)
            for name, m in e2e.items():
                self.assertGreater(m["value"], 0, f"{wl} {name}")
            layers = stats.per_layer(raw)
            self.assertEqual(list(layers), list(stats.PER_LAYER), wl)

    def test_per_layer_values_from_spans_and_jobs(self):
        v = {k: m["value"] for k, m in stats.per_layer(raw_record("serve")).items()}
        self.assertEqual(v["index.build_ms"], 3000.0)
        self.assertEqual(v["index.build_jobs"], 1)
        self.assertEqual(v["index.probe_build_ms"], 40.0)
        self.assertEqual(v["spark.probe_exec_ms"], 60.0)
        self.assertEqual(v["spark.jobs_per_probe"], 2)
        self.assertEqual(v["spark.probe_driver_gap_ms"], 15.0)  # 60 - (25 + 20)
        self.assertEqual(v["spark.probe_input_bytes"], 4096)
        self.assertEqual(v["probe.tail_ms"], 109.0)
        self.assertEqual(v["probe.tail_pct"], 50.0)
        self.assertEqual(v["self.index_ms"], 40.0 / 10)  # one span over ten traced ops
        self.assertEqual(v["trace.overhead_ms"], 109.0 - 110.0)
        c = {k: m["value"] for k, m in stats.per_layer(raw_record("cdc")).items()}
        self.assertEqual(c["spark.jobs_per_batch"], 1)
        self.assertEqual(c["spark.batch_driver_gap_ms"], 3900)
        self.assertEqual(c["streaming.start_ms"], 100.0)
        self.assertEqual(c["io.bytes_written_per_user_byte"], 5000 / (520 * 264))
        self.assertEqual(c["index.live_tomb_legs"], 2.5)


if __name__ == "__main__":
    unittest.main()
