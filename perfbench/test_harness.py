"""Tests of the benchmark's own arithmetic and checks.

Run from the root of a checkout: python3 -m unittest perfbench/test_harness.py
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import harness  # noqa: E402

MS = 1_000_000


def metric_names(kind):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


class UnitsTest(unittest.TestCase):

    def test_work_is_fixed_by_seconds_not_by_the_clock(self):
        import run
        self.assertEqual(run.units("phoebe_batch", 10), 3)
        self.assertEqual(run.units("curation_batch", 10), 2)
        self.assertEqual(run.units("curation_batch", 1), 2)
        self.assertEqual(run.units("optimize_loop", 10), 2)
        self.assertEqual(run.units("phoebe_batch", 20), 6)


class TailTest(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 43))  # 42 samples, shuffled order must not matter
        value, label = harness.tail(reversed(xs))
        self.assertEqual(value, 32)  # ten samples (33..42) lie beyond it
        self.assertEqual(label, "p76.2 of 42")

    def test_smallest_sample_count_with_a_tail_above_the_median(self):
        value, label = harness.tail(range(21))
        self.assertEqual(value, 10)
        self.assertEqual(sum(1 for x in range(21) if x > value), 10)
        self.assertEqual(label, "p52.4 of 21")

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(harness.tail([3, 9, 4]), (9, "max of 3"))
        self.assertEqual(harness.tail(range(20)), (19, "max of 20"))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            harness.tail([])


class SpanTest(unittest.TestCase):

    def test_self_time_with_overlapping_children(self):
        spans = [
            [1, 0, "op", "", 0, 100],
            [2, 1, "build", "", 10, 40],
            [3, 1, "sink", "", 30, 60],   # overlaps build by 10
            [4, 1, "late", "", 90, 120],  # runs past its parent's end
            [5, 2, "inner", "", 15, 20],
        ]
        st = harness.self_times(spans)
        self.assertEqual(st[1], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_jobs_nest_under_the_innermost_open_span(self):
        trace = {"spans": [[1, 0, "q", "metrics", 0, 100], [2, 1, "sink", "", 20, 100]],
                 "jobs": [[7, 5, 15], [8, 30, 60], [9, 50, 90]]}
        tree = {s[2]: s for s in harness.span_tree(trace)}
        self.assertEqual(tree["job 7"][1], 1)
        self.assertEqual(tree["job 8"][1], 2)
        self.assertEqual(tree["sink"][6], 80 - 60)  # jobs 8 and 9 cover 30..90
        self.assertEqual(tree["q"][6], 100 - 80 - 10)

    def test_uncovered_counts_overlapping_jobs_once(self):
        jobs = [[0, 10, 30], [1, 20, 50], [2, 70, 80], [3, 200, 300]]
        self.assertEqual(harness.uncovered(0, 100, jobs), 100 - 40 - 10)
        self.assertEqual(harness.uncovered(25, 75, jobs), 50 - 25 - 5)


class FingerprintTest(unittest.TestCase):
    expected = {"q_a": {"fingerprint": "aa", "rows": 3},
                "q_b": {"fingerprint": "bb", "rows": 1}}

    def test_matching_results_pass(self):
        ops = [{"name": "q_a", "fingerprint": "aa", "rows": 3},
               {"name": "q_b", "fingerprint": "bb", "rows": 1}]
        self.assertEqual(harness.check_fingerprints(ops, self.expected), (2, 0, []))

    def test_planted_mismatch_counts_as_a_failure(self):
        ops = [{"name": "q_a", "fingerprint": "aa", "rows": 3},
               {"name": "q_b", "fingerprint": "b0", "rows": 1},
               {"name": "q_a", "fingerprint": "aa", "rows": 3}]
        attempted, failed, bad = harness.check_fingerprints(ops, self.expected)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(bad[0][0], "q_b")
        self.assertIn("mismatch", bad[0][1])

    def test_errors_and_unknown_queries_fail(self):
        ops = [{"name": "q_a", "error": "java.lang.RuntimeException: boom"},
               {"name": "q_new", "fingerprint": "cc", "rows": 2}]
        self.assertEqual(harness.check_fingerprints(ops, self.expected)[:2], (2, 2))


class TickCheckTest(unittest.TestCase):

    def record(self, rows):
        ops = [{"batch": b, "start_ns": 0, "end_ns": 1} for b in (1, 2, 3)]
        return {"ops": ops, "decision_rows": {str(k): v for k, v in rows.items()},
                "decided": [0, 1, 2, 3]}

    def test_one_decision_row_per_tick(self):
        rec = self.record({0: 1, 1: 1, 2: 1, 3: 1})
        self.assertEqual(harness.check_ticks(rec), (3, 0, []))

    def test_duplicate_or_missing_rows_fail(self):
        rec = self.record({0: 1, 1: 2, 3: 1})
        attempted, failed, bad = harness.check_ticks(rec)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual([b for b, _ in bad], [1, 2])

    def test_oracle_mismatch_fails_the_last_tick_once(self):
        rec = self.record({0: 1, 1: 1, 2: 1, 3: 1})
        self.assertEqual(harness.check_ticks(rec, "avg_lat differs")[:2], (3, 1))
        rec = self.record({0: 1, 1: 1, 2: 1, 3: 2})
        attempted, failed, bad = harness.check_ticks(rec, "avg_lat differs")
        self.assertEqual(failed, 1)
        self.assertEqual(len(bad), 2)


def batch_record():
    """A traced two-pass batch run with one query of each batch layer kind."""
    ops, spans, jobs, tasks, sid = [], [], [], [], 0
    t = 0
    for p in range(2):
        for name, layer in (("q1", "metrics"), ("q2", "sources")):
            sid += 1
            op = sid
            spans.append([op, 0, name, layer, t, t + 100 * MS])
            sid += 1
            spans.append([sid, op, "build", "", t, t + 20 * MS])
            sid += 1
            spans.append([sid, op, "sink", "", t + 20 * MS, t + 100 * MS])
            jobs.append([len(jobs), t + 30 * MS, t + 90 * MS])
            tasks.append([len(jobs), t + 31 * MS, 40, 35, 1, 2048, 1024, 0, 4096, 0, True])
            tasks.append([len(jobs), t + 32 * MS, 20, 15, 0, 2048, 1024, 0, 4096, 0, True])
            ops.append({"name": name, "layer": layer, "pass": p,
                        "start_ns": t, "end_ns": t + 100 * MS})
            t += 200 * MS
    return {"workload": "phoebe_batch", "ops": ops, "units": 2, "timed_ns": t,
            "cpus": 4, "gc_ms": 10, "setup_s": [1.0, 0.5, 0.6], "peak_rss_mb": 900.0,
            "live_heap_mb": 150.0,
            "trace": {"spans": spans, "jobs": jobs, "tasks": tasks,
                      "stages": [[j[0] + 1, 0, j[1], j[2], 2] for j in jobs],
                      "blocks": [[15 * MS, 1024 * 1024]], "listener_ns": 1000}}


def loop_record():
    ops, spans, jobs = [], [], []
    sid, t = 0, 0
    for b in range(3):
        sid += 1
        tick = sid
        spans.append([tick, 0, "tick", "loop", t, t + 50 * MS])
        for i, call in enumerate(("append", "read", "evaluateTick", "forecast", "decision")):
            sid += 1
            spans.append([sid, tick, call, "", t + i * 10 * MS, t + (i + 1) * 10 * MS])
            jobs.append([len(jobs), t + i * 10 * MS + MS, t + i * 10 * MS + 6 * MS])
        ops.append({"batch": b + 1, "start_ns": t, "end_ns": t + 50 * MS})
        t += 60 * MS
    return {"workload": "optimize_loop", "ops": ops, "units": 3, "timed_ns": t,
            "cpus": 4, "gc_ms": 3, "setup_s": [4.0, 2.0, 2.5], "peak_rss_mb": 800.0,
            "live_heap_mb": 150.0,
            "store_files": 9, "store_rows": 1000,
            "progress": [{"batch": b, "trigger_ms": 48, "add_batch_ms": 45} for b in (1, 2, 3)],
            "trace": {"spans": spans, "jobs": jobs, "tasks": [], "stages": [],
                      "blocks": [], "listener_ns": 500}}


class MetricSetTest(unittest.TestCase):

    def test_every_end_to_end_metric_is_reported(self):
        for rec in (batch_record(), loop_record()):
            metrics, detail = harness.end_to_end(rec)
            self.assertEqual(set(metrics), metric_names("end_to_end"))
            self.assertTrue(all(v > 0 for v, _ in metrics.values()))

    def test_every_per_layer_metric_is_reported(self):
        for rec in (batch_record(), loop_record()):
            metrics, na = harness.per_layer(rec)
            self.assertEqual(set(metrics), metric_names("per_layer"))
            self.assertTrue(set(na) <= set(metrics))

    def test_latency_samples_are_every_timed_op(self):
        rec = batch_record()
        rec["ops"][1]["end_ns"] += 500 * MS  # q2 is slow in the first pass
        metrics, detail = harness.end_to_end(rec)
        self.assertEqual(detail["samples"], 4)
        self.assertAlmostEqual(metrics["op_p50_ms"][0], 100)
        self.assertAlmostEqual(metrics["op_tail_ms"][0], 600)

    def test_wall_is_the_timed_phase_per_unit(self):
        self.assertAlmostEqual(harness.end_to_end(batch_record())[0]["wall_s"][0], 0.4)
        self.assertAlmostEqual(harness.end_to_end(loop_record())[0]["wall_s"][0], 0.06)

    def test_batch_layers(self):
        m, na = harness.per_layer(batch_record())
        self.assertAlmostEqual(m["metrics.wall_s"][0], 0.1)
        self.assertAlmostEqual(m["metrics.build_s"][0], 0.02)
        self.assertAlmostEqual(m["metrics.gap_s"][0], 0.04)
        self.assertEqual(m["metrics.jobs"][0], 1)
        self.assertAlmostEqual(m["engine.plan_s"][0], 2 * 0.01)
        self.assertAlmostEqual(m["engine.task_skew"][0], 40 / 30)
        self.assertIn("pipeline.text.wall_s", na)
        self.assertIn("tick.jobs", na)

    def test_loop_tick_split(self):
        m, na = harness.per_layer(loop_record())
        self.assertAlmostEqual(m["sources.ingest_ms"][0], 10)
        self.assertAlmostEqual(m["models.forecast_ms"][0], 10)
        self.assertEqual(m["tick.jobs"][0], 5)
        self.assertAlmostEqual(m["tick.gap_ms"][0], 50 - 5 * 5)
        self.assertEqual(m["streaming.overhead_ms"][0], 3)
        self.assertIn("metrics.wall_s", na)


if __name__ == "__main__":
    unittest.main()
