"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import ab  # noqa: E402
import stats  # noqa: E402

EVENTS = os.path.join(BENCH, "data", "sf0.1", "events.parquet")


def generate(out, seed, start=1000.0):
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--events", EVENTS,
                    "--out", os.path.join(out, "events"), "--tmp", os.path.join(out, "tmp"),
                    "--seed", str(seed), "--ladder", "2000:1,8000:1", "--start", str(start),
                    "--log", os.path.join(out, "log.jsonl")],
                   check=True, stdin=subprocess.DEVNULL)
    return os.path.join(out, "events")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            a = generate(os.path.join(d, "a"), seed=5)
            b = generate(os.path.join(d, "b"), seed=5)
            c = generate(os.path.join(d, "c"), seed=6)
            self.assertGreater(len(os.listdir(a)), 10)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(same_tree(a, c))

    def test_disorder_stays_inside_the_watermark(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            out = generate(d, seed=5)
            parts = [pq.read_table(os.path.join(out, f)) for f in sorted(os.listdir(out))]
            t = pa.concat_tables(parts)
            ts = t.column("ts").cast(pa.int64()).to_pylist()
            newest, late = ts[0], 0
            for x in ts:
                self.assertLess(newest - x, 1_500_000)  # µs, inside the 2 s delay
                late += x < newest
                newest = max(newest, x)
            self.assertGreater(late, 0)
            due = t.column("gen_ts").to_pylist()
            self.assertEqual(due, sorted(due))
            self.assertEqual(len(set(t.column("event_id").to_pylist())), t.num_rows)

    def test_a_faster_step_replicates_rows_into_new_users(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            out = generate(d, seed=5)
            t = pa.concat_tables([pq.read_table(os.path.join(out, f))
                                  for f in sorted(os.listdir(out))])
            self.assertEqual(t.num_rows, 2000 + 8000)
            step2 = t.slice(2000)  # 2000 table rows, 4 copies each
            self.assertEqual(len(set(step2.column("ts").to_pylist())),
                             len(set(t.slice(0, 2000).column("ts").to_pylist())))
            copies = {u // 1_000_000 for u in step2.column("user_id").to_pylist()}
            self.assertEqual(copies, {0, 1, 2, 3})


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {9: None, 19: None, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0, 100: 90.0,
                 200: 95.0, 999: 95.0, 1000: 99.0, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(stats.supported_percentile(n), p, n)

    def test_describe_reports_n_and_flags_an_unsupported_tail(self):
        xs = [float(i) for i in range(1, 41)]
        d = stats.describe(xs, wanted=90.0)
        self.assertEqual(d["n"], 40)
        self.assertAlmostEqual(d["p50"], 20.5)
        self.assertAlmostEqual(d["tail"], 36.1)
        self.assertFalse(d["tail_supported"])
        self.assertEqual(d["supported_pct"], 75.0)
        self.assertTrue(stats.describe(xs, wanted=75.0)["tail_supported"])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_direct_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
            {"id": 5, "parent": 3, "start": 2.5, "end": 4.0},   # grandchild
        ]
        self_s = stats.self_times(spans)
        self.assertAlmostEqual(self_s[1], 10.0 - (4.0 + 1.0))
        self.assertAlmostEqual(self_s[3], 3.0 - 1.5)
        self.assertAlmostEqual(self_s[2], 2.0)
        self.assertAlmostEqual(self_s[5], 1.5)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4.0)
        self.assertEqual(stats.union_length([]), 0.0)


def step(rate, growth, latency, points=6):
    return {"rate": rate,
            "backlog": [(t, 100.0 + growth * t) for t in range(points)],
            "latencies": [latency] * 200}


class SustainedTest(unittest.TestCase):
    def test_highest_flat_step_within_budget(self):
        steps = [step(1000, 0.0, 2.0), step(4000, 10.0, 2.5), step(16000, 9000.0, 12.0)]
        self.assertEqual(stats.sustained_rate(steps, 10.0), 4000)

    def test_growing_backlog_fails_a_step_even_with_low_latency(self):
        steps = [step(1000, 0.0, 2.0), step(4000, 1200.0, 2.5)]
        self.assertEqual(stats.sustained_rate(steps, 10.0), 1000)

    def test_latency_over_budget_fails_a_step(self):
        steps = [step(1000, 0.0, 2.0), step(4000, 0.0, 10.5)]
        self.assertEqual(stats.sustained_rate(steps, 10.0), 1000)

    def test_a_failed_lower_step_caps_the_result(self):
        steps = [step(1000, 300.0, 2.0), step(4000, 0.0, 2.0)]
        self.assertEqual(stats.sustained_rate(steps, 10.0), 0.0)

    def test_the_top_step_is_judged_on_the_capacity(self):
        def top(capacity):
            return dict(step(4000, 9000.0, 2.5), capacity=capacity)
        self.assertEqual(stats.sustained_rate([step(1000, 0.0, 2.0), top(5000.0)], 10.0), 4000)
        self.assertEqual(stats.sustained_rate([step(1000, 0.0, 2.0), top(3000.0)], 10.0), 1000)

    def test_too_few_points_is_not_evidence(self):
        self.assertEqual(stats.sustained_rate([step(1000, 0.0, 2.0, points=1)], 10.0), 0.0)


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_iqr(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x - 1.0 for x in parent]
        self.assertEqual(ab.verdict(parent, change, "lower", 0.1)[0], "gain")
        change[0] = change[1] = 11.0  # wins 8 of 10
        self.assertNotEqual(ab.verdict(parent, change, "lower", 0.1)[0], "gain")

    def test_wide_spread_is_unresolved_and_a_clear_loss_a_regression(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(ab.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")
        parent = [10.0] * 10
        self.assertEqual(ab.verdict(parent, [12.0] * 10, "lower", 0.1)[0], "regression")
        self.assertEqual(ab.verdict(parent, [10.5] * 10, "lower", 0.1)[0], "neutral")
        self.assertEqual(ab.verdict(parent, [8.0] * 10, "higher", 0.1)[0], "regression")


class OracleDigestTest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd
        import oracle
        a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, None]})
        b = pd.DataFrame({"v": [float("nan"), 1.5], "k": ["y", "x"]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        self.assertNotEqual(oracle.digest(a), oracle.digest(a.assign(v=[1.5, 2.0])))


if __name__ == "__main__":
    unittest.main()


class CapacityTest(unittest.TestCase):
    LADDER = [(4000, 4.0), (128000, 4.0), (384000, 4.0)]

    def result(self, rows):
        """Each query runs back-to-back 2 s micro-batches of `rows` events
        over the top step; the slowest query takes twice as long for the
        same input."""
        import metrics
        start = 100.0
        top_start = start + sum(s for _, s in self.LADDER[:-1])
        top_end = top_start + self.LADDER[-1][1]
        records = []
        for q, slow in zip(metrics.STREAM_QUERIES, (1, 2, 1)):
            t, b = top_start, 0
            while t + 2.0 * slow <= top_end:
                records.append({"kind": "progress", "name": q, "batch": b, "start": t,
                                "t": t + 2.0 * slow, "input_rows": rows,
                                "durations": {"triggerExecution": 2.0 * slow}})
                t, b = t + 2.0 * slow, b + 1
        res = metrics.Result("dws_stream", records, 0.0,
                             {"load1": 0.0, "cpu": []}, {"load1": 0.0, "cpu": []})
        res.stream = {"ladder": self.LADDER, "start": start, "files": [],
                      "gen": {}}
        res.by_kind["latencies"] = [{"due": [], "commit": []}]
        return res

    def test_capacity_is_the_slowest_querys_intake_while_behind(self):
        self.assertAlmostEqual(self.result(400000).capacity_eps(), 400000 / 4.0)

    def test_capacity_is_flagged_when_the_engine_kept_up_with_the_top_step(self):
        self.assertTrue(self.result(2000000).capacity_saturated())
        self.assertFalse(self.result(400000).capacity_saturated())
