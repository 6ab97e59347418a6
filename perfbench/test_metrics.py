"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics
from metrics import COL


def sample(cls="read", ok=True, lat=1.0):
    row = [0] * len(COL)
    row[COL["cls"]], row[COL["key"]], row[COL["ok"]], row[COL["lat"]], row[COL["err"]] = cls, cls, ok, lat, ""
    return row


class PercentileTest(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(metrics.tail(list(range(99))))
        self.assertEqual(metrics.tail(list(range(1, 101))), 90)

    def test_ten_samples_lie_beyond_the_reported_p90(self):
        values = list(range(1, 201))
        p90 = metrics.tail(values)
        self.assertGreaterEqual(sum(1 for v in values if v > p90), 10)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), 3)
        self.assertEqual(metrics.percentile([7], 90), 7)


class AccountingTest(unittest.TestCase):
    def test_attempted_is_succeeded_plus_failed(self):
        rows = [sample(ok=True)] * 7 + [sample(ok=False)] * 3
        attempted, ok, failed = metrics.accounting(rows)
        self.assertEqual((attempted, ok, failed), (10, 7, 3))
        self.assertEqual(attempted, ok + failed)

    def test_failed_checks_count_in_the_result(self):
        raw = {"workload": "ingest_watch", "trace": False, "window_s": 2.0, "session_s": 1.0,
               "server_setup_s": [3.0, 1.0, 2.0], "expect_s": 0.0, "heap_retained_mb": 10.0,
               "acked_rows": 0,
               "samples": [sample("poll", lat=float(i)) for i in range(1, 121)]
               + [sample("final", ok=False)],
               "warmups": [sample("poll")]}
        raw["samples"][-1][COL["key"]] = "final/count"
        lines, result = metrics.summarize(raw)
        self.assertEqual(result["attempted"], 122)  # window, final check and warm-up
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"]["setup_s"]["value"], 3.0)  # 1.0 + median(3, 1, 2)
        self.assertEqual(result["metrics"]["latency_p90_ms"]["value"], 108.0)
        self.assertIn("ops_attempted 122", lines)


class SelfTimeTest(unittest.TestCase):
    # (id, parent, name, start, end)
    TREE = [
        (1, 0, "replay", 0, 100),
        (2, 1, "server.session", 0, 5),
        (3, 1, "engine.prepare", 5, 60),
        (4, 3, "dialect.translate", 5, 15),
        (5, -1, "spark.analyze", 20, 30),
        (6, -1, "spark.job", 40, 55),
        (7, 1, "formats.encode", 60, 98),
        (8, -1, "spark.job", 70, 90),
    ]

    def test_self_time_is_duration_minus_children(self):
        st = metrics.self_times(self.TREE)
        self.assertEqual(st["engine.prepare"], 55 - 10 - 10 - 15)
        self.assertEqual(st["formats.encode"], 38 - 20)
        self.assertEqual(st["replay"], 2)  # 98..100
        self.assertEqual(st["spark.job"], 15 + 20)

    def test_self_times_add_up_to_the_root(self):
        self.assertEqual(sum(metrics.self_times(self.TREE).values()), 100)

    def test_overlapping_children_are_not_counted_twice(self):
        spans = [(1, 0, "replay", 0, 10), (2, -1, "spark.job", 2, 8), (3, -1, "spark.job", 4, 9)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"replay": 3, "spark.job": 7})
        self.assertEqual(sum(st.values()), 10)

    def test_layers(self):
        self.assertEqual(metrics.layer_of("dialect.translate"), "dialect")
        self.assertEqual(metrics.layer_of("replay"), "bench")
        self.assertEqual(metrics.layer_of("spark.job"), "engine")


if __name__ == "__main__":
    unittest.main()
