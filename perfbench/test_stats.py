"""Unit tests for the benchmark's arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import math
import unittest

import stats


def phase(due_ms, send_ms, done_ms, ok=None):
    ns = lambda xs: [int(x * 1e6) if x >= 0 else -1 for x in xs]
    return {"due_ns": ns(due_ms), "send_ns": ns(send_ms), "done_ns": ns(done_ms),
            "ok": ok if ok is not None else [True] * len(due_ms)}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_supported_needs_ten_beyond(self):
        self.assertEqual(stats.supported_percentile(200), 95.0)  # 10 beyond p95
        self.assertEqual(stats.supported_percentile(199), 90.0)
        self.assertEqual(stats.supported_percentile(1000), 99.0)
        self.assertEqual(stats.supported_percentile(10000), 99.9)
        self.assertEqual(stats.supported_percentile(20), 50.0)
        self.assertIsNone(stats.supported_percentile(19))

    def test_summary_reports_count(self):
        s = stats.summarize([float(i) for i in range(100)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["top_percentile"], 90.0)
        self.assertEqual(s["top"], 89.0)
        self.assertIsNone(stats.summarize([1.0] * 5)["top"])


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        p = phase([0, 10, 20], [0, 15, 20], [5, 30, 22])
        self.assertEqual(stats.request_latencies_ms(p), [5.0, 20.0, 2.0])
        self.assertEqual(stats.lateness_ms(p), [0.0, 5.0, 0.0])

    def test_failed_and_unsent_are_infinite(self):
        p = phase([0, 10, 20], [0, 10, -1], [5, 12, -1], ok=[True, False, False])
        lat = stats.request_latencies_ms(p)
        self.assertEqual(lat[0], 5.0)
        self.assertTrue(math.isinf(lat[1]) and math.isinf(lat[2]))

    def test_backlog(self):
        # requests 2 and 3 wait until 35 and 36 ms
        p = phase([0, 10, 20, 30, 40], [0, 10, 35, 36, 40], [1, 11, 36, 37, 41])
        self.assertEqual(stats.backlog(p), [0, 0, 1, 2, 0])


class Ladder(unittest.TestCase):
    def steady(self, n, gap_ms, lat_ms):
        due = [i * gap_ms for i in range(n)]
        return phase(due, due, [d + lat_ms for d in due])

    def stalled(self, n, gap_ms, service_ms):
        # one server thread taking service_ms per request, faster arrivals
        due = [i * gap_ms for i in range(n)]
        send, done, t = [], [], 0.0
        for d in due:
            s = max(d, t)
            send.append(s)
            t = s + service_ms
            done.append(t)
        return phase(due, send, done)

    def test_steady_rung_passes(self):
        p = self.steady(200, 10, 3)
        self.assertFalse(stats.backlog_growing(p, 4))
        self.assertTrue(stats.rung_passes(p, 5, 4))
        self.assertFalse(stats.rung_passes(p, 2, 4))

    def test_overload_grows_backlog(self):
        p = self.stalled(200, 5, 10)
        self.assertTrue(stats.backlog_growing(p, 4))
        self.assertFalse(stats.rung_passes(p, 1e9, 4))

    def test_short_rung_is_refused(self):
        # 199 requests put only 9 beyond the p95 a rung is judged by
        with self.assertRaises(ValueError):
            stats.rung_passes(self.steady(199, 10, 3), 5, 4)

    def test_unsent_request_fails_the_rung(self):
        p = self.steady(20, 10, 1)
        p["send_ns"][-1] = -1
        self.assertTrue(stats.backlog_growing(p, 4))

    def test_max_rps_picks_highest_passing_rung(self):
        rungs = [self.steady(200, 10, 2), self.steady(400, 5, 2), self.stalled(800, 2.5, 4)]
        rps, i = stats.max_rps(rungs, 10, 4)
        self.assertEqual(i, 1)
        self.assertAlmostEqual(rps, 400 / 1.997, places=6)

    def test_max_rps_when_nothing_passes(self):
        rps, i = stats.max_rps([self.stalled(200, 1, 5)], 2, 4)
        self.assertEqual(i, -1)
        self.assertGreater(rps, 0)


class Failures(unittest.TestCase):
    def test_count(self):
        a = phase([0, 1, 2], [0, 1, -1], [1, 2, -1], ok=[True, False, False])
        b = phase([0], [0], [1])
        self.assertEqual(stats.count_failures([a, b]), (3, 1))


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 60},  # overlaps 2
            {"id": 4, "parent": 3, "start_ns": 35, "end_ns": 45},
            {"id": 5, "parent": 1, "start_ns": 90, "end_ns": 130},  # runs past parent
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[5], 40)


if __name__ == "__main__":
    unittest.main()
