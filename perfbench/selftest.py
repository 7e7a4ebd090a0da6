"""Self-tests for the benchmark's arithmetic. Run: python3 perfbench/selftest.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        # 1000 samples: p99 is rank 990, ten beyond it; p99.9 would leave one
        p, v = benchlib.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))

    def test_tail_falls_back_down_the_ladder(self):
        # 100 samples: p99 leaves 1, p95 leaves 5, p90 leaves exactly 10
        p, v = benchlib.tail(list(range(1, 101)))
        self.assertEqual((p, v), (90.0, 90))

    def test_tail_absent_when_too_few_samples(self):
        self.assertEqual(benchlib.tail(list(range(20))), (None, None))

    def test_summarize_ignores_missing_samples(self):
        s = benchlib.summarize([3.0, None, 1.0, float("nan"), 2.0])
        self.assertEqual((s["n"], s["p50"]), (3, 2.0))


class ScheduledLatency(unittest.TestCase):
    def test_one_stalled_batch_charges_every_later_wave(self):
        interval = 100.0
        waves = list(range(10))
        # on time: each wave is applied 30 ms after it is due
        on_time = [w * interval + 30 for w in waves]
        # a 500 ms stall in the batch that picks up wave 3: waves 3..7 are all applied
        # when that batch ends, later waves 30 ms after they are due again
        stall_end = 3 * interval + 530
        stalled = [max(w * interval + 30, stall_end) if w >= 3 else w * interval + 30
                   for w in waves]
        lat = benchlib.scheduled_latencies(waves, stalled, interval)
        base = benchlib.scheduled_latencies(waves, on_time, interval)
        self.assertEqual(base, [30.0] * 10)
        self.assertEqual(lat[:3], [30.0] * 3)
        self.assertEqual(lat[3:8], [530.0, 430.0, 330.0, 230.0, 130.0])
        self.assertTrue(all(a >= b for a, b in zip(lat, base)))

    def test_unapplied_transactions_have_no_latency(self):
        self.assertEqual(benchlib.scheduled_latencies([0, 1], [5.0, float("nan")], 10.0),
                         [5.0, None])

    def test_backlog_latency_weights_by_commits(self):
        self.assertEqual(benchlib.backlog_latencies([10.0, 25.0], [2, 3]),
                         [10.0, 10.0, 25.0, 25.0, 25.0])

    def test_flat_and_growing_backlog(self):
        flat = {w: [50.0, 60.0] for w in range(8)}
        growing = {w: [50.0 + 100 * w] for w in range(8)}
        self.assertTrue(benchlib.backlog_flat(flat, slack_ms=10))
        self.assertFalse(benchlib.backlog_flat(growing, slack_ms=10))


class LadderMarginals(unittest.TestCase):
    def test_marginal_is_time_minus_previous_rung(self):
        cum = {"decode": 1.0, "filter": 1.5, "assemble": 4.0, "envelope": 5.0, "sink": 5.75}
        order = ["decode", "filter", "assemble", "envelope", "sink"]
        m = benchlib.ladder_marginals(cum, order)
        self.assertEqual(m, {"decode": 1.0, "filter": 0.5, "assemble": 2.5, "envelope": 1.0,
                             "sink": 0.75})

    def test_named_base_rung(self):
        cum = {"envelope": 5.0, "apply": 7.0, "sink": 6.0}
        m = benchlib.ladder_marginals(cum, ["envelope", "apply", "sink"], {"sink": "envelope"})
        self.assertEqual(m["apply"], 2.0)
        self.assertEqual(m["sink"], 1.0)


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(benchlib.failed_share(0, 150), 0.0)
        self.assertEqual(benchlib.failed_share(3, 12), 0.25)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            benchlib.failed_share(1, 0)
        with self.assertRaises(ValueError):
            benchlib.failed_share(5, 4)


if __name__ == "__main__":
    unittest.main()
