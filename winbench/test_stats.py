#!/usr/bin/env python3
"""Self-test of the benchmark's arithmetic.

    python3 winbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import (covered_ns, generator_lateness, open_loop_validity,  # noqa: E402
                   percentile, resolve_parents, self_times, window_latencies)

MS = 1_000_000


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_count(self):
        values = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(percentile(values, 50), (50, 100))
        self.assertEqual(percentile(values, 90), (90, 100))
        self.assertEqual(percentile(values, 99), (99, 100))

    def test_ten_samples_beyond_p90_need_a_hundred(self):
        # p90 of 100 samples leaves exactly ten above it
        values = list(range(1, 101))
        p90, n = percentile(values, 90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)
        self.assertEqual(n, 100)

    def test_small_samples(self):
        self.assertEqual(percentile([7.5], 90), (7.5, 1))
        self.assertEqual(percentile([3, 1, 2], 50), (2, 3))
        self.assertEqual(percentile([1, 2, 3, 4], 50), (2, 4))
        with self.assertRaises(ValueError):
            percentile([], 50)


def stream(emits, rate=1000, size=2, events=4000, phase_end_ms=10_000):
    """One key, one event per ms, ten event seconds per wall second
    (event i has event time i // 100)."""
    return {
        "rate": rate, "size": size, "phase_end_ns": phase_end_ms * MS,
        "open_keys": [0] * events, "open_es": [i // 100 for i in range(events)],
        "emit_ns": [t * MS for t, _ in emits], "emit_ws": [ws for _, ws in emits],
        "emit_key": [0] * len(emits), "emit_batch": list(range(len(emits))),
    }


class DueTimeLatencyTest(unittest.TestCase):
    def test_latency_runs_from_the_due_time_of_the_last_event(self):
        # window [3, 5) ends with event 499, due at 499 ms; emitted at 550 ms
        lat, triggers = window_latencies(stream([(550, 3)]))
        self.assertEqual(lat, [51.0])
        self.assertEqual(triggers, 1)

    def test_stalled_consumer_charges_the_stall_to_every_waiting_result(self):
        # The consumer keeps up (50 ms after each window closes) until it
        # stalls from 1000 ms to 3000 ms; windows that closed during the
        # stall are all delivered at 3000 ms. Timed from due time, each
        # carries the part of the stall it waited through.
        emits = []
        for ws in range(0, 38, 1):
            last_due = (ws + 2) * 100 - 1          # last event of [ws, ws + 2)
            ready = last_due + 50
            emits.append((3000 if 1000 <= ready < 3000 else ready, ws))
        lat, _ = window_latencies(stream(emits))
        self.assertEqual(len(lat), 38)
        stalled = [x for x in lat if x > 51]
        self.assertEqual(len(stalled), 20)          # windows ready in [1000, 3000)
        self.assertEqual(max(lat), 3000 - 999.0)    # first one to wait: due at 999 ms
        self.assertEqual(min(stalled), 3000 - 2899.0)
        self.assertGreater(percentile(lat, 90)[0], 500)

    def test_results_outside_the_phase_or_without_open_events_are_not_samples(self):
        emits = [(10_500, 3),   # delivered after the phase ended
                 (100, 900)]    # no open-loop event in [900, 902)
        lat, triggers = window_latencies(stream(emits))
        self.assertEqual((lat, triggers), ([], 0))

    def test_generator_lateness_is_push_time_minus_its_tick(self):
        st = {"push_ns": [50 * MS, 130 * MS], "push_due_ns": [50 * MS, 100 * MS]}
        self.assertEqual(generator_lateness(st), [0.0, 30.0])


def open_loop(read_per_trigger, late_ms=0, triggers=10, rate=1000):
    """Open-loop phase of `triggers` one-second triggers at `rate` events/s.
    Trigger i starts at i s and reads what is due by then, but at most
    `read_per_trigger` events per trigger; every 50 ms push is `late_ms`
    late."""
    progress, read = [], 0
    for i in range(triggers):
        due = min(rate * triggers, rate * i + 1)
        n = min(due - read, read_per_trigger)
        progress.append({"batch": i, "start_ms": 1000 * i, "input_rows": n,
                         "duration_ms": {"triggerExecution": 1000}})
        read += n
    ticks = range(1, 20 * triggers + 1)
    return {"rate": rate, "t0_ms": 0, "warm_events": 0, "open_events": rate * triggers,
            "warm_batches": 0, "open_batches": triggers, "tick_ms": 50, "progress": progress,
            "push_due_ns": [50 * k * MS for k in ticks],
            "push_ns": [(50 * k + late_ms) * MS for k in ticks]}


class OpenLoopValidityTest(unittest.TestCase):
    def test_a_consumer_that_keeps_up_is_valid(self):
        v = open_loop_validity(open_loop(read_per_trigger=10**9))
        # the last trigger ends when the phase has pushed its last event
        self.assertEqual((v["backlog_first_rows"], v["backlog_last_rows"]), (1000, 999))
        self.assertEqual(v["trigger_rows"], 1000)
        self.assertTrue(v["valid"])

    def test_a_backlog_that_grows_fails_the_run(self):
        # reads at most 800 of every 1000 events: the backlog grows about
        # 200 per trigger, more than one trigger's worth over the phase
        v = open_loop_validity(open_loop(read_per_trigger=800))
        self.assertEqual((v["backlog_first_rows"], v["backlog_last_rows"]), (1000, 2799))
        self.assertTrue(v["backlog_grew"])
        self.assertFalse(v["valid"])

    def test_a_late_generator_fails_the_run(self):
        v = open_loop_validity(open_loop(read_per_trigger=10**9, late_ms=60))
        self.assertEqual(v["gen_late_p99_ms"], 60.0)
        self.assertTrue(v["generator_late"])
        self.assertFalse(v["valid"])


def span(i, name, start_ms, end_ms, parent=-1):
    return {"id": i, "name": name, "start_ns": start_ms * MS, "end_ns": end_ms * MS,
            "parent": parent}


class SelfTimeTest(unittest.TestCase):
    def test_union_of_children(self):
        self.assertEqual(covered_ns([(10, 40), (30, 60), (70, 200)], 0, 100), 80)

    def test_nested_spans(self):
        spans = [
            span(1, "bench.pass", 0, 100, 0),
            span(2, "queries.build", 10, 40, 1),
            span(3, "queries.exec", 30, 60, 1),       # overlaps its sibling
            span(4, "scheduler.job", 15, 20, 2),
            span(5, "scheduler.job", 70, 80),          # parent unknown: enclosed by 1
            span(6, "plans.analysis", 32, 35, 99),     # parent missing: enclosed by 3
        ]
        parents = resolve_parents(spans)
        self.assertEqual(parents, {1: 0, 2: 1, 3: 1, 4: 2, 5: 1, 6: 3})
        st = self_times(spans)
        self.assertEqual(st["bench"], (100 - 50 - 10) * MS)
        self.assertEqual(st["queries"], ((30 - 5) + (30 - 3)) * MS)
        self.assertEqual(st["scheduler"], (5 + 10) * MS)
        self.assertEqual(st["plans"], 3 * MS)
        # siblings that overlap both count their overlap: self time is per
        # span, so on concurrent work the layers add up to more than wall
        self.assertEqual(sum(st.values()), 110 * MS)

    def test_recorded_parent_that_does_not_enclose_falls_back_to_containment(self):
        spans = [span(1, "bench.open_loop", 0, 1000, 0),
                 span(2, "streaming.start", 0, 10, 1),
                 span(3, "scheduler.job", 500, 600, 2)]   # started by 2, runs later
        self.assertEqual(resolve_parents(spans)[3], 1)


if __name__ == "__main__":
    unittest.main()
