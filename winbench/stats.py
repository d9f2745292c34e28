"""Arithmetic of the benchmark report: percentiles with their sample count,
due-time latency of an open-loop stream, generator lateness, and self time
from nested spans. Pure functions over the raw run record; tested by
test_stats.py.
"""
import bisect
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of the
    samples at or below it. Returns (value, sample count)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs)


def median(values):
    return statistics.median(values)


def due_ns(index, rate):
    """Due time of open-loop event `index`, in ns after t0."""
    return index * 1_000_000_000 // rate


def window_latencies(stream):
    """Latency of each window result emitted during the open-loop phase.

    A result (ws, key) is timed from the due time of the last open-loop
    event that contributes to it (same key, event time in [ws, ws + size))
    to the moment its trigger delivered it. Results whose events all came
    before the phase, and results delivered after it, are not samples.
    Returns (latencies in ms, number of distinct triggers they came from).
    """
    size, rate, end = stream["size"], stream["rate"], stream["phase_end_ns"]
    by_key = {}
    for i, (k, es) in enumerate(zip(stream["open_keys"], stream["open_es"])):
        idx, ess = by_key.setdefault(k, ([], []))
        idx.append(i)
        ess.append(es)
    lat, batches = [], set()
    for t, ws, k, b in zip(stream["emit_ns"], stream["emit_ws"], stream["emit_key"],
                           stream["emit_batch"]):
        if t > end or k not in by_key:
            continue
        idx, ess = by_key[k]
        j = bisect.bisect_left(ess, ws + size) - 1
        if j < 0 or ess[j] < ws:
            continue
        lat.append((t - due_ns(idx[j], rate)) / 1e6)
        batches.add(b)
    return lat, len(batches)


def generator_lateness(stream):
    """How late the generator ran, per push in ms: the time the push
    completed minus the tick it was scheduled for."""
    return [(t - due) / 1e6 for t, due in zip(stream["push_ns"], stream["push_due_ns"])]


def open_triggers(stream):
    """The open-loop phase's trigger reports in order, each with `before`:
    the input rows that earlier triggers of the run read."""
    rows = sorted(stream["progress"], key=lambda p: (p["start_ms"], p["batch"]))
    cum, out = 0, []
    for i, p in enumerate(rows):
        if stream["warm_batches"] <= i < stream["open_batches"]:
            out.append(dict(p, before=cum))
        cum += p["input_rows"]
    return out


def backlog_rows(stream, trig):
    """Open-loop events due by the end of trigger `trig` that neither it
    nor an earlier trigger read."""
    end_ms = trig["start_ms"] + trig["duration_ms"].get("triggerExecution", 0)
    due = int((end_ms - stream["t0_ms"]) * stream["rate"] / 1000) + 1
    due = max(0, min(stream["open_events"], due))
    return max(0, stream["warm_events"] + due - (trig["before"] + trig["input_rows"]))


def open_loop_validity(stream):
    """Whether the open-loop phase ran at its offered rate. It did not when
    the backlog at the end of its last trigger is more than one median
    trigger's worth of input above the backlog at the end of its first, or
    when the generator ran more than one tick late at p99."""
    trigs = open_triggers(stream)
    backlog = [backlog_rows(stream, t) for t in trigs]
    busy = [t["duration_ms"].get("triggerExecution", 0) for t in trigs if t["input_rows"] > 0]
    trigger_rows = stream["rate"] * median(busy) / 1000 if busy else 0
    late_p99 = percentile(generator_lateness(stream), 99)[0]
    grew = not backlog or backlog[-1] - backlog[0] > trigger_rows
    late = late_p99 > stream["tick_ms"]
    return {"backlog_first_rows": backlog[0] if backlog else None,
            "backlog_last_rows": backlog[-1] if backlog else None,
            "backlog_max_rows": max(backlog, default=None),
            "trigger_rows": trigger_rows, "gen_late_p99_ms": late_p99,
            "backlog_grew": grew, "generator_late": late, "valid": not (grew or late)}


def resolve_parents(spans, tolerance_ns=2_000_000):
    """Returns {span id: parent id or 0}. A recorded parent is kept when it
    exists and encloses the span; otherwise the parent is the innermost span
    that encloses it (the latest to start, then the shortest; within
    `tolerance_ns`, for millisecond-resolution listener times), or 0 when
    none does."""
    by_id = {s["id"]: s for s in spans}

    def encloses(p, s):
        return (p["id"] != s["id"] and p["start_ns"] - tolerance_ns <= s["start_ns"]
                and s["end_ns"] <= p["end_ns"] + tolerance_ns
                and (p["end_ns"] - p["start_ns"]) >= (s["end_ns"] - s["start_ns"]))

    order = sorted(spans, key=lambda s: (s["start_ns"], -s["end_ns"]))
    parents, open_spans = {}, []
    for s in order:
        open_spans = [p for p in open_spans if p["end_ns"] + tolerance_ns >= s["start_ns"]]
        given = by_id.get(s.get("parent", -1))
        if given is not None and encloses(given, s):
            parents[s["id"]] = given["id"]
        elif s.get("parent", -1) == 0:
            parents[s["id"]] = 0
        else:
            cands = [p for p in open_spans if encloses(p, s)]
            innermost = max(cands, key=lambda p: (p["start_ns"], p["start_ns"] - p["end_ns"]),
                            default=None)
            parents[s["id"]] = innermost["id"] if innermost else 0
        open_spans.append(s)
    return parents


def covered_ns(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Self time of each span (its duration minus the part of it that its
    children cover), summed per layer (the name before the first dot).
    Returns {layer: ns}."""
    parents = resolve_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(parents[s["id"]], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        own = (s["end_ns"] - s["start_ns"]) - covered_ns(kids, s["start_ns"], s["end_ns"])
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0) + own
    return out
