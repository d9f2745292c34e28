#!/usr/bin/env python3
"""Window-aggregation benchmark: one run of one workload.

    python3 winbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (build.py),
starts a fresh JVM with fixed flags on local[nproc-1], measures for about S
seconds, checks the outputs, and prints one JSON line as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 (listeners and spans on) the per-layer metrics. Each run also
leaves a full record under .bench_out/runs/: run conditions, samples, checks
and, for a traced run, the tracing overhead against the latest untraced run
of the same workload and seed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from stats import (median, open_loop_validity, open_triggers, percentile,  # noqa: E402
                   self_times, window_latencies)

WORKLOADS = ("stream_sliding_openloop", "batch_sliding_large")
OUT = ".bench_out"
JVM_TIMEOUT_S = 160
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m", "-Xss4m",
    f"-Djava.io.tmpdir={OUT}/work/tmp",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cores():
    """local[nproc-1]: one core stays free for the Spark driver thread, the
    generator thread and GC."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def cpu_jiffies():
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq,
    steal) from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of the host's CPU time that the hypervisor gave to other guests
    while the run was going: a host problem, not a code problem."""
    if not before or not after:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def e2e_metrics(raw):
    setup = raw["session_s"] + median(raw["setup_rounds_s"]) + raw["warmup_s"]
    if "stream" in raw:
        lat, triggers = window_latencies(raw["stream"])
    else:
        lat = raw["lat_ms"]
        triggers = len(lat)
    p50, n = percentile(lat, 50)
    p90, _ = percentile(lat, 90)
    values = {
        "setup_s": setup,
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "throughput_eps": median(raw["eps"]),
    }
    samples = {"latency_samples": n, "latency_triggers": triggers, "passes": len(raw["pass_s"])}
    return values, samples


def span_window(spans):
    """Spans that start inside the timed phase, and the phase's bounds."""
    timed = [s for s in spans if s["name"] == "bench.timed"]
    if not timed:
        return [], 0, 1
    lo, hi = timed[0]["start_ns"], timed[0]["end_ns"]
    return [s for s in spans if lo <= s["start_ns"] <= hi], lo, hi


def stream_layers(raw, m):
    st = raw["stream"]
    rate, warm = st["rate"], st["warm_events"]
    open_rows = open_triggers(st)
    d = lambda k: [p["duration_ms"].get(k, 0) for p in open_rows]  # noqa: E731
    if open_rows:
        m["streaming.triggers"] = len(open_rows)
        m["streaming.empty_triggers"] = sum(1 for p in open_rows if p["input_rows"] == 0)
        m["streaming.rows_per_trigger"] = median([p["input_rows"] for p in open_rows])
        m["streaming.trigger_p50_ms"] = median(d("triggerExecution"))
        m["streaming.add_batch_ms"] = median(d("addBatch"))
        m["streaming.query_planning_ms"] = median(d("queryPlanning"))
        m["streaming.latest_offset_ms"] = median(d("latestOffset"))
        m["streaming.wal_commit_ms"] = median(d("walCommit"))
        m["streaming.commit_offsets_ms"] = median(d("commitOffsets"))
        m["state.rows_updated"] = sum(p["state_rows_updated"] for p in open_rows)
        m["state.commit_ms"] = median([p["state_commit_ms"] for p in open_rows])
        # Queue wait of the oldest event each trigger read.
        lags = [p["start_ms"] - (st["t0_ms"] + (p["before"] - warm) * 1000 / rate)
                for p in open_rows if p["input_rows"] > 0 and p["before"] >= warm]
        if lags:
            m["sources.lag_p90_ms"] = percentile(lags, 90)[0]
    validity = raw["checks"]["open_loop"]
    m["sources.backlog_max_rows"] = validity["backlog_max_rows"] or 0
    m["gen.late_p99_ms"] = validity["gen_late_p99_ms"]
    rows = st["progress"]
    m["state.rows_total"] = raw["state_rows_total"]
    m["state.rows_dropped_late"] = sum(p["state_rows_dropped"] for p in rows)
    m["state.memory_bytes"] = max((p["state_memory_bytes"] for p in rows), default=0)
    adds = [s["end_ns"] - s["start_ns"] for s in raw["spans"]
            if s["name"] == "sources.add_data" and s["start_ns"] >= 0]
    if adds:
        m["sources.add_data_ms"] = median(adds) / 1e6


def layer_metrics(raw, names):
    m = {n: 0.0 for n in names}
    values, samples = e2e_metrics(raw)
    for k, v in values.items():
        m[f"traced.{k}"] = v
    for k, v in samples.items():
        m[f"bench.{k}"] = v
    m["host.calib_ms"] = median(raw["calib_ms"])
    m["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    m["host.steal_pct"] = raw["host_steal_pct"]

    # Scheduler, shuffle, plans and operator counters: per pass (median over
    # passes) on the batch workloads, over the whole drain on the stream.
    if "stream" in raw:
        counts, walls = [raw["counts"]], [sum(raw["pass_s"]) * 1000]
    else:
        counts, walls = raw["counts_per_pass"], [p * 1000 for p in raw["pass_s"]]
    if counts and counts[0]:
        for k in counts[0]:
            v = median([c[k] for c in counts])
            if k == "scheduler.cpu_ns":
                m["scheduler.cpu_ms"] = v / 1e6
            elif k in m:
                m[k] = v
        m["scheduler.outside_task_ms"] = median(
            [w - c["scheduler.task_ms"] / raw["cores"] for w, c in zip(walls, counts)])

    spans, lo_ns, hi_ns = span_window(raw["spans"])
    wall_ns = hi_ns - lo_ns
    # Calls into the program: median per call, wherever in the run it was
    # made (the batch workload's fixtures run in its output check).
    for name in ("operators.build", "queries.build", "queries.exec"):
        calls = [s["end_ns"] - s["start_ns"] for s in raw["spans"] if s["name"] == name]
        if calls:
            m[f"{name}_ms"] = median(calls) / 1e6
    for layer, ns in self_times(spans).items():
        key = f"self.{layer}_pct"
        if key in m:
            m[key] = 100.0 * ns / wall_ns

    if "stream" in raw:
        stream_layers(raw, m)
    base = raw.get("baseline") or {}
    if base:
        m["baseline.local1_throughput_eps"] = base["local1_throughput_eps"]
        m["baseline.speedup"] = values["throughput_eps"] / base["local1_throughput_eps"]
    undeclared = set(m) - set(names)
    if undeclared:
        raise SystemExit(f"winbench: metrics not declared in BENCHMARK.json: {sorted(undeclared)}")
    return m


def latest_untraced(workload, seed):
    runs = os.path.join(OUT, "runs")
    best = None
    for f in sorted(os.listdir(runs)) if os.path.isdir(runs) else []:
        if f.startswith(f"{workload}-seed{seed}-trace0-"):
            best = f
    if best is None:
        return None
    with open(os.path.join(runs, best)) as fh:
        return json.load(fh)["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build(root)

    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_FLAGS + ["-cp", cp, "winbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--cores", str(cores()), "--work", work]
    log_path = os.path.join(OUT, "jvm.log")
    jiffies = cpu_jiffies()
    with open(log_path, "w") as log:
        try:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
    host_steal = steal_pct(jiffies, cpu_jiffies())
    raw_path = os.path.join(work, "raw.json")
    if not os.path.exists(raw_path):
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit("winbench: the JVM run left no record (see .bench_out/jvm.log)")
    with open(raw_path) as f:
        raw = json.load(f)
    if "error" in raw:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit(f"winbench: run failed: {raw['error']}")
    raw["host_steal_pct"] = host_steal

    failed, attempted = raw["failed"], raw["attempted"]
    if "stream" in raw:
        # A stream that fell behind its offered rate failed: every window
        # counts as failed, not as a slow sample.
        validity = open_loop_validity(raw["stream"])
        raw["checks"]["open_loop"] = validity
        if not validity["valid"]:
            failed = raw["failed"] = attempted
    correct = raw["correct"] and failed == 0

    if args.trace:
        declared = spec["per_layer"]
        values = layer_metrics(raw, [m["name"] for m in declared])
    else:
        declared = spec["end_to_end"]
        values, _ = e2e_metrics(raw)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    record = {k: v for k, v in raw.items() if k not in ("spans", "stream")}
    if "stream" in raw:
        record["stream_progress"] = raw["stream"]["progress"]
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    if args.trace:
        untraced = latest_untraced(args.workload, args.seed)
        if untraced:
            record["tracing_overhead"] = {
                k: values[f"traced.{k}"] - untraced[k] for k in untraced if f"traced.{k}" in values}
        record["spans_written"] = len(raw["spans"])
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(OUT, "runs", name), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(OUT, "runs", name.replace(".json", ".spans.json")), "w") as f:
            json.dump(raw["spans"], f)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
