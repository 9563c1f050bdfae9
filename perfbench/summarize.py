#!/usr/bin/env python3
"""Summarise a traced run's spans into the per-layer metrics.

Usage: python3 perfbench/summarize.py .bench_build/trace-<workload>.jsonl

The trace is JSON lines: spans (name, start/end ns, parent id, shared run id,
and the Spark jobs/stages/tasks charged to the span itself), counts and
sample lists. A layer's self time is its spans' time minus the time of their
child spans. Spans under a `*.warmup` span are ignored. Every metric in
METRICS is printed; a layer the workload does not touch reads 0.
"""
import json
import sys

FAMILIES = ["c", "dd", "m", "q", "sp", "ss", "t"]

# (name, unit) of every per-layer metric, in BENCHMARK.json order.
METRICS = [
    ("jdbc.discover_s", "s"), ("jdbc.scan_s", "s"), ("jdbc.scan_rows", "count"),
    ("jdbc.scan_tasks", "count"),
    ("queries.build_jobs", "count"), ("queries.build_s", "s"),
    ("canonical.encode_s", "s"), ("canonical.bytes", "bytes"),
    ("store.send_s", "s"), ("store.send_calls", "count"), ("store.send_jobs", "count"),
    ("store.records_written", "count"),
    ("store.compact_s", "s"), ("store.records_scanned", "count"),
    ("store.read_amplification", "ratio"), ("store.compact_shuffle_bytes", "bytes"),
    ("store.end_offsets_calls", "count"),
    ("ops.load_s", "s"), ("ops.load_rows_per_s", "rows/s"), ("ops.diff_s", "s"),
    ("ops.sync_s", "s"), ("ops.verify_s", "s"), ("ops.diff_shuffle_bytes", "bytes"),
    ("ops.diff_spill_bytes", "bytes"), ("ops.sync_sent", "count"),
    ("ops.sync_useful_ratio", "ratio"), ("ops.verify_attempts", "count"),
    ("cdc.bootstrap_s", "s"), ("cdc.batches", "count"), ("cdc.rows_per_batch_p50", "count"),
    ("cdc.batch_ms_p50", "ms"), ("cdc.batch_ms_p90", "ms"),
    ("cdc.latest_offset_ms_p50", "ms"), ("cdc.query_planning_ms_p50", "ms"),
    ("cdc.wal_commit_ms_p50", "ms"), ("cdc.add_batch_ms_p50", "ms"),
    ("cdc.feed_rows_s", "rows/s"), ("cdc.records_per_change", "ratio"),
    ("cdc.backlog_rows_max", "count"), ("cdc.catchup_rows_per_s", "rows/s"),
    ("cdc.gen_late_ms_p99", "ms"),
    ("queries.plan_s", "s"), ("queries.exec_s", "s"), ("queries.exec_jobs", "count"),
    ("queries.stages", "count"), ("queries.tasks", "count"),
    ("queries.task_time_s", "s"), ("queries.shuffle_bytes", "bytes"),
    ("queries.spill_bytes", "bytes"),
] + [(f"queries.{p}_s.{f}", "s") for p in ("build", "exec") for f in FAMILIES] + [
    ("materialize.pins", "count"), ("materialize.pinned_bytes_peak", "bytes"),
    ("jvm.gc_s", "s"), ("setup.session_s", "s"),
]


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(xs, q):
    """Linear-interpolated percentile, as the benchmark's own Stats."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def per_layer(events):
    spans = {e["id"]: e for e in events if e["type"] == "span"}
    counts = {e["name"]: e["value"] for e in events if e["type"] == "count"}
    samples = {e["name"]: e["values"] for e in events if e["type"] == "samples"}

    def warm(s):
        while s:
            if s["name"].endswith(".warmup"):
                return True
            s = spans.get(s["parent"])
        return False

    live = [s for s in spans.values() if not warm(s)]
    child_s = {}
    for s in live:
        if s["parent"] in spans:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + dur(s)

    def sel(pred):
        return [s for s in live if pred(s["name"])]

    def total(pred, self_time=False):
        return sum(dur(s) - (child_s.get(s["id"], 0.0) if self_time else 0.0)
                   for s in sel(pred))

    def work(pred, key):
        return sum(s[key] for s in sel(pred))

    def named(n):
        return lambda x: x == n

    def prefix(p):
        return lambda x: x.startswith(p)

    c = counts.get
    m = {
        "jdbc.discover_s": total(named("jdbc.discover")),
        "jdbc.scan_s": total(named("jdbc.scan")),
        "jdbc.scan_rows": c("jdbc.scan_rows", 0),
        "jdbc.scan_tasks": work(named("jdbc.scan"), "tasks"),
        "queries.build_jobs": work(prefix("queries.build:"), "jobs"),
        "queries.build_s": total(prefix("queries.build:")),
        "canonical.encode_s": total(named("canonical.encode")),
        "canonical.bytes": c("canonical.bytes", 0),
        "store.send_s": total(named("store.send")),
        "store.send_calls": c("store.send_calls", 0),
        "store.send_jobs": work(named("store.send"), "jobs"),
        "store.records_written": c("store.records_written", 0),
        "store.compact_s": total(named("store.compact")),
        "store.records_scanned": c("store.records_scanned", 0),
        "store.read_amplification": ratio(c("store.records_scanned", 0), c("store.live_keys", 0)),
        "store.compact_shuffle_bytes": work(named("store.compact"), "shuffle_bytes"),
        "store.end_offsets_calls": c("store.end_offsets_calls", 0),
        "ops.load_s": total(named("ops.load"), self_time=True),
        "ops.load_rows_per_s": ratio(c("ops.load_rows", 0), total(named("ops.load"))),
        "ops.diff_s": total(named("ops.diff"), self_time=True),
        "ops.sync_s": total(named("ops.sync"), self_time=True),
        "ops.verify_s": total(lambda n: n in ("ops.verify", "ops.verify_sync"), self_time=True),
        "ops.diff_shuffle_bytes": work(named("ops.diff"), "shuffle_bytes"),
        "ops.diff_spill_bytes": work(named("ops.diff"), "spill_bytes"),
        "ops.sync_sent": c("ops.sync_sent", 0),
        "ops.sync_useful_ratio": ratio(c("ops.sync_expected", 0), c("ops.sync_sent", 0)),
        "ops.verify_attempts": c("ops.verify_attempts", 0),
        "cdc.bootstrap_s": total(named("cdc.bootstrap")),
        "cdc.batches": c("cdc.batches", 0),
        "cdc.rows_per_batch_p50": pct(samples.get("cdc.rows_per_batch", []), 0.5),
        "cdc.batch_ms_p50": pct(samples.get("cdc.batch_ms", []), 0.5),
        "cdc.batch_ms_p90": pct(samples.get("cdc.batch_ms", []), 0.9),
        "cdc.latest_offset_ms_p50": pct(samples.get("cdc.latest_offset_ms", []), 0.5),
        "cdc.query_planning_ms_p50": pct(samples.get("cdc.query_planning_ms", []), 0.5),
        "cdc.wal_commit_ms_p50": pct(samples.get("cdc.wal_commit_ms", []), 0.5),
        "cdc.add_batch_ms_p50": pct(samples.get("cdc.add_batch_ms", []), 0.5),
        "cdc.feed_rows_s": ratio(c("cdc.feed_rows", 0), c("cdc.feed_s", 0)),
        "cdc.records_per_change": ratio(c("cdc.phase_a_records", 0), c("cdc.phase_a_changes", 0)),
        "cdc.backlog_rows_max": max(samples.get("cdc.rows_per_batch", [0])),
        "cdc.catchup_rows_per_s": pct(samples.get("cdc.catchup_rows_per_s", []), 0.5),
        "cdc.gen_late_ms_p99": pct(samples.get("cdc.gen_late_ms", []), 0.99),
        "queries.plan_s": total(prefix("queries.plan:")),
        "queries.exec_s": total(prefix("queries.exec:")),
        "queries.exec_jobs": work(prefix("queries.exec:"), "jobs"),
        "materialize.pins": c("materialize.pins", 0),
        "materialize.pinned_bytes_peak": max(samples.get("materialize.pinned_bytes", [0])),
        "jvm.gc_s": c("jvm.gc_s", 0),
        "setup.session_s": c("setup.session_s", 0),
    }
    query_spans = prefix("queries.")
    for key, field, scale in (("stages", "stages", 1), ("tasks", "tasks", 1),
                              ("task_time_s", "task_time_ms", 1e-3),
                              ("shuffle_bytes", "shuffle_bytes", 1),
                              ("spill_bytes", "spill_bytes", 1)):
        m[f"queries.{key}"] = work(query_spans, field) * scale
    for f in FAMILIES:
        for phase in ("build", "exec"):
            m[f"queries.{phase}_s.{f}"] = total(named(f"queries.{phase}:{f}"))
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in METRICS}


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def ratio(a, b):
    return a / b if b else 0.0


if __name__ == "__main__":
    for name, v in per_layer(load(sys.argv[1])).items():
        print(f"{name:36s} {v['value']:16.4f} {v['unit']}")
