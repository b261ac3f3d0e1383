"""Per-layer metrics of a traced run, and the end-to-end metric each one
should move (see perfbench/README.md). Computed from the tracer's spans,
the StreamingQueryListener's progress records and the event log, over
the run's timed window. A layer the workload never calls reads 0."""

from __future__ import annotations

import statistics

import measure
import tracing

# name -> (unit, better, the end-to-end metric it should move)
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s"),
    "streaming.first_batch_s": ("s", "lower", "setup_s"),
    "sources.latest_offset_ms": ("ms", "lower", "latency_s on ingest_live"),
    "sources.get_batch_ms": ("ms", "lower", "latency_s on ingest_live"),
    "sources.backlog_files_max": ("count", "lower", "latency_s on ingest_live"),
    "loadgen.late_ms_max": ("ms", "lower", "none: checks the load generator"),
    "streaming.batches": ("count", "higher", "latency_s on ingest_live"),
    "streaming.rows_per_batch": ("count", "lower", "latency_s on ingest_live"),
    "streaming.trigger_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.wal_commit_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.commit_offsets_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.query_planning_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.process_batch_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.process_batch_self_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.move_files_ms": ("ms", "lower", "latency_s on ingest_live"),
    "streaming.drain_s": ("s", "lower", "throughput_per_s on query_mix"),
    "operators.clean_ms": ("ms", "lower", "latency_s on ingest_live"),
    "operators.validate_ms": ("ms", "lower", "latency_s on ingest_live"),
    "operators.bad_row_frac": ("frac", "lower", "none: must equal the planted share"),
    "sinks.write_audit_ms": ("ms", "lower", "latency_s on ingest_live"),
    "catalog.load_table_ms": ("ms", "lower", "latency_s on query_mix"),
    "plans.materialize_ms": ("ms", "lower", "latency_s and throughput_per_s on query_mix"),
    "entry.plan_s": ("s", "lower", "latency_s on query_mix"),
    "entry.execute_s": ("s", "lower", "latency_s on query_mix"),
    "spark.jobs": ("count", "lower", "latency_s on query_mix"),
    "spark.stages": ("count", "lower", "latency_s on query_mix"),
    "spark.tasks": ("count", "lower", "latency_s on query_mix"),
    "spark.jobs_per_batch": ("count", "lower", "latency_s on ingest_live"),
    "spark.core_busy_frac": ("frac", "higher", "latency_s on query_mix"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "throughput_per_s on query_mix"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "throughput_per_s on query_mix"),
    "spark.spill_bytes": ("bytes", "lower", "throughput_per_s on query_mix"),
    "spark.gc_s": ("s", "lower", "throughput_per_s on query_mix"),
}

# span name -> (metric, scale from seconds)
SPAN_METRICS = {
    "streaming.process_batch": ("streaming.process_batch_ms", 1e3),
    "streaming.move_files": ("streaming.move_files_ms", 1e3),
    "streaming.drain": ("streaming.drain_s", 1.0),
    "operators.clean": ("operators.clean_ms", 1e3),
    "operators.validate": ("operators.validate_ms", 1e3),
    "sinks.write_audit": ("sinks.write_audit_ms", 1e3),
    "catalog.load_table": ("catalog.load_table_ms", 1e3),
    "plans.materialize": ("plans.materialize_ms", 1e3),
    "entry.plan": ("entry.plan_s", 1.0),
    "entry.execute": ("entry.execute_s", 1.0),
}

PROGRESS_METRICS = {
    "sources.latest_offset_ms": "latestOffset",
    "sources.get_batch_ms": "getBatch",
    "streaming.trigger_ms": "triggerExecution",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def data_batches(progress: list[dict], w0: float, w1: float) -> list[dict]:
    """Progress records that read rows and committed inside [w0, w1]."""
    out = []
    for p in progress:
        if p.get("event") != "progress" or p.get("numInputRows", 0) <= 0:
            continue
        commit = measure.progress_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        if w0 <= commit <= w1:
            out.append(p)
    return out


def first_batch_s(progress: list[dict]) -> float:
    """From the first streaming query's start to its first commit."""
    started = next((p for p in progress if p.get("event") == "started"), None)
    if started is None:
        return 0.0
    for p in progress:
        if p.get("event") == "progress" and p.get("id") == started["id"] and p["numInputRows"] > 0:
            commit = measure.progress_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            return commit - measure.progress_epoch(started["timestamp"])
    return 0.0


def compute(run, w0: float, w1: float, log: dict, extras: dict[str, float]) -> tuple[dict, dict]:
    """(metrics name -> (value, unit), breakdown for the artifact)."""
    spans = run.tracer.spans
    selfs = tracing.self_times(spans)
    inside = [s for s in spans if s["start"] >= w0 and s["end"] <= w1]
    vals: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
    vals["session.get_spark_s"] = _median(
        [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"])
    vals["streaming.first_batch_s"] = first_batch_s(run.progress)
    for span_name, (metric, scale) in SPAN_METRICS.items():
        vals[metric] = _median([(s["end"] - s["start"]) * scale
                                for s in inside if s["name"] == span_name])
    batches = [s for s in inside if s["name"] == "streaming.process_batch"]
    vals["streaming.process_batch_self_ms"] = _median([selfs[s["id"]] * 1e3 for s in batches])

    prog = data_batches(run.progress, w0, w1)
    vals["streaming.batches"] = len(prog)
    vals["streaming.rows_per_batch"] = _median([p["numInputRows"] for p in prog])
    for metric, key in PROGRESS_METRICS.items():
        vals[metric] = _median([p["durationMs"].get(key, 0) for p in prog])

    c = tracing.spark_counters(log, w0, w1)
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "gc_s"):
        vals[f"spark.{k}"] = c[k]
    vals["spark.core_busy_frac"] = c["executor_run_s"] / ((w1 - w0) * run.cpus)
    vals["spark.jobs_per_batch"] = _median(
        [tracing.spark_counters(log, s["start"], s["end"])["jobs"] for s in batches])
    vals.update(extras)

    breakdown = {
        "batches": [_batch_row(s, spans, selfs, prog, log) for s in batches],
        "queries": [_query_row(s, spans, log) for s in inside if s["name"] == "entry.query"],
    }
    return {k: (vals[k], LAYER_METRICS[k][0]) for k in LAYER_METRICS}, breakdown


def _children(span: dict, spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        if s["parent"] == span["id"]:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def _batch_row(span: dict, spans: list[dict], selfs: dict, prog: list[dict], log: dict) -> dict:
    phases = next((p["durationMs"] for p in prog if p["batchId"] == span.get("batch_id")
                   and measure.progress_epoch(p["timestamp"]) <= span["start"]), {})
    return {
        "batch_id": span.get("batch_id"),
        "process_batch_s": span["end"] - span["start"],
        "self_s": selfs[span["id"]],
        "children_s": _children(span, spans),
        "progress_ms": phases,
        "spark": tracing.spark_counters(log, span["start"], span["end"]),
    }


def _query_row(span: dict, spans: list[dict], log: dict) -> dict:
    kids = _children(span, spans)
    return {
        "query": span.get("query"),
        "total_s": span["end"] - span["start"],
        "plan_s": kids.get("entry.plan", 0.0),
        "execute_s": kids.get("entry.execute", 0.0),
        "spark": tracing.spark_counters(log, span["start"], span["end"]),
    }
