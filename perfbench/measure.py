"""Pure measurement and correctness logic shared by the workloads.

Nothing here touches Spark, so it is unit-tested on plain data
(perfbench/tests/test_measure.py).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import resource
from dataclasses import dataclass, field

PERCENTILE_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(math.ceil(p / 100.0 * len(s)), 1)
    return s[k - 1]


def tail_percentile(n: int) -> int:
    """The highest ladder percentile with at least MIN_BEYOND samples
    strictly beyond its nearest-rank position; 50 when even the median
    has fewer (the median is then the only timing reported)."""
    for p in PERCENTILE_LADDER:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return 50


def latency_summary(samples: list[float]) -> dict:
    tail = tail_percentile(len(samples))
    return {
        "n": len(samples),
        "p50": percentile(samples, 50),
        "tail_pct": tail,
        "tail": percentile(samples, tail),
    }


def geomean(values: list[float]) -> float:
    """Geometric mean, the summary for a mix of unlike operations: each
    one's relative change weighs the same however long it takes."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def progress_epoch(ts: str) -> float:
    """StreamingQueryProgress.timestamp ('2026-01-02T03:04:05.678Z') as
    epoch seconds."""
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def batch_commits(progress: list[dict]) -> dict[int, float]:
    """batch id -> commit time (trigger start + triggerExecution) for
    every progress record of one query that read rows."""
    return {
        p["batchId"]: progress_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
        if p.get("numInputRows", 0) > 0
    }


def file_latencies(
    manifest: list[dict], file_batch: dict[str, int], commits: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Join file -> batch (from the good sink's file_path/batch_id) ->
    commit time, and time each file from when it was due. Returns
    (latency by file name, names of files with no committed batch)."""
    out: dict[str, float] = {}
    missing: list[str] = []
    for rec in manifest:
        b = file_batch.get(rec["file"])
        if b is None or b not in commits:
            missing.append(rec["file"])
        else:
            out[rec["file"]] = commits[b] - rec["due"]
    return out, missing


def backlog_max(manifest: list[dict], file_batch: dict[str, int], commits: dict[int, float],
                starts: dict[int, float]) -> int:
    """Most files that were due but not yet committed at any batch start."""
    worst = 0
    for t in starts.values():
        due = sum(1 for r in manifest if r["due"] <= t)
        done = sum(1 for r in manifest
                   if commits.get(file_batch.get(r["file"], -1), math.inf) <= t)
        worst = max(worst, due - done)
    return worst


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> list:
    """[row count, sha256] of a result, insensitive to row and column
    order: columns are sorted by name, rows by their rendered text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    head = "\x1f".join(sorted(columns))
    digest = hashlib.sha256("\x1e".join([head, *lines]).encode()).hexdigest()
    return [len(lines), digest]


@dataclass
class SinkCounts:
    """What the ingest sinks hold, read back outside the engine."""

    good: dict[str, int]  # file name -> good rows
    bad: dict[tuple[str, str], int]  # (file name, error_reason) -> rows
    audit: dict[int, dict]  # batch id -> {"total","good","bad","status"}
    good_by_batch: dict[int, int]
    bad_by_batch: dict[int, int]
    processed: set[str] = field(default_factory=set)
    left_in_source: set[str] = field(default_factory=set)


def check_ingest(manifest: list[dict], sinks: SinkCounts) -> list[tuple[str, str]]:
    """Every violated ingest invariant as (operation, message); empty when
    correct. Operations are file names and "batch N".

    Per file: good + quarantined = generated - planted all-null rows;
    each error_reason's quarantine count = its planted count; the file
    ends in processed/ and not in the source directory. Per batch: the
    audit record says SUCCESS and its counts equal the sinks'."""
    errors: list[tuple[str, str]] = []
    for rec in manifest:
        f, planted = rec["file"], rec["planted"]
        expect_bad = {k: v for k, v in planted.items() if k != "all_null" and v}
        got_bad = {r: n for (ff, r), n in sinks.bad.items() if ff == f}
        good = sinks.good.get(f, 0)
        if good + sum(got_bad.values()) != rec["rows"] - planted.get("all_null", 0):
            errors.append((f, f"good+quarantined={good + sum(got_bad.values())}, "
                              f"expected {rec['rows'] - planted.get('all_null', 0)}"))
        if got_bad != expect_bad:
            errors.append((f, f"quarantine by reason {got_bad} != planted {expect_bad}"))
        if f not in sinks.processed or f in sinks.left_in_source:
            errors.append((f, "not moved to processed/"))
    for b, a in sorted(sinks.audit.items()):
        g, q = sinks.good_by_batch.get(b, 0), sinks.bad_by_batch.get(b, 0)
        if a["status"] != "SUCCESS" or (a["good"], a["bad"], a["total"]) != (g, q, g + q):
            errors.append((f"batch {b}", f"audit {a} != sinks good={g} bad={q}"))
    for b in set(sinks.good_by_batch) - set(sinks.audit):
        errors.append((f"batch {b}", "no audit record"))
    return errors


def rss_mb() -> float:
    """This process's current resident set size."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS in /proc/self/status")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of the given processes, plus
    this process when it is not among them."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    if os.getpid() not in pids:
        total_kb += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return total_kb / 1024.0
