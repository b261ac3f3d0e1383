"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from contextlib import nullcontext

import pytest

import loadgen
import measure
import tracing


# -- percentile rule --------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(19) == 50
    assert measure.tail_percentile(39) == 50
    assert measure.tail_percentile(40) == 75
    assert measure.tail_percentile(99) == 75
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(200) == 95
    assert measure.tail_percentile(1000) == 99


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile([3.0], 99) == 3.0
    summary = measure.latency_summary([float(x) for x in xs])
    assert (summary["n"], summary["tail_pct"], summary["tail"]) == (100, 90, 90.0)
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# -- file -> batch -> commit-time join --------------------------------------

def _progress(batch, ts, dur_ms, rows):
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": dur_ms}}


def test_file_batch_commit_join():
    t0 = measure.progress_epoch("2026-01-01T00:00:10.000Z")
    progress = [
        _progress(0, "2026-01-01T00:00:10.000Z", 2500, 4000),
        _progress(1, "2026-01-01T00:00:12.500Z", 0, 0),  # empty trigger: no commit
        _progress(2, "2026-01-01T00:00:13.000Z", 3000, 2000),
    ]
    commits = measure.batch_commits(progress)
    assert commits == {0: t0 + 2.5, 2: t0 + 6.0}
    manifest = [{"file": "a.csv", "due": t0 - 1.0}, {"file": "b.csv", "due": t0 - 0.5},
                {"file": "c.csv", "due": t0 + 1.0}, {"file": "d.csv", "due": t0 + 2.0}]
    file_batch = {"a.csv": 0, "b.csv": 0, "c.csv": 2}
    lat, missing = measure.file_latencies(manifest, file_batch, commits)
    assert lat == pytest.approx({"a.csv": 3.5, "b.csv": 3.0, "c.csv": 5.0})
    assert missing == ["d.csv"]
    starts = {0: t0, 2: t0 + 3.0}
    # at the second batch's start, b..d were due and nothing after batch 0
    # was committed: c.csv and d.csv are waiting
    assert measure.backlog_max(manifest, file_batch, commits, starts) == 2


# -- load generator ----------------------------------------------------------

def test_generator_is_deterministic_and_plants_exact_counts(tmp_path):
    a = loadgen.render_file(7, 3, 1000)
    assert a == loadgen.render_file(7, 3, 1000)
    assert a != loadgen.render_file(8, 3, 1000)
    lines = a.splitlines()
    assert lines[0].split(",") == loadgen.NAMES and len(lines) == 1001
    counts = loadgen.planted_counts(1000)
    body = [line.split(",") for line in lines[1:]]
    col = loadgen.NAMES.index
    assert sum(all(c == "" for c in r) for r in body) == counts["all_null"]
    assert sum(r[col("temperature_C")] == "abc" for r in body) == counts["not_numeric:temperature_C"]
    assert sum(r[col("sensor_id")] == "" and r[col("farm_id")] != "" for r in body) \
        == counts["null_key:sensor_id"]


def test_generator_process_writes_identical_bytes(tmp_path):
    outs = []
    for k in range(2):
        out = tmp_path / f"out{k}"
        man = tmp_path / f"man{k}.jsonl"
        subprocess.run([sys.executable, loadgen.__file__, "backfill", "--seed", "5",
                        "--out", str(out), "--manifest", str(man), "--rows", "300",
                        "--files", "3"], check=True, capture_output=True)
        outs.append({p.name: p.read_bytes() for p in sorted(out.iterdir())})
        recs = [json.loads(line) for line in man.read_text().splitlines()]
        assert [r["file"] for r in recs] == sorted(outs[-1])
    assert outs[0] == outs[1] and len(outs[0]) == 3


def test_live_generator_records_due_times(tmp_path):
    man = tmp_path / "m.jsonl"
    res = subprocess.run([sys.executable, loadgen.__file__, "live", "--seed", "1",
                          "--out", str(tmp_path / "o"), "--manifest", str(man),
                          "--rows", "50", "--files", "3", "--rate", "20"],
                         check=True, capture_output=True, text=True)
    recs = [json.loads(line) for line in man.read_text().splitlines()]
    gaps = [b["due"] - a["due"] for a, b in zip(recs, recs[1:])]
    assert gaps == pytest.approx([0.05, 0.05])
    assert all(r["sent"] >= r["due"] for r in recs)
    assert json.loads(res.stdout)["late_ms_max"] >= 0.0


# -- correctness checks raise the error count ---------------------------------

def _clean_ingest_state():
    rows = 1000
    planted = loadgen.planted_counts(rows)
    manifest = [{"file": f, "rows": rows, "planted": planted} for f in ("x.csv", "y.csv")]
    bad_per_file = {k: v for k, v in planted.items() if k != "all_null"}
    good = rows - planted["all_null"] - sum(bad_per_file.values())
    sinks = measure.SinkCounts(
        good={"x.csv": good, "y.csv": good},
        bad={(f, k): v for f in ("x.csv", "y.csv") for k, v in bad_per_file.items()},
        audit={0: {"total": 2 * (good + sum(bad_per_file.values())), "good": 2 * good,
                   "bad": 2 * sum(bad_per_file.values()), "status": "SUCCESS"}},
        good_by_batch={0: 2 * good}, bad_by_batch={0: 2 * sum(bad_per_file.values())},
        processed={"x.csv", "y.csv"},
    )
    return manifest, sinks


def test_ingest_checks_pass_on_consistent_sinks():
    manifest, sinks = _clean_ingest_state()
    assert measure.check_ingest(manifest, sinks) == []


def test_missing_file_is_a_failed_operation():
    manifest, sinks = _clean_ingest_state()
    del sinks.good["y.csv"]
    sinks.bad = {k: v for k, v in sinks.bad.items() if k[0] != "y.csv"}
    sinks.processed.discard("y.csv")
    failed = {op for op, _ in measure.check_ingest(manifest, sinks)}
    assert "y.csv" in failed and "x.csv" not in failed


def test_wrong_quarantine_reason_is_a_failed_operation():
    manifest, sinks = _clean_ingest_state()
    n = sinks.bad.pop(("x.csv", "heavy_null_row"))
    sinks.bad[("x.csv", "null_key:sensor_id")] += n
    assert {op for op, _ in measure.check_ingest(manifest, sinks)} == {"x.csv"}


class _FakeFrame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class _FakeRun:
    spark = None
    attempted = 0

    def __init__(self):
        self.failed_ops = set()

    def span(self, name, **attrs):
        return nullcontext()

    def fail(self, op, msg):
        self.failed_ops.add(op)


def test_wrong_query_result_is_a_failed_operation(monkeypatch):
    import __spark_entry__ as entry
    import query_workload

    rows = [(1, "a"), (2, "b")]
    frame = _FakeFrame(["k", "v"], rows)
    monkeypatch.setattr(entry, "queries", lambda: {"fake": lambda spark, d: frame})
    right = measure.fingerprint(["v", "k"], [("b", 2), ("a", 1)])  # order-insensitive
    run = _FakeRun()
    assert query_workload.execute(run, "fake", "unused", right, "ok") is not None
    planted_wrong = measure.fingerprint(["k", "v"], [(1, "a"), (2, "c")])
    assert query_workload.execute(run, "fake", "unused", planted_wrong, "bad") is None
    assert run.attempted == 2 and run.failed_ops == {"bad"}


# -- tracing -----------------------------------------------------------------

def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps span 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_wrap_spans_every_binding_and_restores():
    import types

    def f(x):
        return x + 1

    a, b = types.ModuleType("a"), types.ModuleType("b")
    a.f = b.g = f
    tr = tracing.Tracer()
    tr.wrap([a, b], f, "layer.f")
    with tr.span("outer", trace="t1"):
        assert a.f(1) == 2 and b.g(2) == 3
    names = [s["name"] for s in tr.spans]
    assert names == ["layer.f", "layer.f", "outer"]
    outer = tr.spans[-1]
    assert all(s["parent"] == outer["id"] and s["trace"] == "t1" for s in tr.spans[:2])
    tr.restore()
    assert a.f is f and b.g is f


def test_spark_counters_attribute_jobs_by_submission_time():
    log = {
        "jobs": {("app", 0): {"submit": 1.0}, ("app", 1): {"submit": 5.0}},
        "tasks": [
            {"job": ("app", 0), "stage": ("app", 0, 0), "run_s": 0.5, "gc_s": 0.0,
             "spill": 0, "shuffle_read": 0, "shuffle_write": 10},
            {"job": ("app", 1), "stage": ("app", 1, 0), "run_s": 1.5, "gc_s": 0.1,
             "spill": 0, "shuffle_read": 10, "shuffle_write": 0},
        ],
    }
    c = tracing.spark_counters(log, 4.0, 6.0)
    assert (c["jobs"], c["stages"], c["tasks"], c["shuffle_read_bytes"]) == (1, 1, 1, 10)
    assert c["executor_run_s"] == 1.5


# -- BENCHMARK.json agrees with what the runs print ---------------------------

def test_benchmark_json_lists_the_printed_metrics():
    import os

    import harness
    import layers

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = harness.e2e_metrics(1.0, 1.0, 1.0, 1.0)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        [(k, v["unit"]) for k, v in e2e.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [(k, u, b) for k, (u, b, _) in layers.LAYER_METRICS.items()]
    import run

    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
