"""The ingest workloads: `ingest_live` (open loop, files dropped on a
schedule into a running stream) and `ingest_backfill` (a landed backlog
drained with availableNow). Both drive streaming.ingest.start_ingest with
the reference rule set and check every file's rows against what the
generator planted."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import duckdb

import loadgen
import measure
from harness import Run, e2e_metrics

LIVE_RATE = 1.0  # files per second; see README.md for the rate sweep
LIVE_ROWS = 2000
LIVE_TRIGGER = "500 milliseconds"
# The generator starts LIVE_SETTLE_S before the timed window and the files
# due before it are excluded: batch time still falls over the stream's first
# batches (JIT warm-up: 5-6 s early on, 4 s later on a slow host), and with
# 4 s of settle-in the measured batches still carried that fall.
LIVE_SETTLE_S = 8.0
BACKFILL_ROWS = 20000
BACKFILL_FILES = 4
BACKFILL_MAX_FILES = 2  # maxFilesPerTrigger: two batches per drain


def _engine():
    from advanced_real_time_data_pipeline_and_analytical_processing_spark import session
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import (
        cleaning, validation)
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest

    return session, cleaning, validation, ingest


def spark_schema():
    from pyspark.sql import types as T

    types = {"string": T.StringType(), "double": T.DoubleType(), "int": T.IntegerType(),
             "date": T.DateType(), "timestamp": T.TimestampType()}
    return T.StructType([T.StructField(c, types[t]) for c, t in loadgen.COLUMNS])


def _config(base: str, trigger: dict, max_files: int | None):
    _, _, validation, ingest = _engine()
    d = {k: os.path.join(base, k) for k in
         ("source", "good", "quarantine", "audit", "checkpoint", "processed")}
    return ingest.IngestConfig(
        source_dir=d["source"], fmt="csv", schema=spark_schema(),
        rules=validation.reference_ruleset(), good_dir=d["good"],
        quarantine_dir=d["quarantine"], audit_dir=d["audit"],
        checkpoint_dir=d["checkpoint"], processed_dir=d["processed"],
        max_files_per_trigger=max_files, trigger=trigger)


def _instrument(run: Run) -> None:
    session, cleaning, validation, ingest = _engine()
    run.instrument([
        (session.get_spark, "session.get_spark"),
        (cleaning.clean, "operators.clean"),
        (validation.validate, "operators.validate"),
        (ingest.write_audit, "sinks.write_audit"),
        (ingest.move_files, "streaming.move_files"),
    ])


def _warm_action(run: Run):
    """Land one warm-up file; return the set-up's warm-up action, a batch
    read of that file through clean + validate."""
    _, cleaning, validation, _ = _engine()
    warm_src = os.path.join(run.dir, "warm_src")
    run.loadgen("backfill", "--seed", str(run.args.seed), "--out", warm_src,
                "--manifest", os.path.join(run.dir, "warm.jsonl"),
                "--rows", str(LIVE_ROWS), "--files", "1", "--first", "90000")
    schema, rules = spark_schema(), validation.reference_ruleset()

    def warm(spark):
        df = spark.read.schema(schema).option("header", "true").csv(warm_src)
        validation.validate(cleaning.clean(df), rules).groupBy(
            validation.ERROR_COL).count().collect()

    return warm


def _warm_stream(run: Run) -> None:
    """Untimed: drain a copy of the warm-up file through the whole ingest
    path (availableNow) into sinks of its own, so the timed stream starts
    on a JVM that has run a micro-batch (a cold first one takes 10-15 s)."""
    _, _, _, ingest = _engine()
    cfg = _config(os.path.join(run.dir, "warm_stream"), {"availableNow": True}, None)
    shutil.copytree(os.path.join(run.dir, "warm_src"), cfg.source_dir)
    ingest.start_ingest(run.spark, cfg).awaitTermination()


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _read_manifest(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh]


def read_sinks(cfg) -> tuple[measure.SinkCounts, dict[str, int]]:
    """Sink contents read with DuckDB, independently of the engine:
    (counts, file name -> batch id)."""
    con = duckdb.connect()

    def rows(sql: str, d: str) -> list[tuple]:
        if not os.path.isdir(d):
            return []
        src = f"read_parquet('{d}/**/*.parquet', hive_partitioning = true)"
        return con.execute(sql.format(src=src)).fetchall()

    fname = "regexp_extract(file_path, '[^/]+$')"
    good = rows(f"SELECT {fname}, batch_id, count(*) FROM {{src}} GROUP BY ALL", cfg.good_dir)
    bad = rows(f"SELECT {fname}, error_reason, batch_id, count(*) FROM {{src}} GROUP BY ALL",
               cfg.quarantine_dir)
    audit = rows("SELECT batch_id, total_rows, good_rows, bad_rows, status FROM {src}",
                 cfg.audit_dir)
    con.close()
    counts = measure.SinkCounts(
        good={}, bad={}, good_by_batch={}, bad_by_batch={},
        audit={b: {"total": t, "good": g, "bad": q, "status": s} for b, t, g, q, s in audit},
        processed=set(os.listdir(cfg.processed_dir)) if os.path.isdir(cfg.processed_dir) else set(),
        left_in_source={f for f in os.listdir(cfg.source_dir) if f.endswith(".csv")},
    )
    file_batch: dict[str, int] = {}
    for f, b, n in good:
        counts.good[f] = counts.good.get(f, 0) + n
        counts.good_by_batch[b] = counts.good_by_batch.get(b, 0) + n
        file_batch[f] = b
    for f, reason, b, n in bad:
        counts.bad[(f, reason)] = counts.bad.get((f, reason), 0) + n
        counts.bad_by_batch[b] = counts.bad_by_batch.get(b, 0) + n
    return counts, file_batch


def _check(run: Run, manifest: list[dict], cfg) -> tuple[measure.SinkCounts, dict[str, int]]:
    sinks, file_batch = read_sinks(cfg)
    run.attempted += len(manifest) + len(sinks.audit)
    for op, msg in measure.check_ingest(manifest, sinks):
        run.fail(op, msg)
    return sinks, file_batch


def _bad_row_frac(sinks: measure.SinkCounts, manifest: list[dict], run: Run) -> float:
    total = sum(a["total"] for a in sinks.audit.values())
    frac = sum(a["bad"] for a in sinks.audit.values()) / total if total else 0.0
    planted = sum(v for r in manifest for k, v in r["planted"].items() if k != "all_null")
    expect = planted / sum(r["rows"] - r["planted"]["all_null"] for r in manifest)
    if abs(frac - expect) > 1e-12:
        run.fail("audit", f"bad row share {frac} != planted {expect}")
    return frac


def ingest_live(run: Run) -> dict:
    _instrument(run)
    warm = _warm_action(run)
    run.start_session(warm)
    run.mark("first_setup")
    _warm_stream(run)
    run.mark("warm_stream")
    _, _, _, ingest = _engine()
    seed, cfg = str(run.args.seed), _config(run.dir, {"processingTime": LIVE_TRIGGER}, None)
    q = ingest.start_ingest(run.spark, cfg)
    live_man = os.path.join(run.dir, "live.jsonl")
    n_settle = int(LIVE_RATE * LIVE_SETTLE_S)
    n_files = max(int(LIVE_RATE * run.args.seconds), 1)
    start = time.time() + 0.2
    w0 = start + n_settle / LIVE_RATE
    gen = run.loadgen_async(
        "live", "--seed", seed, "--out", cfg.source_dir, "--manifest", live_man,
        "--rows", str(LIVE_ROWS), "--files", str(n_settle + n_files),
        "--rate", str(LIVE_RATE), "--start-epoch", repr(start))
    out, _ = gen.communicate(timeout=LIVE_SETTLE_S + run.args.seconds + 60)
    q.processAllAvailable()
    w1 = time.time()
    run.mark("window")
    progress = _progress(q)
    q.stop()
    mem = run.memory_mb()
    run.mark("memory")
    setup_s = run.setup_seconds(warm)
    run.mark("setups")
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    late_ms = json.loads(out.strip().splitlines()[-1])["late_ms_max"]

    manifest = _read_manifest(live_man)
    live = manifest[n_settle:]
    sinks, file_batch = _check(run, manifest, cfg)
    commits = measure.batch_commits(progress)
    lat, missing = measure.file_latencies(live, file_batch, commits)
    for f in missing:
        run.fail(f, "no committed micro-batch holds its rows")
    if not lat:
        raise RuntimeError("no file was committed")
    starts = {p["batchId"]: measure.progress_epoch(p["timestamp"]) for p in progress}
    rows = sum(r["rows"] - r["planted"]["all_null"] for r in live if r["file"] in lat)
    span = max(commits[file_batch[f]] for f in lat) - min(r["due"] for r in live)
    summary = measure.latency_summary(list(lat.values()))
    run.artifact.update(latency=summary, files=lat, late_ms_max=late_ms, rate=LIVE_RATE,
                        batch_ms=[(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
                                  for p in progress],
                        batches={b: [f for f, bb in file_batch.items() if bb == b]
                                 for b in sorted(set(file_batch.values()))})
    e2e = e2e_metrics(setup_s, summary["p50"], rows / span, mem)
    return run.finish(e2e, w0, w1, {
        "loadgen.late_ms_max": late_ms,
        "sources.backlog_files_max": measure.backlog_max(live, file_batch, commits, starts),
        "operators.bad_row_frac": _bad_row_frac(sinks, manifest, run),
    })


def _drain(run: Run, cfg, manifest_path: str, first: int) -> tuple[float, float, list[dict]]:
    """Land one backlog and drain it; (start, end, progress)."""
    _, _, _, ingest = _engine()
    run.loadgen("backfill", "--seed", str(run.args.seed), "--out", cfg.source_dir,
                "--manifest", manifest_path, "--rows", str(BACKFILL_ROWS),
                "--files", str(BACKFILL_FILES), "--first", str(first))
    t0 = time.time()
    with run.span("streaming.drain_backlog"):
        q = ingest.start_ingest(run.spark, cfg)
        q.awaitTermination()
    return t0, time.time(), _progress(q)


def ingest_backfill(run: Run) -> dict:
    _instrument(run)
    warm = _warm_action(run)
    run.start_session(warm)
    cfg = _config(run.dir, {"availableNow": True}, BACKFILL_MAX_FILES)
    warm_man = os.path.join(run.dir, "backlog_warm.jsonl")
    _drain(run, cfg, warm_man, 0)
    manifests, drains = [warm_man], []
    w0 = time.time()
    while not drains or time.time() - w0 < run.args.seconds:
        path = os.path.join(run.dir, f"backlog{len(manifests)}.jsonl")
        t0, t1, progress = _drain(run, cfg, path, len(manifests) * BACKFILL_FILES)
        manifests.append(path)
        drains.append((t0, t1, progress, _read_manifest(path)))
    w1 = time.time()
    mem = run.memory_mb()
    setup_s = run.setup_seconds(warm)
    manifest = [r for p in manifests for r in _read_manifest(p)]
    sinks, file_batch = _check(run, manifest, cfg)
    rates, lat_samples = [], []
    for t0, t1, progress, man in drains:
        commits = measure.batch_commits(progress)
        lat, missing = measure.file_latencies([{**r, "due": t0} for r in man], file_batch, commits)
        for f in missing:
            run.fail(f, "no committed micro-batch holds its rows")
        lat_samples += lat.values()
        rates.append(sum(r["rows"] - r["planted"]["all_null"] for r in man) / (t1 - t0))
    summary = measure.latency_summary(lat_samples)
    run.artifact.update(latency=summary, drain_rows_per_s=rates)
    e2e = e2e_metrics(setup_s, summary["p50"], statistics.median(rates), mem)
    extras = {"operators.bad_row_frac": _bad_row_frac(sinks, manifest, run)}
    if run.tracer:
        run.artifact["local1_baseline"] = _local1_baseline(run)
    return run.finish(e2e, w0, w1, extras)


def _local1_baseline(run: Run) -> dict:
    """One more backlog drained on a single core, after the timed window."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark import session

    run.stop_spark()
    run.spark = session.get_spark("perfbench-local1", cpus=1)
    base = os.path.join(run.dir, "local1")
    cfg = _config(base, {"availableNow": True}, BACKFILL_MAX_FILES)
    _drain(run, cfg, os.path.join(base, "warm.jsonl"), 0)
    path = os.path.join(base, "backlog.jsonl")
    t0, t1, _ = _drain(run, cfg, path, BACKFILL_FILES)
    man = _read_manifest(path)
    rows = sum(r["rows"] - r["planted"]["all_null"] for r in man)
    return {"master": "local[1]", "rows": rows, "drain_s": t1 - t0, "rows_per_s": rows / (t1 - t0)}
