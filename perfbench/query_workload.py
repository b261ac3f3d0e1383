"""The `query_mix` workload: one closed-loop client running registry
queries from __spark_entry__.queries() in a seeded order over the
benchmark's own generated tables, each result checked against a
fingerprint of the query's DuckDB oracle (oracle_sql()) on the same
tables, computed before the timed window."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import duckdb

import measure
import tables
from harness import Run, e2e_metrics

# One per family, the cheapest that covers it, so that a warm pass takes
# about six seconds on 4 cores: TPC-H join and aggregation, window
# analytics, the reference's grouped statistics, validation
# (operators.validation), LLM-data curation (through plans.materialize),
# and a stateful streaming drain (streaming.stateful.drain_to_parquet).
QUERIES = [
    "q3_shipping_priority",
    "window_order_analytics",
    "flagship_event_stats",
    "validation_split",
    "curation_funnel",
    "stream_static_enrichment",
]
MIN_PASSES = 4
DATA_SF = 0.01  # 60,000 lineitem rows
DATA_SEED = 42


def ensure_tables(run: Run) -> str:
    """Generate the tables once per checkout (they depend on nothing but
    the generator); later runs reuse them."""
    d = os.path.join(run.work, "data", f"sf{DATA_SF}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_complete")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tables.write(tmp, DATA_SF, DATA_SEED)
        open(os.path.join(tmp, "_complete"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def expected_fingerprints(data_dir: str, names: list[str]) -> dict[str, list]:
    """Fingerprint of each query's DuckDB oracle over `data_dir`."""
    import __spark_entry__ as entry
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        out[name] = measure.fingerprint([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def _instrument(run: Run) -> None:
    from advanced_real_time_data_pipeline_and_analytical_processing_spark import catalog, session
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import validation
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans import materialize
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    run.instrument([
        (session.get_spark, "session.get_spark"),
        (catalog.load_table, "catalog.load_table"),
        (materialize.materialize, "plans.materialize"),
        (materialize.materialize_round, "plans.materialize"),
        (stateful.drain_to_parquet, "streaming.drain"),
        (validation.validate, "operators.validate"),
    ])


def execute(run: Run, name: str, data_dir: str, expected: list, label: str) -> float | None:
    """Run one query; return its seconds (plan + collect), or None when
    it raised or its result did not match the oracle."""
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    run.attempted += 1
    try:
        with run.span("entry.query", trace=label, query=name):
            t0 = time.perf_counter()
            with run.span("entry.plan"):
                df = fn(run.spark, data_dir)
            with run.span("entry.execute"):
                rows = df.collect()
            secs = time.perf_counter() - t0
    except Exception as exc:  # a failed query is a counted failure, not a crash
        run.fail(label, f"raised {type(exc).__name__}: {str(exc)[:300]}")
        return None
    got = measure.fingerprint(df.columns, [tuple(r) for r in rows])
    if got != expected:
        run.fail(label, f"result {got} != oracle {expected}")
        return None
    return secs


def query_mix(run: Run) -> dict:
    data_dir = ensure_tables(run)
    expected = expected_fingerprints(data_dir, QUERIES)
    _instrument(run)

    def warm(spark):
        execute(run, "flagship_event_stats", data_dir, expected["flagship_event_stats"],
                "setup:flagship_event_stats")

    run.mark("fingerprints")
    run.start_session(warm)
    run.mark("first_setup")
    # Untimed warm-up pass on the same tables: a first execution plans and
    # compiles code for table sizes a smaller warm-up would not reach.
    for name in QUERIES:
        execute(run, name, data_dir, expected[name], f"warm:{name}")
    run.mark("warm_pass")
    # Memory is read here, after every query has run once in a fixed order:
    # what the heap holds depends on which query ran last (its cached
    # frames), and the timed passes end on a different one for each seed.
    mem = run.memory_mb()

    rng = random.Random(run.args.seed)
    samples: list[float] = []
    per_query: dict[str, list[float]] = {}
    w0 = time.time()
    passes = 0
    # At least four passes: query times still fall for several passes
    # after the warm-up one (the first timed pass ran up to 1.7x slower
    # than the second), and a median of four (the mean of the middle two)
    # rests on neither the slow first pass nor the fastest one.
    while passes < MIN_PASSES or time.time() - w0 < run.args.seconds:
        order = QUERIES[:]
        rng.shuffle(order)
        for name in order:
            secs = execute(run, name, data_dir, expected[name], f"{passes}:{name}")
            if secs is not None:
                samples.append(secs)
                per_query.setdefault(name, []).append(secs)
        passes += 1
    w1 = time.time()
    run.mark("window")
    setup_s = run.setup_seconds(warm)
    run.mark("setups")
    if not samples:
        raise RuntimeError("every query failed")
    summary = measure.latency_summary(samples)
    medians = [statistics.median(v) for v in per_query.values()]
    run.artifact.update(latency=summary, passes=passes, per_query_s=per_query,
                        queries=QUERIES, data_sf=DATA_SF)
    # throughput: queries per second over a pass of per-query medians, so
    # that the slow first timed pass weighs the same in a four-pass run as
    # in a five-pass one
    e2e = e2e_metrics(setup_s, measure.geomean(medians), len(medians) / sum(medians), mem)
    return run.finish(e2e, w0, w1)
