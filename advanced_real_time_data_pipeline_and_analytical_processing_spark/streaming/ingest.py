"""Streaming file-ingest pipeline — the reference's core loop, Spark-first.

Reference behavior (``code/Main.py:44-170``): watch a bucket folder,
per micro-batch: read files, clean, validate/split, quarantine bad rows,
enrich good rows, append to serving store, write audit record, move the
consumed files to ``processed/`` (or ``qurantine/`` on failure).

Fixes applied vs the reference (SURVEY.md §4.3):
- §4.3-1 double read: the stream reads the DATA directly
  (``readStream.format('csv'|'json')`` with explicit schema) instead of
  whole-text discovery + batch re-read.
- §4.3-2 unbounded dedup state: the file source's checkpointed
  exactly-once file tracking replaces ``dropDuplicates(file_path)``.
- §4.3-3 action storm: good/bad/total counts come from ``observe()``
  metrics collected during the good-path write — ZERO extra count jobs
  (the reference ran >=12 actions per batch; we run sink writes only;
  the file list rides ``observe()``). The reference also ran its sinks
  one after another; here the quarantine write runs on a per-stream
  worker thread alongside the good write (both read the one persisted
  frame, so the source is scanned once) and is joined before the
  audit record, the file moves and the unpersist.
- §4.3-6/7: typed empty frames, quarantine keyed by batch + source file
  column rather than comma-joined table names.
- §4.3-8 at-least-once side effects: the good and quarantine sinks are
  written with dynamic-partition-overwrite keyed on ``batch_id`` — a
  replayed micro-batch overwrites exactly its own partition, so the data
  sinks are idempotent under foreachBatch's at-least-once contract. The
  audit sink stays append-only on purpose: it is an attempt log, and a
  replay SHOULD leave a second record.
- K5 file lifecycle (reference ``code/utils.py:48-78``,
  ``code/Main.py:153-156,169``): after a successful batch the consumed
  source files move to ``processed_dir``; if the batch raises they move
  to ``failed_dir``. Implemented with the Hadoop FileSystem API (rename,
  copy+delete fallback semantics on object stores) so the same code
  serves file:// in tests and s3a:// in production. Alternatively the
  source itself can archive via ``clean_source``/``source_archive_dir``
  (Spark's own file-source archiving; note Spark delays archiving a
  batch's files until a later batch commits, so outcome-based routing
  still needs the driver-side move).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.cleaning import (
    drop_all_null_rows,
    trim_columns,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.enrichment import row_hash_expr
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.validation import (
    ERROR_COL,
    RuleSet,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
    bootstrap_ingest_dirs,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.writers import (
    AuditRecord,
    write_audit,
)


@dataclass
class IngestConfig:
    source_dir: str
    fmt: str  # "csv" | "json" | "parquet" | "orc" (readStream.format name)
    schema: StructType
    rules: RuleSet
    good_dir: str
    quarantine_dir: str
    audit_dir: str
    checkpoint_dir: str
    max_files_per_trigger: int | None = 1000  # ingest backpressure
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # K5 file lifecycle: where consumed source files are moved after the
    # batch. None disables the corresponding move.
    processed_dir: str | None = None
    failed_dir: str | None = None
    # Spark-native source archiving (alternative to the driver-side
    # moves): clean_source in {"archive", "delete"}.
    clean_source: str | None = None
    source_archive_dir: str | None = None
    # K1/K2 composition hook: called once per micro-batch with the
    # enriched GOOD frame (data cols + file_path + ingestion_ts +
    # row_hash) and the batch id, AFTER the parquet good sink — the
    # slot deploy/job_ingest.py uses to add the staged JDBC MERGE
    # (reference Main.py wrote each batch to Postgres). Must be
    # idempotent under foreachBatch's at-least-once replay contract
    # (upsert_jdbc keyed on row_hash is; a blind append is not).
    on_good: Callable[[DataFrame, int], None] | None = None


def build_stream(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    reader = (
        spark.readStream.format(cfg.fmt)
        .schema(cfg.schema)
        .option("pathGlobFilter", f"*.{cfg.fmt}")
    )
    if cfg.fmt == "csv":
        reader = reader.option("header", "true")
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(cfg.max_files_per_trigger))
    if cfg.clean_source:
        reader = reader.option("cleanSource", cfg.clean_source)
        if cfg.source_archive_dir:
            reader = reader.option("sourceArchiveDir", cfg.source_archive_dir)
    return reader.load(cfg.source_dir)


def move_files(spark: SparkSession, paths: list[str], dest_dir: str | None) -> None:
    """K5: relocate source files into `dest_dir` (reference
    ``code/utils.py:48-78`` did boto3 copy+delete; Hadoop FS ``rename``
    is the portable equivalent — atomic on HDFS/local, copy+delete on
    object stores). Driver-side over file METADATA only: the path list
    is bounded by maxFilesPerTrigger, never row data."""
    if not dest_dir or not paths:
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    dest = HPath(dest_dir)
    fs = dest.getFileSystem(hconf)
    fs.mkdirs(dest)
    for p in paths:
        src = HPath(p)
        src_fs = src.getFileSystem(hconf)
        if src_fs.exists(src):  # replayed batch: file already moved
            src_fs.rename(src, HPath(dest, src.getName()))


def process_batch(cfg: IngestConfig) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: one persisted pass, good/bad split, both sinks
    idempotent on replay, exact audit counts and the batch's file list
    from observe() metrics.

    The stream reads with the fixed ``cfg.schema``, so the clean,
    validate and enrich expressions are built once here, per stream; a
    batch only applies them (same rows as ``validate(clean(df),
    cfg.rules)``).

    Each batch's writes are one-task jobs, so the quarantine write runs
    on this stream's single worker thread while the good write runs on
    the caller's. It inherits the stream's local properties (the run-id
    job group, so stopping the query cancels it). It is unconditional:
    a clean batch commits an empty write. It is joined before the
    SUCCESS audit, the file moves and the unpersist, and a failing
    quarantine write fails the batch like a failing good write. The
    ``on_good`` hook may run while it is still in flight."""
    data_cols = cfg.schema.fieldNames()
    trimmed = trim_columns(cfg.schema)
    error = cfg.rules.error_expr(data_cols).alias(ERROR_COL)
    is_bad = F.col(ERROR_COL).isNotNull()
    # file_path is materialized INSIDE the persisted plan: evaluating
    # input_file_name() above a cache returns '' on cache hits.
    file_path = F.input_file_name().alias("file_path")
    metrics = [
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(is_bad, F.lit(1))).alias("bad"),
        # lifecycle routing list, bounded by the files in the batch
        # (maxFilesPerTrigger) — filled by the good write, no extra job
        F.collect_set("file_path").alias("files"),
    ]
    enrich = [
        *data_cols,
        "file_path",
        F.current_timestamp().alias("ingestion_ts"),
        # hash over the DATA columns only (reference recipe,
        # code/helpers.py:208-215) so replays produce identical
        # idempotency keys.
        row_hash_expr(data_cols).alias("row_hash"),
    ]
    quarantine_date = F.date_format(F.current_timestamp(), "yyyy-MM-dd").alias(
        "quarantine_date"
    )
    quarantine_pool = ThreadPoolExecutor(1, thread_name_prefix="ingest-quarantine")

    def _quarantine(marked: DataFrame, batch_id: int) -> None:
        (
            marked.filter(is_bad)
            .select("*", quarantine_date, F.lit(batch_id).alias("batch_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(cfg.quarantine_dir)
        )

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marked = (
            drop_all_null_rows(batch_df.select(*trimmed))
            .select("*", error, file_path)
            .persist()
        )
        # wrapped per batch: the wrapper captures this thread's local
        # properties (job group, description) when it is built
        quarantined = quarantine_pool.submit(
            inheritable_thread_target(spark)(_quarantine), marked, batch_id
        )
        files: list[str] | None = None
        try:
            obs = Observation()
            enriched = marked.observe(obs, *metrics).filter(~is_bad).select(*enrich)
            (
                enriched.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(cfg.good_dir)
            )
            observed = obs.get  # filled by the write above — no extra jobs
            total, bad_count = int(observed["total"]), int(observed["bad"])
            files = list(observed["files"])

            if cfg.on_good is not None:
                # K1/K2 slot (e.g. staged JDBC MERGE): recomputes from
                # the persisted `marked`, so no second source scan; the
                # Observation already captured its metrics above.
                cfg.on_good(enriched, batch_id)

            quarantined.result()
            write_audit(
                spark,
                cfg.audit_dir,
                AuditRecord(
                    batch_id=batch_id,
                    source=cfg.source_dir,
                    fmt=cfg.fmt,
                    total_rows=total,
                    good_rows=total - bad_count,
                    bad_rows=bad_count,
                    status="SUCCESS",
                ),
            )
            move_files(spark, files, cfg.processed_dir)
        except Exception as exc:  # reference T6: failure audit, then re-raise
            # the quarantine write may still be reading the source files
            # and `marked`: let it end before the moves and the unpersist
            # (its own error, if any, is superseded by `exc`)
            wait([quarantined])
            write_audit(
                spark,
                cfg.audit_dir,
                AuditRecord(
                    batch_id=batch_id,
                    source=cfg.source_dir,
                    fmt=cfg.fmt,
                    total_rows=0,
                    good_rows=0,
                    bad_rows=0,
                    status="FAILURE",
                    message=str(exc)[:500],
                ),
            )
            if files is None and cfg.failed_dir:
                # the good write never finished, so observe() holds no
                # file list: one distinct over the persisted frame
                files = [r[0] for r in marked.select("file_path").distinct().collect()]
            move_files(spark, files or [], cfg.failed_dir)
            raise
        finally:
            marked.unpersist()

    return _run


def start_ingest(spark: SparkSession, cfg: IngestConfig):
    """Start the streaming query. With trigger=availableNow this drains
    the existing backlog and stops (backfill mode); with processingTime
    it runs continuously (reference T1). Storage locations are
    bootstrapped first (K6 — the reference's ``initialize_bucket`` at
    ``code/Main.py:34`` holds the same pre-stream slot)."""
    bootstrap_ingest_dirs(spark, cfg)
    stream = build_stream(spark, cfg)
    writer = (
        stream.writeStream.foreachBatch(process_batch(cfg))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(**cfg.trigger)
    )
    return writer.start()


def run_ingest_once(spark: SparkSession, cfg: IngestConfig) -> None:
    """Synchronous availableNow drain (used by tests/backfills)."""
    cfg.trigger = {"availableNow": True}
    q = start_ingest(spark, cfg)
    q.awaitTermination()


def start_multi_format_ingest(
    spark: SparkSession, cfgs: list[IngestConfig]
) -> list:
    """Reference S7 (format dispatch, ``code/Main.py:76-80``) done the
    Spark way: the reference collected each batch's file paths to the
    driver and grouped them by extension with RDD ops; here each format
    is its own streaming query over the same directory (pathGlobFilter
    separates them at the source), so schemas are fixed at plan time and
    nothing moves driver-side. Queries run concurrently and share
    nothing but the directory."""
    return [start_ingest(spark, cfg) for cfg in cfgs]


def run_multi_format_once(spark: SparkSession, cfgs: list[IngestConfig]) -> None:
    """availableNow drain of every per-format stream (test/backfill)."""
    for cfg in cfgs:
        cfg.trigger = {"availableNow": True}
    for q in start_multi_format_ingest(spark, cfgs):
        q.awaitTermination()
