"""The audit sink's on-disk contract (reference K4): one row per call with
AUDIT_SCHEMA's types and the record's values, one part file per call
under ``audit_date=<UTC date>``, ``audit_ts`` the UTC time of the call."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.writers import (
    AUDIT_SCHEMA,
    AuditRecord,
    write_audit,
)


def _micros(t: dt.datetime) -> int:
    return int(t.timestamp() * 1_000_000)


def test_write_audit_row_schema_values_and_layout(spark, tmp_path):
    out = str(tmp_path / "audit")
    ok = AuditRecord(7, "s3a://bucket/data", "csv", 5, 3, 2, "SUCCESS")
    bad = AuditRecord(None, "s3a://bucket/data", "json", 0, 0, 0, "FAILURE", "boom")
    before = dt.datetime.now(dt.timezone.utc)
    write_audit(spark, out, ok)
    write_audit(spark, out, bad)
    after = dt.datetime.now(dt.timezone.utc)

    # layout: one audit_date=<UTC date> partition, one part file per call
    dates = {before.strftime("%Y-%m-%d"), after.strftime("%Y-%m-%d")}
    parts_dirs = [d for d in os.listdir(out) if d.startswith("audit_date=")]
    assert len(parts_dirs) == 1 and parts_dirs[0].split("=", 1)[1] in dates
    part_dir = os.path.join(out, parts_dirs[0])
    parts = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(parts) == 2

    # types: each part file carries AUDIT_SCHEMA's data columns
    data_fields = [(f.name, f.dataType) for f in AUDIT_SCHEMA.fields if f.name != "audit_date"]
    for part in parts:
        got = spark.read.parquet(os.path.join(part_dir, part)).schema
        assert [(f.name, f.dataType) for f in got.fields] == data_fields

    # values, read back under the explicit schema
    rows = (
        spark.read.schema(AUDIT_SCHEMA)
        .parquet(out)
        .withColumn("audit_us", F.unix_micros("audit_ts"))
        .orderBy(F.col("batch_id").asc_nulls_last())
        .collect()
    )
    assert [r["status"] for r in rows] == ["SUCCESS", "FAILURE"]
    for r, rec in zip(rows, (ok, bad)):
        assert (
            r["batch_id"], r["source"], r["fmt"], r["total_rows"],
            r["good_rows"], r["bad_rows"], r["status"], r["message"],
        ) == (
            rec.batch_id, rec.source, rec.fmt, rec.total_rows,
            rec.good_rows, rec.bad_rows, rec.status, rec.message,
        )
        assert _micros(before) <= r["audit_us"] <= _micros(after)
        assert r["audit_date"] == parts_dirs[0].split("=", 1)[1]
    assert rows[1]["batch_id"] is None and rows[1]["message"] == "boom"
