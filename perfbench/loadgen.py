"""Seeded load generator for the ingest workloads.

Runs as its own process with one thread, so the engine under test never
shares an interpreter with the thing that feeds it. It writes
smart_farming CSV files (22 columns, FIXTURES.md A1) with the A2 corrupt
rows planted at fixed shares, each file first under a dot-prefixed temp
name (the file source ignores those) and then renamed into the source
directory.

    python3 perfbench/loadgen.py live     --seed S --out DIR --manifest M \
        --rows 2000 --files 40 --rate 1.5 --start-epoch T
    python3 perfbench/loadgen.py backfill --seed S --out DIR --manifest M \
        --rows 20000 --files 8

`live` drops file i when it is due, at start-epoch + i / rate, and never
slows down when the engine does: a late drop is recorded, not
rescheduled. `backfill` lands every file at once. Each file's due time,
send time, row count and planted counts go to a JSON-lines manifest
beside the data, so the CSV keeps the reference's schema. File contents
depend only on (seed, file index): the same seed gives byte-identical
files.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

# (name, spark type) in the reference's column order. temperature_C is
# read as a string so a non-numeric value reaches the numeric rule
# instead of being nulled by the CSV parser.
COLUMNS: list[tuple[str, str]] = [
    ("farm_id", "string"),
    ("region", "string"),
    ("crop_type", "string"),
    ("soil_moisture_%", "double"),
    ("soil_pH", "double"),
    ("temperature_C", "string"),
    ("rainfall_mm", "double"),
    ("humidity_%", "double"),
    ("sunlight_hours", "double"),
    ("irrigation_type", "string"),
    ("fertilizer_type", "string"),
    ("pesticide_usage_ml", "double"),
    ("sowing_date", "date"),
    ("harvest_date", "date"),
    ("total_days", "int"),
    ("yield_kg_per_hectare", "double"),
    ("sensor_id", "string"),
    ("timestamp", "timestamp"),
    ("latitude", "double"),
    ("longitude", "double"),
    ("NDVI_index", "double"),
    ("crop_disease_status", "string"),
]
NAMES = [c for c, _ in COLUMNS]

REGIONS = ["North India", "South USA", "East Africa", "Central Europe", "South America"]
CROPS = ["Wheat", "Soybean", "Rice", "Maize", "Cotton"]
IRRIGATION = ["None", "Sprinkler", "Drip", "Manual"]
FERTILIZER = ["Organic", "Inorganic", "Mixed"]
DISEASE = ["None", "Mild", "Moderate", "Severe"]

# Planted corrupt rows as shares of a file, and the error_reason the
# engine's reference rule set (operators.validation.reference_ruleset)
# gives each. All-null rows are dropped by cleaning before validation
# and so appear in neither output.
PLANTED: dict[str, float] = {
    "null_key:sensor_id": 0.004,
    "null_key:timestamp": 0.003,
    "null_key:temperature_C": 0.003,
    "not_numeric:temperature_C": 0.005,
    "out_of_range:temperature_C": 0.005,
    "heavy_null_row": 0.005,
    "all_null": 0.005,
}
# columns a heavy-null row blanks: 12 of 22, none of the key fields
HEAVY_NULL_COLS = [
    "farm_id", "region", "crop_type", "soil_moisture_%", "soil_pH",
    "rainfall_mm", "humidity_%", "sunlight_hours", "irrigation_type",
    "fertilizer_type", "pesticide_usage_ml", "NDVI_index",
]


def planted_counts(rows: int) -> dict[str, int]:
    return {k: int(round(rows * share)) for k, share in PLANTED.items()}


def file_name(i: int) -> str:
    return f"farm_{i:05d}.csv"


def _base_rows(rng: np.random.Generator, i: int, rows: int) -> list[list[str]]:
    n = rows
    sow = rng.integers(0, 90, n)  # days into 2024
    days = rng.integers(90, 181, n)
    day0 = np.datetime64("2024-01-01")
    sowing = day0 + sow.astype("timedelta64[D]")
    harvest = sowing + days.astype("timedelta64[D]")
    ts = day0 + rng.integers(0, 120, n).astype("timedelta64[D]")
    farm = rng.integers(1, 501, n)
    cols = {
        "farm_id": [f"FARM{v:04d}" for v in farm],
        "region": [REGIONS[v] for v in rng.integers(0, len(REGIONS), n)],
        "crop_type": [CROPS[v] for v in rng.integers(0, len(CROPS), n)],
        "soil_moisture_%": [f"{v:.2f}" for v in rng.uniform(10, 50, n)],
        "soil_pH": [f"{v:.2f}" for v in rng.uniform(4.5, 8.5, n)],
        "temperature_C": [f"{v:.2f}" for v in rng.uniform(-10, 45, n)],
        "rainfall_mm": [f"{v:.2f}" for v in rng.uniform(20, 300, n)],
        "humidity_%": [f"{v:.2f}" for v in rng.uniform(20, 95, n)],
        "sunlight_hours": [f"{v:.2f}" for v in rng.uniform(2, 12, n)],
        "irrigation_type": [IRRIGATION[v] for v in rng.integers(0, len(IRRIGATION), n)],
        "fertilizer_type": [FERTILIZER[v] for v in rng.integers(0, len(FERTILIZER), n)],
        "pesticide_usage_ml": [f"{v:.2f}" for v in rng.uniform(0, 50, n)],
        "sowing_date": [str(v) for v in sowing],
        "harvest_date": [str(v) for v in harvest],
        "total_days": [str(v) for v in days],
        "yield_kg_per_hectare": [f"{v:.2f}" for v in rng.uniform(1000, 9000, n)],
        "sensor_id": [f"SENS{(i * rows + r) % 10000:04d}" for r in range(n)],
        "timestamp": [str(v) for v in ts],
        "latitude": [f"{v:.6f}" for v in rng.uniform(-35, 40, n)],
        "longitude": [f"{v:.6f}" for v in rng.uniform(-120, 90, n)],
        "NDVI_index": [f"{v:.3f}" for v in rng.uniform(0, 1, n)],
        "crop_disease_status": [DISEASE[v] for v in rng.integers(0, len(DISEASE), n)],
    }
    return [[cols[c][r] for c in NAMES] for r in range(n)]


def render_file(seed: int, i: int, rows: int) -> str:
    """CSV text of file `i` — a pure function of (seed, i, rows)."""
    rng = np.random.default_rng([seed, i])
    data = _base_rows(rng, i, rows)
    counts = planted_counts(rows)
    slots = rng.permutation(rows)[: sum(counts.values())]
    pos = 0
    col = {c: k for k, c in enumerate(NAMES)}
    for kind, k in counts.items():
        for r in slots[pos : pos + k]:
            row = data[r]
            if kind == "all_null":
                row[:] = [""] * len(NAMES)
            elif kind.startswith("null_key:"):
                row[col[kind.split(":", 1)[1]]] = ""
            elif kind == "not_numeric:temperature_C":
                row[col["temperature_C"]] = "abc"
            elif kind == "out_of_range:temperature_C":
                row[col["temperature_C"]] = "61.79" if r % 2 else "-77.00"
            elif kind == "heavy_null_row":
                for c in HEAVY_NULL_COLS:
                    row[col[c]] = ""
        pos += k
    lines = [",".join(NAMES)] + [",".join(r) for r in data]
    return "\n".join(lines) + "\n"


def land(out_dir: str, i: int, text: str) -> None:
    """Write under a hidden temp name, then rename into place."""
    tmp = os.path.join(out_dir, f".{file_name(i)}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(out_dir, file_name(i)))


def run(args: argparse.Namespace) -> dict:
    os.makedirs(args.out, exist_ok=True)
    late_ms_max = 0.0
    with open(args.manifest, "w") as man:
        for k in range(args.files):
            i = args.first + k
            text = render_file(args.seed, i, args.rows)
            due = args.start_epoch + k / args.rate if args.mode == "live" else time.time()
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            sent = time.time()
            land(args.out, i, text)
            late_ms_max = max(late_ms_max, (sent - due) * 1e3)
            rec = {"file": file_name(i), "index": i, "due": due, "sent": sent,
                   "rows": args.rows, "planted": planted_counts(args.rows)}
            man.write(json.dumps(rec) + "\n")
            man.flush()
    return {"files": args.files, "late_ms_max": late_ms_max}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("mode", choices=["live", "backfill"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--rows", type=int, default=2000)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--first", type=int, default=0, help="index of the first file")
    p.add_argument("--rate", type=float, default=1.0, help="live: files per second")
    p.add_argument("--start-epoch", type=float, default=0.0, help="live: due time of file 0")
    args = p.parse_args(argv)
    if args.mode == "live" and args.start_epoch <= 0:
        args.start_epoch = time.time()
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
