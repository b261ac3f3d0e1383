"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 15 --trace 0

Prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run is traced and the metrics are the per-layer ones. Every run also
writes a JSON artifact under .perfbench_work/artifacts/. Exits 2 when the
engine's sources are not in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

WORKLOADS = ("ingest_live", "ingest_backfill", "query_mix")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="perfbench: engine benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    import harness

    if not (os.path.isdir(os.path.join(root, harness.ENGINE))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import ingest_workloads
    import query_workload

    # a SIGTERM unwinds through the finally below, so the load generator
    # and the JVM are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.Run(args, root)
    fn = {
        "ingest_live": ingest_workloads.ingest_live,
        "ingest_backfill": ingest_workloads.ingest_backfill,
        "query_mix": query_workload.query_mix,
    }[args.workload]
    try:
        result = fn(run)
    finally:
        run.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
