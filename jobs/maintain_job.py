"""Cluster entrypoint: standalone compaction/vacuum maintenance for a
SnapshotTable, safe to run beside a live delta-mode applier: every table
commits through its CAS log, so a lost commit race aborts cleanly and
retries next cycle (see qwatch_spark/plans/maintenance.py).

Usage (cluster):
    python scripts/make_pyfiles.py  # builds dist/qwatch_spark.zip from the tree
    spark-submit --py-files dist/qwatch_spark.zip jobs/maintain_job.py \
        --table s3://bucket/table [--max-deltas 8] [--max-delta-bytes N] \
        [--vacuum-retention 600] [--once | --interval 300]

Usage (local smoke):
    python jobs/maintain_job.py --table /tmp/table --once
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", required=True)
    p.add_argument("--max-deltas", type=int, default=8)
    p.add_argument("--max-delta-bytes", type=int, default=None)
    p.add_argument("--max-records-per-file", type=int, default=None,
                   help="split huge compacted buckets into bounded files "
                        "(per-file zone maps keep reads pruned)")
    p.add_argument("--vacuum-retention", type=float, default=600.0)
    p.add_argument("--no-vacuum", action="store_true")
    p.add_argument("--once", action="store_true", help="one cycle and exit")
    p.add_argument("--interval", type=float, default=300.0, help="seconds")
    p.add_argument("--cycles", type=int, default=None, help="stop after N cycles")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from qwatch_spark.plans.maintenance import maintain_loop, maintain_once
    from qwatch_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="qwatch_maintain", master=args.master)
    kw = dict(
        max_deltas=args.max_deltas,
        max_delta_bytes=args.max_delta_bytes,
        max_records_per_file=args.max_records_per_file,
        retention_s=args.vacuum_retention,
        vacuum_enabled=not args.no_vacuum,
    )
    if args.once:
        results = [maintain_once(spark, args.table, **kw)]
    else:
        results = maintain_loop(
            spark, args.table, args.interval, cycles=args.cycles, **kw
        )
    print(json.dumps({"cycles": len(results), "last": results[-1]}))
    if not preexisting:  # don't tear down a caller-owned session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
