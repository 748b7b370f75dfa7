"""Cluster entrypoint: tail a change-feed directory and apply it to a
SnapshotTable with exactly-once semantics.

Usage (cluster):
    spark-submit --py-files dist/qwatch_spark.zip jobs/apply_job.py \
        --feed-dir s3://bucket/feed --table s3://bucket/table \
        --checkpoint s3://bucket/ckpt [--config pipeline.json] \
        [--once | --interval 30s] [--n-buckets 4096]

Usage (local smoke):
    python jobs/apply_job.py --feed-dir /tmp/feed --table /tmp/table \
        --checkpoint /tmp/ckpt --once

The daemon flag mirrors the reference's `qwatch server --ticks N`
bounded run (/root/reference/cmd/server.go:18-22): `--once` drains what
exists and exits (Trigger.AvailableNow); `--interval` keeps tailing.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from qwatch_spark.plans.objectstore import CAS_BACKENDS

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--feed-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--config", help="PipelineConfig file (.json/.yml/.yaml)")
    p.add_argument("--n-buckets", type=int, default=None)
    p.add_argument("--write-mode", choices=("cow", "delta", "auto"), default=None)
    p.add_argument("--rules", default=None, help="comma-separated rule list")
    p.add_argument("--keep-langs", default=None, help="comma-separated langs")
    p.add_argument("--n-salt", type=int, default=None)
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument("--commit-protocol", choices=("localfs", "cas"), default=None)
    p.add_argument("--cas-backend", choices=CAS_BACKENDS, default=None)
    p.add_argument("--manifest-shards", type=int, default=None)
    p.add_argument("--feed-format", choices=("parquet", "json"), default=None)
    p.add_argument(
        "--fp-index", action="store_true", default=None,
        help="maintain the fingerprint bloom side index so the "
        "exact_dup_gate's cross-epoch check is O(batch) per epoch",
    )
    p.add_argument("--once", action="store_true", help="drain and exit")
    p.add_argument("--interval", default=None, help="e.g. '30 seconds'")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.plans.snapshot_table import SnapshotTable
    from qwatch_spark.session import get_spark
    from qwatch_spark.streaming.runner import run_stream

    # layering: defaults < config file (yml/json) < CLI flags — the
    # reference's qwatch.yml + cobra flags, strictly validated
    cfg = PipelineConfig.from_file(args.config) if args.config else PipelineConfig()
    cfg = cfg.with_overrides(
        n_buckets=args.n_buckets,
        write_mode=args.write_mode,
        rules=tuple(args.rules.split(",")) if args.rules else None,
        keep_langs=tuple(args.keep_langs.split(",")) if args.keep_langs else None,
        n_salt=args.n_salt,
        compact_every=args.compact_every,
        min_quality=args.min_quality,
        commit_protocol=args.commit_protocol,
        cas_backend=args.cas_backend,
        manifest_shards=args.manifest_shards,
        feed_format=args.feed_format,
        fp_index=args.fp_index,
    )

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="qwatch_apply", master=args.master)
    SnapshotTable.create(
        args.table, n_buckets=cfg.n_buckets,
        commit_protocol=cfg.commit_protocol,
        manifest_shards=cfg.manifest_shards,
        cas_backend=cfg.cas_backend,
    )  # no-op if exists
    stats = run_stream(
        spark,
        args.feed_dir,
        args.table,
        args.checkpoint,
        cfg,
        available_now=args.once or not args.interval,
        processing_time=args.interval,
    )
    summary = {
        "epochs": len(stats),
        "events": sum(s.n_events for s in stats),
        "upserts": sum(s.n_upserts for s in stats),
        "deletes": sum(s.n_deletes for s in stats),
        "skipped": sum(1 for s in stats if s.skipped),
    }
    print(json.dumps(summary))
    if not preexisting:  # don't tear down a caller-owned session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
