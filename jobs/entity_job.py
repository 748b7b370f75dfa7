"""Cluster entrypoint: tail a discriminated multi-entity change feed and
apply it to per-entity SnapshotTables with exactly-once semantics.

Usage:
    spark-submit --py-files dist/qwatch_spark.zip jobs/entity_job.py \
        --feed-dir s3://bucket/feed --base s3://bucket/tables \
        --checkpoint s3://bucket/ckpt --entities graph.yml \
        [--config pipeline.yml] [--once | --interval 30s]

`--entities` is the declarative entity-graph config (see
qwatch_spark.operators.entities.load_entity_specs): entity kinds, keys,
payload columns, FK edges (create-if-absent parents), and link tables —
the multi-table analog of the reference's inventory type switch
(/root/reference/outputs/neo4j.go:484-504).

The feed must carry (entity_type, op, seq, warc_ts) plus the union of
all entity payload columns; its explicit read schema is derived from
the declared specs (never inferred).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from qwatch_spark.plans.objectstore import CAS_BACKENDS

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--feed-dir", required=True)
    p.add_argument("--base", required=True, help="parent dir of entity tables")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--entities", required=True, help="entity graph yml/json")
    p.add_argument("--config", help="PipelineConfig file (.json/.yml/.yaml)")
    p.add_argument("--n-buckets", type=int, default=None)
    p.add_argument("--write-mode", choices=("cow", "delta", "auto"), default=None)
    p.add_argument("--commit-protocol", choices=("localfs", "cas"), default=None)
    p.add_argument("--cas-backend", choices=CAS_BACKENDS, default=None)
    p.add_argument("--manifest-shards", type=int, default=None)
    p.add_argument("--once", action="store_true", help="drain and exit")
    p.add_argument("--interval", default=None, help="e.g. '30 seconds'")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.entities import derive_feed_schema, load_entity_specs
    from qwatch_spark.session import get_spark
    from qwatch_spark.streaming.runner import run_entity_stream

    specs, links = load_entity_specs(args.entities)
    cfg = PipelineConfig.from_file(args.config) if args.config else PipelineConfig(rules=())
    cfg = cfg.with_overrides(
        n_buckets=args.n_buckets,
        write_mode=args.write_mode,
        commit_protocol=args.commit_protocol,
        cas_backend=args.cas_backend,
        manifest_shards=args.manifest_shards,
    )

    # explicit feed schema = envelope + union of declared payload columns;
    # cross-entity type conflicts on a shared column name are an error
    feed_schema = derive_feed_schema(specs)

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="qwatch_entity_apply", master=args.master)
    stats = run_entity_stream(
        spark,
        args.feed_dir,
        args.base,
        args.checkpoint,
        specs,
        links,
        cfg,
        feed_schema=feed_schema,
        available_now=args.once or not args.interval,
        processing_time=args.interval,
    )
    summary = {
        "epochs": len(stats),
        "per_table_events": {
            name: sum(e[name].n_events for e in stats) for name in (stats[0] if stats else {})
        },
    }
    print(json.dumps(summary))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
