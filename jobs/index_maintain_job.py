"""Cluster entrypoint: maintenance for ANN SERVING indexes — the
index-side sibling of jobs/maintain_job.py (which owns tables). One
cycle per index:

  - IVF: `ivf_maintain` reclusters against the current corpus (codebook
    drift under sustained appends bloats cells and decays recall), then
    `ivf_vacuum` retires superseded versions past retention.
  - LSH: `lsh_maintain` compacts append-sprayed small files to one per
    (band, bucket), then `lsh_vacuum` — planes never change, so this is
    purely the small-file story.

Both publish the next `_vK` version dir behind the index's `_current`
pointer — the same swap every `*_build_index` publishes through — so
they are safe beside live appenders (which get a typed IndexConflictError and retry
with the dedup flag) and live probes (which keep a fully intact old
version until vacuum's retention window passes). Run ONE maintenance
owner per index — rival maintainers lose the version-dir claim cleanly,
but the single-owner deployment is the supported shape (same contract
as the table maintenance loop).

Usage (cluster):
    python scripts/make_pyfiles.py  # builds dist/qwatch_spark.zip from the tree
    spark-submit --py-files dist/qwatch_spark.zip \
        jobs/index_maintain_job.py --ivf s3://bucket/ivf_idx \
        [--lsh s3://bucket/lsh_idx] [--target-cell-rows N] \
        [--vacuum-retention 600] [--once | --interval 1800]

Usage (local smoke):
    python jobs/index_maintain_job.py --ivf /tmp/ivf --once
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--ivf", action="append", default=[],
                   help="IVF index path (repeatable)")
    p.add_argument("--lsh", action="append", default=[],
                   help="LSH index path (repeatable)")
    p.add_argument("--target-cell-rows", type=int, default=None,
                   help="IVF: restore this per-cell row count "
                        "(default: the √n rule)")
    p.add_argument("--lloyd-iters", type=int, default=5)
    p.add_argument("--vacuum-retention", type=float, default=600.0)
    p.add_argument("--no-vacuum", action="store_true")
    p.add_argument("--once", action="store_true", help="one cycle and exit")
    p.add_argument("--interval", type=float, default=1800.0, help="seconds")
    p.add_argument("--cycles", type=int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.ivf and not args.lsh:
        p.error("give at least one --ivf or --lsh index path")

    from pyspark.sql import SparkSession

    from qwatch_spark.operators.similarity import (
        IndexConflictError,
        ivf_maintain,
        ivf_vacuum,
        lsh_maintain,
        lsh_vacuum,
    )
    from qwatch_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="qwatch_index_maintain", master=args.master)

    def recluster(path: str) -> dict:
        return ivf_maintain(
            spark, path,
            target_cell_rows=args.target_cell_rows,
            lloyd_iters=args.lloyd_iters,
        )

    kinds = (
        ("ivf", args.ivf, recluster, ivf_vacuum),
        ("lsh", args.lsh, lambda path: lsh_maintain(spark, path), lsh_vacuum),
    )

    def cycle() -> dict:
        out: dict = {}
        for kind, paths, maintain, vacuum in kinds:
            out[kind] = {}
            for path in paths:
                try:
                    res = maintain(path)
                except IndexConflictError:
                    res = {"lost_race": True}  # rebase next cycle
                if not args.no_vacuum:
                    res["vacuumed"] = len(
                        vacuum(path, retention_s=args.vacuum_retention)
                    )
                out[kind][path] = res
        return out

    results = []
    i = 0
    while True:
        results.append(cycle())
        i += 1
        if args.once or (args.cycles is not None and i >= args.cycles):
            break
        time.sleep(args.interval)
    print(json.dumps({"cycles": len(results), "last": results[-1]}))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
