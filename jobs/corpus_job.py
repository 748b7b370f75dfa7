"""Cluster entrypoint: turn a documents table into packed training
data — the full training-corpus pipeline composed from the engine's
operators, end to end:

    documents.parquet
      → quality gate (length/punct/stopword heuristic)
      → language ID fallback for untagged docs
      → exact dedup (earliest doc per normalized-text md5)
      → near-dup pruning (MinHash/LSH candidates → Jaccard refine →
        connected components → keep cluster canonical)
      → deterministic stratified mix (per-language md5 coin)
      → concat-then-chunk packing (distributed prefix sum)
      → writes: corpus/docs.parquet (surviving docs + placement),
                corpus/spans.parquet (per-(doc, chunk) loader table),
                corpus/stats.json (per-stage survival counts)

Usage (cluster):
    python scripts/make_pyfiles.py  # builds dist/qwatch_spark.zip from the tree
    spark-submit --py-files dist/qwatch_spark.zip jobs/corpus_job.py \
        --documents s3://bucket/documents.parquet --out s3://bucket/corpus \
        --seq-len 2048 --rates en=0.5,de=0.25 --default-rate 0.1

Usage (local smoke):
    python jobs/corpus_job.py --documents /root/testdata/sf0.001/documents.parquet \
        --out /tmp/corpus --seq-len 512

Every stage is deterministic (md5 coins, hash dedup, seeded LSH), so
re-running over the same input reproduces the corpus bit-for-bit —
the property that makes a 100 TB pipeline debuggable.

No reference analog — qwatch routes events to sinks unconditionally;
this is the training-data half of the brief composed into one job.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="input parquet path")
    p.add_argument("--out", required=True, help="output corpus directory")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--min-quality", type=float, default=0.2)
    p.add_argument(
        "--rates", default=None,
        help="per-language keep rates, e.g. en=0.5,de=0.25 (default: keep all)",
    )
    p.add_argument("--default-rate", type=float, default=1.0)
    p.add_argument("--sample-seed", default="mix-v1")
    p.add_argument("--jaccard", type=float, default=0.5,
                   help="near-dup refine threshold")
    p.add_argument(
        "--skip-stats", action="store_true",
        help="skip per-stage survival counts — each count() is a full "
        "pass over the stage's input; at 100 TB run with this flag and "
        "read the counts from the written outputs instead",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from qwatch_spark.operators.dedup_text import (
        dedup_keep_canonical,
        exact_duplicates,
        near_dup_pairs,
    )
    from qwatch_spark.operators.sampling import (
        pack_chunk_spans,
        pack_sequences,
        stratified_sample,
    )
    from qwatch_spark.operators.textstats import lang_pred_expr, quality_exprs
    from qwatch_spark.plans.objectstore import store_for
    from qwatch_spark.session import get_spark

    # every output byte goes through --out's object store: the stats
    # object is a put, Spark writes at store.spark_path
    store = store_for(args.out)
    if store is None:
        raise ValueError(f"no object store client for {args.out!r}")
    spark = get_spark(master=args.master) if args.master else get_spark()
    stats: dict[str, int] = {}

    def count(stage: str, df):
        if not args.skip_stats:
            stats[stage] = df.count()

    docs = spark.read.parquet(args.documents)
    count("input", docs)

    # 1. quality gate + language fallback (pure Column, scan-pushed)
    q = quality_exprs()["quality"]
    docs = docs.filter(q >= args.min_quality)
    docs = docs.withColumn(
        "lang",
        F.when(
            F.col("lang").isNotNull() & (F.col("lang") != "und"), F.col("lang")
        ).otherwise(lang_pred_expr()),
    )
    count("after_quality", docs)

    # 2. exact dedup: drop every non-canonical member of a duplicate
    # group (canonical = smallest doc_id per content digest)
    groups = exact_duplicates(docs)  # (digest, canonical_doc, n_docs>1)
    exact_losers = (
        docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .join(groups, "digest")
        .filter(F.col("doc_id") != F.col("canonical_doc"))
        .select("doc_id")
    )
    docs = docs.join(exact_losers, "doc_id", "anti")
    count("after_exact_dedup", docs)

    # 3. near-dup pruning: LSH candidates → Jaccard refine → connected
    # components → keep each CLUSTER's minimum doc_id (pair-wise "drop
    # the greater id" can leave two survivors in a chain-shaped cluster
    # whose ends never paired; components can't)
    pairs = near_dup_pairs(docs, threshold=args.jaccard)
    docs = dedup_keep_canonical(
        docs, pairs, src_col="doc_a", dst_col="doc_b",
        # components scratch rides on the OUTPUT's storage, so it is
        # executor-readable on a real cluster, not driver-local /tmp
        work_dir=os.path.join(args.out, "_cc_work"),
    )
    count("after_near_dedup", docs)

    # 4. deterministic stratified mix
    rates = {}
    if args.rates:
        for part in args.rates.split(","):
            k, v = part.split("=")
            rates[k] = float(v)
    if rates or args.default_rate < 1.0:
        docs = stratified_sample(
            docs, "lang", rates, key_col="doc_id",
            seed=args.sample_seed, default_rate=args.default_rate,
        )
    count("after_mix", docs)

    # 5. pack: placement + per-(doc, chunk) spans
    placed = pack_sequences(docs, seq_len=args.seq_len, order_col="doc_id")
    out_docs = docs.join(placed, "doc_id")
    spans = pack_chunk_spans(placed, seq_len=args.seq_len)

    out_docs.write.mode("overwrite").parquet(
        store.spark_path(os.path.join(args.out, "docs.parquet")))
    spans.write.mode("overwrite").parquet(
        store.spark_path(os.path.join(args.out, "spans.parquet")))
    total_tok = placed.agg(F.sum("n_tok").cast("long").alias("t")).first()["t"] or 0
    stats["total_tokens"] = int(total_tok)
    stats["n_chunks"] = int((total_tok + args.seq_len - 1) // args.seq_len)
    store.put(os.path.join(args.out, "stats.json"), json.dumps(stats, indent=2).encode())
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
