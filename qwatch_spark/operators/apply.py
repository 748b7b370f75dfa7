"""apply_changes — the CDC apply hot path (SURVEY.md §3.2, Spark-first).

Reference hot path: one event → one synchronous Bolt round-trip into a
MERGE (/root/reference/outputs/neo4j.go:38-54, 308-318) — row-at-a-time,
at-most-once. Ours is set-oriented per micro-batch:

    feed batch
      → rename map + filter rules (vectorized; the F7 stage)
      → schema-evolution resolve vs target (north_rule)
      → dedup-to-latest per url on (warc_ts, seq), fused with bucket
        placement [W1]
      → delta write: only the epoch's deduped rows, one file per touched
        bucket (merge-on-read — readers resolve base ∪ deltas under a
        latest-wins (warc_ts, seq) order, so late/out-of-order events
        can never regress state)
      → footer stats → fp segment → the epoch record (commit-log row +
        per-bucket lineage metrics, one object, put BEFORE the commit
        and visible once the commit lands)
      → atomic epoch-tagged manifest commit (idempotent re-delivery)
      → inline compaction under write_mode="auto".

Deletes become tombstones (is_deleted=true, payload nulled) so an older
update arriving after a delete cannot resurrect the key — the
(warc_ts, seq) total order is authoritative, mirroring the reference's
destroy handler keeping the destroyed node with `destroyed` stamped
(outputs/neo4j.go:231-248).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.evolution import resolve_schema
from qwatch_spark.operators.rules import FP_COL, apply_rules
from qwatch_spark.plans.snapshot_table import (
    DEL_COL,
    SnapshotTable,
    _bucket_files,
    _footer_stats_many,
    _ziso,
    bucket_expr,
)

log = logging.getLogger(__name__)


@dataclass
class ApplyStats:
    epoch_id: int
    skipped: bool
    n_events: int
    n_upserts: int
    n_deletes: int
    touched_buckets: int
    wall_ms: int
    phases: dict | None = None

    @property
    def events_per_sec(self) -> float:
        return self.n_events / max(self.wall_ms, 1) * 1000.0


def _maybe_append_fp_segment(
    table: SnapshotTable,
    cfg: PipelineConfig,
    written_fn,
    epoch_id: int,
    n_events: int,
    has_fp: bool,
) -> None:
    """Append this epoch's fingerprints to the bloom side index, from the
    just-written (page-cached) epoch files. Runs BEFORE the manifest
    swap: a crash between segment and commit leaves a harmless superset
    orphan, while the reverse order could lose fingerprints and let a
    duplicate re-enter later.

    Gated on the ON-DISK index state alone, NOT cfg.fp_index: the probe
    path (rules._bloom_pruned_owner_check) also keys off `idx.enabled()`,
    so a run with fp_index=False against a table whose index an earlier
    run enabled MUST still append — otherwise the epoch's fingerprints
    would be committed without segments and later duplicates of them
    would bloom-miss straight past the gate.

    `requested()` (auto-mode enablement awaiting its maintenance-run
    bootstrap) also triggers the append: epochs committed inside the
    request window must write segments, because the bootstrap's
    live-row read snapshot may PRECEDE their commit — without these
    segments their fingerprints would be absent from the finished
    index and later duplicates would pass the gate. The rebuild's
    segment-deletion rule keys off the SAME manifest snapshot as its
    live-row read, so a request-window segment is only folded away
    when its epoch's rows are provably inside that read — otherwise
    (epoch committed after the snapshot) it survives; either way the
    finished index is a superset of live fingerprints."""
    from qwatch_spark.plans.fp_bloom import FpBloomIndex

    if not has_fp:
        return
    idx = FpBloomIndex(table.path)
    if not (idx.enabled() or idx.requested()):
        return
    # `written_fn` is lazy: constructing the DataFrame (a file listing
    # + footer schema read per call) only happens on the rare enabled
    # path — gated tables skip it entirely
    fps = written_fn().filter(F.col(FP_COL).isNotNull()).select(FP_COL)
    idx.append_segment(fps, FP_COL, epoch_id, n_events)
    # bound probe cost between maintenance rebuilds: OR-fold committed
    # same-size segments once they pile up — pure numpy over the filter
    # files (no Spark job, no table scan), so it is cheap enough to run
    # inline on the apply path
    # the base manifest's highest epoch, not a reload: the merge folds
    # only segments at or below it and writes the merged file before
    # deleting a member, so an older threshold only merges fewer
    idx.merge_small_segments(table.max_epoch, max_files=cfg.fp_merge_segments)


def _delta_footer_stats(
    out: str, files: dict[int, list[str]], max_workers: int | None = None
) -> dict | None:
    """Per-bucket commit stats from parquet FOOTERS alone — the zero-job
    replacement for the per-epoch aggregate scan of the just-written
    delta files `files` (`_bucket_files` of the epoch dir `out`): a fold
    of `snapshot_table._footer_stats_many`. Per bucket: rows, deletes
    (the `DEL_COL` marker's null_count), seq min/max and warc_ts range.
    Returns {b: {n, nd, min_seq, max_seq, lo, hi}} or None when any
    required statistic is absent (INT96 timestamps, stats disabled, a
    writer that predates the marker) or no driver-side store serves
    `out` — the caller then falls back to the Spark aggregate job, so
    correctness NEVER depends on footers. The job it replaces cost a
    scheduler round-trip per table per epoch, which under concurrent
    multi-table applies queued behind other tables' write jobs
    (measured: 2.4 s of a 5.5 s entity-stream wall was this job × 6
    table-epochs)."""
    per_b = _footer_stats_many(out, files, max_workers)
    if per_b is None:
        return None
    res: dict[int, dict] = {}
    for b, by_file in per_b.items():
        sts = list(by_file.values())
        if any(st is None or st["nd"] is None or st["seq"] is None for st in sts):
            return None
        ts = [st["ts"] for st in sts if st["ts"]]
        res[b] = {
            "n": sum(st["n"] for st in sts),
            "nd": sum(st["nd"] for st in sts),
            "min_seq": min(st["seq"][0] for st in sts),
            "max_seq": max(st["seq"][1] for st in sts),
            "lo": min((t[0] for t in ts), default=None),
            "hi": max((t[1] for t in ts), default=None),
        }
    return res


def _dedup_to_buckets(
    batch: DataFrame,
    key: str,
    cfg: PipelineConfig,
    n_buckets: int,
    k: int,
) -> DataFrame:
    """Dedup-to-latest per `key` FUSED with bucket placement: the result
    carries `_b` (the write bucket) and is hash-partitioned by it into
    `k` partitions, so the delta write needs NO further exchange and
    `partitionBy` still yields one file per touched bucket.

    Why fused (optimization round 9, guide §2.4): the former chain —
    salted two-phase `latest_wins` (2 exchanges) followed by
    `repartition(k, b)` (a 3rd) — moved every row through three
    shuffles per epoch. `_b` is a pure function of `key`, so
    partitioning by `_b` already co-locates every row of a key: one
    raw-row exchange on `_b` followed by a complete per-bucket
    `max_by` aggregation computes the identical dedup (max over a total
    order is associativity-free) with two exchanges removed. Bucket
    volumes are balanced by construction (xxhash64 buckets of the key —
    hash keys don't skew), so the exchange itself cannot skew; what the
    fused form gives up is the map-side pre-reduction of EXTREME
    per-key duplicate volume (millions of raw events for ONE key in one
    epoch would all land in that key's bucket task). `cfg.n_salt > 1`
    keeps that protection: it switches to a partial-aggregated dedup on
    `(_b, key)` (map-side combine absorbs hot keys before any exchange
    — the q01 plan-quality property) followed by the bucket exchange of
    the already-deduped rows — 2 exchanges, still one fewer than the
    old chain. Default feeds take the 1-exchange path; `n_salt` is the
    declared knob for pathologically duplicate-heavy feeds."""
    payload = [c for c in batch.columns if c != key]
    row_struct = F.struct(*[F.col(c) for c in payload])
    ord_struct = F.struct(*[F.col("warc_ts"), F.col("seq")])
    b = batch.withColumn("_b", bucket_expr(n_buckets, key))
    if cfg.n_salt and cfg.n_salt > 1:
        top = (
            b.groupBy("_b", key)
            .agg(F.max_by(row_struct, ord_struct).alias("_row"))
            .repartition(k, "_b")
        )
    else:
        top = (
            b.repartition(k, "_b")
            .groupBy("_b", key)
            .agg(F.max_by(row_struct, ord_struct).alias("_row"))
        )
    return top.select(
        "_b", key, *[F.col(f"_row.{c}").alias(c) for c in payload]
    )


def apply_changes(
    spark: SparkSession,
    feed_df: DataFrame,
    table: SnapshotTable,
    epoch_id: int,
    cfg: PipelineConfig | None = None,
) -> ApplyStats:
    cfg = cfg or PipelineConfig()
    if table.has_epoch(epoch_id):
        # duplicate delivery: no-op (its record was put before its commit)
        return ApplyStats(int(epoch_id), True, 0, 0, 0, 0, 0)
    t0 = time.time()

    batch, evolved_payload = resolve_schema(
        feed_df, table.payload_schema, cfg.rename_map
    )
    batch = apply_rules(batch, cfg, kind="gate")

    if "exact_dup_gate" in cfg.rules:
        # persist the content fingerprint so the gate's cross-epoch
        # anti-join scans a 16-byte digest column, never stored text
        from pyspark.sql import types as T

        if FP_COL not in {f.name for f in evolved_payload.fields}:
            evolved_payload = T.StructType(
                list(evolved_payload.fields)
                + [T.StructField(FP_COL, T.StringType(), True)]
            )
        if FP_COL not in batch.columns:
            batch = batch.withColumn(FP_COL, F.lit(None).cast("string"))
        if cfg.fp_index:  # True or "auto"
            from qwatch_spark.plans.fp_bloom import FpBloomIndex

            idx = FpBloomIndex(table.path)
            if not idx.enabled():
                if cfg.fp_index is True:
                    # explicit opt-in: bootstrap inline. Trivial on a
                    # new table; on an existing table the caller chose
                    # to pay the one narrow live-rows scan now rather
                    # than wait a maintenance cycle.
                    idx.rebuild(spark, table)
                elif table.rows_est >= cfg.fp_auto_rows:
                    # "auto" flips once the manifest's live-row upper
                    # bound crosses the measured ~1M-row crossover, so
                    # small tables never pay the index's fixed
                    # per-epoch cost; the estimate over-counts (updates
                    # tallied as inserts) so auto can only flip EARLY,
                    # the safe side. The O(table) bootstrap rebuild is
                    # NOT paid here — at 10^10 rows it would stall the
                    # flipping epoch for hours. Apply only marks the
                    # request; `maintain_once` runs the rebuild at
                    # maintenance cadence, and this epoch (plus every
                    # epoch until then) keeps the full-scan gate while
                    # already appending its own segment (see
                    # _maybe_append_fp_segment) so the request window
                    # is covered regardless of the bootstrap's read
                    # snapshot.
                    idx.request_enable()

    payload_cols = [f.name for f in evolved_payload.fields]
    envelope = ["op", "seq"]
    batch = batch.select(
        *dict.fromkeys(payload_cols + envelope)
    )  # prune before shuffle: only what MERGE needs reaches the exchange

    key = table.key_col
    # bucket-fused dedup (see _dedup_to_buckets): the result carries
    # `_b` and is already hash-partitioned by it, so the delta write
    # below needs no further exchange. k matches the shuffle width to
    # the executor pool instead of n_buckets — cuts the per-epoch task
    # count ~5x; at high epoch rates the DAGScheduler (single-threaded)
    # is the shared floor across concurrently-applying tables.
    k = min(
        table.n_buckets,
        max(8, spark.sparkContext.defaultParallelism * 3),
    )
    updates = _dedup_to_buckets(batch, key, cfg, table.n_buckets, k)
    # deferred projections (e.g. HTML→text): once per surviving key,
    # not once per raw event
    updates = apply_rules(updates, cfg, kind="project")
    # content gates that need projected columns (quality/exact-dup over
    # extracted text) — still once per surviving key; ctx lets the
    # exact-dup gate anti-join against the table's persisted fingerprints
    updates = apply_rules(
        updates, cfg, kind="post_gate", ctx={"spark": spark, "table": table}
    )

    # SINGLE-WRITE path: the deduped batch streams straight into its
    # final delta files (merge-on-read: commit only the epoch's updates,
    # O(batch); readers resolve base ∪ deltas by the (warc_ts, seq)
    # order). No staging copy — at object-store scale that halves the
    # epoch's PUT volume. Touched buckets come from the written
    # partition dirs; batch size from parquet footers (no data scan).
    phases: dict[str, float] = {}
    t = time.time()
    new_version, vtoken, out = table.stage_version_dir()
    snap = updates.select(
        *payload_cols,
        F.col("seq"),
        (F.col("op") == "D").alias("is_deleted"),
        F.when(F.col("op") == "D", "D").otherwise("U").alias("last_op"),
        F.lit(int(epoch_id)).alias("last_epoch"),
        # commit-stats marker: null for upserts, 1 for deletes — the
        # parquet footer's per-chunk null_count then yields EXACT
        # per-bucket delete counts with zero data read
        # (_delta_footer_stats). ~1 bit/row on disk (RLE); every reader
        # projects through an explicit schema, so the extra column is
        # invisible outside this commit path.
        F.when(F.col("op") == "D", F.lit(1)).cast("tinyint").alias(DEL_COL),
        # the dedup already placed every row on its bucket partition
        # (one task per bucket), so the write below needs no exchange of
        # its own and partitionBy still yields exactly one file per
        # touched bucket
        F.col("_b").alias("b"),
    )
    spark_out = table.store.spark_path(out)
    snap.write.mode("overwrite").partitionBy("b").parquet(spark_out)
    files = _bucket_files(out, table.store.list_tree(out))
    touched = sorted(files)
    phases["write"] = time.time() - t
    if not touched:  # fully-gated batch: manifest-only commit
        table.store.delete_tree(out)
        table.put_epoch_record(
            epoch_id, table.version, 0, 0, int((time.time() - t0) * 1000), []
        )
        table.commit_epoch(epoch_id)
        return ApplyStats(
            int(epoch_id), False, 0, 0, 0, 0, int((time.time() - t0) * 1000)
        )
    t = time.time()
    # the batch/zone-map/lineage stats every commit needs, from the
    # just-written files' FOOTERS — a driver-side metadata read, zero
    # Spark jobs (under concurrent multi-table applies, a per-table stats
    # job queued behind other tables' writes was the dominant commit
    # cost). Falls back to ONE narrow aggregate job over the
    # (page-cached) files when a required statistic is missing.
    fstats = _delta_footer_stats(out, files)
    if fstats is None:
        per_b = (
            spark.read.parquet(spark_out)
            .groupBy("b")
            .agg(
                F.count("*").alias("n"),
                F.min("warc_ts").alias("lo"),
                F.max("warc_ts").alias("hi"),
                F.count_if(F.col("last_op") == "D").alias("nd"),
                F.min("seq").alias("min_seq"),
                F.max("seq").alias("max_seq"),
            )
            .collect()
        )
        fstats = {
            int(r["b"]): {
                "n": int(r["n"]),
                "nd": int(r["nd"]),
                "min_seq": r["min_seq"],
                "max_seq": r["max_seq"],
                "lo": r["lo"],
                "hi": r["hi"],
            }
            for r in per_b
        }
    n_events = sum(s["n"] for s in fstats.values())
    n_del = sum(s["nd"] for s in fstats.values())
    n_up = n_events - n_del
    zmaps = {
        b: [_ziso(s["lo"]), _ziso(s["hi"])]
        for b, s in fstats.items()
        if s["lo"] is not None
    }
    # I-vs-U classification needs a table lookup, so lineage records
    # upserts as 'U' (deletes stay exact); the table's last_op is
    # repaired to the true I/U at compaction, which reads the history
    # anyway (METRICS_SCHEMA documents the semantics)
    buckets = [
        {
            "bucket": int(b),
            "n_insert": 0,
            "n_update": int(s["n"] - s["nd"]),
            "n_delete": int(s["nd"]),
            "min_seq": s["min_seq"],
            "max_seq": s["max_seq"],
        }
        for b, s in sorted(fstats.items())
    ]
    phases["commit_stats"] = time.time() - t
    t2 = time.time()
    _maybe_append_fp_segment(
        table, cfg, lambda: spark.read.parquet(spark_out), epoch_id, n_events,
        has_fp=FP_COL in {f.name for f in evolved_payload.fields},
    )
    phases["commit_fp"] = time.time() - t2
    # the epoch record BEFORE the commit point: durable whenever the
    # epoch is, and hidden from the readers until the commit lands
    t2 = time.time()
    table.put_epoch_record(
        epoch_id, new_version, n_up, n_del, int((t2 - t0) * 1000), buckets
    )
    phases["lineage"] = time.time() - t2
    t2 = time.time()
    table.commit_prewritten_delta(
        touched, epoch_id, evolved_payload, new_version, vtoken, zmaps,
        rows_delta=n_up,
    )
    phases["commit_swap"] = time.time() - t2
    phases["commit"] = time.time() - t
    wall_ms = int((time.time() - t0) * 1000)
    if cfg.write_mode == "auto":
        # bound read amplification: fold deltas once a bucket carries
        # more than compact_every of them (atomic maintenance swap)
        t = time.time()
        compacted = table.compact(spark, max_deltas=cfg.compact_every)
        if compacted:
            phases["compact"] = time.time() - t

    phases = {k: round(v, 3) for k, v in phases.items()}
    log.debug("apply epoch=%s phases=%s", epoch_id, phases)
    return ApplyStats(
        int(epoch_id), False, n_events, n_up, n_del, len(touched), wall_ms,
        phases,
    )


def replay_feed(
    spark: SparkSession,
    feed_df: DataFrame,
    table: SnapshotTable,
    cfg: PipelineConfig | None = None,
    epoch_col: str = "epoch_hint",
) -> list[ApplyStats]:
    """Batch replay of a whole feed in epoch_hint order — the bounded-run
    analog of the reference's `ticks` end condition (cmd/server.go:18-22)."""
    epochs = [
        r[0]
        for r in feed_df.select(epoch_col).distinct().orderBy(epoch_col).collect()
    ]
    stats = []
    for e in epochs:
        batch = feed_df.filter(F.col(epoch_col) == e).drop(epoch_col)
        stats.append(apply_changes(spark, batch, table, e, cfg))
    return stats
