"""apply_changes — the CDC apply hot path (SURVEY.md §3.2, Spark-first).

Reference hot path: one event → one synchronous Bolt round-trip into a
MERGE (/root/reference/outputs/neo4j.go:38-54, 308-318) — row-at-a-time,
at-most-once. Ours is set-oriented per micro-batch:

    feed batch
      → rename map + filter rules (vectorized; the F7 stage)
      → schema-evolution resolve vs target (north_rule)
      → dedup-to-latest per url on (warc_ts, seq)   [W1, skew-aware]
      → bucket pruning: read ONLY touched buckets of the target
      → full-outer merge with a latest-wins guard
        (`WHEN MATCHED AND s.(warc_ts,seq) >= t.(warc_ts,seq)`) —
        late/out-of-order events can never regress state
      → atomic epoch-tagged commit (idempotent re-delivery)
      → per-bucket lineage metrics + commit-log row.

Deletes become tombstones (is_deleted=true, payload nulled) so an older
update arriving after a delete cannot resurrect the key — the
(warc_ts, seq) total order is authoritative, mirroring the reference's
destroy handler keeping the destroyed node with `destroyed` stamped
(outputs/neo4j.go:231-248).
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.evolution import resolve_schema
from qwatch_spark.operators.rules import apply_rules
from qwatch_spark.plans.snapshot_table import SnapshotTable, _ziso, bucket_expr
from qwatch_spark.schema import METRICS_SCHEMA

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
    from qwatch_spark.operators.rules import FP_COL
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
    man = table._load_manifest()
    committed = max(
        [man.get("epoch_watermark", -1), *man.get("applied_epochs", [-1])]
    )
    idx.merge_small_segments(committed, max_files=cfg.fp_merge_segments)


def _delta_footer_stats(
    out: str, touched: list[int], max_workers: int | None = None
) -> dict | None:
    """Per-bucket commit stats from parquet FOOTERS alone — the zero-job
    replacement for the per-epoch aggregate scan of the just-written
    delta files. Per bucket: row count (metadata), delete count (the
    `_del` marker's null_count: deletes are 1, upserts null), seq
    min/max and warc_ts range (chunk statistics). Returns
    {b: {n, nd, min_seq, max_seq, lo, hi}} or None when any required
    statistic is absent (INT96 timestamps, stats disabled, a writer
    that predates `_del`) — the caller then falls back to the Spark
    aggregate job, so correctness NEVER depends on footers.

    Scale shape: O(touched files) metadata reads through the object
    store (`plans/objectstore`), at the store's OWN parallelism
    (`io_workers`): local footers are ~75 µs of native CPU where a pool
    measured 8× slower, so local runs the plain loop; object-store
    footers are a round-trip each, so `s3://` overlaps a wide thread
    pool — which is what keeps the commit's stats phase ~flat as
    touched-file count grows instead of re-serializing at thousands of
    touched buckets (measured in scripts/bench_commit_stats.py,
    recorded in BENCH/BASELINE.md). `store_for` serves local paths
    directly and `s3://` through the same client the CAS commit log
    uses; unknown schemes return None here → the Spark-job fallback.
    This is how lake
    formats collect per-file stats at commit time, minus write-task
    harvesting (Spark owns the data write, so the driver pool is the
    seam we own). The Spark job it replaces cost a scheduler
    round-trip per table per epoch, which under concurrent multi-table
    applies queued behind other tables' write jobs (measured: 2.4 s of
    a 5.5 s entity-stream wall was this job × 6 table-epochs)."""
    import datetime as dt

    from qwatch_spark.plans.objectstore import store_for

    store = store_for(out)
    if store is None:
        return None

    def norm_ts(v):
        if isinstance(v, dt.datetime):
            if v.tzinfo is not None:  # session TZ is UTC everywhere
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v
        return None

    def file_stats(md) -> dict | None:
        """One footer's FileMetaData folded to partial stats; None = a
        required statistic is absent (whole fast path then falls back)."""
        n = nd = 0
        seq_lo: list = []
        seq_hi: list = []
        ts_lo: list = []
        ts_hi: list = []
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            cols = {
                rgm.column(i).path_in_schema: rgm.column(i)
                for i in range(rgm.num_columns)
            }
            seq_c, del_c, ts_c = (
                cols.get("seq"), cols.get("_del"), cols.get("warc_ts")
            )
            if seq_c is None or del_c is None or ts_c is None:
                return None
            seq_st, del_st, ts_st = (
                seq_c.statistics, del_c.statistics, ts_c.statistics
            )
            if (
                seq_st is None
                or not seq_st.has_min_max
                or del_st is None
                or not del_st.has_null_count
            ):
                return None
            n += rgm.num_rows
            nd += rgm.num_rows - del_st.null_count
            seq_lo.append(seq_st.min)
            seq_hi.append(seq_st.max)
            if ts_st is not None and ts_st.has_min_max:
                lo, hi = norm_ts(ts_st.min), norm_ts(ts_st.max)
                if lo is None or hi is None:
                    return None  # non-datetime stats (INT96 etc.)
                ts_lo.append(lo)
                ts_hi.append(hi)
            elif (
                ts_st is not None
                and ts_st.has_null_count
                and ts_st.null_count == rgm.num_rows
            ):
                pass  # all-null chunk: no range, same as F.min/F.max
            else:
                return None
        return {
            "n": n, "nd": nd,
            "seq_lo": min(seq_lo), "seq_hi": max(seq_hi),
            "ts_lo": min(ts_lo) if ts_lo else None,
            "ts_hi": max(ts_hi) if ts_hi else None,
        }

    # phase 1: ONE tree listing of the epoch dir covers every touched
    # bucket (~1000 keys per object-store LIST round-trip — per-bucket
    # LISTs would pay one round-trip per touched bucket)
    tree: dict[str, list[str]] = {}
    for rel, _size, _mt in store.list_tree(out):
        rel_dir, _, name = rel.rpartition("/")
        if name.endswith(".parquet"):
            tree.setdefault(rel_dir, []).append(f"{out.rstrip('/')}/{rel}")
    pairs: list[tuple[int, str]] = []
    for b in touched:
        files = tree.get(f"b={b}")
        if not files:
            return None
        pairs.extend((int(b), f) for f in files)
    # phase 2: every touched FILE's footer — the store overlaps the
    # byte fetches and parses serially (see S3Store.parquet_metadata_many)
    mds = store.parquet_metadata_many([f for _b, f in pairs], max_workers)
    per_file = [file_stats(md) for md in mds]
    res: dict[int, dict] = {}
    for (b, _f), st in zip(pairs, per_file):
        if st is None:
            return None
        acc = res.setdefault(
            b,
            {"n": 0, "nd": 0, "min_seq": None, "max_seq": None,
             "lo": None, "hi": None},
        )
        acc["n"] += st["n"]
        acc["nd"] += st["nd"]
        acc["min_seq"] = (
            st["seq_lo"] if acc["min_seq"] is None
            else min(acc["min_seq"], st["seq_lo"])
        )
        acc["max_seq"] = (
            st["seq_hi"] if acc["max_seq"] is None
            else max(acc["max_seq"], st["seq_hi"])
        )
        if st["ts_lo"] is not None:
            acc["lo"] = (
                st["ts_lo"] if acc["lo"] is None
                else min(acc["lo"], st["ts_lo"])
            )
            acc["hi"] = (
                st["ts_hi"] if acc["hi"] is None
                else max(acc["hi"], st["ts_hi"])
            )
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


def merge_cdc(
    current: DataFrame,
    updates: DataFrame,
    epoch_id: int,
    payload_cols: list[str],
    key: str = "url",
) -> DataFrame:
    """Full-outer key merge with latest-wins guard; returns new bucket
    contents (payload + bookkeeping). `updates` must be deduped to one
    row per key and carry (op, warc_ts, seq)."""
    c, u = current.alias("c"), updates.alias("u")
    joined = c.join(u, F.col(f"c.{key}") == F.col(f"u.{key}"), "full_outer")

    take_u = F.col(f"u.{key}").isNotNull() & (
        F.col(f"c.{key}").isNull()
        | (
            F.struct(F.col("u.warc_ts"), F.col("u.seq"))
            >= F.struct(F.col("c.warc_ts"), F.col("c.seq"))
        )
    )
    # normalize the applied opcode: I if the key was absent/tombstoned,
    # U if it replaced a live row, D for tombstoning (metrics semantics)
    applied_op = (
        F.when(F.col("u.op") == "D", F.lit("D"))
        .when(F.col(f"c.{key}").isNull() | F.col("c.is_deleted"), F.lit("I"))
        .otherwise(F.lit("U"))
    )

    cols = [F.coalesce(F.col(f"u.{key}"), F.col(f"c.{key}")).alias(key)]
    for p in payload_cols:
        if p == key:
            continue
        cols.append(
            F.when(take_u, F.col(f"u.{p}")).otherwise(F.col(f"c.{p}")).alias(p)
        )
    cols += [
        F.when(take_u, F.col("u.seq")).otherwise(F.col("c.seq")).alias("seq"),
        F.when(take_u, F.col("u.op") == "D")
        .otherwise(F.col("c.is_deleted"))
        .alias("is_deleted"),
        F.when(take_u, applied_op).otherwise(F.col("c.last_op")).alias("last_op"),
        F.when(take_u, F.lit(int(epoch_id)))
        .otherwise(F.col("c.last_epoch"))
        .alias("last_epoch"),
    ]
    return joined.select(*cols)


def apply_changes(
    spark: SparkSession,
    feed_df: DataFrame,
    table: SnapshotTable,
    epoch_id: int,
    cfg: PipelineConfig | None = None,
) -> ApplyStats:
    cfg = cfg or PipelineConfig()
    if table.has_epoch(epoch_id):
        # duplicate delivery: no-op, but heal the crash window between the
        # manifest swap and the commit_log append (the epoch is committed;
        # make sure the durable record says so)
        table.ensure_commit_log_row(spark, epoch_id)
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

        from qwatch_spark.operators.rules import FP_COL

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

    use_delta = cfg.write_mode in ("delta", "auto")
    phases: dict[str, float] = {}
    stage_dir = None
    try:
        if use_delta:
            # SINGLE-WRITE path: the deduped batch streams straight into
            # its final delta files (merge-on-read: commit only the
            # epoch's updates, O(batch); readers resolve base ∪ deltas by
            # the (warc_ts, seq) order). No staging copy — at object-store
            # scale that halves the epoch's PUT volume. Touched buckets
            # come from the written partition dirs; batch size from
            # parquet footers (no data scan). I-vs-U classification would
            # need a table lookup, so delta lineage records upserts as
            # 'U' (deletes stay exact).
            t = time.time()
            new_version, vtoken, out = table.stage_version_dir()
            snap = updates.select(
                *payload_cols,
                F.col("seq"),
                (F.col("op") == "D").alias("is_deleted"),
                F.when(F.col("op") == "D", "D").otherwise("U").alias("last_op"),
                F.lit(int(epoch_id)).alias("last_epoch"),
                # commit-stats marker: null for upserts, 1 for deletes —
                # the parquet footer's per-chunk null_count then yields
                # EXACT per-bucket delete counts with zero data read
                # (_delta_footer_stats). ~1 bit/row on disk (RLE); every
                # reader projects through an explicit schema, so the
                # extra column is invisible outside this commit path.
                F.when(F.col("op") == "D", F.lit(1))
                .cast("tinyint")
                .alias("_del"),
                # the dedup already placed every row on its bucket
                # partition (one task per bucket), so the write below
                # needs no exchange of its own and partitionBy still
                # yields exactly one file per touched bucket
                F.col("_b").alias("b"),
            )
            (
                snap.write.mode("overwrite")
                .partitionBy("b")
                .parquet(out)
            )
            touched = sorted(
                int(d[2:]) for d in os.listdir(out) if d.startswith("b=")
            )
            phases["write"] = time.time() - t
            if not touched:  # fully-gated batch: manifest-only commit
                shutil.rmtree(out, ignore_errors=True)
                table.commit_empty_epoch(epoch_id)
                return ApplyStats(
                    int(epoch_id), False, 0, 0, 0, 0,
                    int((time.time() - t0) * 1000),
                )
            t = time.time()
            # the batch/zone-map/lineage stats every commit needs, from
            # the just-written files' FOOTERS — a driver-side metadata
            # read, zero Spark jobs (under concurrent multi-table
            # applies, a per-table stats job queued behind other
            # tables' writes was the dominant commit cost). Falls back
            # to ONE narrow aggregate job over the (page-cached) files
            # when a required statistic is missing.
            fstats = _delta_footer_stats(out, touched)
            if fstats is None:
                per_b = (
                    spark.read.parquet(out)
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
            n_deletes_total = sum(s["nd"] for s in fstats.values())
            zmaps = {
                b: [_ziso(s["lo"]), _ziso(s["hi"])]
                for b, s in fstats.items()
                if s["lo"] is not None
            }
            # I-vs-U classification needs a table lookup, so delta lineage
            # records upserts as 'U' (deletes stay exact); the table's
            # last_op is repaired to the true I/U at compaction, which
            # reads the history anyway (METRICS_SCHEMA documents the
            # cross-mode semantics)
            metrics_rows = [
                {
                    "epoch_id": int(epoch_id),
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
            from qwatch_spark.operators.rules import FP_COL as _FPC

            _maybe_append_fp_segment(
                table, cfg, lambda: spark.read.parquet(out), epoch_id,
                n_events,
                has_fp=_FPC in {f.name for f in evolved_payload.fields},
            )
            phases["commit_fp"] = time.time() - t2
            t2 = time.time()
            table.commit_prewritten_delta(
                touched, epoch_id, evolved_payload, new_version, vtoken, zmaps,
                rows_delta=n_events - n_deletes_total,
            )
            phases["commit_swap"] = time.time() - t2
            phases["commit"] = time.time() - t
        else:
            # COW path: stage the deduped batch to the lake instead of
            # caching — one pass over the feed, then cheap column-pruned
            # re-reads (merge input + bucket counts) with no executor
            # memory pressure; the staged batch doubles as a debuggable
            # artifact of what the epoch applied.
            stage_dir = os.path.join(table.path, "stage", f"e={int(epoch_id)}")
            t = time.time()
            updates.write.mode("overwrite").parquet(stage_dir)
            updates = spark.read.parquet(stage_dir)
            phases["stage"] = time.time() - t
            t = time.time()
            # one metadata-cheap job: touched buckets, deduped batch size,
            # AND the per-bucket warc_ts range for the zone map
            bucket_stats = updates.groupBy("_b").agg(
                F.count("*").alias("n"),
                F.min("warc_ts").alias("lo"),
                F.max("warc_ts").alias("hi"),
                F.count_if(F.col("op") == "D").alias("nd"),
            ).collect()
            touched = sorted(r["_b"] for r in bucket_stats)
            n_events = sum(r["n"] for r in bucket_stats)
            zmaps = {
                int(r["_b"]): [_ziso(r["lo"]), _ziso(r["hi"])]
                for r in bucket_stats
                if r["lo"] is not None
            }
            phases["plan"] = time.time() - t
            if not touched:  # fully-gated batch: manifest-only commit
                table.commit_empty_epoch(epoch_id)
                return ApplyStats(
                    int(epoch_id), False, 0, 0, 0, 0,
                    int((time.time() - t0) * 1000),
                )
            t = time.time()
            current = table.read_buckets(
                spark, touched, payload_schema=evolved_payload
            )
            merged = merge_cdc(
                current, updates.drop("_b"), epoch_id, payload_cols, key=key
            )
            from qwatch_spark.operators.rules import FP_COL as _FPC

            _maybe_append_fp_segment(
                table, cfg, lambda: updates, epoch_id, n_events,
                has_fp=_FPC in updates.columns,
            )
            table.commit_epoch(
                merged, touched, epoch_id, evolved_payload, zmaps,
                rows_delta=n_events - sum(int(r["nd"]) for r in bucket_stats),
            )
            phases["merge_commit"] = time.time() - t

        # lineage AFTER the commit point: recomputable. The delta path
        # derived metrics_rows inside its single stats job above; the COW
        # path needs a column-pruned scan of the rewritten buckets
        # (bucket, last_op, seq only reach the scan) because a rewritten
        # bucket mixes this epoch's rows with carried-over history.
        t = time.time()
        if not use_delta:
            written = table.read_buckets(
                spark, touched, payload_schema=evolved_payload
            )
            changed = written.filter(F.col("last_epoch") == int(epoch_id))
            metrics = (
                changed.withColumn("bucket", bucket_expr(table.n_buckets, key))
                .groupBy("bucket")
                .agg(
                    F.count_if(F.col("last_op") == "I").alias("n_insert"),
                    F.count_if(F.col("last_op") == "U").alias("n_update"),
                    F.count_if(F.col("last_op") == "D").alias("n_delete"),
                    F.min("seq").alias("min_seq"),
                    F.max("seq").alias("max_seq"),
                )
                .select(
                    F.lit(int(epoch_id)).alias("epoch_id"),
                    F.col("bucket"),
                    "n_insert",
                    "n_update",
                    "n_delete",
                    "min_seq",
                    "max_seq",
                )
            )
            metrics_rows = [r.asDict() for r in metrics.collect()]
        table.append_metrics(metrics_rows)
        phases["lineage"] = time.time() - t

        n_up = sum(r["n_insert"] + r["n_update"] for r in metrics_rows)
        n_del = sum(r["n_delete"] for r in metrics_rows)
        wall_ms = int((time.time() - t0) * 1000)
        table.append_commit_log(
            spark,
            {
                "epoch_id": int(epoch_id),
                "batch_fingerprint": f"v{table.version}",
                "n_events": n_events,
                "n_upserts": n_up,
                "n_deletes": n_del,
                "wall_ms": wall_ms,
                "events_per_sec": n_events / max(wall_ms, 1) * 1000.0,
                "committed_at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            },
        )
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
    finally:
        if stage_dir is not None:
            shutil.rmtree(stage_dir, ignore_errors=True)


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
