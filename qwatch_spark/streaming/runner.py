"""Structured Streaming runner — the daemon loop, Spark-first.

The reference's driver loop broadcasts a tick every interval and exits
after `ticks` (/root/reference/server/server.go:98-111); delivery is
at-most-once with no offsets or checkpoints (the "1s sleep and hope"
startup barrier, server/server.go:85-88). Here the trigger IS the tick,
offsets are checkpointed, and the sink is the idempotent epoch-tagged
`apply_changes` — together: exactly-once end-to-end.

- `Trigger.AvailableNow` = the reference's bounded `ticks` run
  (cmd/server.go:18-22): drain everything currently in the feed, stop.
- `processingTime` trigger = the ticker (`ticker.interval`,
  cmd/server.go:33-37).
- resume: a restart with the same checkpointLocation replays the last
  uncommitted micro-batch with the SAME epoch id; the manifest marks
  applied epochs, so the replay is a no-op commit — duplicate delivery
  converges (the reference's MERGE-idempotence contract,
  outputs/neo4j.go:259-262, now actually transactional).

Like the reference's one orchestrator loop, both entry points —
`run_stream` (one page table) and `run_entity_stream` (a table per
entity) — run the same micro-batch driver, `_run_micro_batches`; each
supplies only its feed schema, dead-letter split, lead table and
per-epoch apply.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.apply import ApplyStats, apply_changes
from qwatch_spark.plans.objectstore import CommitConflictError
from qwatch_spark.plans.snapshot_table import SnapshotTable
from qwatch_spark.schema import EVENT_SCHEMA
from qwatch_spark.sinks import ParquetSink, Sink
from qwatch_spark.sources.feed import CORRUPT_COL, read_feed_stream, split_dead_letter


def _retry_lost_race(fn, attempts: int = 20):
    """The CAS writer loop for the streaming daemon: a maintenance job
    (jobs/maintain_job.py) committing between this epoch's table reload
    and its manifest swap makes the apply lose the race LOUDLY; the
    correct response is rebase (fn reloads the table) and retry, not
    killing the streaming query. Genuine second-applier conflicts still
    surface after `attempts` straight losses. The check is on the type,
    not the message: an unrelated RuntimeError whose text happens to
    contain "stale" surfaces at once."""
    last = None
    for _ in range(attempts):
        try:
            return fn()
        except CommitConflictError as e:
            last = e
    raise last


def _run_micro_batches(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig,
    schema: T.StructType,
    split,
    lead_path: str,
    apply,
    sink: Sink,
    available_now: bool,
    processing_time: str | None,
    timeout_sec: float | None,
) -> list:
    """The micro-batch driver: tail `feed_dir` and, per epoch, split the
    batch with `split(df) -> (valid, dead)`, dead-letter `dead` into
    `sink`, then `apply(valid, epoch_id)` under the lost-race retry.
    Returns the per-epoch results of `apply`, in epoch order."""
    dead_fields = list(schema.fields)
    if cfg.feed_format == "json":
        # decode failures keep their raw line in the dead-letter record
        dead_fields.append(T.StructField(CORRUPT_COL, T.StringType(), True))
    sink.ddl(
        spark,
        T.StructType(dead_fields + [T.StructField("_dead_epoch", T.LongType(), True)]),
    )
    results: list = []

    def _batch(batch_df, epoch_id: int) -> None:
        # the micro-batch is consumed by several jobs (dead-letter probe,
        # then the apply's own passes — for entities one routing filter
        # per entity, skeleton and link derivation): persist once so the
        # source files are read/decoded a single time per epoch. Bounded
        # by max_files_per_trigger, spills to disk past executor storage,
        # dropped at epoch end. persist is lazy: a replayed epoch (checkpoint
        # replay of an already-committed epoch) skips the dead-letter probe
        # and its applies return at has_epoch, so it never materializes.
        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # ALWAYS split — a crash between per-table commits (lead
            # committed, a lagging table not) replays this epoch, and the
            # lagging tables must still see only valid rows.
            valid, dead = split(batch_df)
            # dead-letter side output (the reference turns decode errors
            # into events, inputs/docker-events.go:49-55; we keep them
            # queryable). Gated on the lead table's epoch marker so the
            # sink stays exactly-once under replay; sink appends are
            # epoch-keyed overwrites, so a crash between this write and
            # the commit re-runs it onto the same output. Empty epochs
            # skip the write (one narrow early-exit probe beats a write
            # job every epoch; dead rows are the exception).
            if not SnapshotTable(lead_path).has_epoch(epoch_id) and not dead.isEmpty():
                sink.append(
                    dead.withColumn("_dead_epoch", F.lit(int(epoch_id))), epoch_id
                )
            results.append(_retry_lost_race(lambda: apply(valid, epoch_id)))
        finally:
            batch_df.unpersist()

    stream = read_feed_stream(
        spark, feed_dir, schema=schema,
        max_files_per_trigger=cfg.max_files_per_trigger, fmt=cfg.feed_format,
    )
    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    query = writer.start()
    try:
        query.awaitTermination(timeout_sec) if timeout_sec else query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    return results


def run_stream(
    spark: SparkSession,
    feed_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    timeout_sec: float | None = None,
    dead_letter_sink: Sink | None = None,
) -> list[ApplyStats]:
    """Tail the feed dir and apply each micro-batch. Returns per-epoch
    stats (driver-side list; the durable record is the commit_log).

    Dead rows flow through the append-sink protocol (qwatch_spark.sinks,
    the ES-output analog): default ParquetSink under the table dir; pass
    any Sink implementation to route them elsewhere."""
    cfg = cfg or PipelineConfig()
    return _run_micro_batches(
        spark, feed_dir, checkpoint_dir, cfg,
        schema=EVENT_SCHEMA,
        split=split_dead_letter,
        lead_path=table_path,
        # reload the manifest on every attempt: a lost race rebases
        apply=lambda valid, epoch_id: apply_changes(
            spark, valid, SnapshotTable(table_path), epoch_id, cfg
        ),
        sink=dead_letter_sink
        or ParquetSink(os.path.join(table_path, "dead_letter")),
        available_now=available_now,
        processing_time=processing_time,
        timeout_sec=timeout_sec,
    )


def run_entity_stream(
    spark: SparkSession,
    feed_dir: str,
    base_path: str,
    checkpoint_dir: str,
    specs,
    links=None,
    cfg: PipelineConfig | None = None,
    feed_schema: T.StructType | None = None,
    type_col: str = "entity_type",
    available_now: bool = True,
    processing_time: str | None = None,
    timeout_sec: float | None = None,
    dead_letter_sink: Sink | None = None,
) -> list[dict]:
    """Stream a discriminated multi-entity feed into per-entity
    SnapshotTables (reference: the inventory channel's type switch,
    outputs/neo4j.go:484-504, as a checkpointed exactly-once stream).

    Rows with an invalid op, unknown/missing entity_type, or a null key
    for their entity are dead-lettered through the sink protocol. Each
    entity table skips re-delivered epochs independently; the first
    spec's table leads the dead-letter idempotence check."""
    from qwatch_spark.operators.entities import (
        apply_entity_changes,
        create_entity_tables,
        derive_feed_schema,
    )

    specs, links = list(specs), list(links or [])
    cfg = cfg or PipelineConfig(rules=())
    tables = create_entity_tables(
        base_path, specs, links, n_buckets=cfg.n_buckets,
        manifest_shards=cfg.manifest_shards,
    )
    if feed_schema is None:
        # never infer a streaming source schema: derive it from the specs
        # (same union + type-conflict check as jobs/entity_job.py)
        feed_schema = derive_feed_schema(specs, type_col=type_col)
    names = [s.name for s in specs]
    bad_key = F.col(type_col).isNull() | ~F.col(type_col).isin(*names)
    for s in specs:
        bad_key = bad_key | ((F.col(type_col) == s.name) & F.col(s.key_col).isNull())

    return _run_micro_batches(
        spark, feed_dir, checkpoint_dir, cfg,
        schema=feed_schema,
        split=lambda df: split_dead_letter(df, bad_key=bad_key),
        lead_path=tables[names[0]].path,
        apply=lambda valid, epoch_id: apply_entity_changes(
            spark, valid, specs,
            {n: SnapshotTable(t.path) for n, t in tables.items()},
            epoch_id, links=links, cfg=cfg, type_col=type_col,
            # the driver already persisted the micro-batch; a second
            # cache of the filtered view would double its footprint
            cache_batch=False,
        ),
        sink=dead_letter_sink or ParquetSink(os.path.join(base_path, "dead_letter")),
        available_now=available_now,
        processing_time=processing_time,
        timeout_sec=timeout_sec,
    )
