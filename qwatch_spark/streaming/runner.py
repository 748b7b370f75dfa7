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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.apply import ApplyStats, apply_changes
from qwatch_spark.plans.snapshot_table import SnapshotTable
from qwatch_spark.schema import EVENT_SCHEMA
from qwatch_spark.sinks import ParquetSink, Sink
from qwatch_spark.sources.feed import read_feed_stream, split_dead_letter


def _is_lost_race(e: Exception) -> bool:
    # typed check, NOT message matching: an unrelated RuntimeError whose
    # text happens to contain "stale" must surface, not be retried 20×
    from qwatch_spark.plans.objectstore import CommitConflictError

    return isinstance(e, CommitConflictError)


def _retry_lost_race(fn, attempts: int = 20):
    """The CAS writer loop for the streaming daemon: a maintenance job
    (jobs/maintain_job.py) committing between this epoch's table reload
    and its manifest swap makes the apply lose the race LOUDLY; the
    correct response is rebase (fn reloads the table) and retry, not
    killing the streaming query. Genuine second-applier conflicts still
    surface after `attempts` straight losses."""
    last = None
    for _ in range(attempts):
        try:
            return fn()
        except RuntimeError as e:
            if not _is_lost_race(e):
                raise
            last = e
    raise last


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
    from qwatch_spark.sources.feed import CORRUPT_COL

    cfg = cfg or PipelineConfig()
    stats: list[ApplyStats] = []
    sink = dead_letter_sink or ParquetSink(os.path.join(table_path, "dead_letter"))
    dead_fields = list(EVENT_SCHEMA.fields)
    if cfg.feed_format == "json":
        # decode failures keep their raw line in the dead-letter record
        dead_fields.append(T.StructField(CORRUPT_COL, T.StringType(), True))
    sink.ddl(
        spark,
        T.StructType(
            dead_fields + [T.StructField("_dead_epoch", T.LongType(), True)]
        ),
    )

    def _apply(batch_df, epoch_id: int) -> None:
        table = SnapshotTable(table_path)  # reload manifest each epoch
        if table.has_epoch(epoch_id):
            # duplicate delivery (checkpoint replay): skip the dead-letter
            # side output too, so the sink stays exactly-once end-to-end
            stats.append(apply_changes(spark, batch_df, table, epoch_id, cfg))
            return
        # the micro-batch is consumed by several jobs (dead-letter probe,
        # then the apply's own passes): persist once so the source files
        # are read/decoded a single time per epoch — the standard
        # foreachBatch multi-use pattern. Cache footprint is bounded by
        # max_files_per_trigger (the epoch size knob), spills to disk
        # past executor storage, and is dropped at epoch end.
        from pyspark import StorageLevel

        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            _apply_live(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    def _apply_live(batch_df, epoch_id: int) -> None:
        valid, dead = split_dead_letter(batch_df)
        # dead-letter side output (the reference turns decode errors into
        # events, inputs/docker-events.go:49-55; we keep them queryable).
        # Sink appends are epoch-keyed + overwrite: a crash between this
        # write and the epoch commit re-runs the batch, which overwrites
        # the same output instead of appending duplicates. Empty epochs
        # skip the write entirely (one narrow early-exit probe beats a
        # full write job + per-epoch sink object every epoch — dead rows
        # are the exception, not the rule; the skip is deterministic, so
        # replay converges either way).
        if not dead.isEmpty():
            sink.append(
                dead.withColumn("_dead_epoch", F.lit(int(epoch_id))), epoch_id
            )
        stats.append(
            _retry_lost_race(
                lambda: apply_changes(
                    spark, valid, SnapshotTable(table_path), epoch_id, cfg
                )
            )
        )

    stream = read_feed_stream(
        spark, feed_dir, max_files_per_trigger=cfg.max_files_per_trigger,
        fmt=cfg.feed_format,
    )
    _drive(stream, _apply, checkpoint_dir, available_now, processing_time, timeout_sec)
    return stats


def _drive(
    stream, apply_fn, checkpoint_dir, available_now, processing_time, timeout_sec
) -> None:
    writer = (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
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

    cfg = cfg or PipelineConfig(rules=())
    tables = create_entity_tables(
        base_path, list(specs), list(links or []), n_buckets=cfg.n_buckets,
        manifest_shards=cfg.manifest_shards,
    )
    sink = dead_letter_sink or ParquetSink(os.path.join(base_path, "dead_letter"))
    if feed_schema is None:
        # never infer a streaming source schema: derive it from the specs
        # (same union + type-conflict check as jobs/entity_job.py)
        feed_schema = derive_feed_schema(list(specs), type_col=type_col)
    from qwatch_spark.sources.feed import CORRUPT_COL

    dead_fields = list(feed_schema.fields)
    if cfg.feed_format == "json":
        dead_fields.append(T.StructField(CORRUPT_COL, T.StringType(), True))
    sink.ddl(
        spark,
        T.StructType(
            dead_fields + [T.StructField("_dead_epoch", T.LongType(), True)]
        ),
    )
    stats: list[dict] = []
    names = [s.name for s in specs]
    lead = tables[names[0]]

    def _split(df):
        bad = (
            F.col("op").isNull()
            | ~F.col("op").isin("I", "U", "D")
            | F.col(type_col).isNull()
            | ~F.col(type_col).isin(*names)
        )
        for s in specs:
            bad = bad | ((F.col(type_col) == s.name) & F.col(s.key_col).isNull())
        if CORRUPT_COL in df.columns:
            # JSON decode failures: raw line preserved on the dead side;
            # the valid side must not route the bookkeeping column into
            # the entity tables as an evolved payload column
            bad = bad | F.col(CORRUPT_COL).isNotNull()
            return df.filter(~bad).drop(CORRUPT_COL), df.filter(bad)
        return df.filter(~bad), df.filter(bad)

    def _apply(batch_df, epoch_id: int) -> None:
        # the batch fans out to MANY jobs (dead-letter probe, one routing
        # filter per entity, skeleton derivation per FK, link derivation,
        # then the per-table applies): persist once per epoch so the
        # source files are read/decoded a single time instead of 6-8x.
        # Bounded by max_files_per_trigger, spills past storage memory,
        # dropped at epoch end. Replayed (all-tables-committed) epochs
        # never materialize it — their applies skip before any action.
        from pyspark import StorageLevel

        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            _apply_live(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    def _apply_live(batch_df, epoch_id: int) -> None:
        # ALWAYS split — a crash between per-table commits (lead committed,
        # a lagging entity table not) replays this epoch, and the lagging
        # tables must still see only valid rows or replay-state diverges
        # from no-crash state. Only the dead-letter side output is gated on
        # the lead's epoch marker (keeps the sink exactly-once); the split
        # itself is a cheap filter.
        valid, dead = _split(batch_df)
        if not SnapshotTable(lead.path).has_epoch(epoch_id) and not dead.isEmpty():
            sink.append(
                dead.withColumn("_dead_epoch", F.lit(int(epoch_id))), epoch_id
            )
        stats.append(
            _retry_lost_race(
                lambda: apply_entity_changes(
                    spark, valid, list(specs),
                    {n: SnapshotTable(t.path) for n, t in tables.items()},
                    epoch_id,
                    links=list(links or []), cfg=cfg, type_col=type_col,
                    # the micro-batch is already persisted by _apply;
                    # a second cache of the filtered view would double
                    # the epoch's storage footprint for nothing
                    cache_batch=False,
                )
            )
        )

    from qwatch_spark.sources.feed import read_feed_stream

    stream = read_feed_stream(
        spark, feed_dir, schema=feed_schema,
        max_files_per_trigger=cfg.max_files_per_trigger,
        fmt=cfg.feed_format,
    )
    _drive(stream, _apply, checkpoint_dir, available_now, processing_time, timeout_sec)
    return stats
