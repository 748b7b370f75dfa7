"""Explicit StructType schemas (never inferred).

The reference uses fixed compile-time Go structs with JSON tags
(/root/reference/types/types.go:54-69 `Qmsg`); unknown fields are
silently dropped by json.Unmarshal (/root/reference/inputs/docker-gelf.go:55).
We keep the "explicit schema" discipline but resolve evolution at MERGE
time instead of dropping (see operators/evolution.py).

Shapes follow BASELINE.json `input_hint` and FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Target lake table: one current row per url (input_hint shape) plus CDC
# bookkeeping columns. `warc_ts`/`seq` order resolves latest-wins (the
# reference's `last_seen` contract, outputs/neo4j.go:260-261, fixed to use
# event time rather than its time.Now() regression at neo4j.go:268).
# `is_deleted` keeps tombstones so a late, older update cannot resurrect a
# deleted key (delete-vs-late-update total order on (warc_ts, seq)).
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Internal snapshot schema = PAGE_SCHEMA + bookkeeping.
SNAPSHOT_EXTRA_FIELDS = [
    T.StructField("seq", T.LongType(), True),
    T.StructField("is_deleted", T.BooleanType(), False),
]

# Change-feed envelope (the `Qmsg` analog, types/types.go:54-69):
# op mirrors the per-action dispatch at outputs/neo4j.go:101-252,
# collapsed to CDC opcodes I/U/D; dual time = warc_ts (event time,
# the TimeNano analog from inputs/docker-events.go:67-68) + seq
# (monotone offset tiebreaker).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("epoch_hint", T.IntegerType(), True),
    ]
)

# Lineage / metrics tables (north_rule: per-partition lineage and
# throughput metrics; the reference has only log lines, outputs/neo4j.go:124).
# Per-epoch per-bucket lineage. Every epoch records its upserts as
# n_update with n_insert=0: I-vs-U would need the table read the O(batch)
# apply path exists to avoid. Deletes are exact. The TABLE's
# last_op column is the exact record (delta winners' last_op is
# reconstructed from history at compaction; see SnapshotTable.compact);
# metrics rows are immutable apply-time history.
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_insert", T.LongType(), True),
        T.StructField("n_update", T.LongType(), True),
        T.StructField("n_delete", T.LongType(), True),
        T.StructField("min_seq", T.LongType(), True),
        T.StructField("max_seq", T.LongType(), True),
    ]
)

COMMIT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("batch_fingerprint", T.StringType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("n_upserts", T.LongType(), True),
        T.StructField("n_deletes", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("events_per_sec", T.DoubleType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)

# The epoch record `commit_log/e=<epoch>.json` (SnapshotTable.put_epoch_record):
# the epoch's commit-log row plus its metrics rows, without epoch_id, under
# `buckets`. read_commit_log and read_metrics are two views of it.
EPOCH_RECORD_SCHEMA = T.StructType(
    COMMIT_LOG_SCHEMA.fields
    + [
        T.StructField(
            "buckets", T.ArrayType(T.StructType(METRICS_SCHEMA.fields[1:])), True
        )
    ]
)


def schema_from_json(payload: str) -> T.StructType:
    schema = T.StructType.fromJson(__import__("json").loads(payload))
    return schema
