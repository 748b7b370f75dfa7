"""Change-feed sources — the collector stage (SURVEY.md §2.1).

The reference tails push feeds (UDP GELF datagrams,
/root/reference/inputs/docker-gelf.go:28-70; Docker engine events,
inputs/docker-events.go:32-56) with a fixed compile-time schema. Our
collector is a file-tailing source over an append-only WAL directory of
parquet segments — the lake-native equivalent — read with an explicit
schema (never inferred), batch or streaming.

Bad-record handling: the reference turns decode errors into events too
(inputs/docker-events.go:49-55). Parquet segments can't half-decode, but
semantically-invalid rows (null key, unknown op) are split into a
dead-letter DataFrame rather than dropped silently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwatch_spark.schema import EVENT_SCHEMA

VALID_OPS = ("I", "U", "D")
CORRUPT_COL = "_corrupt"  # raw line of a JSON record that failed decode
FEED_FORMATS = ("parquet", "json")


def _load(reader, path: str, schema: T.StructType | None, fmt: str) -> DataFrame:
    """Load `path` with `reader` (batch or streaming) under an explicit
    schema. JSON feeds carry a corrupt-record column: PERMISSIVE decode
    puts a malformed line's raw text there (all data fields null) — the
    reference turns decode errors into events the same way
    (inputs/docker-events.go:49-55); split_dead_letter
    routes them to the dead-letter sink instead of dropping them.
    Binary columns (html) ride as base64, Spark's JSON codec both ways."""
    if fmt not in FEED_FORMATS:
        raise ValueError(f"unknown feed format {fmt!r}; known: {FEED_FORMATS}")
    schema = schema or EVENT_SCHEMA
    if fmt == "parquet":
        return reader.schema(schema).parquet(path)
    if CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_feed(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    return _load(spark.read, path, schema, fmt)


def read_feed_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _load(reader, path, schema, fmt)


def split_dead_letter(
    df: DataFrame, bad_key: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """(valid, dead_letter): rows with an invalid key or unknown opcode go
    to the dead-letter side instead of silently vanishing. `bad_key`
    marks a row whose key is invalid; it defaults to `url IS NULL` (the
    page feed) and must never evaluate to NULL.

    op IS NULL is listed explicitly: `~op.isin(...)` evaluates to NULL
    for a null op, which would fail BOTH filters and drop the row — the
    exact silent loss dead-lettering exists to prevent (parquet reads do
    not enforce schema nullability)."""
    if bad_key is None:
        bad_key = F.col("url").isNull()
    bad = bad_key | F.col("op").isNull() | ~F.col("op").isin(*VALID_OPS)
    if CORRUPT_COL in df.columns:
        # JSON decode failures: all data fields null, raw line preserved.
        # The dead side keeps the raw line; the valid side must NOT carry
        # the bookkeeping column into schema resolution (it would read as
        # an evolved feed column and widen the table).
        bad = bad | F.col(CORRUPT_COL).isNotNull()
        return df.filter(~bad).drop(CORRUPT_COL), df.filter(bad)
    return df.filter(~bad), df.filter(bad)
