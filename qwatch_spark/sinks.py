"""Append-sink protocol — the Elasticsearch-output analog (SURVEY.md §2.8
K1/K2), Spark-first.

The reference's ES output declares index-mapping DDL once, then buffers
per-document appends into the store
(/root/reference/outputs/elasticsearch.go:56-77 createIndex,
79-101 indexLog; console twin at outputs/log.go). Ours is the same
three-verb protocol — `ddl` once, set-oriented `append` per epoch,
`read` back — but batch-per-epoch instead of doc-at-a-time, and
IDEMPOTENT: every append is keyed by epoch so re-delivered epochs
overwrite their own output instead of duplicating it (the reference's
sink is at-least-once with no epoch identity at all).

Implementations:

- ParquetSink   — lake-native append directory (epoch=<id> subdirs);
- ConsoleSink   — the outputs/log.go analog for debugging, on the
                  `qwatch_spark.sinks` logger (INFO);
- MemorySink    — test double (collects to the driver; small data only).

Custom targets (a real ES/JDBC/object-store writer) implement the same
Sink surface and can be handed to the streaming runner via
`foreachBatch` — the engine only relies on ddl/append/read.
"""

from __future__ import annotations

import logging
import os
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from qwatch_spark.plans.objectstore import store_for

log = logging.getLogger(__name__)


@runtime_checkable
class Sink(Protocol):
    """Three-verb append-sink protocol (createIndex/indexLog analog)."""

    def ddl(self, spark: SparkSession, schema: T.StructType) -> None:
        """Declare the target's shape once (index mapping / table DDL)."""
        ...

    def append(self, df: DataFrame, epoch_id: int) -> None:
        """Idempotently append one epoch's rows (re-delivery overwrites)."""
        ...

    def read(self, spark: SparkSession) -> DataFrame:
        """Everything appended so far (for lineage queries / tests)."""
        ...


class ParquetSink:
    """Epoch-keyed parquet append directory. `append` writes
    epoch=<id>/ with mode=overwrite → exactly-once under replay. The
    directory lives in the object store its path names (a local path or
    ``s3://``), like the table it sits in."""

    def __init__(self, path: str):
        self.path = path
        self.store = store_for(path)
        if self.store is None:
            raise ValueError(f"no object store client for {path!r}")
        self._schema: T.StructType | None = None

    def ddl(self, spark: SparkSession, schema: T.StructType) -> None:
        self._schema = schema
        self.store.put(os.path.join(self.path, "_schema.json"), schema.json().encode())

    def append(self, df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            self.store.spark_path(os.path.join(self.path, f"epoch={int(epoch_id)}"))
        )

    def read(self, spark: SparkSession) -> DataFrame:
        schema = self._schema
        if schema is None:
            raw = self.store.get(os.path.join(self.path, "_schema.json"))
            if raw is not None:
                from qwatch_spark.schema import schema_from_json

                schema = schema_from_json(raw.decode())
        reader = spark.read
        if schema is not None:
            # partition column `epoch` is appended by discovery
            reader = reader.schema(
                T.StructType(
                    list(schema.fields)
                    + [T.StructField("epoch", T.IntegerType(), True)]
                )
            )
        return reader.parquet(self.store.spark_path(self.path))


_DUCK_TYPES = {
    "string": "VARCHAR",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "double": "DOUBLE",
    "float": "FLOAT",
    "timestamp": "TIMESTAMP",
    "binary": "BLOB",
    "boolean": "BOOLEAN",
}


class DuckDBSink:
    """External-SQL-store adapter (the reference's elasticsearch output,
    /root/reference/outputs/elasticsearch.go:56-101: createIndex DDL +
    buffered indexLog — here an embedded DuckDB file standing in for any
    store reached over a client, with none of the lake's atomic
    directory-overwrite tricks available).

    Epoch idempotence WITHOUT overwrite semantics: `append` runs
    DELETE-where-epoch + INSERT inside ONE transaction, so a re-delivered
    epoch replaces its own rows exactly and a crash mid-append leaves the
    store unchanged (the transaction aborts). Rows travel driver-side as
    one Arrow table (zero-copy into DuckDB) — the single-client funnel
    the reference's ES output has too; a sharded store would take the
    same SQL per executor via foreachPartition connections."""

    EPOCH_COL = "_sink_epoch"

    def __init__(self, db_path: str, table: str = "sink"):
        self.db_path = db_path
        self.table = table
        self._schema: T.StructType | None = None

    def _con(self):
        import duckdb

        return duckdb.connect(self.db_path)

    def ddl(self, spark: SparkSession, schema: T.StructType) -> None:
        self._schema = schema
        cols = []
        for f in schema.fields:
            t = _DUCK_TYPES.get(f.dataType.simpleString())
            if t is None:
                raise ValueError(
                    f"DuckDBSink: unmapped type {f.dataType.simpleString()!r} "
                    f"for column {f.name!r}"
                )
            cols.append(f'"{f.name}" {t}')
        cols.append(f'"{self.EPOCH_COL}" BIGINT')
        con = self._con()
        try:
            con.execute(
                f'CREATE TABLE IF NOT EXISTS "{self.table}" ({", ".join(cols)})'
            )
        finally:
            con.close()

    def append(self, df: DataFrame, epoch_id: int) -> None:
        if self._schema is None:
            raise RuntimeError("DuckDBSink.append before ddl")
        batch = df.select(*[f.name for f in self._schema.fields]).toArrow()
        con = self._con()
        try:
            con.register("_epoch_batch", batch)
            con.execute("BEGIN")
            con.execute(
                f'DELETE FROM "{self.table}" WHERE "{self.EPOCH_COL}" = ?',
                [int(epoch_id)],
            )
            con.execute(
                f'INSERT INTO "{self.table}" '
                f"SELECT *, {int(epoch_id)} FROM _epoch_batch"
            )
            con.execute("COMMIT")
        except Exception:
            con.execute("ROLLBACK")
            raise
        finally:
            con.close()

    def read(self, spark: SparkSession) -> DataFrame:
        if self._schema is None:
            raise RuntimeError("DuckDBSink.read before ddl")
        con = self._con()
        try:
            pdf = con.execute(f'SELECT * FROM "{self.table}"').df()
        finally:
            con.close()
        # everything read back is nullable: dead-letter rows legitimately
        # carry nulls in fields the FEED schema declares non-null (that
        # is often exactly why they were dead-lettered)
        out_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in self._schema.fields]
            + [T.StructField(self.EPOCH_COL, T.LongType(), True)]
        )
        return spark.createDataFrame(pdf, out_schema)


class ConsoleSink:
    """outputs/log.go analog: log the DDL and each epoch's first rows,
    as `df.show` renders them, at INFO (debug only; nothing goes to
    stdout)."""

    def __init__(self, num_rows: int = 20):
        self.num_rows = num_rows

    def ddl(self, spark: SparkSession, schema: T.StructType) -> None:
        log.info("[sink ddl] %s", schema.simpleString())

    def append(self, df: DataFrame, epoch_id: int) -> None:
        if log.isEnabledFor(logging.INFO):
            rows = df._show_string(self.num_rows, truncate=False)
            log.info("[sink epoch=%s]\n%s", epoch_id, rows)

    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError("ConsoleSink is write-only")


class MemorySink:
    """Test double: collects appends driver-side, keyed by epoch (so a
    re-delivered epoch overwrites — same contract as ParquetSink)."""

    def __init__(self):
        self.epochs: dict[int, list] = {}
        self._schema: T.StructType | None = None

    def ddl(self, spark: SparkSession, schema: T.StructType) -> None:
        self._schema = schema

    def append(self, df: DataFrame, epoch_id: int) -> None:
        self.epochs[int(epoch_id)] = df.collect()

    def read(self, spark: SparkSession) -> DataFrame:
        rows = [r for e in sorted(self.epochs) for r in self.epochs[e]]
        return spark.createDataFrame(rows, self._schema)
