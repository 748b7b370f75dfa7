"""Append-sink protocol (ES-output analog): ddl/append/read surface,
epoch-keyed idempotent appends, runner integration with a custom sink."""

import os

from pyspark.sql import types as T

from qwatch_spark.sinks import MemorySink, ParquetSink, Sink

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def test_parquet_sink_roundtrip_and_idempotence(spark, tmp_path):
    sink = ParquetSink(str(tmp_path / "out"))
    assert isinstance(sink, Sink)
    sink.ddl(spark, SCHEMA)
    sink.append(spark.createDataFrame([("a", 1)], SCHEMA), 0)
    sink.append(spark.createDataFrame([("b", 2)], SCHEMA), 1)
    got = {(r["k"], r["n"], r["epoch"]) for r in sink.read(spark).collect()}
    assert got == {("a", 1, 0), ("b", 2, 1)}
    # re-delivered epoch overwrites its own output — no duplicates
    sink.append(spark.createDataFrame([("a", 1)], SCHEMA), 0)
    assert sink.read(spark).count() == 2
    # a fresh handle reads back via the persisted _schema.json
    sink2 = ParquetSink(str(tmp_path / "out"))
    assert sink2.read(spark).count() == 2


def test_parquet_sink_on_s3_path(spark, tmp_path, monkeypatch):
    """A dead-letter sink under an `s3://` table goes through the
    table's object store: `_schema.json` is an object put, Spark
    writes and reads at `store.spark_path`, and nothing lands in a
    local relative `s3:/...` directory."""
    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store

    root = tmp_path / "s3"
    root.mkdir()
    monkeypatch.setattr(
        S3Store, "client_factory", lambda: DirBackedFakeS3Client(str(root))
    )
    monkeypatch.setattr(
        S3Store, "spark_path_for", lambda bucket, key: str(root / bucket / key)
    )
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    sink = ParquetSink("s3://lake/t/dead_letter")
    sink.ddl(spark, SCHEMA)
    batch = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    sink.append(batch, 0)
    sink.append(batch, 0)  # redelivery overwrites its own epoch
    got = sorted(
        (r["k"], r["n"], r["epoch"])
        for r in ParquetSink("s3://lake/t/dead_letter").read(spark).collect()
    )
    assert got == [("a", 1, 0), ("b", 2, 0)]
    assert (root / "lake" / "t" / "dead_letter" / "_schema.json").exists()
    assert not os.path.exists(cwd / "s3:")


def test_memory_sink_same_contract(spark):
    sink = MemorySink()
    assert isinstance(sink, Sink)
    sink.ddl(spark, SCHEMA)
    sink.append(spark.createDataFrame([("a", 1)], SCHEMA), 0)
    sink.append(spark.createDataFrame([("a", 1)], SCHEMA), 0)  # redelivery
    sink.append(spark.createDataFrame([("b", 2)], SCHEMA), 1)
    assert sink.read(spark).count() == 2


def test_runner_routes_dead_letter_through_custom_sink(spark, tmp_path):
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.plans.snapshot_table import SnapshotTable
    from qwatch_spark.streaming import run_stream

    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, 200, files=1)
    bad = spark.createDataFrame(
        [(9001, "Z", "https://x.ex/b")], "seq long, op string, url string"
    ).selectExpr(
        "seq",
        "op",
        "url",
        "CAST(NULL AS timestamp) AS warc_ts",
        "CAST(NULL AS binary) AS html",
        "'en' AS lang",
        "'t' AS source",
        "CAST(0 AS int) AS epoch_hint",
    )
    bad.coalesce(1).write.mode("append").parquet(feed_dir)

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    sink = MemorySink()
    run_stream(
        spark,
        feed_dir,
        t.path,
        str(tmp_path / "ck"),
        PipelineConfig(n_buckets=4, rules=("valid_url",)),
        dead_letter_sink=sink,
    )
    rows = [r for e in sink.epochs.values() for r in e]
    assert [r["op"] for r in rows] == ["Z"]
    # default parquet dead_letter dir untouched when a custom sink is given
    assert not os.path.exists(os.path.join(t.path, "dead_letter"))


def test_duckdb_sink_transactional_epoch_idempotence(spark, tmp_path):
    """External-store adapter: the epoch-idempotence contract must
    survive a store WITHOUT atomic directory overwrite — re-delivered
    epochs replace their own rows via a transactional delete+insert."""
    from qwatch_spark.sinks import DuckDBSink

    sink = DuckDBSink(str(tmp_path / "sink.duckdb"))
    assert isinstance(sink, Sink)
    sink.ddl(spark, SCHEMA)
    sink.append(spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA), 0)
    sink.append(spark.createDataFrame([("c", 3)], SCHEMA), 1)
    got = {(r["k"], r["n"], r["_sink_epoch"]) for r in sink.read(spark).collect()}
    assert got == {("a", 1, 0), ("b", 2, 0), ("c", 3, 1)}
    # re-delivered epoch 0 with a CHANGED batch replaces, never duplicates
    sink.append(spark.createDataFrame([("a", 9)], SCHEMA), 0)
    got = {(r["k"], r["n"], r["_sink_epoch"]) for r in sink.read(spark).collect()}
    assert got == {("a", 9, 0), ("c", 3, 1)}


def test_runner_dead_letter_through_duckdb_sink_redelivery(spark, tmp_path):
    """run_stream with the DuckDB dead-letter sink: a full re-delivery
    (fresh checkpoint, every epoch skipped) must leave the external
    store's row count unchanged — exactly-once off the local FS."""
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.plans.snapshot_table import SnapshotTable
    from qwatch_spark.sinks import DuckDBSink
    from qwatch_spark.streaming import run_stream

    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, 300, files=2)
    bad = spark.createDataFrame(
        [(9001, None, "https://x.ex/a"), (9002, "Z", "https://x.ex/b")],
        "seq long, op string, url string",
    ).selectExpr(
        "seq",
        "op",
        "url",
        "CAST(NULL AS timestamp) AS warc_ts",
        "CAST(NULL AS binary) AS html",
        "'en' AS lang",
        "'t' AS source",
        "CAST(0 AS int) AS epoch_hint",
    )
    bad.coalesce(1).write.mode("append").parquet(feed_dir)

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    sink = DuckDBSink(str(tmp_path / "dead.duckdb"), table="dead_letter")
    cfg = PipelineConfig(n_buckets=4, rules=("valid_url",))
    run_stream(spark, feed_dir, t.path, str(tmp_path / "ck1"), cfg,
               dead_letter_sink=sink)
    dead = sink.read(spark)
    assert dead.count() == 2
    assert {r["op"] for r in dead.collect()} == {None, "Z"}
    # full re-delivery via a fresh checkpoint: store must not grow
    run_stream(spark, feed_dir, t.path, str(tmp_path / "ck2"), cfg,
               dead_letter_sink=sink)
    assert sink.read(spark).count() == 2
