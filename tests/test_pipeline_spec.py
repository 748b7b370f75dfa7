"""PipelineSpec (the activated dag.go analog): declared sources with
tick-modulo cadence → rules → sink; plus SnapshotTable crash-safety."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df
from qwatch_spark.plans.pipeline import PipelineSpec
from qwatch_spark.plans.snapshot_table import SnapshotTable, full_schema

CFG = PipelineConfig(n_buckets=8)


def test_tick_modulo_cadence(spark, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    ran: dict[str, list[int]] = {"tail": [], "snapshot": []}

    def tail(s, epoch):
        ran["tail"].append(epoch)
        return gen_feed_df(s, 300 * (epoch + 1)).filter(
            F.col("seq") >= 300 * epoch
        ).drop("epoch_hint")

    def snapshot(s, epoch):
        ran["snapshot"].append(epoch)
        return None  # due, but contributes nothing this test

    spec = (
        PipelineSpec(CFG, table.path)
        .add_source("tail", tail, tick_modulo=1)
        .add_source("snapshot", snapshot, tick_modulo=3)
    )
    for e in range(6):
        spec.run_epoch(spark, e)
    assert ran["tail"] == [0, 1, 2, 3, 4, 5]
    assert ran["snapshot"] == [0, 3]  # every 3rd tick, tick 0 always
    assert SnapshotTable(table.path).read(spark).count() > 0


def test_spec_validation():
    spec = PipelineSpec(CFG, "/tmp/x")
    spec.add_source("a", lambda s, e: None)
    with pytest.raises(ValueError, match="duplicate source"):
        spec.add_source("a", lambda s, e: None)
    with pytest.raises(ValueError, match="tick_modulo"):
        spec.add_source("b", lambda s, e: None, tick_modulo=0)


def test_crash_before_manifest_swap_leaves_state_intact(spark, tmp_path):
    """Simulate a crash after data files are written but before the
    manifest swap: orphan files exist, state is unchanged, and a retry
    of the same epoch converges."""
    from qwatch_spark.operators.apply import apply_changes

    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    feed = gen_feed_df(spark, 500).drop("epoch_hint")
    apply_changes(spark, feed, table, 0, CFG)
    state = {r["url"]: r["warc_ts"] for r in table.read(spark).collect()}
    v = table.version

    # fake a crashed epoch-1 write: data dir exists, manifest untouched
    orphan = os.path.join(table.path, "data", f"v={v + 1}")
    os.makedirs(os.path.join(orphan, "b=0"), exist_ok=True)
    with open(os.path.join(orphan, "b=0", "part-crashed.parquet"), "wb") as fh:
        fh.write(b"not really parquet")

    t2 = SnapshotTable(table.path)
    assert t2.version == v
    assert {r["url"]: r["warc_ts"] for r in t2.read(spark).collect()} == state

    # retry of epoch 1 proceeds past the orphan (mode=overwrite) and commits
    feed2 = gen_feed_df(spark, 1000).filter(F.col("seq") >= 500).drop("epoch_hint")
    s = apply_changes(spark, feed2, t2, 1, CFG)
    assert not s.skipped and t2.version == v + 1
    # orphan version is now live data written by the retry — readable
    assert t2.read(spark).count() >= len(state)


def test_manifest_swap_is_atomic_commit_point(spark, tmp_path):
    """Readers loading the manifest mid-epoch see either the old or the
    new version, never a mix: bucket pointers resolve to complete files."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    feed = gen_feed_df(spark, 800).drop("epoch_hint")
    from qwatch_spark.operators.apply import apply_changes

    apply_changes(spark, feed, table, 0, CFG)
    m1 = json.load(open(os.path.join(table.path, "manifest.json")))
    entries = {b: SnapshotTable._bucket_entry(e) for b, e in m1["buckets"].items()}
    # version tokens are writer-unique (v=1-<nonce>) but all name version 1
    tokens = {
        b: [t for t in [e["base"], *e["deltas"]] if t is not None]
        for b, e in entries.items()
    }
    assert {str(t).split("-")[0] for ts in tokens.values() for t in ts} == {"1"}
    for b, ts in tokens.items():
        for v in ts:
            p = os.path.join(table.path, "data", f"v={v}", f"b={b}")
            assert os.path.isdir(p) and any(
                f.endswith(".parquet") for f in os.listdir(p)
            ), f"bucket {b} pointer dangling"


def test_schema_evolution_across_stream_restart(spark, tmp_path):
    """Streaming evolution: the file source needs a declared schema, so a
    feed gaining a column requires a restart with the evolved schema (a
    Spark file-source property). The table evolves at apply; pre-restart
    state is preserved."""
    import pyspark.sql.types as T

    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.schema import EVENT_SCHEMA
    from qwatch_spark.streaming.runner import run_stream

    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, 400, files=1)
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    run_stream(spark, feed_dir, table.path, str(tmp_path / "c1"), CFG)

    # feed gains `title`; restart with evolved source schema + same table
    write_feed_files(
        spark, str(tmp_path / "feed2"), 900, files=1, add_title=True
    )
    os.rename(
        os.path.join(str(tmp_path / "feed2"), "feed-00000.parquet"),
        os.path.join(feed_dir, "feed-00001.parquet"),
    )
    evolved = T.StructType(
        list(EVENT_SCHEMA.fields) + [T.StructField("title", T.StringType(), True)]
    )
    from qwatch_spark.sources.feed import read_feed_stream
    from qwatch_spark.operators.apply import apply_changes as _ac

    stats = []

    def _apply(batch_df, epoch_id):
        t = SnapshotTable(table.path)
        stats.append(_ac(spark, batch_df, t, 1000 + epoch_id, CFG))

    q = (
        read_feed_stream(spark, feed_dir, schema=evolved)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(tmp_path / "c2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = SnapshotTable(table.path)
    assert "title" in [f.name for f in t.payload_schema.fields]
    out = t.read(spark)
    assert out.filter(F.col("title").isNotNull()).count() > 0


def test_yaml_config_and_cli_layering(tmp_path):
    """Config layering: defaults < yml file < CLI overrides, all strictly
    validated (the reference's qwatch.yml + flags, cmd/server.go:12-73)."""
    import pytest

    from qwatch_spark.config import PipelineConfig

    yml = tmp_path / "qwatch.yml"
    yml.write_text(
        "rules: [valid_url, extract_text]\nn_buckets: 16\nwrite_mode: delta\n"
        "fp_index: true\nfp_merge_segments: 8\n"
    )
    cfg = PipelineConfig.from_file(str(yml))
    assert cfg.rules == ("valid_url", "extract_text")
    assert cfg.n_buckets == 16 and cfg.write_mode == "delta"
    assert cfg.fp_index is True and cfg.fp_merge_segments == 8
    # CLI layer overrides some, keeps the rest; None = not given
    over = cfg.with_overrides(write_mode="auto", n_salt=None, min_quality=0.5)
    assert over.write_mode == "auto" and over.n_buckets == 16
    assert over.min_quality == 0.5
    # unknown keys / rules stay loud
    (tmp_path / "bad.yml").write_text("handlers: [log]\n")
    with pytest.raises(ValueError, match="unknown config key"):
        PipelineConfig.from_file(str(tmp_path / "bad.yml"))
    with pytest.raises(ValueError, match="unknown filter rule"):
        cfg.with_overrides(rules=("nope",))


def test_write_modes_default_auto_and_reject_cow(monkeypatch):
    """`auto` (delta commits + inline compaction) is the default of
    exactly two write modes; the retired `cow` value is rejected by the
    config and by both jobs' --write-mode flags."""
    from jobs.apply_job import main as apply_main
    from jobs.entity_job import main as entity_main
    from qwatch_spark import session
    from qwatch_spark.config import WRITE_MODES

    assert WRITE_MODES == ("delta", "auto")
    assert PipelineConfig().write_mode == "auto"
    with pytest.raises(ValueError, match="write_mode"):
        PipelineConfig(write_mode="cow")

    def no_spark(*a, **kw):
        raise AssertionError("--write-mode cow got past the parser")

    monkeypatch.setattr(session, "get_spark", no_spark)
    common = ["--feed-dir", "f", "--checkpoint", "c", "--once",
              "--write-mode", "cow"]
    for main, extra in (
        (apply_main, ["--table", "t"]),
        (entity_main, ["--base", "b", "--entities", "e.yml"]),
    ):
        with pytest.raises(SystemExit) as exc:
            main(common + extra)
        assert exc.value.code == 2  # argparse usage error


def test_jobs_reject_retired_commit_protocol_flag(monkeypatch):
    """Every table commits through the CAS log under its own path: both
    jobs' parsers reject the retired --commit-protocol and --cas-backend
    flags."""
    from jobs.apply_job import main as apply_main
    from jobs.entity_job import main as entity_main
    from qwatch_spark import session

    def no_spark(*a, **kw):
        raise AssertionError("a retired flag got past the parser")

    monkeypatch.setattr(session, "get_spark", no_spark)
    common = ["--feed-dir", "f", "--checkpoint", "c", "--once"]
    for retired in (["--commit-protocol", "cas"], ["--cas-backend", "s3"]):
        for main, extra in (
            (apply_main, ["--table", "t"]),
            (entity_main, ["--base", "b", "--entities", "e.yml"]),
        ):
            with pytest.raises(SystemExit) as exc:
                main(common + retired + extra)
            assert exc.value.code == 2  # argparse usage error


def test_apply_job_cli_end_to_end(spark, tmp_path):
    """jobs/apply_job.py drives the whole engine from flags (the
    spark-submit surface), with a yml config layered under CLI flags."""
    import json
    import sys

    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.plans.snapshot_table import SnapshotTable

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import apply_job

    feed = str(tmp_path / "feed")
    write_feed_files(spark, feed, 500, files=2)
    yml = tmp_path / "cfg.yml"
    yml.write_text("n_buckets: 8\nrules: [valid_url, lang_gate, extract_text]\n")
    rc = apply_job.main(
        [
            "--feed-dir", feed,
            "--table", str(tmp_path / "t"),
            "--checkpoint", str(tmp_path / "ck"),
            "--config", str(yml),
            "--write-mode", "auto",
            "--once",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.n_buckets == 8
    assert t.read(spark).count() > 0
    assert json.load(open(os.path.join(t.path, "manifest.json")))["version"] >= 1
