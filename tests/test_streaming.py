"""Streaming runner: exactly-once end-to-end (SURVEY.md §5.2 items 3-4) —
availableNow drain, resume-from-checkpoint mid-stream, and duplicate
delivery via a fresh checkpoint all converge to the oracle state."""

import pytest

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_rows, write_feed_files
from qwatch_spark.plans.snapshot_table import SnapshotTable
from qwatch_spark.streaming.runner import run_stream
from tests.oracle import oracle_final_pages

N = 2000
CFG = PipelineConfig(n_buckets=8, max_files_per_trigger=2)


def engine_state(spark, table):
    return {
        r["url"]: (
            r["warc_ts"],
            bytes(r["html"]) if r["html"] is not None else None,
            r["text"],
            r["lang"],
        )
        for r in table.read(spark).collect()
    }


@pytest.fixture()
def want():
    return oracle_final_pages(gen_feed_rows(N), CFG)


def test_stream_available_now_matches_oracle(spark, tmp_path, want):
    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, N, files=8)
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    stats = run_stream(
        spark, feed_dir, table.path, str(tmp_path / "ckpt"), CFG
    )
    assert len(stats) >= 2  # multiple micro-batches actually ran
    table = SnapshotTable(table.path)
    assert engine_state(spark, table) == want


def test_resume_from_checkpoint_mid_stream(spark, tmp_path, want):
    feed_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    paths = write_feed_files(spark, feed_dir, N, files=8)
    # phase 1: only half the WAL segments exist
    import os

    held_back = paths[4:]
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    moved = []
    for p in held_back:
        dst = os.path.join(stash, os.path.basename(p))
        os.rename(p, dst)
        moved.append((dst, p))
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    run_stream(spark, feed_dir, table.path, ckpt, CFG)
    partial = engine_state(spark, SnapshotTable(table.path))
    assert partial != want  # genuinely mid-stream

    # phase 2: segments arrive; resume with the SAME checkpoint
    for src, dst in moved:
        os.rename(src, dst)
    run_stream(spark, feed_dir, table.path, ckpt, CFG)
    assert engine_state(spark, SnapshotTable(table.path)) == want


def test_duplicate_delivery_fresh_checkpoint_is_idempotent(spark, tmp_path, want):
    """Re-running the whole feed with a FRESH checkpoint re-delivers every
    epoch id; the manifest's applied-epoch set makes each a no-op."""
    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, N, files=8)
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    run_stream(spark, feed_dir, table.path, str(tmp_path / "ckpt1"), CFG)
    v = SnapshotTable(table.path).version
    stats2 = run_stream(spark, feed_dir, table.path, str(tmp_path / "ckpt2"), CFG)
    assert all(s.skipped for s in stats2)
    table = SnapshotTable(table.path)
    assert table.version == v  # no new commits
    assert engine_state(spark, table) == want


def _write_segments(spark, feed_dir, segments, schema):
    """One parquet file per segment, so max_files_per_trigger=1 makes
    each segment its own epoch."""
    import glob
    import os
    import shutil

    os.makedirs(feed_dir)
    for i, rows in enumerate(segments):
        tmp = f"{feed_dir}/_seg{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed_dir}/f{i}.parquet")
        shutil.rmtree(tmp)


@pytest.mark.parametrize("kind", ["page", "entity"])
def test_stream_retries_lost_race(spark, tmp_path, monkeypatch, kind):
    """A commit that loses its race (CommitConflictError, injected on the
    first commit of the run) makes the runner rebase and retry the
    epoch instead of dying, and the retry does not dead-letter twice:
    the final tables and the dead-letter rows equal a fault-free run's."""
    import datetime as dt
    import threading

    from pyspark.sql import types as T

    from qwatch_spark.plans.objectstore import CommitConflictError
    from qwatch_spark.queries import entity_graph_specs
    from qwatch_spark.schema import EVENT_SCHEMA
    from qwatch_spark.streaming.runner import run_entity_stream

    ts = dt.datetime(2024, 1, 1)
    cfg = PipelineConfig(rules=(), n_buckets=4, max_files_per_trigger=1)
    if kind == "page":
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA.fields]
        )

        def ev(seq, op, url):
            return (seq, op, url, ts, f"<p>{seq}</p>".encode(), "en", "s", 0)

        segments = [
            [
                ev(10 * e + 1, "I", f"https://a.com/{e}"),
                ev(10 * e + 2, "U", f"https://a.com/{e + 1}"),
                ev(10 * e + 3, "X", "https://bad-op.com/"),
                ev(10 * e + 4, "I", None),
            ]
            for e in (0, 1)
        ]
        names = ["page"]
    else:
        schema = (
            "entity_type string, op string, seq long, warc_ts timestamp, "
            "url string, dom string, registrar string"
        )
        segments = [
            [
                ("page", "I", 10 * e + 1, ts, f"https://d{e}.com/1", f"d{e}", None),
                ("page", "U", 10 * e + 2, ts, f"https://d{e}.com/2", "d9", None),
                ("domain", "I", 10 * e + 3, ts, None, f"d{e}", f"reg{e}"),
                ("widget", "I", 10 * e + 4, ts, "https://w.com/", "d1", None),
                ("page", "I", 10 * e + 5, ts, None, "d1", None),
            ]
            for e in (0, 1)
        ]
        names = ["page", "domain", "page_domain"]
    feed_dir = str(tmp_path / "feed")
    _write_segments(spark, feed_dir, segments, schema)

    def run(base):
        if kind == "page":
            table = SnapshotTable.create(f"{base}/page", n_buckets=4).path
            stats = run_stream(spark, feed_dir, table, f"{base}_ckpt", cfg)
            dead_dir = f"{table}/dead_letter"
        else:
            specs, links = entity_graph_specs()
            stats = run_entity_stream(
                spark, feed_dir, base, f"{base}_ckpt", specs, links, cfg
            )
            dead_dir = f"{base}/dead_letter"
        tables = {
            n: sorted(map(tuple, SnapshotTable(f"{base}/{n}").read(spark).collect()))
            for n in names
        }
        return len(stats), tables, spark.read.parquet(dead_dir).count()

    want = run(str(tmp_path / "ctl"))
    assert want[0] == 2 and all(want[1].values())
    assert want[2] == 4  # two dead rows per epoch, both epochs

    real = SnapshotTable.commit_prewritten_delta
    lock = threading.Lock()
    raised = []

    def lose_first_race(self, *args, **kwargs):
        with lock:
            first = not raised
            raised.append(first)
        if first:
            raise CommitConflictError(f"injected lost race on {self.path}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "commit_prewritten_delta", lose_first_race)
    got = run(str(tmp_path / "race"))
    assert raised, "the injected race never fired"
    assert got == want
