"""Standalone maintenance (jobs/maintain_job.py analog): compaction +
vacuum running BESIDE live applies as a second CAS writer — lost races
abort cleanly and retry, final state stays exactly the oracle's, and
the delta-mode apply path never pays the compaction wall itself."""

import os
import threading

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df, gen_feed_rows
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.plans.maintenance import maintain_once
from qwatch_spark.plans.snapshot_table import SnapshotTable
from tests.oracle import oracle_final_pages

N = 2400
N_EPOCHS = 6


def _engine_state(spark, table):
    return {
        r["url"]: (
            r["warc_ts"],
            bytes(r["html"]) if r["html"] is not None else None,
            r["text"],
            r["lang"],
        )
        for r in table.read(spark).collect()
    }


def _apply_with_retry(spark, batch, path, epoch, cfg, attempts=50):
    """The documented CAS writer loop: reload (= rebase) and retry on a
    lost race — exactly what a live applier does when maintenance
    commits between its epochs."""
    for _ in range(attempts):
        table = SnapshotTable(path)
        try:
            return apply_changes(spark, batch, table, epoch, cfg)
        except RuntimeError as e:
            if "concurrent writer" not in str(e) and "stale" not in str(e):
                raise
    raise AssertionError(f"epoch {epoch} never applied after {attempts} tries")


def test_maintenance_interleaved_with_applies_sequential(spark, tmp_path):
    cfg = PipelineConfig(n_buckets=8, write_mode="delta", commit_protocol="cas")
    path = str(tmp_path / "t")
    SnapshotTable.create(path, n_buckets=8, commit_protocol="cas")
    feed = gen_feed_df(spark, N, epoch_size=N // N_EPOCHS)
    epochs = sorted(
        r[0] for r in feed.select("epoch_hint").distinct().collect()
    )
    compacted_total = 0
    for e in epochs:
        batch = feed.filter(feed.epoch_hint == e).drop("epoch_hint")
        stats = _apply_with_retry(spark, batch, path, e, cfg)
        # delta-mode apply never carries the compaction wall
        assert "compact" not in (stats.phases or {})
        # maintenance runs between epochs as a second writer
        r = maintain_once(
            spark, path, max_deltas=0, retention_s=0
        )
        assert not r["lost_race"]
        compacted_total += r["compacted_buckets"]
    assert compacted_total > 0  # maintenance actually folded chains
    table = SnapshotTable(path)
    assert not table.has_deltas()
    want = oracle_final_pages(gen_feed_rows(N), cfg)
    assert _engine_state(spark, table) == want
    # every epoch committed exactly once despite the interleaving
    assert all(table.has_epoch(e) for e in epochs)


def test_maintenance_races_live_applier_threads(spark, tmp_path):
    """True concurrency: an applier thread (reload-retry loop) races a
    maintenance thread cycling compact+vacuum on the same CAS table.
    Nothing is lost, nothing deadlocks, final state == oracle."""
    cfg = PipelineConfig(n_buckets=8, write_mode="delta", commit_protocol="cas")
    path = str(tmp_path / "t")
    SnapshotTable.create(path, n_buckets=8, commit_protocol="cas")
    feed = gen_feed_df(spark, N, epoch_size=N // N_EPOCHS)
    epochs = sorted(
        r[0] for r in feed.select("epoch_hint").distinct().collect()
    )
    batches = {
        e: feed.filter(feed.epoch_hint == e).drop("epoch_hint") for e in epochs
    }
    errors: list[Exception] = []
    done = threading.Event()

    def applier():
        try:
            for e in epochs:
                _apply_with_retry(spark, batches[e], path, e, cfg)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            done.set()

    def maintainer():
        try:
            while not done.is_set():
                r = maintain_once(spark, path, max_deltas=1, retention_s=3600)
                assert isinstance(r["lost_race"], bool)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    ta = threading.Thread(target=applier)
    tm = threading.Thread(target=maintainer)
    ta.start(), tm.start()
    ta.join(600), tm.join(600)
    assert not errors, errors
    table = SnapshotTable(path)
    want = oracle_final_pages(gen_feed_rows(N), cfg)
    assert _engine_state(spark, table) == want
    assert all(table.has_epoch(e) for e in epochs)


def test_maintain_job_cli_once(spark, tmp_path):
    """jobs/maintain_job.py --once drives maintain_once end-to-end."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.maintain_job import main

    cfg = PipelineConfig(n_buckets=4, write_mode="delta")
    path = str(tmp_path / "t")
    table = SnapshotTable.create(path, n_buckets=4)
    feed = gen_feed_df(spark, 600, epoch_size=200)
    for e in sorted(r[0] for r in feed.select("epoch_hint").distinct().collect()):
        apply_changes(
            spark, feed.filter(feed.epoch_hint == e).drop("epoch_hint"),
            table, e, cfg,
        )
    before = _engine_state(spark, table)
    rc = main(["--table", path, "--once", "--max-deltas", "0",
               "--vacuum-retention", "0"])
    assert rc == 0
    after = SnapshotTable(path)
    assert not after.has_deltas()
    assert _engine_state(spark, after) == before


def test_index_maintain_job_cli_once(spark, tmp_path):
    """jobs/index_maintain_job.py --once drives both ANN index
    maintenance paths end-to-end: IVF recluster + vacuum, LSH small-file
    compaction + vacuum — the ops-cadence sibling of maintain_job."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from pyspark.sql import functions as F

    from jobs.index_maintain_job import main
    from qwatch_spark.operators.similarity import (
        _idx_current,
        ivf_build_index,
        ivf_index_append,
        lsh_build_index,
        lsh_index_append,
        lsh_probe_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf_path, lsh_path = str(tmp_path / "ivf"), str(tmp_path / "lsh")
    ivf_build_index(emb.filter(F.col("vec_id") < 100), ivf_path, n_cells=8)
    ivf_index_append(emb.filter(F.col("vec_id") >= 100), ivf_path)
    lsh_build_index(
        emb.filter(F.col("vec_id") < 100), lsh_path, n_planes=16, n_bands=8
    )
    for lo in (100, 200, 300):
        lsh_index_append(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
            ),
            lsh_path,
        )
    rc = main([
        "--ivf", ivf_path, "--lsh", lsh_path, "--once",
        "--lloyd-iters", "0", "--vacuum-retention", "0",
    ])
    assert rc == 0
    assert _idx_current(ivf_path)[1] == 0
    assert _idx_current(lsh_path)[1] == 0
    n = emb.count()
    data, _ = _idx_current(ivf_path)
    assert spark.read.parquet(data).count() == n
    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).first()["embedding"]]
    top = lsh_probe_topk(spark, lsh_path, q, k=1).collect()
    assert int(top[0]["vec_id"]) == 5


def test_cas_backend_config_plumbing(tmp_path, monkeypatch):
    """PipelineConfig validates cas_backend and create_entity_tables
    propagates it into every entity/link manifest."""
    import pytest

    from qwatch_spark.operators.entities import create_entity_tables
    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store
    from qwatch_spark.queries import entity_graph_specs

    with pytest.raises(ValueError, match="cas_backend"):
        PipelineConfig(cas_backend="not_a_backend")
    with pytest.raises(ValueError, match="cas_backend"):
        PipelineConfig(cas_backend="memory")  # a log that died with its process
    store = tmp_path / "s3"
    monkeypatch.setattr(
        S3Store, "client_factory", lambda: DirBackedFakeS3Client(str(store))
    )
    specs, links = entity_graph_specs()
    tables = create_entity_tables(
        str(tmp_path / "g"), specs, links, n_buckets=4,
        commit_protocol="cas", cas_backend="s3",
    )
    for t in tables.values():
        assert t._manifest["cas_backend"] == "s3"
        t.commit_empty_epoch(0)  # commits land in the s3 store
        assert t.commit_log_backend().slots() == [0, 1]
        assert not os.path.exists(os.path.join(t.path, "_commits"))


def test_retry_lost_race_unit():
    from qwatch_spark.plans.objectstore import (
        CommitConflictError,
        StaleBaseError,
    )
    from qwatch_spark.streaming.runner import _retry_lost_race

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise CommitConflictError("concurrent writer detected on /t: ...")
        return "ok"

    assert _retry_lost_race(flaky) == "ok" and calls["n"] == 3

    def real_error():
        raise RuntimeError("schema mismatch")

    import pytest

    with pytest.raises(RuntimeError, match="schema mismatch"):
        _retry_lost_race(real_error)

    def always_losing():
        raise StaleBaseError("prewritten version 7 is stale ...")

    with pytest.raises(CommitConflictError, match="stale"):
        _retry_lost_race(always_losing, attempts=3)

    # the round-4 ADVICE case: an UNRELATED error whose message happens
    # to contain the old substrings must surface immediately, not be
    # silently retried 20x — lost races are now a TYPE, not a string
    phrases = {"n": 0}

    def coincidental():
        phrases["n"] += 1
        raise RuntimeError("config key 'stale_ttl' rejected by concurrent writer pool")

    with pytest.raises(RuntimeError, match="stale_ttl"):
        _retry_lost_race(coincidental)
    assert phrases["n"] == 1, "untyped error was retried on substring match"


def test_run_stream_survives_racing_maintenance(spark, tmp_path):
    """The streaming daemon must not die when the standalone maintenance
    job commits between an epoch's table reload and its manifest swap —
    the foreachBatch apply rebases and retries. Final state must equal a
    maintenance-free control run of the same feed."""
    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.streaming import run_stream

    cfg = PipelineConfig(
        n_buckets=8, write_mode="delta", commit_protocol="cas",
        max_files_per_trigger=1,
    )
    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, 2400, files=6)

    # control: same feed, no maintenance
    ctl = SnapshotTable.create(str(tmp_path / "ctl"), n_buckets=8,
                               commit_protocol="cas")
    run_stream(spark, feed_dir, ctl.path, str(tmp_path / "ck0"), cfg)
    want = _engine_state(spark, SnapshotTable(ctl.path))

    path = str(tmp_path / "t")
    SnapshotTable.create(path, n_buckets=8, commit_protocol="cas")
    stop = threading.Event()
    errors: list[Exception] = []

    def maintainer():
        try:
            while not stop.is_set():
                maintain_once(spark, path, max_deltas=0, retention_s=3600)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    tm = threading.Thread(target=maintainer)
    tm.start()
    try:
        run_stream(spark, feed_dir, path, str(tmp_path / "ck1"), cfg)
    finally:
        stop.set()
        tm.join(600)
    assert not errors, errors
    assert _engine_state(spark, SnapshotTable(path)) == want
