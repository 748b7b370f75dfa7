"""Golden final-state equivalence + CDC semantics (SURVEY.md §5.2 1-4)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df, gen_feed_rows
from qwatch_spark.operators.apply import apply_changes, replay_feed
from qwatch_spark.plans.snapshot_table import SnapshotTable
from qwatch_spark.schema import EVENT_SCHEMA
from tests.oracle import oracle_final_pages

N = 3000
CFG = PipelineConfig(n_buckets=8, n_salt=4)


def engine_state(spark, table):
    rows = table.read(spark).collect()
    return {
        r["url"]: (
            r["warc_ts"],
            bytes(r["html"]) if r["html"] is not None else None,
            r["text"],
            r["lang"],
        )
        for r in rows
    }


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable.create(str(tmp_path / "t"), n_buckets=CFG.n_buckets)


def test_replay_matches_oracle(spark, table):
    feed = gen_feed_df(spark, N)
    stats = replay_feed(spark, feed, table, CFG)
    assert all(not s.skipped for s in stats)
    want = oracle_final_pages(gen_feed_rows(N), CFG)
    got = engine_state(spark, table)
    assert got == want


def test_single_epoch_apply_matches_oracle(spark, table):
    feed = gen_feed_df(spark, N).drop("epoch_hint")
    apply_changes(spark, feed, table, epoch_id=0, cfg=CFG)
    want = oracle_final_pages(gen_feed_rows(N), CFG)
    assert engine_state(spark, table) == want


def test_duplicate_epoch_is_noop(spark, table):
    feed = gen_feed_df(spark, N)
    replay_feed(spark, feed, table, CFG)
    v = table.version
    state = engine_state(spark, table)
    # re-deliver epoch 0 verbatim (duplicate delivery)
    batch0 = feed.filter(F.col("epoch_hint") == 0).drop("epoch_hint")
    s = apply_changes(spark, batch0, table, epoch_id=0, cfg=CFG)
    assert s.skipped
    assert table.version == v
    assert engine_state(spark, table) == state


def test_late_event_does_not_regress(spark, table):
    """An older-warc_ts update arriving in a later epoch must not
    overwrite newer state; an older update after a delete must not
    resurrect the key (fixes reference's time.Now() regression,
    outputs/neo4j.go:268)."""
    ts = dt.datetime(2024, 6, 1)
    url = "https://late.example.com/p/1"
    mk = lambda seq, op, t, lang="en": {
        "seq": seq, "op": op, "url": url, "warc_ts": t,
        "html": None if op == "D" else f"<p>v{seq}</p>".encode(),
        "lang": None if op == "D" else lang, "source": "s", "epoch_hint": 0,
    }
    e0 = [mk(10, "I", ts + dt.timedelta(hours=2))]
    e1_late = [mk(5, "U", ts + dt.timedelta(hours=1))]  # older, arrives later
    df0 = spark.createDataFrame(e0, EVENT_SCHEMA).drop("epoch_hint")
    df1 = spark.createDataFrame(e1_late, EVENT_SCHEMA).drop("epoch_hint")
    apply_changes(spark, df0, table, 0, CFG)
    apply_changes(spark, df1, table, 1, CFG)
    got = engine_state(spark, table)
    assert got[url][2] == "v10"  # newer version survived

    # delete, then an even-later-arriving older update: stays deleted
    df2 = spark.createDataFrame(
        [mk(20, "D", ts + dt.timedelta(hours=3))], EVENT_SCHEMA
    ).drop("epoch_hint")
    df3 = spark.createDataFrame(
        [mk(15, "U", ts + dt.timedelta(hours=2, minutes=30))], EVENT_SCHEMA
    ).drop("epoch_hint")
    apply_changes(spark, df2, table, 2, CFG)
    apply_changes(spark, df3, table, 3, CFG)
    assert url not in engine_state(spark, table)


def test_filter_rules_gate_payload_but_not_deletes(spark, table):
    ts = dt.datetime(2024, 6, 1)
    rows = [
        {"seq": 1, "op": "I", "url": "https://a.com/1", "warc_ts": ts,
         "html": b"<p>x</p>", "lang": "zz", "source": "s", "epoch_hint": 0},
        {"seq": 2, "op": "I", "url": "not-a-url", "warc_ts": ts,
         "html": b"<p>y</p>", "lang": "en", "source": "s", "epoch_hint": 0},
        {"seq": 3, "op": "I", "url": "https://b.com/1", "warc_ts": ts,
         "html": b"<p>keep</p>", "lang": "en", "source": "s", "epoch_hint": 0},
        {"seq": 4, "op": "D", "url": "https://b.com/1",
         "warc_ts": ts + dt.timedelta(hours=1),
         "html": None, "lang": None, "source": "s", "epoch_hint": 0},
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA).drop("epoch_hint")
    apply_changes(spark, df, table, 0, CFG)
    got = engine_state(spark, table)
    assert got == {}  # zz-lang gated, bad url gated, b.com deleted


def test_fully_gated_epoch_recorded_at_first_delivery(spark, table):
    """An epoch whose every row is gated commits with its record at the
    first delivery (no events, no buckets, the unchanged version as its
    fingerprint); redeliveries skip and add no row."""
    ts = dt.datetime(2024, 6, 1)
    rows = [
        {"seq": 1, "op": "I", "url": "https://a.com/1", "warc_ts": ts,
         "html": b"<p>x</p>", "lang": "zz", "source": "s", "epoch_hint": 0},
        {"seq": 2, "op": "I", "url": "not-a-url", "warc_ts": ts,
         "html": b"<p>y</p>", "lang": "en", "source": "s", "epoch_hint": 0},
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA).drop("epoch_hint")
    stats = [apply_changes(spark, df, table, 0, CFG) for _ in range(3)]
    assert [s.skipped for s in stats] == [False, True, True]
    log = table.read_commit_log(spark).collect()
    assert [(r["epoch_id"], r["n_events"]) for r in log] == [(0, 0)]
    assert log[0]["batch_fingerprint"] == "v0"
    assert table.read_metrics(spark).count() == 0


def test_metrics_and_commit_log(spark, table):
    feed = gen_feed_df(spark, N)
    stats = replay_feed(spark, feed, table, CFG)
    m = table.read_metrics(spark)
    ops = m.agg(
        F.sum("n_insert").alias("i"), F.sum("n_update").alias("u"),
        F.sum("n_delete").alias("d"),
    ).collect()[0]
    # apply-time lineage records every upsert as n_update (the exact
    # I/U split lives in the table's last_op, repaired at compaction)
    assert ops["u"] > 0 and ops["d"] > 0
    log = table.read_commit_log(spark).orderBy("epoch_id").collect()
    assert [r["epoch_id"] for r in log] == [s.epoch_id for s in stats]
    assert all(r["events_per_sec"] > 0 for r in log)
    # lineage consistency: per-epoch upserts+deletes equal commit log
    per_epoch = {
        r["epoch_id"]: (r["i"] + r["u"], r["d"])
        for r in m.groupBy("epoch_id").agg(
            F.sum("n_insert").alias("i"), F.sum("n_update").alias("u"),
            F.sum("n_delete").alias("d"),
        ).collect()
    }
    for r in log:
        assert per_epoch[r["epoch_id"]] == (r["n_upserts"], r["n_deletes"])
    # both views keep their schemas' column names, types and order
    from qwatch_spark.schema import COMMIT_LOG_SCHEMA, METRICS_SCHEMA

    views = ((m, METRICS_SCHEMA), (table.read_commit_log(spark), COMMIT_LOG_SCHEMA))
    for df, want in views:
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in want
        ]


def test_salted_and_unsalted_agree(spark, tmp_path):
    feed = gen_feed_df(spark, N)
    t1 = SnapshotTable.create(str(tmp_path / "t1"), n_buckets=8)
    t2 = SnapshotTable.create(str(tmp_path / "t2"), n_buckets=8)
    replay_feed(spark, feed, t1, PipelineConfig(n_buckets=8, n_salt=0))
    replay_feed(spark, feed, t2, PipelineConfig(n_buckets=8, n_salt=8))
    assert engine_state(spark, t1) == engine_state(spark, t2)


def test_vacuum_keeps_state(spark, table):
    feed = gen_feed_df(spark, N)
    replay_feed(spark, feed, table, CFG)
    # fold every delta into a new base so the epochs' own version dirs
    # are no longer referenced
    table.compact(spark, max_deltas=0)
    state = engine_state(spark, table)
    removed = table.vacuum(retention_s=0)
    assert removed  # old versions existed
    assert engine_state(spark, table) == state
