"""Time travel via manifest history: every committed version remains
readable (until vacuum) and reproduces the state the oracle predicts
for the events applied up to that epoch."""

import pytest

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df, gen_feed_rows
from qwatch_spark.operators.apply import replay_feed
from qwatch_spark.plans.snapshot_table import SnapshotTable
from tests.oracle import oracle_final_pages

N = 2000
CFG = PipelineConfig(n_buckets=8)


def state_of(df):
    return {
        r["url"]: (r["warc_ts"], bytes(r["html"]), r["text"], r["lang"])
        for r in df.collect()
    }


def test_read_version_reproduces_epoch_states(spark, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    replay_feed(spark, gen_feed_df(spark, N), table, CFG)
    table = SnapshotTable(table.path)
    versions = table.versions()
    assert versions == [0, 1, 2]  # create + two epoch commits

    rows = gen_feed_rows(N)
    # version 0 = empty table at creation
    assert state_of(table.read_version(spark, 0)) == {}
    # version 1 = state after epoch 0 only
    want_v1 = oracle_final_pages([r for r in rows if r["epoch_hint"] == 0], CFG)
    assert state_of(table.read_version(spark, 1)) == want_v1
    # latest version = full replay
    want_all = oracle_final_pages(rows, CFG)
    assert state_of(table.read_version(spark, versions[-1])) == want_all
    assert state_of(table.read(spark)) == want_all


def test_unknown_version_raises(spark, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    with pytest.raises(FileNotFoundError):
        table.read_version(spark, 42)


def test_vacuum_ends_time_travel_but_not_current(spark, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    replay_feed(spark, gen_feed_df(spark, N), table, CFG)
    table = SnapshotTable(table.path)
    # fold every delta into a new base: the epochs' own version dirs are
    # then unreferenced by the current manifest
    table.compact(spark, max_deltas=0)
    current = state_of(table.read(spark))
    old_v = 1  # first epoch's commit: has data files that vacuum removes
    table.vacuum(retention_s=0)
    assert state_of(table.read(spark)) == current
    # the old version's data files are gone: reading it fails loudly
    with pytest.raises(Exception):
        table.read_version(spark, old_v).collect()
