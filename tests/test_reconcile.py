"""Snapshot reconciliation (SURVEY §3.3): a full snapshot of the source
is folded into the table as upserts, with missing keys tombstoned."""

import datetime as dt

from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.operators.reconcile import reconcile_snapshot
from qwatch_spark.plans.snapshot_table import SnapshotTable

CFG = PipelineConfig(n_buckets=8)


def test_reconcile_upserts_and_deletes(spark, tmp_path):
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    feed = gen_feed_df(spark, 800).drop("epoch_hint")
    apply_changes(spark, feed, table, 0, CFG)
    before = {r["url"] for r in table.read(spark).select("url").collect()}
    assert before

    # snapshot: half the live rows, with fresh html
    snap_urls = sorted(before)[: len(before) // 2]
    snapshot = (
        table.read(spark)
        .filter(F.col("url").isin(snap_urls))
        .select("url", "html", "lang")
        .withColumn("html", F.concat(F.lit(b"<p>snap</p>")))
    )
    observed = dt.datetime(2030, 1, 1)
    stats = reconcile_snapshot(
        spark, snapshot, table, 1, CFG, observed_at=observed, delete_missing=True
    )
    assert not stats.skipped
    after = table.read(spark)
    urls_after = {r["url"] for r in after.select("url").collect()}
    assert urls_after == set(snap_urls)  # missing keys tombstoned
    row = after.limit(1).collect()[0]
    assert row["warc_ts"] == observed
    assert row["text"] == "snap"  # projection re-ran on snapshot payload

    # idempotent: re-delivering the reconcile epoch is a no-op
    assert reconcile_snapshot(
        spark, snapshot, table, 1, CFG, observed_at=observed, delete_missing=True
    ).skipped


def test_reconcile_does_not_regress_newer_events(spark, tmp_path):
    """A snapshot observed BEFORE an event's warc_ts must not overwrite it."""
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    feed = gen_feed_df(spark, 300).drop("epoch_hint")
    apply_changes(spark, feed, table, 0, CFG)
    state = {r["url"]: r["warc_ts"] for r in table.read(spark).collect()}
    old_snapshot = table.read(spark).select("url", "html", "lang")
    reconcile_snapshot(
        spark, old_snapshot, table, 1, CFG,
        observed_at=dt.datetime(2000, 1, 1),  # ancient observation
    )
    after = {r["url"]: r["warc_ts"] for r in table.read(spark).collect()}
    assert after == state
