"""Manifest bookkeeping gates: bounded applied-epochs growth (watermark +
sparse set), stale concurrent-writer detection, commit-log backfill on the
duplicate-delivery path, and dead-letter exactly-once under re-delivery."""

import json
import os
import time

from pyspark.sql import types as T

from qwatch_spark.plans.snapshot_table import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
    ]
)


def manifest_bytes(table) -> int:
    return os.path.getsize(os.path.join(table.path, "manifest.json"))


def test_manifest_stays_flat_over_many_epochs(tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.commit_empty_epoch(0)
    size_early = manifest_bytes(t)
    for e in range(1, 2000):
        t.commit_empty_epoch(e)
    assert t.has_epoch(0) and t.has_epoch(1999) and not t.has_epoch(2000)
    m = json.load(open(os.path.join(t.path, "manifest.json")))
    assert m["epoch_watermark"] == 1999
    assert m["applied_epochs"] == []  # all folded into the watermark
    assert manifest_bytes(t) <= size_early + 32  # O(1), not O(epochs)


def test_out_of_order_epochs_fold_into_watermark(tmp_path):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    for e in (0, 2, 3, 7):
        t.commit_empty_epoch(e)
    m = t._manifest
    assert m["epoch_watermark"] == 0 and m["applied_epochs"] == [2, 3, 7]
    assert t.has_epoch(3) and not t.has_epoch(1) and not t.has_epoch(4)
    t.commit_empty_epoch(1)  # plugs the gap → 0..3 fold
    m = t._manifest
    assert m["epoch_watermark"] == 3 and m["applied_epochs"] == [7]


def test_stale_concurrent_writer_is_rejected(tmp_path):
    import pytest

    path = str(tmp_path / "t")
    t1 = SnapshotTable.create(path, SCHEMA, n_buckets=4)
    t2 = SnapshotTable(path)  # second writer, same base
    t1.commit_empty_epoch(0)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        t2.commit_empty_epoch(1)
    # t1 (holding the current mutation) continues fine
    t1.commit_empty_epoch(1)
    assert t1.has_epoch(1)


def test_concurrent_writer_data_never_clobbered(spark, tmp_path):
    """Two writers race one table with REAL data commits (both COW and
    delta paths): version dirs are writer-unique, so the loser's abort
    leaves the winner's committed files untouched, the loser's staging
    dir is cleaned up, and the final state + lineage are exactly the
    winner's — no orphaned-clobbered data, before or after vacuum."""
    import pytest
    from pyspark.sql import functions as F

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    for mode in ("cow", "delta"):
        path = str(tmp_path / f"t_{mode}")
        cfg = PipelineConfig(n_buckets=4, write_mode=mode)
        t1 = SnapshotTable.create(path, n_buckets=4)
        feed0 = gen_feed_df(spark, 300).drop("epoch_hint")
        apply_changes(spark, feed0, t1, 0, cfg)
        t2 = SnapshotTable(path)  # writer B loads the manifest here
        feed1 = (
            gen_feed_df(spark, 600).filter(F.col("seq") >= 300).drop("epoch_hint")
        )
        apply_changes(spark, feed1, t1, 1, cfg)  # writer A wins epoch 1

        def snap(t):
            return sorted(
                (r["url"], r["warc_ts"], r["seq"], r["is_deleted"])
                for r in t.read_buckets(spark).collect()
            )

        won = snap(t1)
        with pytest.raises(RuntimeError, match="concurrent writer|stale"):
            apply_changes(spark, feed1, t2, 2, cfg)  # writer B loses
        t3 = SnapshotTable(path)
        assert snap(t3) == won  # winner's state intact, byte for byte
        # loser cleaned up its own staging dir: every dir on disk is
        # referenced or belongs to readable history, and vacuum + re-read
        # still reproduces the winner's state
        t3.vacuum(retention_s=0)
        assert snap(SnapshotTable(path)) == won
        epochs = {r["epoch_id"] for r in t3.read_metrics(spark).collect()}
        assert epochs == {0, 1}  # no lineage from the aborted writer


def test_commit_log_backfilled_on_duplicate_delivery(spark, tmp_path):
    import shutil

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    feed = gen_feed_df(spark, 200)
    apply_changes(spark, feed, t, 0, PipelineConfig(n_buckets=4))
    # simulate the crash window: epoch committed, commit_log row lost
    shutil.rmtree(os.path.join(t.path, "commit_log"))
    st = apply_changes(spark, feed, t, 0, PipelineConfig(n_buckets=4))
    assert st.skipped
    log = t.read_commit_log(spark).collect()
    assert [r["epoch_id"] for r in log] == [0]
    assert log[0]["batch_fingerprint"] == "backfill"
    # and a second duplicate does not double-backfill
    apply_changes(spark, feed, t, 0, PipelineConfig(n_buckets=4))
    assert t.read_commit_log(spark).count() == 1


def test_read_key_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """read_key must open only the key's hash bucket and agree with the
    full-table filter, live and tombstoned."""
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    feed = gen_feed_df(spark, 400).drop("epoch_hint")
    apply_changes(spark, feed, t, 0, PipelineConfig(n_buckets=8))
    t = SnapshotTable(t.path)
    url = t.read(spark).select("url").first()["url"]

    got = t.read_key(spark, url).collect()
    want = t.read_buckets(spark, include_deleted=False).filter(
        f"url = '{url}'"
    ).collect()
    assert len(got) == 1 and got == want
    # pruning: a single bucket's paths, not the table's
    all_b, all_d = t._bucket_paths(None)
    assert len(t._bucket_paths([0])[0]) + len(t._bucket_paths([0])[1]) < len(
        all_b
    ) + len(all_d)
    # unknown key → empty, still single-bucket
    assert t.read_key(spark, "https://nope.example.com/x").count() == 0


def test_zone_map_prunes_files_on_time_predicate(spark, tmp_path):
    """Delta epochs with disjoint warc_ts windows: a min_warc_ts read
    must choose strictly fewer file paths (paths map 1:1 to file opens —
    the object-store win) and return EXACTLY the rows of the unpruned
    read + post-filter, including keys whose winner predates the cut."""
    import datetime as dt

    from pyspark.sql import functions as F

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.apply import apply_changes

    FEED = (
        "seq long, op string, url string, warc_ts timestamp, html binary,"
        " lang string, source string"
    )
    cfg = PipelineConfig(n_buckets=4, write_mode="delta", rules=())
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)

    def rows(month, n=40):
        return [
            (
                month * 1000 + i,
                "U",
                f"https://ex.com/u{i}",
                dt.datetime(2024, month, 1 + i % 27),
                b"<html>x</html>",
                "en",
                "s",
            )
            for i in range(n)
        ]

    apply_changes(spark, spark.createDataFrame(rows(1), FEED), t, 0, cfg)  # Jan
    apply_changes(spark, spark.createDataFrame(rows(2), FEED), t, 1, cfg)  # Feb
    apply_changes(spark, spark.createDataFrame(rows(3, n=10), FEED), t, 2, cfg)
    t = SnapshotTable(t.path)
    cut = dt.datetime(2024, 2, 15)

    b_all, d_all = t._bucket_paths(None)
    b_pr, d_pr = t._bucket_paths(None, min_warc_ts=cut)
    assert len(b_pr) + len(d_pr) < len(b_all) + len(d_all)  # Jan files skipped

    got = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_buckets(spark, min_warc_ts=cut).collect()
    )
    want = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_buckets(spark).filter(F.col("warc_ts") >= cut).collect()
    )
    assert got == want and got
    # the CDF path prunes the same way with identical results
    cdf = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_changes(spark, 0, min_warc_ts=cut).collect()
    )
    cdf_want = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_changes(spark, 0).filter(F.col("warc_ts") >= cut).collect()
    )
    assert cdf == cdf_want
    # compaction folds the ranges (union, never understated): results
    # after compact are identical, with or without the predicate
    assert t.compact(spark, max_deltas=0)
    t2 = SnapshotTable(t.path)
    got2 = sorted(
        (r["url"], r["warc_ts"])
        for r in t2.read_buckets(spark, min_warc_ts=cut).collect()
    )
    assert got2 == want


def test_dead_letter_exactly_once_on_redelivery(spark, tmp_path):
    from pyspark.sql import functions as F

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.streaming import run_stream

    feed_dir = str(tmp_path / "feed")
    write_feed_files(spark, feed_dir, 400, files=2)
    # plant bad rows: null op (the silent-vanish case) and unknown op
    bad = spark.createDataFrame(
        [(9001, None, "https://x.ex/a"), (9002, "Z", "https://x.ex/b")],
        "seq long, op string, url string",
    ).select(
        "seq",
        "op",
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("en").alias("lang"),
        F.lit("test").alias("source"),
        F.lit(0).cast("int").alias("epoch_hint"),
    )
    bad.coalesce(1).write.mode("append").parquet(feed_dir)

    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    cfg = PipelineConfig(n_buckets=4, rules=("valid_url",))
    run_stream(spark, feed_dir, t.path, str(tmp_path / "ck1"), cfg)
    dead = spark.read.parquet(os.path.join(t.path, "dead_letter"))
    n_dead = dead.count()
    assert n_dead == 2  # null-op row is dead-lettered, not dropped
    assert {r["op"] for r in dead.collect()} == {None, "Z"}
    # full re-delivery via a FRESH checkpoint: every epoch skips, the
    # dead-letter sink must not grow
    run_stream(spark, feed_dir, t.path, str(tmp_path / "ck2"), cfg)
    assert spark.read.parquet(os.path.join(t.path, "dead_letter")).count() == n_dead


import pytest

# Every CAS-protocol test runs through BOTH object stores — localfs
# os.link, and S3's conditional-put surface against the in-repo
# dir-backed fake client — proving the protocol depends on nothing but
# the store's primitives, so the production S3 port is "swap the
# client object", not a protocol change.
CAS_BACKENDS = ["localfs", "s3"]


@pytest.fixture(autouse=True)
def _fake_s3_client(tmp_path, monkeypatch):
    """Route the s3 store at a dir-backed fake rooted in this test's
    tmp dir (page_size=2, so slots() pagination is exercised by every
    multi-commit test)."""
    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store

    root = tmp_path / "s3"
    root.mkdir()
    monkeypatch.setattr(
        S3Store, "client_factory", lambda: DirBackedFakeS3Client(str(root))
    )


@pytest.mark.parametrize("backend", CAS_BACKENDS)
def test_cas_protocol_commits_and_heals_forward(tmp_path, backend):
    """CAS tables linearize on commit slot n; manifest.json is a
    pointer cache. A writer crashing AFTER the put-if-absent but BEFORE
    the pointer swap must not lose its commit: the next load recovers
    forward from the commit log and heals the pointer on disk."""
    path = str(tmp_path / "t")
    t = SnapshotTable.create(
        path, SCHEMA, n_buckets=4, commit_protocol="cas", cas_backend=backend
    )
    t.commit_empty_epoch(0)
    t.commit_empty_epoch(1)
    t2 = SnapshotTable(path)
    assert t2.has_epoch(1) and not t2.has_epoch(2)
    # simulate crash-after-linearization: commit slot exists, pointer stale
    m = dict(t2._manifest)
    m["mutation"] += 1
    m["epoch_watermark"] = 5
    assert t2.commit_log_backend().put_if_absent(m["mutation"], json.dumps(m))
    t3 = SnapshotTable(path)  # recovers forward
    assert t3.has_epoch(5) and t3._manifest["mutation"] == m["mutation"]
    with open(os.path.join(path, "manifest.json")) as fh:
        assert json.load(fh)["mutation"] == m["mutation"]  # pointer healed


@pytest.mark.parametrize("backend", CAS_BACKENDS)
def test_cas_rejects_racer_at_linearization_point(tmp_path, backend):
    """The race localfs mode can only detect (check-then-replace TOCTOU)
    is PREVENTED under cas: a stale writer loses at the put-if-absent
    itself, even when the pointer check would have passed because the
    winner never got to update the pointer."""
    path = str(tmp_path / "t")
    a = SnapshotTable.create(
        path, SCHEMA, n_buckets=4, commit_protocol="cas", cas_backend=backend
    )
    b = SnapshotTable(path)  # second writer, same base mutation
    a.commit_empty_epoch(0)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        b.commit_empty_epoch(1)
    # stronger: winner's commit slot exists but its pointer update never
    # landed (crashed mid-commit). The localfs pointer check would PASS
    # here and silently bury the winner's commit; cas still rejects —
    # first via the rebase check (log top moved past the base)...
    c = SnapshotTable(path)
    base = dict(c._manifest)
    crash = dict(base)
    crash["mutation"] = base["mutation"] + 1
    assert c.commit_log_backend().put_if_absent(crash["mutation"], json.dumps(crash))
    with pytest.raises(RuntimeError, match="concurrent writer"):
        c.commit_empty_epoch(2)
    # ...and, in the race window where the winner's put lands BETWEEN
    # this writer's LIST and its own put (simulated by serving c a
    # stale slot listing), at the put-if-absent itself:
    from unittest import mock

    from qwatch_spark.plans.snapshot_table import CasLog

    real_slots = CasLog.slots

    def stale_slots(self):
        return [n for n in real_slots(self) if n != crash["mutation"]]

    with mock.patch.object(CasLog, "slots", stale_slots):
        with pytest.raises(RuntimeError, match="concurrent writer"):
            c.commit_empty_epoch(2)
    # the buried commit is still recoverable by the next loader
    assert SnapshotTable(path)._manifest["mutation"] == crash["mutation"]


@pytest.mark.parametrize("backend", CAS_BACKENDS)
def test_cas_vacuum_prunes_log_but_stale_writer_stays_rejected(tmp_path, backend):
    """vacuum drops commit slots below the top mutation (only the max is
    authoritative). A long-stale writer whose put-if-absent slot was
    freed by that prune must STILL lose — the rebase check compares its
    base against the log top before the put."""
    path = str(tmp_path / "t")
    t = SnapshotTable.create(
        path, SCHEMA, n_buckets=4, commit_protocol="cas", cas_backend=backend
    )
    stale = SnapshotTable(path)  # base mutation 0
    for e in range(5):
        t.commit_empty_epoch(e)
    removed = t.vacuum(retention_s=0)
    assert t.commit_log_backend().slots() == [t._manifest["mutation"]]
    assert any(f.startswith("m=") for f in removed)
    # stale writer's slot m=1 is free again, but it is rejected loudly
    with pytest.raises(RuntimeError, match="concurrent writer"):
        stale.commit_empty_epoch(99)
    assert not SnapshotTable(path).has_epoch(99)


def test_cas_table_full_apply_path(spark, tmp_path):
    """End-to-end apply_changes (delta write mode) over a cas-protocol
    table: commits, duplicate-delivery idempotence, and reopen all behave
    exactly as under localfs."""
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    path = str(tmp_path / "t")
    cfg = PipelineConfig(n_buckets=4, write_mode="delta")
    t = SnapshotTable.create(path, n_buckets=4, commit_protocol="cas")
    feed = gen_feed_df(spark, 400).drop("epoch_hint")
    apply_changes(spark, feed, t, 0, cfg)
    rows = t.read(spark).count()
    assert rows > 0
    stats = apply_changes(spark, feed, t, 0, cfg)  # duplicate delivery
    assert stats.skipped
    t2 = SnapshotTable(path)
    assert t2.read(spark).count() == rows
    assert t2.version == t.version


def test_commit_protocol_config_plumbing(tmp_path):
    """PipelineConfig validates commit_protocol and create_entity_tables
    propagates it to every entity and link table manifest."""
    import pytest

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.entities import create_entity_tables
    from qwatch_spark.queries import entity_graph_specs

    with pytest.raises(ValueError, match="commit_protocol"):
        PipelineConfig(commit_protocol="s3")
    assert PipelineConfig(commit_protocol="cas").commit_protocol == "cas"

    with pytest.raises(ValueError, match="manifest_shards"):
        PipelineConfig(n_buckets=8, manifest_shards=9)

    specs, links = entity_graph_specs()
    tables = create_entity_tables(
        str(tmp_path / "g"), specs, links, n_buckets=4, commit_protocol="cas",
        manifest_shards=2,
    )
    assert set(tables) == {"page", "domain", "page_domain"}
    for t in tables.values():
        assert t._manifest.get("commit_protocol") == "cas"
        assert t._manifest.get("n_shards") == 2
        assert "buckets" not in t._manifest
        assert os.path.isdir(os.path.join(t.path, "_commits"))


@pytest.mark.parametrize("backend", CAS_BACKENDS)
def test_cas_threads_race_with_retry_no_lost_commits(tmp_path, backend):
    """8 threads race commit_empty_epoch on one cas table with the
    optimistic-retry loop a real writer would use (reload + reapply on
    ConcurrentWriter). Every epoch must land exactly once, the commit
    log must be a gap-free mutation sequence, and the final manifest
    must record all epochs — no lost or duplicated commit under real
    thread interleaving."""
    import threading

    path = str(tmp_path / "t")
    SnapshotTable.create(
        path, SCHEMA, n_buckets=4, commit_protocol="cas", cas_backend=backend
    )
    epochs = list(range(24))
    errors: list[Exception] = []

    def worker(my_epochs):
        for e in my_epochs:
            for _attempt in range(200):
                t = SnapshotTable(path)  # reload = rebase
                try:
                    t.commit_empty_epoch(e)
                    break
                except RuntimeError as exc:
                    if "concurrent writer" not in str(exc):
                        errors.append(exc)
                        return
            else:
                errors.append(RuntimeError(f"epoch {e} never committed"))

    threads = [
        threading.Thread(target=worker, args=(epochs[i::8],)) for i in range(8)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    final = SnapshotTable(path)
    assert all(final.has_epoch(e) for e in epochs)
    # gap-free mutation history: m=0 (create) .. m=top all exist
    logged = final.commit_log_backend().slots()
    assert logged == list(range(final._manifest["mutation"] + 1))


def test_s3_backend_speaks_boto3_conditional_put_surface(tmp_path):
    """S3-specific semantics on top of the shared protocol suite:
    s3:// URL parsing, list pagination across >1 page of slots, 412
    PreconditionFailed → CAS lost, transient 409
    ConditionalRequestConflict → re-poll until settled, NoSuchKey →
    None. The fake's page_size=2 means the 7-slot listing here takes 4
    LIST round-trips."""
    from qwatch_spark.plans.objectstore import (
        DirBackedFakeS3Client,
        S3ClientError,
        S3Store,
    )
    from qwatch_spark.plans.snapshot_table import CasLog

    client = DirBackedFakeS3Client(str(tmp_path / "store"))
    b = CasLog(S3Store(client), "s3://lake/warehouse/pages")
    assert b.dir == "s3://lake/warehouse/pages/_commits"
    assert b._slot(3) == "s3://lake/warehouse/pages/_commits/m=3.json"
    for n in range(7):
        assert b.put_if_absent(n, f'{{"mutation": {n}}}')
    assert not b.put_if_absent(3, "loser")  # 412 → CAS lost
    assert b.slots() == list(range(7))  # paginated LIST, 4 pages
    assert b.read(3) == '{"mutation": 3}'  # winner's data intact
    assert b.read(99) is None  # NoSuchKey
    b.delete(0)
    assert b.slots() == list(range(1, 7))

    # 409: in-flight concurrent conditional write — undecided, so the
    # backend re-polls (with backoff); here a RIVAL's put lands between
    # polls and the retry resolves to False (slot exists, different
    # content), never an exception.
    flaky_calls = {"n": 0}
    real_put = client.put_object

    def flaky_put(**kw):
        if kw.get("Key", "").endswith("m=7.json") and flaky_calls["n"] < 2:
            flaky_calls["n"] += 1
            if flaky_calls["n"] == 2:
                real_put(
                    Bucket=kw["Bucket"], Key=kw["Key"], Body=b"rival"
                )  # rival wins while we back off
            raise S3ClientError("ConditionalRequestConflict", kw["Key"])
        return real_put(**kw)

    client.put_object = flaky_put
    assert b.put_if_absent(7, "ours") is False
    assert b.read(7) == "rival"  # the rival's write won
    client.put_object = real_put

    # ambiguous success: OUR conditional write landed but the 200 was
    # lost (SDK-level retry re-sends and sees its own key → 412). The
    # slot holds OUR bytes, so put_if_absent must claim the win — a
    # False here would abort an epoch that actually committed.
    def lost_200_put(**kw):
        if kw.get("Key", "").endswith("m=8.json"):
            try:
                real_put(**kw)  # the write that actually landed
            except S3ClientError:
                pass
            raise S3ClientError("PreconditionFailed", kw["Key"])
        return real_put(**kw)

    client.put_object = lost_200_put
    assert b.put_if_absent(8, "mine") is True
    assert b.read(8) == "mine"
    client.put_object = real_put
    # ...and a genuine 412 against someone else's slot is still a loss
    assert b.put_if_absent(8, "latecomer") is False


def test_sharded_manifest_equivalent_state_and_bounded_commit_io(spark, tmp_path):
    """A manifest_shards table must produce byte-identical state to an
    inline twin across COW + delta epochs and compaction, while each
    commit rewrites ONLY the dirty shards (bucket b lives in shard
    b % n_shards) plus the small root — per-epoch manifest cost
    O(touched), the 100k-bucket scale fix."""
    from pyspark.sql import functions as F

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    cfg = PipelineConfig(n_buckets=16, write_mode="auto", compact_every=1)
    plain = SnapshotTable.create(str(tmp_path / "plain"), n_buckets=16)
    shard = SnapshotTable.create(
        str(tmp_path / "shard"), n_buckets=16, manifest_shards=4
    )
    feed = gen_feed_df(spark, 900, epoch_size=300)
    for e in range(3):
        batch = feed.filter(F.col("epoch_hint") == e).drop("epoch_hint")
        apply_changes(spark, batch, plain, e, cfg)
        apply_changes(spark, batch, shard, e, cfg)
    assert SnapshotTable(shard.path).version > 1  # real multi-version run

    def snap(t):
        return sorted(
            (r["url"], r["warc_ts"], r["seq"], r["is_deleted"])
            for r in SnapshotTable(t.path).read_buckets(
                spark, include_deleted=True
            ).collect()
        )

    assert snap(shard) == snap(plain)
    root = shard._manifest
    assert "buckets" not in root and root["n_shards"] == 4
    # root stays O(n_shards): pointer map only
    assert len(root["shard_files"]) <= 4
    # a reopened table agrees (shards load lazily from disk)
    re = SnapshotTable(shard.path)
    assert snap(re) == snap(plain)
    # time travel reads historical shard pointers
    v1 = SnapshotTable(shard.path).read_version(spark, 1).count()
    p1 = SnapshotTable(plain.path).read_version(spark, 1).count()
    assert v1 == p1
    # vacuum prunes shard files unreferenced by the current root and
    # state survives
    before = set(os.listdir(os.path.join(shard.path, "manifest_shards")))
    removed = SnapshotTable(shard.path).vacuum(retention_s=0)
    after = set(os.listdir(os.path.join(shard.path, "manifest_shards")))
    assert after == set(SnapshotTable(shard.path)._manifest["shard_files"].values())
    assert before - after  # something was actually pruned
    assert snap(SnapshotTable(shard.path)) == snap(plain)


def test_sharded_commit_writes_only_dirty_shards(spark, tmp_path):
    """An epoch touching buckets in a single shard must write exactly
    one new shard file, leaving the other shards' files untouched."""
    import datetime as dt

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.apply import apply_changes

    FEED = (
        "seq long, op string, url string, warc_ts timestamp, html binary,"
        " lang string, source string"
    )
    cfg = PipelineConfig(n_buckets=8, write_mode="delta", rules=())
    t = SnapshotTable.create(
        str(tmp_path / "t"), n_buckets=8, manifest_shards=8
    )
    # one row -> exactly one bucket -> exactly one dirty shard
    row = [(1, "U", "https://ex.com/one", dt.datetime(2024, 1, 1), b"<x>", "en", "s")]
    apply_changes(spark, spark.createDataFrame(row, FEED), t, 0, cfg)
    sdir = os.path.join(t.path, "manifest_shards")
    files0 = set(os.listdir(sdir))
    assert len(files0) == 1  # only the touched bucket's shard exists
    row2 = [(2, "U", "https://ex.com/one", dt.datetime(2024, 1, 2), b"<y>", "en", "s")]
    apply_changes(spark, spark.createDataFrame(row2, FEED), t, 1, cfg)
    files1 = set(os.listdir(sdir))
    # second epoch rewrote that one shard (new immutable file), nothing else
    assert len(files1 - files0) == 1
    assert SnapshotTable(t.path).read(spark).count() == 1


def test_sharded_manifest_with_cas_protocol(spark, tmp_path):
    """Sharding composes with the CAS commit protocol: a losing writer
    deletes its own orphan shard files; the winner's state, shard files,
    and lineage are intact."""
    import pytest

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes

    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    path = str(tmp_path / "t")
    a = SnapshotTable.create(
        path, n_buckets=8, manifest_shards=4, commit_protocol="cas"
    )
    feed = gen_feed_df(spark, 300).drop("epoch_hint")
    apply_changes(spark, feed, a, 0, cfg)
    b = SnapshotTable(path)  # stale base
    apply_changes(spark, feed.limit(50), a, 1, cfg)  # winner
    won = sorted(r["url"] for r in a.read(spark).collect())
    sdir = os.path.join(path, "manifest_shards")
    winner_files = set(os.listdir(sdir))
    with pytest.raises(RuntimeError, match="concurrent writer|stale"):
        apply_changes(spark, feed.limit(50), b, 2, cfg)
    # loser's orphan shard files were cleaned; winner's untouched
    assert set(os.listdir(sdir)) == winner_files
    assert sorted(r["url"] for r in SnapshotTable(path).read(spark).collect()) == won


def test_sharded_bulk_read_uses_parallel_loader_and_agrees(tmp_path):
    """With >8 shards, a full bucket view takes the concurrent-load
    branch; it must return exactly the union of all shard files."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, n_buckets=64, manifest_shards=16
    )
    updates = {
        str(b): {"base": f"1-{b:02d}", "deltas": [], "z": {}} for b in range(64)
    }
    m = dict(t._manifest)
    w = t._apply_bucket_updates(m, updates)
    t._swap_or_cleanup(m, str(tmp_path / "nonexistent"), extra_paths=w)
    fresh = SnapshotTable(t.path)  # cold cache -> 16 misses -> parallel
    view = fresh._buckets_of(fresh._manifest)
    assert view == updates
    # and the single-shard path agrees for a point access
    assert fresh._buckets_of(fresh._manifest, only=[7])["7"] == updates["7"]


def test_vacuum_retention_protects_inflight_staged_files(tmp_path):
    """A CAS writer stages its version dir and shard files BEFORE its
    put-if-absent linearization — vacuum under the default retention
    window must NOT delete young unreferenced paths (they may belong to
    a commit in flight); retention_s=0 (exclusive access) removes them."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, n_buckets=4, commit_protocol="cas"
    )
    t.commit_empty_epoch(0)
    staged = os.path.join(t.path, "data", "v=99-deadbeef")
    os.makedirs(staged)
    open(os.path.join(staged, "part-0.parquet"), "w").close()
    # young orphan survives the default window (commit-log pruning below
    # the top mutation is always safe and unrelated to retention)
    assert "v=99-deadbeef" not in t.vacuum()
    assert os.path.isdir(staged)
    assert "v=99-deadbeef" in t.vacuum(retention_s=0)
    assert not os.path.isdir(staged)


def test_shard_cache_evicts_superseded_snapshots(tmp_path):
    """Each commit repoints touched shards to a new fname; the reader
    cache must drop the superseded (sid, old_fname) entries so a
    long-running writer doesn't accumulate stale shard snapshots."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, n_buckets=8, manifest_shards=2
    )
    for e in range(6):
        # touch bucket entries via the update path used by commits
        m = dict(t._manifest)
        m["version"] = t.version + 1
        t._apply_bucket_updates(m, {"0": {"base": str(e), "deltas": [], "z": {}}})
        t._write_manifest(t.path, m, expected_mutation=t._manifest.get("mutation", 0))
        t._manifest = m
        t._buckets_of(t._manifest)  # reader load populates the cache
    sids = [k[0] for k in t._shard_cache]
    assert len(sids) == len(set(sids)), f"stale shard snapshots: {sorted(t._shard_cache)}"


def test_vacuum_retention_uses_newest_mtime_in_staging_tree(tmp_path):
    """Writing parquet inside b=<n> subdirs does not bump the v=<token>
    dir's own mtime — retention must key off the NEWEST mtime anywhere
    in the staged tree, or a writer whose staging phase outlives the
    window after dir creation loses still-being-written files (ADVICE
    r4). An all-old tree still expires."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, n_buckets=4)
    staged = os.path.join(t.path, "data", "v=99-cafef00d")
    bdir = os.path.join(staged, "b=0")
    os.makedirs(bdir)
    old = time.time() - 3600
    inflight = os.path.join(bdir, "part-0.parquet")
    open(inflight, "w").close()
    # the top dir (and the b= dir) look an hour old; the data file is
    # fresh — exactly the long-staging-writer shape
    os.utime(staged, (old, old))
    os.utime(bdir, (old, old))
    assert "v=99-cafef00d" not in t.vacuum(retention_s=600)
    assert os.path.exists(inflight), "in-flight staged file collected"
    # once every file in the tree is older than the window, it expires
    os.utime(inflight, (old, old))
    os.utime(staged, (old, old))
    assert "v=99-cafef00d" in t.vacuum(retention_s=600)
    assert not os.path.isdir(staged)


def test_per_file_zone_map_prunes_within_multi_file_bucket(spark, tmp_path):
    """A compacted bucket split across several files (maxRecordsPerFile)
    gets a PER-FILE zone map (`zf`): a min_warc_ts read must then skip
    whole files INSIDE a kept bucket dir — the chosen paths are file
    paths and strictly fewer than the bucket's file count — while
    returning exactly the unpruned read + post-filter. Subsequent delta
    epochs must carry the base's zf forward."""
    import datetime as dt

    from pyspark.sql import functions as F

    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.apply import apply_changes

    FEED = (
        "seq long, op string, url string, warc_ts timestamp, html binary,"
        " lang string, source string"
    )
    cfg = PipelineConfig(n_buckets=2, write_mode="delta", rules=())
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=2)

    def rows(month, base, n=120):
        return [
            (
                base + i,
                "U",
                f"https://ex.com/m{month}-{i}",
                dt.datetime(2024, month, 1 + i % 27),
                b"<html>x</html>",
                "en",
                "s",
            )
            for i in range(n)
        ]

    apply_changes(spark, spark.createDataFrame(rows(1, 0), FEED), t, 0, cfg)
    apply_changes(spark, spark.createDataFrame(rows(2, 1000), FEED), t, 1, cfg)
    apply_changes(spark, spark.createDataFrame(rows(6, 2000), FEED), t, 2, cfg)
    t = SnapshotTable(t.path)
    # compact with small file splits: each bucket's base spans several
    # time-sorted files
    assert t.compact(spark, max_deltas=0, max_records_per_file=40)
    t = SnapshotTable(t.path)
    entries = dict(t._entries(None))
    n_files_total = 0
    for b, e in entries.items():
        assert e["deltas"] == []
        zf = e["zf"].get(str(e["base"]))
        assert zf, f"bucket {b}: no per-file zone map"
        d = os.path.join(t.path, "data", f"v={e['base']}", f"b={b}")
        on_disk = sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )
        assert sorted(zf) == on_disk, "zf incomplete vs dir listing"
        assert len(zf) > 1, "fixture failed to split the bucket"
        n_files_total += len(zf)

    cut = dt.datetime(2024, 5, 1)  # only June rows pass
    b_pr, d_pr = t._bucket_paths(None, min_warc_ts=cut)
    chosen = b_pr + d_pr
    assert all(p.endswith(".parquet") for p in chosen), (
        "per-file map present but dir paths returned"
    )
    assert len(chosen) < n_files_total, "no file skipped inside buckets"
    got = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_buckets(spark, min_warc_ts=cut).collect()
    )
    want = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_buckets(spark).filter(F.col("warc_ts") >= cut).collect()
    )
    assert got == want and len(got) == 120
    # read_changes prunes identically through the same path chooser
    cdf = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_changes(spark, 0, min_warc_ts=cut).collect()
    )
    cdf_want = sorted(
        (r["url"], r["warc_ts"])
        for r in t.read_changes(spark, 0).filter(
            F.col("warc_ts") >= cut
        ).collect()
    )
    assert cdf == cdf_want
    # a later delta epoch must keep the base's zf (and the pruned read
    # must still see the new rows)
    apply_changes(
        spark, spark.createDataFrame(rows(7, 3000, n=10), FEED), t, 3, cfg
    )
    t2 = SnapshotTable(t.path)
    for b, e in t2._entries(None):
        assert e["zf"], f"bucket {b}: zf dropped by delta commit"
        assert len(e["deltas"]) == 1
    got2 = {
        r["url"] for r in t2.read_buckets(spark, min_warc_ts=cut).collect()
    }
    assert len(got2) == 130 and "https://ex.com/m7-3" in got2
