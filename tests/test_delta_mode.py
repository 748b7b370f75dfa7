"""Merge-on-read delta commits (write_mode=delta/auto): same final state
as the oracle, with O(batch) apply cost."""

import os

import pytest
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df, gen_feed_rows
from qwatch_spark.operators.apply import apply_changes, replay_feed
from qwatch_spark.plans.snapshot_table import SnapshotTable
from tests.oracle import oracle_final_ops, oracle_final_pages

N = 3000


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


@pytest.mark.parametrize("mode", ["delta", "auto"])
def test_delta_replay_matches_oracle(spark, tmp_path, mode):
    cfg = PipelineConfig(n_buckets=8, write_mode=mode, compact_every=2)
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    replay_feed(spark, gen_feed_df(spark, N), table, cfg)
    table = SnapshotTable(table.path)
    want = oracle_final_pages(gen_feed_rows(N), cfg)
    assert engine_state(spark, table) == want
    if mode == "auto":
        # compaction bounded the delta chains
        assert all(
            len(e["deltas"]) <= 2 for _b, e in table._entries(None)
        )


def test_delta_epoch_idempotent(spark, tmp_path):
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    batch = gen_feed_df(spark, 800).drop("epoch_hint")
    apply_changes(spark, batch, table, 0, cfg)
    state = engine_state(spark, table)
    v = table.version
    s = apply_changes(spark, batch, table, 0, cfg)
    assert s.skipped and table.version == v
    assert engine_state(spark, table) == state


def test_late_events_resolve_at_read_time(spark, tmp_path):
    """Delta mode never reads the table at apply; late/older updates and
    delete-then-late-update still resolve correctly at read."""
    import datetime as dt

    from qwatch_spark.schema import EVENT_SCHEMA

    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    ts = dt.datetime(2024, 6, 1)
    url = "https://late.example.com/p/1"
    mk = lambda seq, op, t: {
        "seq": seq, "op": op, "url": url, "warc_ts": t,
        "html": None if op == "D" else f"<p>v{seq}</p>".encode(),
        "lang": None if op == "D" else "en", "source": "s", "epoch_hint": 0,
    }
    apply = lambda rows, e: apply_changes(
        spark, spark.createDataFrame(rows, EVENT_SCHEMA).drop("epoch_hint"),
        table, e, cfg,
    )
    import datetime as dt2

    h = lambda n: ts + dt.timedelta(hours=n)
    apply([mk(10, "I", h(2))], 0)
    apply([mk(5, "U", h(1))], 1)      # older — must lose at read
    assert engine_state(spark, table)[url][2] == "v10"
    apply([mk(20, "D", h(3))], 2)     # delete
    apply([mk(15, "U", h(2.5))], 3)   # late update after delete — stays dead
    assert url not in engine_state(spark, table)
    # compaction folds 4 deltas → same state
    table.compact(spark)
    assert url not in engine_state(spark, table)


def test_compact_and_vacuum_preserve_state(spark, tmp_path):
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    replay_feed(spark, gen_feed_df(spark, N), table, cfg)
    table = SnapshotTable(table.path)
    state = engine_state(spark, table)
    assert table.has_deltas()
    compacted = table.compact(spark)
    assert compacted and not table.has_deltas()
    assert engine_state(spark, table) == state
    removed = table.vacuum(retention_s=0)
    assert removed
    assert engine_state(spark, table) == state


def test_delta_lineage_counts(spark, tmp_path):
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    stats = replay_feed(spark, gen_feed_df(spark, N), table, cfg)
    m = table.read_metrics(spark)
    row = m.agg(
        F.sum(F.col("n_insert") + F.col("n_update")).alias("up"),
        F.sum("n_delete").alias("del"),
    ).collect()[0]
    assert row["up"] == sum(s.n_upserts for s in stats)
    assert row["del"] == sum(s.n_deletes for s in stats)


def test_compact_by_bytes_trigger(spark, tmp_path):
    """A bucket whose delta chain is small in COUNT but large in BYTES
    compacts under the byte trigger (and not under count alone)."""
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.datagen import gen_feed_df
    from qwatch_spark.operators.apply import apply_changes
    from qwatch_spark.plans.snapshot_table import SnapshotTable

    cfg = PipelineConfig(n_buckets=2, write_mode="delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=2)
    for e in range(3):
        feed = gen_feed_df(spark, 2000).drop("epoch_hint")
        apply_changes(spark, feed, t, e, cfg)
    t = SnapshotTable(t.path)
    assert t.has_deltas()
    before = t.read(spark).count()
    # count trigger alone (chain of 3 <= max_deltas=8): nothing compacts
    assert t.compact(spark, max_deltas=8) == []
    # byte trigger: any chain over 1 byte compacts
    victims = t.compact(spark, max_deltas=8, max_delta_bytes=1)
    assert sorted(victims) == [0, 1]
    t = SnapshotTable(t.path)
    assert not t.has_deltas()
    assert t.read(spark).count() == before  # maintenance-only


def test_read_buckets_columns_pruning_matches_full_read(spark, tmp_path):
    """`columns=` prunes the row BEFORE the merge-on-read dedup (so the
    scan/shuffle never carries text/html) yet resolves the same winners
    as the full read — exercised with live delta chains."""
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    replay_feed(spark, gen_feed_df(spark, N), table, cfg)
    table = SnapshotTable(table.path)
    assert table.has_deltas()
    narrow = table.read_buckets(spark, include_deleted=False, columns=["lang"])
    assert set(narrow.columns) == {"url", "warc_ts", "seq", "last_epoch", "is_deleted", "lang"}
    full = table.read_buckets(spark, include_deleted=False)
    want = {(r["url"], r["warc_ts"], r["lang"]) for r in full.collect()}
    got = {(r["url"], r["warc_ts"], r["lang"]) for r in narrow.collect()}
    assert got == want
    # the pruned plan's parquet scan must not read html/text
    sc = narrow._jdf.queryExecution().executedPlan().toString()
    assert "html" not in sc


def test_compaction_repairs_delta_lineage_to_match_cow(spark, tmp_path):
    """The apply path records upserts coarsely (last_op='U', n_insert=0 —
    I-vs-U would need a table lookup). Compaction reads the retained
    history anyway, so it reconstructs each delta winner's TRUE last_op:
    after full compaction the table's (key, last_op) must equal the exact
    per-epoch I/U/D classification the retired copy-on-write path
    recorded (`oracle_final_ops`), row-for-row, including tombstones."""
    feed = gen_feed_df(spark, N)
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    dt_ = SnapshotTable.create(str(tmp_path / "delta"), n_buckets=8)
    replay_feed(spark, feed, dt_, cfg)
    dt_ = SnapshotTable(dt_.path)
    # pre-compaction: the apply path never recorded an insert
    pre = dt_.read_buckets(spark).select("url", "last_op").collect()
    assert {r["last_op"] for r in pre} <= {"U", "D"}
    dt_.compact(spark, max_deltas=0)  # fold every chain
    dt_ = SnapshotTable(dt_.path)
    assert not dt_.has_deltas()

    rows = gen_feed_rows(N)
    epochs = [
        [r for r in rows if r["epoch_hint"] == e]
        for e in sorted({r["epoch_hint"] for r in rows})
    ]
    want = oracle_final_ops(epochs, cfg)
    got = {
        r["url"]: r["last_op"]
        for r in dt_.read_buckets(spark).select("url", "last_op").collect()
    }
    assert got == want
    assert "I" in set(got.values())  # inserts actually reconstructed
    # and the table STATE still equals the oracle's
    assert engine_state(spark, dt_) == oracle_final_pages(rows, cfg)


def test_footer_stats_match_spark_job(spark, tmp_path):
    """The zero-job footer-stats commit path must produce EXACTLY the
    stats the Spark aggregate it replaced would: per-bucket counts,
    delete counts, seq ranges, warc_ts zone maps — and it must actually
    be exercised under the engine session (TIMESTAMP_MICROS stats
    present), not silently falling back."""
    from qwatch_spark.operators.apply import _bucket_files, _delta_footer_stats

    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    batch = gen_feed_df(spark, 1500).drop("epoch_hint")
    apply_changes(spark, batch, table, 0, cfg)
    table = SnapshotTable(table.path)
    # locate the committed delta dir (version 1's token)
    tok = None
    for _b, e in table._entries(None):
        for d in e["deltas"]:
            tok = d
        if e["base"] is not None and tok is None:
            tok = e["base"]
    out = os.path.join(table.path, "data", f"v={tok}")
    got = _delta_footer_stats(out, _bucket_files(out, table.store.list_tree(out)))
    assert got is not None, "footer stats unavailable under engine session"
    want = {
        int(r["b"]): r
        for r in spark.read.parquet(out)
        .groupBy("b")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("last_op") == "D").alias("nd"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
            F.min("warc_ts").alias("lo"),
            F.max("warc_ts").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(want)
    assert any(s["nd"] > 0 for s in got.values()), "fixture has no deletes"
    for b, s in got.items():
        w = want[b]
        assert (
            s["n"], s["nd"], s["min_seq"], s["max_seq"], s["lo"], s["hi"]
        ) == (
            w["n"], w["nd"], w["min_seq"], w["max_seq"], w["lo"], w["hi"]
        ), f"bucket {b}: footer {s} != job {dict(w.asDict())}"


def test_footer_stats_over_fake_s3_match_local(spark, tmp_path):
    """r6 verdict #3 (remote parity): the footer fast paths must keep
    working on an `s3://` table path, routed through the SAME pluggable
    client surface the CAS commit log uses — not silently fall back to
    the Spark job exactly where round-trips cost most. Write an epoch
    locally, mirror its delta files byte-for-byte into the dir-backed
    fake S3, and both `_delta_footer_stats` and `_file_ts_ranges_many`
    must return IDENTICAL results through s3:// (ranged GETs against
    the fake) as through the local path. Unknown schemes still return
    None (the Spark-job fallback contract)."""
    from qwatch_spark.operators.apply import _bucket_files, _delta_footer_stats
    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store

    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=8)
    apply_changes(spark, gen_feed_df(spark, 1500).drop("epoch_hint"), table, 0, cfg)
    table = SnapshotTable(table.path)
    tok = None
    for _b, e in table._entries(None):
        for d in e["deltas"]:
            tok = d
    out = os.path.join(table.path, "data", f"v={tok}")
    touched = sorted(
        int(d[2:]) for d in os.listdir(out) if d.startswith("b=")
    )
    local = _delta_footer_stats(out, _bucket_files(out, table.store.list_tree(out)))
    assert local is not None

    store = str(tmp_path / "s3")
    old_factory = S3Store.client_factory
    S3Store.client_factory = lambda: DirBackedFakeS3Client(store)
    try:
        client = DirBackedFakeS3Client(store)
        for b in touched:
            d = os.path.join(out, f"b={b}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    with open(os.path.join(d, f), "rb") as fh:
                        client.put_object(
                            Bucket="bkt",
                            Key=f"tbl/data/v={tok}/b={b}/{f}",
                            Body=fh.read(),
                        )
        s3_out = f"s3://bkt/tbl/data/v={tok}"
        remote = _delta_footer_stats(
            s3_out, _bucket_files(s3_out, S3Store(client).list_tree(s3_out))
        )
        assert remote == local
        # the zone-map harvest (one tree LIST + one pooled footer pass)
        # agrees per bucket and file over BOTH stores
        local_rng = SnapshotTable._file_ts_ranges_many(out, touched)
        assert all(local_rng[str(b)] for b in touched), local_rng
        assert (
            SnapshotTable._file_ts_ranges_many(
                f"s3://bkt/tbl/data/v={tok}", touched
            )
            == local_rng
        )
    finally:
        S3Store.client_factory = old_factory
    # scheme nobody serves driver-side -> None -> Spark-job fallback
    hdfs_out = "hdfs://nn/tbl/data/v=1"
    assert _delta_footer_stats(hdfs_out, {0: [f"{hdfs_out}/b=0/p.parquet"]}) is None
    assert SnapshotTable._file_ts_ranges_many("hdfs://nn/tbl/d", [0]) == {
        "0": None
    }


def test_footer_stats_reads_are_pooled_not_sequential(spark, tmp_path, monkeypatch):
    """r6 verdict #1: footer harvesting must overlap its per-file I/O
    (object-store round-trips), not run one footer at a time on the
    driver. Inject 25 ms of latency into every file open over a
    many-file fixture: the pooled wall must land well under the
    sequential sum (sequential would be >= n_files * 25 ms)."""
    import time

    from qwatch_spark.operators.apply import _bucket_files, _delta_footer_stats
    from qwatch_spark.plans.objectstore import LocalStore

    cfg = PipelineConfig(n_buckets=16, write_mode="delta")
    table = SnapshotTable.create(str(tmp_path / "t"), n_buckets=16)
    apply_changes(spark, gen_feed_df(spark, 1500).drop("epoch_hint"), table, 0, cfg)
    table = SnapshotTable(table.path)
    tok = None
    for _b, e in table._entries(None):
        for d in e["deltas"]:
            tok = d
    out = os.path.join(table.path, "data", f"v={tok}")
    files = _bucket_files(out, table.store.list_tree(out))
    n_files = sum(len(fs) for fs in files.values())
    assert n_files >= 12, f"fixture too small ({n_files} files)"
    delay = 0.025
    orig_md = LocalStore.parquet_metadata

    def slow_md(self, path):
        time.sleep(delay)  # one simulated object-store round-trip
        return orig_md(self, path)

    monkeypatch.setattr(LocalStore, "parquet_metadata", slow_md)
    t0 = time.monotonic()
    got = _delta_footer_stats(out, files, max_workers=64)
    wall = time.monotonic() - t0
    assert got is not None
    sequential = n_files * delay
    assert wall < sequential * 0.5, (
        f"{n_files} footer opens at {delay}s latency took {wall:.3f}s — "
        f"sequential would be {sequential:.3f}s; reads are not pooled"
    )


def test_footer_stats_fallback_commits_identically(spark, tmp_path, monkeypatch):
    """When footer statistics are unavailable (INT96 history, stats
    disabled), the commit must fall back to the Spark aggregate and
    produce an identical table: state, metrics, and manifest zone maps."""
    import qwatch_spark.operators.apply as A

    feed = gen_feed_df(spark, N)
    cfg = PipelineConfig(n_buckets=8, write_mode="delta")
    t_fast = SnapshotTable.create(str(tmp_path / "fast"), n_buckets=8)
    replay_feed(spark, feed, t_fast, cfg)
    monkeypatch.setattr(A, "_delta_footer_stats", lambda out, files: None)
    t_slow = SnapshotTable.create(str(tmp_path / "slow"), n_buckets=8)
    replay_feed(spark, feed, t_slow, cfg)
    t_fast, t_slow = SnapshotTable(t_fast.path), SnapshotTable(t_slow.path)
    assert engine_state(spark, t_fast) == engine_state(spark, t_slow)
    m_fast = sorted(
        (r["epoch_id"], r["bucket"], r["n_update"], r["n_delete"],
         r["min_seq"], r["max_seq"])
        for r in t_fast.read_metrics(spark).collect()
    )
    m_slow = sorted(
        (r["epoch_id"], r["bucket"], r["n_update"], r["n_delete"],
         r["min_seq"], r["max_seq"])
        for r in t_slow.read_metrics(spark).collect()
    )
    assert m_fast == m_slow
    # version tokens carry a random nonce — compare zone maps keyed by
    # the token's version-number prefix instead
    def zmaps(t):
        return {
            b: {tok.split("-")[0]: rng for tok, rng in e["z"].items()}
            for b, e in t._entries(None)
        }

    assert zmaps(t_fast) == zmaps(t_slow)


def test_footer_readers_edge_files(tmp_path):
    """The delta commit's `_delta_footer_stats` and compaction's
    `_file_ts_ranges_many` read one footer parser; pin both on
    hand-written edge files, one `b=<k>` dir per case: a plain bucket,
    a two-file bucket, an all-null warc_ts file, a file whose first row
    group is all-null, an INT96 file (no usable timestamp statistics:
    both readers give up), a file without the `_del` marker (compaction
    output: the delta reader gives up, compaction does not) and a
    requested bucket with no files. Pure pyarrow — no Spark session."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from qwatch_spark.operators.apply import _delta_footer_stats

    out = str(tmp_path / "v")

    def write(b, name, seq, dels, hours, int96=False, rg=None, marker=True):
        os.makedirs(os.path.join(out, f"b={b}"), exist_ok=True)
        cols = {
            "seq": pa.array(seq, pa.int64()),
            "warc_ts": pa.array(
                [None if h is None else dt.datetime(2024, 1, 1, h) for h in hours],
                pa.timestamp("us", tz="UTC"),
            ),
        }
        if marker:
            cols["_del"] = pa.array([1 if d else None for d in dels], pa.int8())
        path = os.path.join(out, f"b={b}", name)
        pq.write_table(
            pa.table(cols), path,
            use_deprecated_int96_timestamps=int96, row_group_size=rg,
        )
        return path

    files = {
        0: [write(0, "a.parquet", [5, 3, 9], [0, 1, 0], [4, 2, 7])],
        1: [
            write(1, "a.parquet", [1, 2], [0, 0], [10, 11]),
            write(1, "b.parquet", [7, 8, 0], [1, 1, 0], [1, None, 23]),
        ],
        2: [write(2, "a.parquet", [4, 6], [1, 0], [None, None])],
        3: [write(3, "a.parquet", [1, 2, 3, 4], [0, 0, 1, 0], [None, None, 5, 6], rg=2)],
        4: [write(4, "a.parquet", [1, 2], [0, 1], [3, 4], int96=True)],
        5: [write(5, "a.parquet", [1, 2], [0, 0], [3, 8], marker=False)],
        6: [],
    }
    assert pq.ParquetFile(files[3][0]).metadata.num_row_groups == 2

    def at(h):
        return dt.datetime(2024, 1, 1, h)

    def st(n, nd, min_seq, max_seq, lo, hi):
        return {"n": n, "nd": nd, "min_seq": min_seq, "max_seq": max_seq,
                "lo": lo, "hi": hi}

    want = {
        0: {0: st(3, 1, 3, 9, at(2), at(7))},
        1: {1: st(5, 2, 0, 8, at(1), at(23))},
        2: {2: st(2, 1, 4, 6, None, None)},
        3: {3: st(4, 1, 1, 4, at(5), at(6))},
        4: None,
        5: None,
        6: {},
    }
    for b, fs in files.items():
        assert _delta_footer_stats(out, {b: fs}) == want[b], b
    # several buckets in one pass fold independently
    good = {b: files[b] for b in (0, 1, 2, 3)}
    assert _delta_footer_stats(out, good) == {b: want[b][b] for b in good}

    def iso(h):
        return at(h).isoformat()

    assert SnapshotTable._file_ts_ranges_many(out, sorted(files)) == {
        "0": {"a.parquet": [iso(2), iso(7)]},
        "1": {"a.parquet": [iso(10), iso(11)], "b.parquet": [iso(1), iso(23)]},
        "2": {"a.parquet": None},
        "3": {"a.parquet": [iso(5), iso(6)]},
        "4": None,
        "5": {"a.parquet": [iso(3), iso(8)]},
        "6": None,
    }


def test_datafs_size_cache_bounded_and_stale_size_recovery(tmp_path):
    """r7 verdict #7 + ADVICE: `S3Store._sizes` must stay bounded (a
    long-lived driver listing millions of files must not leak one dict
    entry per file ever seen), and a footer fetch against a STALE cached
    size (object rewritten behind the listing — outside the write-once
    contract, but survivable) must invalidate, re-HEAD, and succeed.
    Pure driver-side unit test — no Spark session."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store

    client = DirBackedFakeS3Client(str(tmp_path / "s3"))
    buf = _io.BytesIO()
    pq.write_table(pa.table({"x": [1, 2, 3]}), buf)
    blob = buf.getvalue()
    for i in range(10):
        client.put_object(Bucket="bkt", Key=f"d/f{i:02d}.parquet", Body=blob)
    fs = S3Store(client)
    fs.size_cache_max = 4
    paths = [f"s3://bkt/d/{rel}" for rel, _size, _mt in fs.list_tree("s3://bkt/d")]
    assert len(paths) == 10
    assert len(fs._sizes) <= 4  # bounded despite 10 listed files
    # evicted entries fall back to one HEAD — footer reads still work
    md = fs.parquet_metadata_many(paths, max_workers=4)
    assert all(m.num_rows == 3 for m in md)
    # stale-size recovery: poison the cache with a wrong size
    fs._cache_size(paths[0], len(blob) + 7)
    assert fs.parquet_metadata_many([paths[0]])[0].num_rows == 3
    # a genuinely non-parquet object still fails loudly
    client.put_object(Bucket="bkt", Key="d/bad.parquet", Body=b"junk")
    fs2 = S3Store(client)
    with pytest.raises(ValueError, match="bad magic"):
        fs2.parquet_metadata_many(["s3://bkt/d/bad.parquet"])
    # object stores have no empty dirs: an empty prefix lists nothing,
    # and a tree listing of empty or missing bucket dirs gives no
    # answer on either store (callers fold prior token ranges)
    assert fs.list_tree("s3://bkt/nowhere") == []
    (tmp_path / "t" / "b=0").mkdir(parents=True)
    assert SnapshotTable._file_ts_ranges_many(str(tmp_path / "t"), [0, 1]) == {
        "0": None,
        "1": None,
    }


def test_datafs_shared_pool_shutdown_and_rebuild():
    """The session I/O pool registers an atexit shutdown (r7 verdict #7);
    shutting it down is idempotent and a later pmap transparently
    rebuilds it."""
    from qwatch_spark.plans import objectstore

    assert objectstore.pmap(lambda x: x * 2, [1, 2, 3], max_workers=2) == [2, 4, 6]
    objectstore._shutdown_pool()
    objectstore._shutdown_pool()  # idempotent
    assert objectstore._pool is None
    assert objectstore.pmap(lambda x: x + 1, [1, 2, 3], max_workers=2) == [2, 3, 4]
    assert objectstore._pool is not None
