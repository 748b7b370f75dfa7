"""Fingerprint bloom side index (plans/fp_bloom.py): the O(batch)
cross-epoch exact-dup gate must decide IDENTICALLY to the full
table-scan anti-join it replaces, skip table I/O entirely for all-new
batches, survive enablement on a table with history, consolidation at
maintenance time, and superset orphan segments."""

import datetime as dt
import os

import numpy as np
import pytest

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.plans.fp_bloom import FpBloomIndex, _Bloom, _fp_words
from qwatch_spark.plans.snapshot_table import SnapshotTable

TS = lambda d: dt.datetime(2024, 1, d)  # noqa: E731

PAGE_A = (
    b"<html><body>"
    + b"the quick brown fox jumps over the lazy dog and runs far away " * 4
    + b"</body></html>"
)
PAGE_B = (
    b"<html><body>"
    + b"a different page of words and the finest content of the web " * 4
    + b"</body></html>"
)
PAGE_C = (
    b"<html><body>"
    + b"yet another body of plain readable text that scores well enough " * 4
    + b"</body></html>"
)

FEED = (
    "seq long, op string, url string, warc_ts timestamp, html binary, "
    "lang string, source string"
)

RULES = ("valid_url", "lang_gate", "extract_text", "exact_dup_gate")


def cfg(fp_index: bool, write_mode: str = "auto") -> PipelineConfig:
    return PipelineConfig(
        n_buckets=4, rules=RULES, fp_index=fp_index, write_mode=write_mode
    )


def apply(spark, table, rows, epoch, c):
    return apply_changes(
        spark, spark.createDataFrame(rows, FEED), table, epoch, c
    )


def final_state(spark, table):
    return sorted(
        (r["url"], r["warc_ts"], r["text"]) for r in table.read(spark).collect()
    )


# the scenario feed: cross-epoch exact dup, a key refreshing its own
# unchanged content (must merge), a delete followed by the deleted
# content re-entering on another key (must re-enter), plus fresh pages
EPOCHS = [
    [
        (1, "I", "https://a.ex/1", TS(1), PAGE_A, "en", "s"),
        (2, "I", "https://a.ex/2", TS(2), PAGE_B, "en", "s"),
    ],
    [
        (3, "I", "https://a.ex/dup", TS(3), PAGE_A, "en", "s"),  # cross-epoch dup
        (4, "U", "https://a.ex/2", TS(4), PAGE_B, "en", "s"),  # self-refresh
        (5, "I", "https://a.ex/3", TS(5), PAGE_C, "en", "s"),
    ],
    [
        (6, "D", "https://a.ex/1", TS(6), None, None, "s"),  # tombstone A
    ],
    [
        (7, "I", "https://a.ex/4", TS(7), PAGE_A, "en", "s"),  # re-enter after D
    ],
]


def run_epochs(spark, path, c):
    t = SnapshotTable.create(path, n_buckets=4)
    for e, rows in enumerate(EPOCHS):
        apply(spark, t, rows, e, c)
    return t


def test_bloom_no_false_negatives_and_low_fp_rate():
    rng = np.random.default_rng(7)

    def mk(n):  # full-128-bit entropy, like real md5 digests
        return [
            "%016x%016x" % (int(a), int(b))
            for a, b in zip(
                rng.integers(0, 1 << 63, n), rng.integers(0, 1 << 63, n)
            )
        ]

    members, others = mk(10_000), mk(10_000)
    b = _Bloom(1 << 18)  # 16 bits/key at n=16k
    b.add_many(*_fp_words(members))
    assert b.test_many(*_fp_words(members)).all(), "false negative"
    fp_rate = b.test_many(*_fp_words(others)).mean()
    assert fp_rate < 0.02, fp_rate


@pytest.mark.parametrize("write_mode", ["auto", "delta"])
def test_bloom_gate_decides_identically_to_full_scan(spark, tmp_path, write_mode):
    t_off = run_epochs(spark, str(tmp_path / "off"), cfg(False, write_mode))
    t_on = run_epochs(spark, str(tmp_path / "on"), cfg(True, write_mode))
    assert final_state(spark, t_on) == final_state(spark, t_off)
    urls = sorted(u for u, _, _ in final_state(spark, t_on))
    # dup never entered; tombstoned key gone; re-entry after delete worked
    assert urls == [
        "https://a.ex/2",
        "https://a.ex/3",
        "https://a.ex/4",
    ]
    assert FpBloomIndex(t_on.path).enabled()
    assert not FpBloomIndex(t_off.path).enabled()


def test_all_new_batch_skips_table_io(spark, tmp_path, monkeypatch):
    """With the index enabled, an epoch whose content is all-new must
    never scan the table: on the delta write path neither read_buckets
    nor read_raw may run during the apply."""
    c = cfg(True, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)  # enables the index (rebuild)
    calls = {"n": 0}
    for name in ("read_buckets", "read_raw"):
        orig = getattr(SnapshotTable, name)

        def counted(self, *a, _orig=orig, **kw):
            calls["n"] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(SnapshotTable, name, counted)
    apply(
        spark,
        t,
        [(9, "I", "https://a.ex/new", TS(9), PAGE_C, "en", "s")],
        1,
        c,
    )
    assert calls["n"] == 0, "all-new batch touched the table"
    assert sorted(r["url"] for r in t.read(spark).collect()) == [
        "https://a.ex/1",
        "https://a.ex/2",
        "https://a.ex/new",
    ]


def test_enable_on_existing_table_rebuilds_history(spark, tmp_path):
    """Turning fp_index on mid-life: the one-time rebuild must cover
    fingerprints ingested BEFORE enablement, so an old page's duplicate
    is still rejected afterwards."""
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, cfg(False))
    c = cfg(True)
    apply(
        spark,
        t,
        [(10, "I", "https://a.ex/dup", TS(10), PAGE_A, "en", "s")],
        1,
        c,
    )
    assert sorted(r["url"] for r in t.read(spark).collect()) == [
        "https://a.ex/1",
        "https://a.ex/2",
    ]


def test_maintenance_rebuild_consolidates_segments(spark, tmp_path):
    from qwatch_spark.plans.maintenance import maintain_once

    c = cfg(True, "delta")
    t = run_epochs(spark, str(tmp_path / "t"), c)
    idx = FpBloomIndex(t.path)
    assert any(
        os.path.basename(p).startswith("seg-e") for p in idx.segment_paths()
    )
    out = maintain_once(spark, t.path, retention_s=0)
    assert out["fp_index_rebuilt"]
    names = [os.path.basename(p) for p in idx.segment_paths()]
    assert len(names) == 1 and names[0].startswith("full-w"), names
    # gate still correct through the consolidated filter
    apply(
        spark,
        t,
        [(20, "I", "https://a.ex/dup2", TS(20), PAGE_B, "en", "s")],
        len(EPOCHS),
        c,
    )
    assert "https://a.ex/dup2" not in {
        r["url"] for r in t.read(spark).collect()
    }


def test_rebuild_on_stale_handle_keeps_unseen_epoch_segment(spark, tmp_path):
    """ADVICE r6: rebuild()'s deletion watermark must come from the SAME
    manifest snapshot its live-row read uses (table._manifest), not a
    fresh reload. A racer commits epoch 1 AFTER the maintainer's table
    handle was constructed; the stale handle's read cannot see epoch 1's
    rows, so epoch 1's bloom segment must SURVIVE the rebuild — deleting
    it would permanently lose those fingerprints and let later
    duplicates bloom-miss straight past the gate."""
    c = cfg(True, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, [(1, "I", "https://a.ex/1", TS(1), PAGE_A, "en", "s")], 0, c)

    stale = SnapshotTable(t.path)  # maintainer's handle: sees epoch 0 only
    racer = SnapshotTable(t.path)
    apply(
        spark, racer,
        [(2, "I", "https://a.ex/2", TS(2), PAGE_B, "en", "s")], 1, c,
    )

    idx = FpBloomIndex(t.path)
    idx.rebuild(spark, stale)
    names = [os.path.basename(p) for p in idx.segment_paths()]
    assert any(n.startswith("seg-e1-") for n in names), names

    # behavioral proof: a duplicate of the racer's page is still caught
    fresh = SnapshotTable(t.path)
    apply(
        spark, fresh,
        [(3, "I", "https://a.ex/dup2", TS(3), PAGE_B, "en", "s")], 2, c,
    )
    assert "https://a.ex/dup2" not in {
        r["url"] for r in fresh.read(spark).collect()
    }


def test_rebuild_keeps_newer_concurrent_full_filter(spark, tmp_path):
    """A concurrent rebuild that consolidated at a NEWER watermark holds
    fingerprints our stale read cannot see; our rebuild must not delete
    its full-w file (only ones at <= our watermark are superseded)."""
    c = cfg(True, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, [(1, "I", "https://a.ex/1", TS(1), PAGE_A, "en", "s")], 0, c)
    stale = SnapshotTable(t.path)
    idx = FpBloomIndex(t.path)
    newer = _Bloom(1 << 13)
    newer.add_many(*_fp_words(["%032x" % 12345]))
    idx._write_filter("full-w9-cafebabe.npz", newer)  # watermark 9 > ours (0)
    idx.rebuild(spark, stale)
    names = [os.path.basename(p) for p in idx.segment_paths()]
    assert any(n.startswith("full-w9-") for n in names), names
    assert any(n.startswith("full-w0-") for n in names), names


def test_orphan_superset_segment_is_harmless(spark, tmp_path):
    """A crashed writer's segment (fps never committed) only ADDS bloom
    hits; the exact check finds no live owner and the rows ingest."""
    c = cfg(True, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)
    idx = FpBloomIndex(t.path)
    rng = np.random.default_rng(3)
    orphan = _Bloom(1 << 13)
    # saturate a fake segment so EVERYTHING bloom-hits it
    orphan.add_many(
        *_fp_words(["%032x" % int(x) for x in rng.integers(0, 1 << 63, 5000)])
    )
    idx._write_filter("seg-e999-deadbeef.npz", orphan)
    apply(
        spark,
        t,
        [(30, "I", "https://a.ex/fresh", TS(8), PAGE_C, "en", "s")],
        1,
        c,
    )
    assert "https://a.ex/fresh" in {r["url"] for r in t.read(spark).collect()}


def test_candidate_cap_falls_back_to_full_scan(spark, tmp_path):
    """fp_cand_cap=0 forces every bloom hit over the cap — the gate must
    fall back to the full anti-join and still decide correctly."""
    c = PipelineConfig(n_buckets=4, rules=RULES, fp_index=True, fp_cand_cap=0)
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)
    apply(spark, t, EPOCHS[1], 1, c)
    urls = sorted(r["url"] for r in t.read(spark).collect())
    assert urls == ["https://a.ex/1", "https://a.ex/2", "https://a.ex/3"]


def test_property_bloom_equals_full_scan_on_random_feeds(spark, tmp_path):
    """For ANY epoching of a random I/U/D feed with colliding contents,
    the bloom-indexed gate and the full-scan gate converge to the same
    final table (hypothesis-style seeds, run as a plain loop so each
    example's Spark work stays visible in the test budget)."""
    import random

    pages = [PAGE_A, PAGE_B, PAGE_C]
    for seed in (3, 17, 41):
        rng = random.Random(seed)
        rows, ts = [], 0
        for s in range(60):
            ts += 1
            op = rng.choice(["I", "I", "U", "D"])
            url = f"https://r.ex/{rng.randint(0, 12)}"
            page = rng.choice(pages)
            rows.append(
                (s, op, url, TS(1 + ts % 25),
                 None if op == "D" else page,
                 None if op == "D" else "en", "s")
            )
        n_cuts = rng.randint(0, 3)
        cuts = sorted(rng.sample(range(1, len(rows)), n_cuts)) if n_cuts else []
        epochs, prev = [], 0
        for c in [*cuts, len(rows)]:
            epochs.append(rows[prev:c])
            prev = c
        states = {}
        for mode in ("off", "on"):
            c = cfg(mode == "on", "delta")
            t = SnapshotTable.create(str(tmp_path / f"p{seed}_{mode}"), n_buckets=4)
            for e, batch in enumerate(ep for ep in epochs if ep):
                apply(spark, t, batch, e, c)
            states[mode] = final_state(spark, t)
        assert states["on"] == states["off"], f"seed {seed} diverged"


def test_streaming_runner_with_fp_index_matches_without(spark, tmp_path):
    """The full Structured Streaming path (run_stream → foreachBatch →
    apply) with fp_index on vs off: byte-identical final state, bloom
    segments written per non-empty epoch."""
    import os

    from qwatch_spark.datagen import write_feed_files
    from qwatch_spark.streaming import run_stream

    feed = str(tmp_path / "feed")
    write_feed_files(spark, feed, 1500, files=4)
    states = {}
    for mode in ("off", "on"):
        c = PipelineConfig(
            n_buckets=8,
            rules=RULES,
            write_mode="delta",
            fp_index=(mode == "on"),
            max_files_per_trigger=2,
        )
        t = SnapshotTable.create(str(tmp_path / f"t_{mode}"), n_buckets=8)
        run_stream(spark, feed, t.path, str(tmp_path / f"ck_{mode}"), c)
        states[mode] = final_state(spark, t)
    assert states["on"] == states["off"]
    segs = os.listdir(str(tmp_path / "t_on" / "_fp_bloom"))
    assert any(s.startswith("seg-e") for s in segs)
    assert not os.path.exists(str(tmp_path / "t_off" / "_fp_bloom"))


def test_inline_segment_merge_bounds_file_count(spark, tmp_path):
    """With fp_merge_segments low, many committed epochs OR-fold into
    one segment per size class — correctness intact (the merged filter
    is the exact set union), in-flight (uncommitted-epoch) segments
    untouched."""
    c = PipelineConfig(
        n_buckets=4, rules=RULES, fp_index=True, write_mode="delta",
        fp_merge_segments=3,
    )
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    pages = [PAGE_A, PAGE_B, PAGE_C]
    for e in range(8):  # one fresh single-row epoch each => equal-size segs
        apply(
            spark, t,
            [(100 + e, "I", f"https://m.ex/{e}", TS(1 + e), pages[e % 3] + str(e).encode(), "en", "s")],
            e, c,
        )
    idx = FpBloomIndex(t.path)
    seg_files = [
        os.path.basename(p)
        for p in idx.segment_paths()
        if os.path.basename(p).startswith("seg-e")
    ]
    assert len(seg_files) <= c.fp_merge_segments + 1, seg_files
    # correctness through the merged filters: an old epoch's content is
    # still rejected as a cross-key duplicate
    apply(
        spark, t,
        [(500, "I", "https://m.ex/dup", TS(20), pages[0] + b"0", "en", "s")],
        8, c,
    )
    urls = {r["url"] for r in t.read(spark).collect()}
    assert "https://m.ex/dup" not in urls and len(urls) == 8


def test_probe_survives_concurrent_consolidation_and_rejects_corruption(
    spark, tmp_path
):
    """A probe plan built BEFORE a rebuild must still flag known
    members AFTER the rebuild deleted the segments it listed (fallback
    to the directory's current superset); a corrupt segment file fails
    loudly instead of silently missing duplicates."""
    c = cfg(True, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)
    idx = FpBloomIndex(t.path)

    from pyspark.sql import functions as F

    from qwatch_spark.operators.rules import content_fingerprint

    member_fp = (
        spark.createDataFrame([("x",)], "x string")
        .select(
            F.md5(
                F.trim(
                    F.regexp_replace(
                        F.lower(
                            F.lit(
                                t.read(spark)
                                .filter(F.col("url") == "https://a.ex/1")
                                .first()["text"]
                            )
                        ),
                        "\\s+",
                        " ",
                    )
                )
            ).alias("fp")
        )
        .first()["fp"]
    )
    probe_df = spark.createDataFrame(
        [(member_fp,), ("0" * 32,)], "fp string"
    ).withColumn("c", idx.maybe_member(F.col("fp")))  # lists CURRENT segs
    idx.rebuild(spark, t)  # deletes those segs, writes full-*
    got = {r["fp"]: r["c"] for r in probe_df.collect()}
    assert got[member_fp] is True, "member lost across consolidation"
    assert got["0" * 32] is False

    # corruption is loud
    bad = os.path.join(idx.dir, "seg-e77-bad.npz")
    with open(bad, "wb") as fh:
        fh.write(b"not an npz at all")
    probe2 = spark.createDataFrame([(member_fp,)], "fp string").withColumn(
        "c", idx.maybe_member(F.col("fp"))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="corrupt bloom segment"):
        probe2.collect()
    os.unlink(bad)


def test_disk_state_authoritative_append_with_fp_index_false(spark, tmp_path):
    """THE invariant-breaking config drift (ADVICE r4, high): a run with
    fp_index=False against a table whose index an EARLIER run enabled
    must still append segments for what it commits — the probe path
    keys off the on-disk index, so skipping the append would let later
    duplicates of this run's content bloom-miss straight past the gate."""
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, cfg(True, "delta"))  # enables the index
    assert FpBloomIndex(t.path).enabled()
    # fresh content committed by a run that does NOT ask for the index
    apply(
        spark,
        t,
        [(30, "I", "https://a.ex/c", TS(8), PAGE_C, "en", "s")],
        1,
        cfg(False, "delta"),
    )
    # ... must still be bloom-visible: its duplicate is rejected even
    # though every apply after enablement ran with fp_index=False
    apply(
        spark,
        t,
        [(31, "I", "https://a.ex/c-dup", TS(9), PAGE_C, "en", "s")],
        2,
        cfg(False, "delta"),
    )
    urls = sorted(r["url"] for r in t.read(spark).collect())
    assert "https://a.ex/c-dup" not in urls, (
        "duplicate admitted: segment append was skipped while the "
        "enabled index kept probing"
    )
    assert "https://a.ex/c" in urls


@pytest.mark.parametrize("write_mode", ["auto", "delta"])
def test_fp_auto_enables_past_row_threshold(spark, tmp_path, write_mode):
    """fp_index='auto' flips the index on only once the manifest's
    live-row estimate crosses fp_auto_rows; below it no index exists
    (small tables never pay the fixed per-epoch cost), above it the
    cross-epoch gate goes through the bloom like fp_index=True."""
    c = PipelineConfig(
        n_buckets=4,
        rules=RULES,
        fp_index="auto",
        fp_auto_rows=3,
        write_mode=write_mode,
    )
    page_d = (
        b"<html><body>"
        + b"entirely fresh words about gardens rivers and mountain trails " * 4
        + b"</body></html>"
    )
    page_e = (
        b"<html><body>"
        + b"another unique page discussing recipes spices and slow cooking " * 4
        + b"</body></html>"
    )
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)  # commits 2 rows
    assert not FpBloomIndex(t.path).enabled(), "flipped below threshold"
    assert t.rows_est == 2
    apply(
        spark,
        t,
        [
            (40, "I", "https://a.ex/c2", TS(3), PAGE_C, "en", "s"),
            (41, "I", "https://a.ex/d", TS(3), page_d, "en", "s"),
        ],
        1,
        c,
    )  # est was 2 (<3) at apply time; now 4
    assert not FpBloomIndex(t.path).enabled()
    assert t.rows_est == 4
    # next apply sees est 4 >= 3: it REQUESTS enablement (marker file)
    # but never pays the O(table) bootstrap inline — the epoch itself
    # still gates through the full-scan path and appends its own
    # segment for the request window
    apply(
        spark,
        t,
        [(42, "I", "https://a.ex/fresh", TS(4), page_e, "en", "s")],
        2,
        c,
    )
    idx = FpBloomIndex(t.path)
    assert not idx.enabled(), "apply paid the bootstrap inline"
    assert idx.requested(), "auto never requested enablement"
    assert idx.segment_paths(), "request-window epoch skipped its segment"
    # maintenance performs the deferred bootstrap
    from qwatch_spark.plans.maintenance import maintain_once

    res = maintain_once(spark, t.path, vacuum_enabled=False)
    assert res.get("fp_index_bootstrapped") is True
    assert FpBloomIndex(t.path).enabled(), "maintenance never flipped"
    assert not FpBloomIndex(t.path).requested(), "marker not cleared"
    # gate correctness through the auto-enabled index, incl. pre-enable
    # history (the rebuild) and post-enable appends
    apply(
        spark,
        t,
        [
            (43, "I", "https://a.ex/dupB", TS(5), PAGE_B, "en", "s"),
            (44, "I", "https://a.ex/dupC2", TS(5), PAGE_C, "en", "s"),
        ],
        3,
        c,
    )
    urls = sorted(r["url"] for r in t.read(spark).collect())
    assert "https://a.ex/dupB" not in urls
    assert "https://a.ex/dupC2" not in urls
    assert "https://a.ex/fresh" in urls


def test_rows_est_is_a_strict_upper_bound(spark, tmp_path):
    """rows_est counts committed non-delete upserts and never subtracts
    deletes: a delete of an absent key must not drag the estimate below
    the true live count (est >= live always)."""
    c = cfg(False, "delta")
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)
    assert t.rows_est == 2
    # delete of a key that was never live: est must NOT drop below live
    apply(
        spark, t,
        [(50, "D", "https://a.ex/never-seen", TS(6), None, None, "s")],
        1, c,
    )
    assert t.rows_est == 2
    live = t.read(spark).count()
    assert t.rows_est >= live


@pytest.mark.parametrize("write_mode", ["auto", "delta"])
def test_fp_auto_never_rebuilds_on_apply_path(spark, tmp_path, write_mode,
                                              monkeypatch):
    """With fp_index='auto' NO apply epoch may run the O(table)
    bootstrap rebuild inline (at 10^10 rows it would stall the flipping
    epoch for hours) — and the request-window epochs must still gate
    duplicates correctly through the full-scan path."""
    c = PipelineConfig(
        n_buckets=4, rules=RULES, fp_index="auto", fp_auto_rows=2,
        write_mode=write_mode,
    )

    def boom(self, *a, **kw):
        raise AssertionError("rebuild() ran inside an apply epoch")

    monkeypatch.setattr(FpBloomIndex, "rebuild", boom)
    t = SnapshotTable.create(str(tmp_path / "t"), n_buckets=4)
    apply(spark, t, EPOCHS[0], 0, c)  # 2 rows: est crosses on next epoch
    # request-window epoch: crosses the threshold AND carries a
    # cross-epoch duplicate — the full-scan gate must still catch it
    apply(spark, t, EPOCHS[1], 1, c)
    idx = FpBloomIndex(t.path)
    assert idx.requested() and not idx.enabled()
    urls = sorted(r["url"] for r in t.read(spark).collect())
    assert "https://a.ex/dup" not in urls, (
        "request-window duplicate passed the gate"
    )
    assert "https://a.ex/3" in urls
    # a second request-window epoch with a dup of REQUEST-WINDOW content
    # (epoch 1's PAGE_C) — covered by epoch 1's own segment after the
    # bootstrap, but right now by the full scan
    apply(
        spark, t,
        [(60, "I", "https://a.ex/dupC", TS(6), PAGE_C, "en", "s")],
        2, c,
    )
    assert "https://a.ex/dupC" not in {
        r["url"] for r in t.read(spark).collect()
    }
    monkeypatch.undo()
    # deferred bootstrap covers pre-request history AND request-window
    # epochs; post-enable a dup of either must bloom-hit and be rejected
    from qwatch_spark.plans.maintenance import maintain_once

    res = maintain_once(spark, t.path, vacuum_enabled=False)
    assert res.get("fp_index_bootstrapped") is True
    assert FpBloomIndex(t.path).enabled()
    apply(
        spark, t,
        [
            (70, "I", "https://a.ex/dupA", TS(7), PAGE_A, "en", "s"),
            (71, "I", "https://a.ex/dupC3", TS(7), PAGE_C, "en", "s"),
        ],
        3, c,
    )
    urls = {r["url"] for r in t.read(spark).collect()}
    assert "https://a.ex/dupA" not in urls
    assert "https://a.ex/dupC3" not in urls


def test_fp_auto_bootstrap_races_live_applier(spark, tmp_path):
    """The race the deferred bootstrap introduced: maintain_once rebuilds
    the index WHILE an applier thread keeps committing epochs (CAS
    second-writer setup, as in tests/test_maintenance.py). The finished
    index must remain a SUPERSET of every committed live fingerprint —
    pages landing before the request, inside the request window, and
    mid-rebuild alike — so a duplicate of ANY committed page is still
    gated after enablement. (Request-window epochs append their own
    segments; the rebuild's read snapshot may or may not contain them;
    overlap is fine, a gap would resurrect duplicates.)"""
    import threading

    from qwatch_spark.plans.objectstore import CommitConflictError
    from qwatch_spark.plans.maintenance import maintain_once

    def page(i: int) -> bytes:
        return (
            b"<html><body>"
            + (b"fresh page number %d full of plainly readable distinct "
               b"words about rivers gardens and mountain trails " % i) * 4
            + b"</body></html>"
        )

    c = PipelineConfig(
        n_buckets=4, rules=RULES, fp_index="auto", fp_auto_rows=2,
        write_mode="delta",
    )
    path = str(tmp_path / "t")
    SnapshotTable.create(path, n_buckets=4)

    def apply_retry(rows, epoch, attempts=50):
        for _ in range(attempts):
            try:
                return apply_changes(
                    spark, spark.createDataFrame(rows, FEED),
                    SnapshotTable(path), epoch, c,
                )
            except CommitConflictError:
                continue
        raise AssertionError(f"epoch {epoch} never applied")

    # epoch 0 commits 2 rows (est crosses on the NEXT apply); epoch 1
    # requests enablement and opens the request window
    apply_retry(
        [(i, "I", f"https://a.ex/p{i}", TS(1), page(i), "en", "s")
         for i in range(2)], 0,
    )
    apply_retry(
        [(2, "I", "https://a.ex/p2", TS(2), page(2), "en", "s")], 1,
    )
    idx = FpBloomIndex(path)
    assert idx.requested() and not idx.enabled()

    errors: list[Exception] = []
    done = threading.Event()

    def applier():
        try:
            for e in range(2, 10):
                i = e + 1  # pages p3..p10, one per epoch
                apply_retry(
                    [(10 + i, "I", f"https://a.ex/p{i}", TS(3), page(i),
                      "en", "s")], e,
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            done.set()

    def maintainer():
        try:
            while not done.is_set() or not FpBloomIndex(path).enabled():
                maintain_once(spark, path, vacuum_enabled=False)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    ta, tm = threading.Thread(target=applier), threading.Thread(target=maintainer)
    ta.start(), tm.start()
    ta.join(600), tm.join(600)
    assert not errors, errors
    assert FpBloomIndex(path).enabled()
    t = SnapshotTable(path)
    live = {r["url"] for r in t.read(spark).collect()}
    assert live == {f"https://a.ex/p{i}" for i in range(11)}
    # superset check: duplicates of pre-request (p0), request-window
    # (p2), and mid-race (p5, p10) content must ALL be gated; one
    # genuinely fresh page must pass
    apply_retry(
        [(100, "I", "https://a.ex/dup0", TS(8), page(0), "en", "s"),
         (101, "I", "https://a.ex/dup2", TS(8), page(2), "en", "s"),
         (102, "I", "https://a.ex/dup5", TS(8), page(5), "en", "s"),
         (103, "I", "https://a.ex/dup10", TS(8), page(10), "en", "s"),
         (104, "I", "https://a.ex/new", TS(8), page(99), "en", "s")], 10,
    )
    after = {r["url"] for r in SnapshotTable(path).read(spark).collect()}
    assert after == live | {"https://a.ex/new"}, (
        sorted(after - live - {"https://a.ex/new"})
    )
