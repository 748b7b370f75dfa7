"""Equivalence of the delta commit's two per-bucket stats harvests:
`footer` (driver-side parquet-footer metadata through the object store,
the default) and `job` (one narrow aggregate over the written files —
the always-correct fallback, taken when `_delta_footer_stats` returns
None). Both must yield identical commits: same zone maps, same lineage
metrics, same rows estimate, same final table state — stats are an
optimization axis, never a semantics axis. (The task-side observe()
harvest these test names still mention was measured slower in every
regime and removed; footer and job are the only paths left.)"""

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_df
from qwatch_spark.operators import apply as apply_mod
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.plans.snapshot_table import SnapshotTable

N = 1200
N_EPOCHS = 3


def _count_footer_reads(monkeypatch):
    """Wrap `_delta_footer_stats`; returns the list of its results, one
    entry per call (None = the aggregate-job fallback ran)."""
    results = []
    real_footer = apply_mod._delta_footer_stats

    def counting_footer(*a, **kw):
        res = real_footer(*a, **kw)
        results.append(res)
        return res

    monkeypatch.setattr(apply_mod, "_delta_footer_stats", counting_footer)
    return results


def _apply_all(spark, tmp_path, name, feed, epochs, cfg=None):
    cfg = cfg or PipelineConfig(n_buckets=8, write_mode="delta")
    path = str(tmp_path / f"t_{name}")
    table = SnapshotTable.create(path, n_buckets=8)
    for e in epochs:
        batch = feed.filter(feed.epoch_hint == e).drop("epoch_hint")
        apply_changes(spark, batch, table, e, cfg)
    return SnapshotTable(path)


def _state(spark, table):
    return sorted(
        (r["url"], r["warc_ts"], r["text"])
        for r in table.read(spark).collect()
    )


def _metrics(spark, table):
    return sorted(
        tuple(r)
        for r in table.read_metrics(spark)
        .select("epoch_id", "bucket", "n_insert", "n_update", "n_delete",
                "min_seq", "max_seq")
        .collect()
    )


def _zmaps(table):
    """Per-bucket zone-map ranges in DELTA ORDER — version tokens are
    writer-unique random strings, so equivalence is over each bucket's
    ordered chain of ranges, not the token names."""
    m = table._manifest
    out = {}
    for b, e in table._buckets_of(m).items():
        ent = table._bucket_entry(e)
        z = ent["z"]
        out[b] = [z.get(tok) for tok in ent["deltas"]]
    return out, m.get("rows_est")


def test_task_footer_job_stats_equivalence(spark, tmp_path, monkeypatch):
    feed = gen_feed_df(spark, N, epoch_size=N // N_EPOCHS)
    epochs = sorted(
        r[0] for r in feed.select("epoch_hint").distinct().collect()
    )
    assert len(epochs) > 1

    footer_reads = _count_footer_reads(monkeypatch)
    t_footer = _apply_all(spark, tmp_path, "footer", feed, epochs)
    # footer path: one harvest per epoch, every one served from footers
    assert len(footer_reads) == len(epochs)
    assert all(r is not None for r in footer_reads)

    monkeypatch.setattr(
        apply_mod, "_delta_footer_stats", lambda out, files: None
    )
    t_job = _apply_all(spark, tmp_path, "job", feed, epochs)

    want_metrics = _metrics(spark, t_footer)
    want_z, want_rows = _zmaps(t_footer)
    assert want_metrics, "no lineage recorded"
    assert any(z for z in want_z.values()), "no zone maps recorded"
    assert want_rows > 0
    assert _state(spark, t_job) == _state(spark, t_footer)
    assert _metrics(spark, t_job) == want_metrics
    z, rows = _zmaps(t_job)
    assert z == want_z
    assert rows == want_rows


def test_auto_mode_is_footer_never_task(spark, tmp_path, monkeypatch):
    """The default write_mode ("auto") commits its delta epoch with
    stats harvested from footers — exactly one footer read, no
    fallback to the aggregate job, and ONE listing of the epoch dir
    (the touched buckets and the footer files come from the same
    LIST)."""
    import os

    from qwatch_spark.plans.objectstore import LocalStore

    listed = []
    real_list = LocalStore.list_tree

    def counting_list(self, d):
        listed.append(d)
        return real_list(self, d)

    monkeypatch.setattr(LocalStore, "list_tree", counting_list)
    feed = gen_feed_df(spark, 400, epoch_size=400)
    footer_reads = _count_footer_reads(monkeypatch)
    t = _apply_all(spark, tmp_path, "auto", feed, [0], PipelineConfig(n_buckets=8))
    assert len(footer_reads) == 1, "auto must harvest from footers"
    assert footer_reads[0] is not None, "auto fell back to the stats job"
    (tok,) = {d for _b, e in t._entries(None) for d in e["deltas"]}
    assert listed.count(os.path.join(t.path, "data", f"v={tok}")) == 1
