"""Round-9 hardening of the index protocol's failure edges (the r8
verdict's "What's wrong" items): vacuum must not retire un-folded delta
dirs behind a crashed fold, the local pointer read must not translate
real I/O errors into "no index", and every S3 GET — index pointer,
blob, CAS commit-log slot — must accept the same missing-key code set
exists() does."""

import json
import os

import pytest
from pyspark.sql import functions as F

from qwatch_spark.operators.similarity import _pointer_read
from qwatch_spark.plans.objectstore import LocalStore, S3ClientError, S3Store
from qwatch_spark.plans.snapshot_table import CasLog


def test_local_pointer_read_missing_is_no_index_and_corrupt_raises(tmp_path):
    fs = LocalStore()
    d = tmp_path / "idx"
    d.mkdir()
    assert _pointer_read(fs, str(d)) is None  # no pointer: no index
    for corrupt in ("{not json", json.dumps({"wrong_key": 3}), "[7]"):
        (d / "_current").write_text(corrupt)
        with pytest.raises(ValueError, match="corrupt _current"):
            _pointer_read(fs, str(d))
    (d / "_current").write_text(json.dumps({"version": 7}))
    assert _pointer_read(fs, str(d)) == 7


def test_local_pointer_read_real_io_error_propagates(tmp_path):
    """An EISDIR/EACCES-class error on `_current` must RAISE, not read
    as "no index": a build would then re-publish `_v0` over the live
    index."""
    d = tmp_path / "idx"
    (d / "_current").mkdir(parents=True)  # open() -> IsADirectoryError
    with pytest.raises(OSError):
        _pointer_read(LocalStore(), str(d))


class _Get404Client:
    """Minimal client surface whose GET fails with a bare-"404" code —
    the real-S3/proxy shape the HEAD fix of r8 already accepts."""

    def get_object(self, Bucket, Key):  # noqa: N803 - boto3 surface
        raise S3ClientError("404", Key)


def test_s3_get_accepts_bare_404_as_missing():
    fs = S3Store(_Get404Client())
    assert fs.get("s3://b/idx/_current") is None
    assert fs.get("s3://b/idx/blob") is None
    assert _pointer_read(fs, "s3://b/idx") is None  # missing -> no index
    # a CAS commit-log slot read goes through the same error table
    assert CasLog(fs, "s3://b/tbl").read(0) is None


def test_vacuum_skips_data_dirs_while_fold_marker_pending(spark, tmp_path):
    """Crashed-fold guard: while the CURRENT version carries `_folding`,
    appends committed mid-rebuild may exist ONLY in superseded dirs —
    vacuum must leave every superseded data dir in place (claim junk may
    still go), and resume retiring them once the marker clears."""
    from qwatch_spark.operators.similarity import (
        _fold_marker,
        _idx_current,
        ivf_build_index,
        ivf_maintain,
        ivf_probe_topk,
        ivf_vacuum,
    )

    path = str(tmp_path / "ivf")
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    ivf_build_index(emb, path, n_cells=2)  # -> _v0 current
    ivf_maintain(spark, path, n_cells=2, lloyd_iters=0)  # -> _v1 current
    data, cur = _idx_current(path)
    assert cur == 1
    superseded = os.path.join(path, "_v0")
    assert os.path.isdir(superseded)
    # crash-simulate: the fold marker never cleared on the CURRENT dir
    open(_fold_marker(data), "w").write("crashed mid-fold")
    removed = ivf_vacuum(path, retention_s=0.0)
    assert all(r.endswith(".claim") for r in removed), removed
    assert os.path.isdir(superseded), (
        "superseded data dirs must survive a pending fold"
    )
    # marker cleared (maintenance re-ran / fold landed): vacuum resumes
    os.remove(_fold_marker(data))
    assert ivf_vacuum(path, retention_s=0.0) == [superseded]
    # the index still serves
    qv = [0.0, 0.0, 1.0]
    assert ivf_probe_topk(spark, path, qv, k=3, n_probe=2).count() == 3


def test_failed_build_releases_its_claim(spark, tmp_path, monkeypatch):
    """A build whose write raises leaves nothing under the index root:
    its unpublished version dir and its claim are deleted, so the next
    build at that path publishes `_v0` instead of failing typed on a
    claim no writer holds."""
    import qwatch_spark.operators.similarity as sim

    path = str(tmp_path / "ivf")
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )

    def failing_write(*_a, **_kw):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(sim, "_write_seed_rows", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        sim.ivf_build_index(emb, path, n_cells=2)
    monkeypatch.undo()
    assert not os.path.exists(path) or os.listdir(path) == []
    sim.ivf_build_index(emb, path, n_cells=2)
    assert sim._idx_current(path)[1] == 0
