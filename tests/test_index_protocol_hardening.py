"""Round-9 hardening of the index protocol's failure edges (the r8
verdict's "What's wrong" items): vacuum must not retire un-folded delta
dirs behind a crashed fold, the local pointer read must not translate
real I/O errors into "legacy layout", and every S3 GET — index pointer,
blob, CAS commit-log slot — must accept the same missing-key code set
exists() does."""

import json
import os

import pytest
from pyspark.sql import functions as F

from qwatch_spark.operators.similarity import _pointer_read
from qwatch_spark.plans.objectstore import LocalStore, S3ClientError, S3Store
from qwatch_spark.plans.snapshot_table import CasLog


def test_local_pointer_read_missing_and_corrupt_are_legacy(tmp_path):
    fs = LocalStore()
    d = tmp_path / "idx"
    d.mkdir()
    assert _pointer_read(fs, str(d)) == -1  # no pointer: legacy layout
    (d / "_current").write_text("{not json")
    assert _pointer_read(fs, str(d)) == -1  # corrupt: legacy, matches S3
    (d / "_current").write_text(json.dumps({"wrong_key": 3}))
    assert _pointer_read(fs, str(d)) == -1
    (d / "_current").write_text(json.dumps({"version": 7}))
    assert _pointer_read(fs, str(d)) == 7


def test_local_pointer_read_real_io_error_propagates(tmp_path):
    """An EISDIR/EACCES-class error on `_current` must RAISE, not read
    as -1: a -1 here would route an append's delta files into the index
    ROOT of a versioned index — invisible to probes and folds."""
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
    assert _pointer_read(fs, "s3://b/idx") == -1  # missing -> legacy
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
    ivf_build_index(emb, path, n_cells=2)  # legacy flat layout
    ivf_maintain(spark, path, n_cells=2, lloyd_iters=0)  # -> _v0 current
    data, cur = _idx_current(path)
    assert cur == 0
    # superseded legacy dirs still present pre-vacuum
    legacy = [e for e in os.listdir(path) if e.startswith(("cell=", "_seeds"))]
    assert legacy
    # crash-simulate: the fold marker never cleared on the CURRENT dir
    open(_fold_marker(data), "w").write("crashed mid-fold")
    removed = ivf_vacuum(path, retention_s=0.0)
    assert all(
        not r.rstrip("/").split("/")[-1].startswith(("cell=", "_seeds", "_v0"))
        or r.endswith(".claim")
        for r in removed
    )
    assert any(
        e.startswith("cell=") for e in os.listdir(path)
    ), "superseded data dirs must survive a pending fold"
    # marker cleared (maintenance re-ran / fold landed): vacuum resumes
    os.remove(_fold_marker(data))
    removed = ivf_vacuum(path, retention_s=0.0)
    assert any("cell=" in r for r in removed)
    # the index still serves
    qv = [0.0, 0.0, 1.0]
    assert ivf_probe_topk(spark, path, qv, k=3, n_probe=2).count() == 3
