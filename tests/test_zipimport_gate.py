"""The stat gate on `zipimporter.invalidate_caches` (qwatch_spark.zipimport_gate):
an unchanged archive is not re-read, a rewritten one is, the gate is
live inside real Spark Python workers and absent from the driver, and
it stays out of the way on Python >= 3.13."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import qwatch_spark  # noqa: F401 (the import installs the gate in workers)
from qwatch_spark import zipimport_gate

PY_LT_313 = sys.version_info < (3, 13)


def _write_zip(path, files: dict) -> None:
    """Replace `path` by rename, as a deploy of a new archive would."""
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


def _counting_reads(monkeypatch, archive: str) -> list:
    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not PY_LT_313, reason="3.13+ invalidates lazily; no gate")
def test_gate_skips_unchanged_archive_and_rereads_rewritten(tmp_path, monkeypatch):
    archive = str(tmp_path / "zgate.zip")
    _write_zip(archive, {"zgate_pkg/__init__.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("zgate_pkg", "zgate_pkg.added"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    import zgate_pkg

    assert zgate_pkg.VALUE == 1
    # monkeypatch restores the original method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = _counting_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads, "the ungated method re-reads the archive on every call"
    assert zipimport_gate.install()
    importlib.invalidate_caches()  # first gated call: no stamp yet, reads
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], "an unchanged archive must not be re-read"

    _write_zip(archive, {
        "zgate_pkg/__init__.py": "VALUE = 1\n",
        "zgate_pkg/added.py": "VALUE = 2\n",
    })
    importlib.invalidate_caches()
    assert reads, "a rewritten archive must be re-read"
    from zgate_pkg import added

    assert added.VALUE == 2


def test_gate_is_a_noop_on_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipimport_gate.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_process_stays_unpatched():
    assert not zipimport_gate.in_spark_worker()
    assert zipimport.zipimporter.invalidate_caches is zipimport_gate._ORIGINAL
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.skipif(not PY_LT_313, reason="3.13+ invalidates lazily; no gate")
def test_gate_live_in_spark_workers(spark):
    """Inside a real Python worker, a second `importlib.invalidate_caches()`
    (what PySpark runs at the start of every task) re-reads no archive,
    while the ungated method, called on the same importers, does."""

    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        from qwatch_spark import zipimport_gate

        reads = [0]
        original = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads[0] = 0
            importlib.invalidate_caches()
            second = reads[0]
            importers = [v for v in sys.path_importer_cache.values()
                         if isinstance(v, zipimport.zipimporter)]
            reads[0] = 0
            for imp in importers:
                zipimport_gate._ORIGINAL(imp)
            ungated = reads[0]
        finally:
            zipimport._read_directory = original
        gated = zipimport.zipimporter.invalidate_caches is zipimport_gate._gated_invalidate_caches
        return pd.Series([f"{gated},{len(importers)},{second},{ungated}"] * len(s))

    from pyspark.sql.functions import pandas_udf

    udf = pandas_udf(probe, "string")
    rows = spark.range(8).repartition(4).select(udf("id").alias("r")).distinct().collect()
    assert rows
    for r in rows:
        gated, n_importers, second, ungated = r["r"].split(",")
        assert gated == "True"
        assert int(n_importers) > 0 and int(ungated) >= int(n_importers)
        assert int(second) == 0, r["r"]
