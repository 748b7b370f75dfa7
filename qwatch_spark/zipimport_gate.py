"""Stat-gated `zipimport` cache invalidation inside PySpark Python workers.

PySpark calls `importlib.invalidate_caches()` at the start of every task
(`pyspark/worker_util.py::setup_spark_files`). Before Python 3.13 that
makes every `zipimport.zipimporter` the worker holds eagerly re-read its
archive's whole central directory: a worker holds ~16 importers over
`pyspark.zip` (~1,300 entries) and the py4j zip, plus one per
`--py-files` archive. Profiled over 96 tasks of an identity pandas UDF
(local[4], Python 3.11), those re-reads were 78% of the Python worker's
CPU. CPython 3.13 only drops the cached directory and re-reads it
lazily, so there the per-task cost is already gone.

On Python < 3.13, inside a Spark Python worker, importing the package
replaces `zipimporter.invalidate_caches` with `_gated_invalidate_caches`:
an importer re-reads its archive only when the archive's
`(st_ino, st_mtime_ns, st_size)` differs from the stamp taken when that
importer last re-read it; otherwise the call returns at the cost of one
`os.stat`. An archive replaced by rename (new inode) or rewritten to a
new size or mtime is re-read as before. An in-place rewrite that keeps
the inode, the size and the mtime to the nanosecond is not; nothing
ships code to a worker that way. Each importer's first call after the
patch still re-reads (it has no stamp yet), so a reused worker pays the
directory reads on at most two tasks instead of on every task.

The driver process is never patched: the gate is active only where the
interpreter's main module is PySpark's worker daemon or worker.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches
_WORKER_MAINS = ("pyspark.daemon", "pyspark.worker")


def _gated_invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, skipped while the archive is the
    one this importer last read. The stamp is taken BEFORE the read, so
    an archive that changes during the read is read again next time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:  # gone or unreadable: the original clears the cache
        key = None
    if key is not None and key == getattr(self, "_qwatch_read_key", None):
        return
    _ORIGINAL(self)
    self._qwatch_read_key = key


def in_spark_worker() -> bool:
    """True inside a PySpark Python worker process: one forked from
    `python -m pyspark.daemon`, or a `python -m pyspark.worker`."""
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None) in _WORKER_MAINS


def install() -> bool:
    """Patch `zipimporter.invalidate_caches` with the stat gate; True when
    patched. A no-op on Python >= 3.13, whose invalidation is lazy."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches
    return True


if in_spark_worker():
    install()
