"""Fingerprint bloom side index — O(batch) cross-epoch exact dedup.

The table-aware `exact_dup_gate` (operators/rules.py) must answer, per
epoch, "is this content fingerprint already LIVE on a different key?".
Without an index that is a narrow-columns scan of the whole table PLUS a
latest-wins dedup shuffle — per-epoch cost O(table), the one cost that
still grew with table size on the delta apply path (flagged honestly in
round 3; this module closes it).

Design: an append-only set of bloom-filter SEGMENTS over every content
fingerprint ever ingested, stored beside the table
(`<table>/_fp_bloom/`). Correctness never depends on the bloom — it
only needs to be a SUPERSET of the live fingerprints, which append-only
segments give for free (dead fingerprints merely cost selectivity, and
a consolidation rebuild at maintenance time sheds them):

- each committed epoch appends one segment sized to its batch (written
  BEFORE the manifest swap: a crash after the segment write but before
  the commit leaves a harmless superset orphan; a lost CAS race that
  rebases and retries writes a second segment — also harmless);
- the gate tests each batch fingerprint against the segments with a
  vectorized pandas UDF (executors read each segment file once and
  cache it process-wide — the same shared-storage assumption the table
  data itself makes). Misses are DEFINITELY new: for them the table is
  never touched. Only bloom hits (true cross-epoch dups + the ~0.1%
  false-positive tail) proceed to an exact check that reads only the
  hash buckets owning the candidate keys — point lookups, not a table
  scan;
- `rebuild()` (run at maintenance/compaction cadence, or on first
  enablement of an existing table) consolidates all segments into one
  filter built from the CURRENTLY LIVE fingerprints, restoring
  selectivity. It deletes only segments whose epoch was committed at
  its read snapshot, so a concurrent writer's in-flight segment
  survives (same retention discipline as vacuum()).

Hashing: fingerprints are the md5 hex digests `content_fingerprint()`
already computes, so the filter needs no hash of its own — the 128-bit
digest splits into two 64-bit words and Kirsch–Mitzenmacher double
hashing (h1 + i*h2 mod m) derives the k probe positions. All per-row
work is numpy-vectorized (hex→bytes via bytes.fromhex on the joined
string, one C call per partition — no Python-per-row loop anywhere).

Scale note (10^10 rows): a consolidated filter at ~16 bits/key is
~20 GB — resident once per executor process, streamed from shared
storage, never broadcast and never on the driver's heap. Per-epoch gate
cost is O(batch) probes + O(candidates) point lookups; the O(table)
work moves to the rebuild, which maintenance already amortizes.

Reference analog: qwatch has no dedup story at all — every event
re-MERGEs into Neo4j unconditionally (outputs/neo4j.go:474-506); this
index is what lets the same semantics survive a 10^10-event feed.

Storage: every file operation goes through the object store
(`plans/objectstore`) — the same one the ANN serving indexes run their
pointer protocol on — so the bloom index works where a 100 TB table's
side indexes actually live: local paths keep plain file ops; an
`s3://` table stores segments as objects (atomic puts, one LIST per
listing, GETs for loads). The probe UDF runs on EXECUTORS, where
driver-set class hooks do not exist, so the Column captures a
picklable `store_spec` and rebuilds the client worker-side. Segment
files are write-once under nonce-unique names (the table part-file
contract), which is what lets remote caches trust the name without a
freshness stamp.
"""

from __future__ import annotations

import io
import json
import os
import time

import numpy as np
import pandas as pd

from qwatch_spark.plans.objectstore import store_for, store_from_spec, store_spec

BLOOM_DIR = "_fp_bloom"
META_FILE = "_meta.json"
REQUEST_FILE = "_enable_requested"
K_HASHES = 5
BITS_PER_KEY = 16  # m = 16n, k = 5 → ~0.1% false-positive rate
_MIN_LOG2M = 13  # 1 KiB floor keeps tiny-epoch segments trivial
_MAX_LOG2M = 33  # 1 GiB per-segment cap (sandbox safety; prod would raise)

# process-level segment cache: (path, mtime_ns) -> (m_bits, words)
_SEG_CACHE: dict[tuple[str, int], tuple[int, np.ndarray]] = {}


def _fp_words(fps) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays from an iterable of 32-char md5 hex
    strings — one bytes.fromhex over the joined string, no per-row
    Python."""
    joined = "".join(fps)
    if not joined:
        z = np.empty(0, dtype=np.uint64)
        return z, z
    raw = np.frombuffer(bytes.fromhex(joined), dtype=">u8").astype(np.uint64)
    h1, h2 = raw[0::2], raw[1::2]
    return h1, np.bitwise_or(h2, np.uint64(1))  # odd h2: full-period probe


def _size_log2m(n_keys: int) -> int:
    target = max(1, int(n_keys)) * BITS_PER_KEY
    return min(_MAX_LOG2M, max(_MIN_LOG2M, int(target - 1).bit_length()))


class _Bloom:
    """One fixed-size filter: a uint64 bit array + vectorized add/test."""

    def __init__(self, m_bits: int, words: np.ndarray | None = None):
        assert m_bits & (m_bits - 1) == 0, "m must be a power of two"
        self.m_bits = m_bits
        self.words = (
            np.zeros(m_bits // 64, dtype=np.uint64) if words is None else words
        )

    def _indexes(self, h1: np.ndarray, h2: np.ndarray, i: int) -> np.ndarray:
        with np.errstate(over="ignore"):  # uint64 wraparound is the point
            return np.bitwise_and(
                h1 + np.uint64(i) * h2, np.uint64(self.m_bits - 1)
            )

    def add_many(self, h1: np.ndarray, h2: np.ndarray) -> None:
        for i in range(K_HASHES):
            idx = self._indexes(h1, h2, i)
            np.bitwise_or.at(
                self.words,
                (idx >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << np.bitwise_and(idx, np.uint64(63)),
            )

    def test_many(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        hit = np.ones(len(h1), dtype=bool)
        for i in range(K_HASHES):
            idx = self._indexes(h1, h2, i)
            bit = np.uint64(1) << np.bitwise_and(idx, np.uint64(63))
            hit &= (
                np.bitwise_and(self.words[(idx >> np.uint64(6)).astype(np.int64)], bit)
                != 0
            )
            if not hit.any():
                break
        return hit


def _load_segment(store, path: str) -> tuple[int, np.ndarray] | None:
    """None ONLY when the file no longer exists (consolidated away by a
    concurrent rebuild/merge — the caller must then fall back to the
    directory's CURRENT files, which the superset discipline guarantees
    cover everything committed). A file that exists but cannot be
    parsed raises: silently skipping a corrupt filter would turn an
    I/O problem into missed duplicates (a false 'definitely new').

    Cache validity: local files stamp with mtime_ns (an external
    rebuild at the same path must never serve a dead snapshot); object
    stores stamp 0 without a round-trip — segment names are
    nonce-unique and write-once, so the name alone keys the cache (a
    vanished-but-cached segment is a harmless superset: its coverage
    was folded into newer files)."""
    try:
        key = (path, store.stamp(path))
    except FileNotFoundError:
        return None
    cached = _SEG_CACHE.get(key)
    if cached is None:
        data = store.get(path)
        if data is None:
            return None
        try:
            with np.load(io.BytesIO(data)) as z:
                cached = (int(z["m_bits"][0]), z["words"].astype(np.uint64))
        except (OSError, KeyError, ValueError) as e:
            raise ValueError(f"corrupt bloom segment {path}: {e}") from e
        # evict stale snapshots of the same file (mtime changed)
        for k in [k for k in _SEG_CACHE if k[0] == path and k != key]:
            del _SEG_CACHE[k]
        _SEG_CACHE[key] = cached
    return cached


def _segments(store, d: str) -> list[str]:
    """Sorted paths of the `.npz` segment files directly under `d` —
    one LIST on an object store."""
    return [
        f"{d}/{rel}"
        for rel, _size, _mt in store.list_tree(d)
        if rel.endswith(".npz") and "/" not in rel
    ]


class FpBloomIndex:
    """The `<table>/_fp_bloom/` directory: segments + enablement meta."""

    def __init__(self, table_path: str):
        self.dir = (
            f"{table_path.rstrip('/')}/{BLOOM_DIR}"
            if "://" in table_path
            else os.path.join(table_path, BLOOM_DIR)
        )
        self.store = store_for(table_path)
        if self.store is None:
            raise ValueError(f"no object store client for {table_path!r}")

    def _p(self, name: str) -> str:
        return f"{self.dir}/{name}" if "://" in self.dir else os.path.join(
            self.dir, name
        )

    # ---------- lifecycle ----------

    def enabled(self) -> bool:
        return self.store.exists(self._p(META_FILE))

    def requested(self) -> bool:
        """Enablement has been requested (fp_index="auto" crossed its
        row threshold) but the one-time bootstrap rebuild hasn't run
        yet — maintenance performs it; see `request_enable`."""
        return self.store.exists(self._p(REQUEST_FILE))

    def request_enable(self) -> None:
        """Mark the index for enablement WITHOUT paying the O(table)
        bootstrap: the apply path touches this marker when
        fp_index="auto" crosses fp_auto_rows, and `maintain_once`
        performs the rebuild at maintenance cadence as the concurrent
        CAS-safe writer it already is. Until then the gate keeps the
        full-scan path (enabled() stays False), while appliers DO start
        writing per-epoch segments (`requested()` gates the append) so
        epochs committed during the request window are covered even if
        the bootstrap's live-row snapshot predates them — double
        coverage is a harmless superset."""
        marker = self._p(REQUEST_FILE)
        if not self.store.exists(marker):
            self.store.put(marker, str(time.time()).encode())

    def segment_paths(self) -> list[str]:
        return _segments(self.store, self.dir)

    def _write_filter(self, name: str, bloom: _Bloom) -> str:
        buf = io.BytesIO()
        np.savez(
            buf,
            m_bits=np.array([bloom.m_bits], dtype=np.int64),
            words=bloom.words,
        )
        final = self._p(name)
        # atomic visibility either way: tmp+rename locally, an object
        # put on a store — readers see whole files only
        self.store.put(final, buf.getvalue())
        return final

    # ---------- distributed build ----------

    @staticmethod
    def _build_from_df(fp_df, fp_col: str, n_keys_hint: int) -> _Bloom:
        """OR-reduce per-partition filters on the executors; the driver
        receives exactly one bit array (treeAggregate), never the rows."""
        m_bits = 1 << _size_log2m(n_keys_hint)
        words_len = m_bits // 64

        def part(pdf_iter):
            # rows reach Python in Arrow batches; hex-decode + bit
            # scatter are single C calls per batch — one m-bit array
            # leaves each partition, never the rows
            b = _Bloom(m_bits)
            for pdf in pdf_iter:
                vals = pdf[fp_col].dropna()
                if len(vals):
                    b.add_many(*_fp_words(vals.tolist()))
            yield pd.DataFrame({"words": [b.words.tobytes()]})

        words = (
            fp_df.select(fp_col)
            .mapInPandas(part, "words binary")
            .rdd.treeAggregate(
                np.zeros(words_len, dtype=np.uint64),
                lambda a, r: np.bitwise_or(
                    a, np.frombuffer(r["words"], dtype=np.uint64)
                ),
                lambda a, b: np.bitwise_or(a, b),
            )
        )
        return _Bloom(m_bits, words)

    def append_segment(self, fp_df, fp_col: str, epoch_id: int, n_keys: int) -> str:
        """One segment for a committed-epoch batch. Called BEFORE the
        manifest swap; the nonce keeps concurrent retry writers from
        colliding, and duplicate segments for one epoch are harmless
        (superset)."""
        bloom = self._build_from_df(fp_df, fp_col, max(n_keys, 1))
        nonce = os.urandom(4).hex()
        return self._write_filter(f"seg-e{int(epoch_id)}-{nonce}.npz", bloom)

    def merge_small_segments(
        self, committed_epoch: int, max_files: int = 16
    ) -> int:
        """Bound probe cost between rebuilds WITHOUT a table scan:
        OR-fold committed per-epoch segments of equal size into one
        file per size class (bitwise OR of same-m blooms is exact set
        union, so the merge is pure numpy over the files themselves —
        O(total filter bytes), zero Spark jobs). Returns files removed.

        Only segments whose epoch is ≤ `committed_epoch` are folded —
        an in-flight concurrent writer's staged segment survives, same
        rule as rebuild(). Crash/race windows only ever DUPLICATE
        coverage (merged file written before originals are unlinked;
        a racing merger's extra merged file is a superset) — the next
        merge or rebuild folds the duplicates away. The returned count
        is "members folded and retired by THIS merger's accounting":
        deletes are idempotent and an object store's delete reports
        nothing about prior existence, so under a racing merger both
        processes may count the same member — the sum across racers can
        exceed the real file delta (telemetry, not an invariant)."""
        segs = []
        for p in self.segment_paths():
            name = os.path.basename(p)
            if not name.startswith("seg-e"):
                continue
            try:
                epoch = int(name.split("-")[1][1:])
            except ValueError:
                continue
            if epoch <= committed_epoch:
                segs.append((p, epoch))
        if len(segs) <= max_files:
            return 0
        by_m: dict[int, list[tuple[str, int]]] = {}
        loaded: dict[str, tuple[int, np.ndarray]] = {}
        for p, epoch in segs:
            seg = _load_segment(self.store, p)
            if seg is None:
                continue
            loaded[p] = seg
            by_m.setdefault(seg[0], []).append((p, epoch))
        removed = 0
        for m_bits, members in by_m.items():
            if len(members) < 2:
                continue
            words = np.zeros(m_bits // 64, dtype=np.uint64)
            for p, _epoch in members:
                words = np.bitwise_or(words, loaded[p][1])
            top = max(e for _p, e in members)
            self._write_filter(
                f"seg-e{top}-m{os.urandom(4).hex()}.npz", _Bloom(m_bits, words)
            )
            for p, _epoch in members:
                # delete is idempotent: a racing merger that already
                # removed it is fine — the coverage is already folded
                self.store.delete(p)
                removed += 1
        return removed

    def rebuild(self, spark, table) -> str:
        """Consolidate to one filter over the LIVE fingerprints.

        Reads the table once (narrow: key + order + `_fp`), so run it at
        maintenance cadence, not per epoch. Deletes only pre-existing
        filter files whose epoch was already committed at the read
        snapshot — an in-flight concurrent writer stages its segment
        before its commit, and that segment has a higher epoch, so it
        survives. The deletion watermark comes from ``table._manifest``
        — the SAME snapshot ``read_buckets`` keys its scan off — not a
        fresh ``_load_manifest()``: an epoch committed between the
        table's construction and this call would otherwise have its
        segment deleted (epoch <= fresh watermark) while its rows are
        absent from the stale read, permanently losing fingerprints.
        `full-*` files carry their own snapshot watermark in their name
        and are deleted only when that watermark is <= ours — a
        concurrent rebuild that read a NEWER snapshot holds fingerprints
        our read cannot see, so its consolidation must survive."""
        from pyspark.sql import functions as F

        from qwatch_spark.operators.rules import FP_COL

        old = self.segment_paths()
        man = table._manifest
        committed = max(
            [man.get("epoch_watermark", -1), *man.get("applied_epochs", [-1])]
        )
        if FP_COL in {f.name for f in table.payload_schema.fields}:
            live = (
                table.read_buckets(spark, include_deleted=False, columns=[FP_COL])
                .filter(F.col(FP_COL).isNotNull())
                .select(FP_COL)
            )
        else:
            # table predates the gate (no `_fp` column yet — schema
            # widens at the first gated commit): nothing to index
            live = spark.createDataFrame([], f"{FP_COL} string")
        n = live.count()
        bloom = self._build_from_df(live, FP_COL, n)
        path = self._write_filter(
            f"full-w{committed}-{os.urandom(4).hex()}.npz", bloom
        )
        meta = self._p(META_FILE)
        if not self.store.exists(meta):
            self.store.put(
                meta,
                json.dumps(
                    {"k": K_HASHES, "bits_per_key": BITS_PER_KEY,
                     "created_at": time.time()}
                ).encode(),
            )
        for p in old:
            name = p.rsplit("/", 1)[-1]
            if name.startswith("seg-e"):
                try:
                    epoch = int(name.split("-")[1][1:])
                except ValueError:
                    continue
                if epoch <= committed:
                    self.store.delete(p)
            elif name.startswith("full-w"):
                try:
                    # full-w{W}-{hex}.npz, W may be NEGATIVE (-1 = a
                    # bootstrap rebuild on an empty table), so split on
                    # the LAST hyphen, not the first
                    w = int(name[len("full-w"):].rsplit("-", 1)[0])
                except ValueError:
                    continue
                if w <= committed:
                    self.store.delete(p)  # superseded consolidation
        # the bootstrap this marker requested has now run
        self.store.delete(self._p(REQUEST_FILE))
        return path

    # ---------- the gate-side probe ----------

    def maybe_member(self, col):
        """Column: True iff the fingerprint MAY be in the table's history
        (bloom hit in any segment); False means definitely new. Null
        fingerprints (null text) are never candidates — matching the
        exact join's null-never-matches semantics."""
        from pyspark.sql import functions as F

        paths = self.segment_paths()
        if not paths:
            return F.lit(False)

        path_set = set(paths)
        idx_dir = self.dir
        # the UDF body runs in EXECUTOR workers, where driver-set class
        # hooks (S3Store.client_factory) do not exist — the picklable
        # spec rides the closure and rebuilds the client worker-side
        # (local tables carry the stateless LocalStore)
        spec = store_spec(idx_dir)

        @F.pandas_udf("boolean")
        def probe(fps: pd.Series) -> pd.Series:
            store = store_from_spec(spec)
            # evict cache entries for THIS index's segments that no
            # longer exist (consolidated away by rebuild) — a
            # long-running worker otherwise accumulates dead filters
            # without bound; other tables' entries are left alone
            for k in [
                k
                for k in _SEG_CACHE
                if k[0].startswith(idx_dir) and k[0] not in path_set
            ]:
                del _SEG_CACHE[k]
            mask = fps.notna()
            out = np.zeros(len(fps), dtype=bool)
            vals = fps[mask]
            if len(vals):
                h1, h2 = _fp_words(vals.tolist())
                hit = np.zeros(len(vals), dtype=bool)
                probe_paths = list(paths)
                for p in probe_paths:
                    seg = _load_segment(store, p)
                    if seg is None:
                        # a listed segment vanished mid-probe (a
                        # concurrent rebuild/merge consolidated it):
                        # its coverage now lives in files written
                        # BEFORE the deletion, so the directory's
                        # CURRENT listing is a complete superset —
                        # extend the probe with any files we have not
                        # already tested
                        current = _segments(store, idx_dir)
                        probe_paths += [
                            c for c in current if c not in probe_paths
                        ]
                        continue
                    miss = ~hit
                    if not miss.any():
                        break
                    b = _Bloom(seg[0], seg[1])
                    hit[miss] |= b.test_many(h1[miss], h2[miss])
                out[mask.to_numpy()] = hit
            return pd.Series(out)

        return probe(col)
