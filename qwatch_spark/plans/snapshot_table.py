"""SnapshotTable — an Iceberg-style keyed lake table in pure Spark + JSON
manifests (no Delta/Iceberg jars in this environment; SURVEY.md §4.3 item 1).

Semantics it provides (the reference gets these from Neo4j MERGE +
unique constraints, /root/reference/outputs/neo4j.go:256-295, 342-343 —
but at-most-once and one network round-trip per event):

- **keyed upsert**: exactly one current row per ``url``;
- **exactly-once**: commits are epoch-tagged; re-applying an epoch is a
  no-op (idempotence, the contract of outputs/neo4j.go:259-262, made
  transactional);
- **atomicity**: data files are written to a new immutable version
  directory first, then the commit linearizes on a put-if-absent of the
  next `CasLog` slot and the ``manifest.json`` pointer is swapped (an
  atomic object put). A crash mid-write leaves orphan data files and an
  unchanged log — state intact.

Every byte of durable table state goes through the table's object store
(`plans/objectstore.py`: a local path or ``s3://``); Spark reads and
writes the same objects through ``store.spark_path``.

Physical layout (scale design):

- rows are hash-bucketed by ``pmod(xxhash64(url), n_buckets)``; an epoch
  appends one delta file to ONLY the buckets its keys touch (merge-on-read;
  ``compact`` folds a bucket's deltas into a new base), so apply cost
  scales with the batch, not table size. At
  100 TB you'd set n_buckets so a bucket is ~0.5-1 GB (~100k buckets);
  the manifest (bucket → base + delta version tokens) stays tiny.
- the bucket column is derived from ``url`` (never stored), so readers
  can prune to buckets of interest and co-partition merges without extra
  storage.
- old version directories are immutable → time-travel-able until
  ``vacuum()``.

Layout on disk::

    table/
      manifest.json                 # {version, n_buckets, schema,
                                    #  applied_epochs, buckets: {b: v}}
                                    # — pointer cache of the log's top
      _commits/m=<mutation>.json    # the CAS commit log (CasLog)
      manifests/v=<version>.json    # version history (time travel)
      manifest_shards/s=<shard>-<nonce>.json  # bucket entries of shard
                                    # b % k when created with
                                    # manifest_shards=k (SHARDS_DIR)
      data/v=<version>-<nonce>/b=<bucket>/  # parquet via partitionBy("b");
                                    # the nonce makes each writer's dir
                                    # unique (loser of a commit race never
                                    # clobbers the winner's files)
      commit_log/e=<epoch>.json     # the epoch record: its commit-log
                                    # row + per-bucket metrics rows, put
                                    # before the epoch's commit; read only
                                    # for epochs the manifest has applied
      _fp_bloom/                    # fingerprint bloom segments of the
                                    # exact-dup gate (fp_bloom.BLOOM_DIR)
      dead_letter/epoch=<id>/       # run_stream's default dead-letter
                                    # ParquetSink
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwatch_spark.plans.objectstore import (
    CommitConflictError,
    StaleBaseError,
    store_for,
)
from qwatch_spark.schema import PAGE_SCHEMA, schema_from_json

MANIFEST = "manifest.json"
COMMITS_DIR = "_commits"  # CAS protocol: put-if-absent commit log
HISTORY_DIR = "manifests"  # per-version manifest history
SHARDS_DIR = "manifest_shards"  # sharded-manifest bucket-entry files
RECORDS_DIR = "commit_log"  # one epoch record per applied epoch
# commit-stats marker a delta write adds (1 for deletes, null for
# upserts): rows minus its footer null_count is the exact delete count
DEL_COL = "_del"


def _store(path: str):
    store = store_for(path)
    if store is None:
        raise ValueError(f"no object store client for {path!r}")
    return store


def _publish(store, path: str, body: bytes, version: int) -> None:
    """Swap the manifest.json pointer to a committed manifest and record
    it as the version's history entry (time travel reads it until vacuum
    drops the data files it points to). Both are atomic object puts."""
    store.put(os.path.join(path, MANIFEST), body)
    store.put(os.path.join(path, HISTORY_DIR, f"v={int(version)}.json"), body)


class CasLog:
    """The CAS commit log: slot n is the object
    `<table>/_commits/m=<n>.json` holding mutation n's manifest JSON. It
    lives under the table path in the table's own store (as Delta Lake's
    `_delta_log/` does), so the path alone says where every byte of a
    table is. The CAS protocol needs exactly four operations —
    put-if-absent of a slot (the linearization point of the whole
    protocol), list, read, delete — and runs them through the table's
    object store, so the same protocol commits on a local
    filesystem (`os.link`, failing EEXIST) and on S3 (`If-None-Match:
    *`). A slot body is the writer's whole manifest, and data commits
    carry nonce version tokens, so the stores' read-back on an existing
    slot tells our own landed write from a rival's; a rival slot with
    byte-identical content is the same commit, so taking it as ours is
    sound."""

    def __init__(self, store, root: str):
        self.store = store
        self.root = root.rstrip("/")
        self.dir = f"{self.root}/{COMMITS_DIR}"

    def _slot(self, n: int) -> str:
        return f"{self.dir}/m={int(n)}.json"

    def put_if_absent(self, n: int, data: str) -> bool:
        """Atomically create slot `n`; False if it already exists."""
        return self.store.put_if_absent(self._slot(n), data.encode())

    def slots(self) -> list[int]:
        return sorted(
            int(rel[2:-5])
            for rel, _size, _mt in self.store.list_tree(self.dir)
            if rel.startswith("m=") and rel.endswith(".json") and "/" not in rel
        )

    def read(self, n: int) -> str | None:
        data = self.store.get(self._slot(n))
        return None if data is None else data.decode()

    def delete(self, n: int) -> None:
        self.store.delete(self._slot(n))

    def prune_below(self, top: int) -> list[str]:
        """Delete every slot below `top`: loads heal forward to the top
        slot only, so older slots are dead weight."""
        removed = []
        for n in self.slots():
            if n < top:
                self.delete(n)
                removed.append(f"m={n}.json")
        return removed

# engine bookkeeping columns stored alongside the payload in every file
BOOKKEEPING_FIELDS = [
    T.StructField("seq", T.LongType(), True),
    T.StructField("is_deleted", T.BooleanType(), True),
    T.StructField("last_op", T.StringType(), True),
    T.StructField("last_epoch", T.LongType(), True),
]


def bucket_expr(n_buckets: int, url_col: str = "url") -> Column:
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


def _vtoken(new_version: int) -> str:
    """Writer-unique data-dir token for a version (``v=<N>-<nonce>``).

    Concurrent writers racing toward the same version each write their
    OWN directory, so the loser of the commit race can abort without
    ever having clobbered the winner's files — the CAS put stays the
    only commit point, and loser data is just an orphan dir for vacuum."""
    return f"{int(new_version)}-{uuid.uuid4().hex[:8]}"


def full_schema(payload: T.StructType) -> T.StructType:
    return T.StructType(list(payload.fields) + BOOKKEEPING_FIELDS)


def utc_naive(v) -> dt.datetime | None:
    """A parquet timestamp statistic as a naive UTC datetime (the
    session TZ is UTC everywhere); None when it is not a datetime
    (INT96 and other non-timestamp stats)."""
    if not isinstance(v, dt.datetime):
        return None
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _ziso(v) -> str | None:
    return v.isoformat() if v is not None else None


def _zmerge(*ranges):
    """Union of [lo, hi] ISO-string warc_ts ranges (None-safe). ISO
    strings compare chronologically, so min/max on the strings is
    exact."""
    los = [r[0] for r in ranges if r and r[0] is not None]
    his = [r[1] for r in ranges if r and r[1] is not None]
    if not los or not his:
        return None
    return [min(los), max(his)]


def _bucket_files(out: str, listing) -> dict[int, list[str]]:
    """{bucket: [parquet paths]} of a data dir's `b=<k>` subdirs, from
    ONE tree listing of it (~1000 keys per object-store LIST round-trip
    — per-bucket LISTs would pay one round-trip per touched bucket).
    The one parser of that layout: a delta commit maps its epoch dir
    (the keys are the touched buckets, and the same mapping feeds
    `apply._delta_footer_stats`, so a commit LISTs its epoch dir once)
    and a compaction maps its output (`_file_ts_ranges_many`)."""
    files: dict[int, list[str]] = {}
    for rel, _size, _mt in listing:
        bdir, _, name = rel.rpartition("/")
        if bdir.startswith("b=") and name.endswith(".parquet"):
            files.setdefault(int(bdir[2:]), []).append(f"{out.rstrip('/')}/{rel}")
    return files


def _footer_stats(md) -> dict | None:
    """The one parquet-footer parser: a file's FileMetaData folded to
    {n: rows, nd: deletes, seq: (lo, hi), ts: (lo, hi)} from row-group
    statistics alone. `nd` is None without a usable `DEL_COL` marker
    (compaction output has none), `seq` None without seq min/max, `ts`
    (naive UTC) None when every warc_ts value is null, as F.min/F.max
    would give. The whole file is None when a warc_ts chunk has no
    usable statistics (INT96 history, stats disabled) — callers then
    take their slower exact path, so correctness never rests on
    footers."""
    n, nd, seq, ts = 0, 0, [], []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = {
            rg.column(j).path_in_schema: rg.column(j).statistics
            for j in range(rg.num_columns)
        }
        n += rg.num_rows
        d, s, t = st.get(DEL_COL), st.get("seq"), st.get("warc_ts")
        ok = nd is not None and d is not None and d.has_null_count
        nd = nd + rg.num_rows - d.null_count if ok else None
        ok = seq is not None and s is not None and s.has_min_max
        seq = [*seq, s.min, s.max] if ok else None
        if t is not None and t.has_min_max:
            lo, hi = utc_naive(t.min), utc_naive(t.max)
            if lo is None or hi is None:
                return None
            ts += [lo, hi]
        elif t is None or not t.has_null_count or t.null_count != rg.num_rows:
            return None  # all-null chunks alone contribute no range
    return {
        "n": n,
        "nd": nd,
        "seq": (min(seq), max(seq)) if seq else None,
        "ts": (min(ts), max(ts)) if ts else None,
    }


def _footer_stats_many(
    out: str, files: dict[int, list[str]], max_workers: int | None = None
) -> dict[int, dict[str, dict | None]] | None:
    """{bucket: {path: `_footer_stats`}} for a `_bucket_files` map of
    the data dir `out` (buckets without files are left out), from ONE
    `parquet_metadata_many` pass through the store, at the store's own
    parallelism: a plain loop locally (a footer is ~75 µs of native
    CPU, where a pool measured 8× slower), a wide pool of round-trips
    on `s3://`, which keeps the commit's stats phase ~flat as touched
    files grow (scripts/bench_commit_stats.py). None when no
    driver-side store serves `out`'s scheme."""
    store = store_for(out)
    if store is None:
        return None
    paths = [(b, p) for b in sorted(files) for p in files[b]]
    mds = store.parquet_metadata_many([p for _b, p in paths], max_workers)
    res: dict[int, dict] = {}
    for (b, p), md in zip(paths, mds):
        res.setdefault(b, {})[p] = _footer_stats(md)
    return res


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.store = _store(path)
        self.log = CasLog(self.store, path)
        self._shard_cache: dict = {}  # (sid, filename) -> entries
        self._manifest = self._load_manifest()

    # ---------- creation / manifest ----------

    @classmethod
    def create(
        cls,
        path: str,
        payload_schema: T.StructType | None = None,
        n_buckets: int = 64,
        overwrite: bool = False,
        key_col: str = "url",
        manifest_shards: int | None = None,
    ) -> "SnapshotTable":
        """`manifest_shards=k` shards the per-bucket manifest entries
        into k immutable side files (bucket b lives in shard b % k), so
        a commit rewrites only the touched shards plus the small root —
        per-epoch manifest cost O(touched buckets), not O(n_buckets).
        At the 100 TB design point (~100k buckets) the inline form is a
        ~48 MB JSON costing ~6.4 s PER EPOCH commit + ~1.4 s per reload
        (measured); sharded the root is a k-entry pointer map. Readers
        load shards lazily, so a point lookup opens one shard file.

        Sizing: per-epoch shard work ≈ touched_buckets × n_buckets / k
        entries (each dirty shard is rewritten whole), so pick k ≥
        n_buckets / 32 once n_buckets is large. Measured at 100k buckets
        / 500 touched: k=256 → 2.5 s, k=1024 → 1.1 s, k=4096 → 0.27 s
        per epoch, reload < 1 ms at any k."""
        payload_schema = payload_schema or PAGE_SCHEMA
        if key_col not in {f.name for f in payload_schema.fields}:
            raise ValueError(f"key_col {key_col!r} not in payload schema")
        if manifest_shards is not None and not (
            1 <= manifest_shards <= n_buckets
        ):
            raise ValueError(
                f"manifest_shards must be in [1, n_buckets]; got {manifest_shards}"
            )
        store = _store(path)
        if store.exists(os.path.join(path, MANIFEST)):
            if not overwrite:
                return cls(path)
            store.delete_tree(path)  # the commit log with it
        manifest = {
            "version": 0,
            "n_buckets": n_buckets,
            "key_col": key_col,
            "schema": payload_schema.json(),
            "applied_epochs": [],
            "rows_est": 0,
        }
        if manifest_shards is not None:
            manifest["n_shards"] = manifest_shards
            manifest["shard_files"] = {}
        else:
            manifest["buckets"] = {}
        cls._write_manifest(CasLog(store, path), manifest)
        return cls(path)

    def _get_json(self, *parts: str) -> dict:
        """A JSON object of the table (pointer, history entry, shard);
        FileNotFoundError when it is missing."""
        p = os.path.join(self.path, *parts)
        data = self.store.get(p)
        if data is None:
            raise FileNotFoundError(p)
        return json.loads(data)

    def _load_manifest(self) -> dict:
        # the commit log is authoritative, manifest.json is only a
        # pointer cache. A writer that crashed after its linearization
        # (commit slot created) but before the pointer swap leaves the
        # pointer stale — heal forward to the newest commit.
        manifest = self._get_json(MANIFEST)
        while True:
            slots = self.log.slots()
            if not slots or slots[-1] <= manifest.get("mutation", 0):
                return manifest
            body = self.log.read(slots[-1])
            if body is not None:
                break
            # gone between LIST and GET: only a commit above it prunes
            # a slot, so a newer top exists — list again
        manifest = json.loads(body)
        _publish(self.store, self.path, body.encode(), manifest["version"])
        return manifest

    @staticmethod
    def _write_manifest(
        log: CasLog, manifest: dict, expected_mutation: int | None = None
    ) -> None:
        """Commit `manifest` as mutation `expected_mutation + 1` (0 at
        create), by compare-and-swap. The linearization point is an
        atomic put-if-absent of commit slot n in the table's `CasLog`,
        through its object store (objectstore.py — local: ``os.link``
        into ``_commits/m=<n>.json``, failing EEXIST; s3: a conditional
        put, ``If-None-Match: *``; same protocol as Delta Lake's HDFS
        LogStore). There is NO check-then-act window: a racing writer
        loses at the create itself regardless of interleaving, and
        ``manifest.json`` is just a pointer cache healed forward by
        ``_load_manifest``. The CAS tests run through both stores (s3
        over the dir-backed fake), so the protocol provably depends on
        nothing but the store's primitives. A commit to a table whose
        log is empty raises ValueError: `create` writes slot 0, so an
        empty log means the table's history is gone."""
        path = log.root
        n = 0 if expected_mutation is None else expected_mutation + 1
        manifest["mutation"] = n
        if expected_mutation is not None:
            slots = log.slots()
            if not slots:
                raise ValueError(f"{path}: commit log {log.dir} is empty")
            # rebase check (one LIST, same as Delta's LogStore): a
            # writer whose base is behind the log's top must lose
            # LOUDLY here — required because compaction and vacuum
            # prune commit slots below top, so a long-stale writer's
            # put-if-absent target slot may be free again. Writers
            # passing this check target top+1, which nothing prunes, so
            # the put below stays the true linearization point for the
            # remaining check→put window.
            if slots[-1] != expected_mutation:
                raise CommitConflictError(
                    f"concurrent writer detected on {path}: commit log "
                    f"top m={slots[-1]} != expected {expected_mutation}; "
                    "aborting commit (no state was overwritten)"
                )
        body = json.dumps(manifest, indent=1, sort_keys=True)
        if not log.put_if_absent(n, body):
            raise CommitConflictError(
                f"concurrent writer detected on {path}: commit m={n} "
                "already exists (lost the CAS put-if-absent); "
                "aborting commit (no state was overwritten)"
            )
        _publish(log.store, path, body.encode(), manifest["version"])

    # ---------- properties ----------

    @property
    def n_buckets(self) -> int:
        return self._manifest["n_buckets"]

    @property
    def key_col(self) -> str:
        """Upsert key column (entity tables key on their own id column,
        page tables on 'url')."""
        return self._manifest["key_col"]

    @property
    def payload_schema(self) -> T.StructType:
        return schema_from_json(self._manifest["schema"])

    @property
    def version(self) -> int:
        return self._manifest["version"]

    @property
    def max_epoch(self) -> int:
        """Highest epoch this table's manifest records as applied (-1
        when none) — from the table's own manifest, never a reload."""
        m = self._manifest
        return max([m.get("epoch_watermark", -1), *m.get("applied_epochs", [-1])])

    def has_epoch(self, epoch_id: int) -> bool:
        e = int(epoch_id)
        return (0 <= e <= self._manifest.get("epoch_watermark", -1)) or (
            e in set(self._manifest["applied_epochs"])
        )

    @staticmethod
    def _applied(manifest: dict, col: str) -> Column:
        """`has_epoch` over `manifest` as a Column predicate on the epoch
        column `col`: the watermark range plus the small out-of-order
        set — bounded predicates, not an isin() over every epoch the
        table ever applied."""
        e = F.col(col)
        cond = e.between(0, manifest.get("epoch_watermark", -1))
        if manifest.get("applied_epochs"):
            cond = cond | e.isin([int(x) for x in manifest["applied_epochs"]])
        return cond

    @staticmethod
    def _record_epoch(manifest: dict, epoch_id: int) -> None:
        """Record an applied epoch with BOUNDED manifest growth: a
        high-watermark (every epoch in [0, watermark] is applied) plus a
        sparse set of out-of-order epochs above it. Contiguous epoch ids
        (the streaming runner's) fold into the watermark immediately, so
        the manifest stays O(1) at minute-epochs-for-a-year scale instead
        of rewriting a 500k-int list every commit."""
        s = set(int(x) for x in manifest.get("applied_epochs", []))
        s.add(int(epoch_id))
        wm = manifest.get("epoch_watermark", -1)
        while wm + 1 in s:
            wm += 1
            s.remove(wm)
        manifest["epoch_watermark"] = wm
        manifest["applied_epochs"] = sorted(s)

    @property
    def rows_est(self) -> int:
        """STRICT upper-bound live-row estimate: cumulative count of
        committed non-delete upserts. Deletes are deliberately NOT
        subtracted — a delete of a never-live or already-dead key would
        push the estimate below the true live count (observed in the
        verify drive: 1421 est vs 1440 live with 10% deletes), and
        updates cannot be told from inserts without the table lookup the
        delta path avoids. Every live row has at least one committed
        non-delete upsert, so est >= live always (`create` writes 0).
        Consumers (fp_index="auto") use it as a crossed-threshold
        trigger, where over-counting merely flips the switch early — the
        safe side."""
        return int(self._manifest["rows_est"])

    @staticmethod
    def _bump_rows_est(manifest: dict, rows_delta: int) -> None:
        manifest["rows_est"] = max(0, int(manifest["rows_est"]) + int(rows_delta))

    # ---------- reads ----------

    @staticmethod
    def _bucket_entry(raw) -> dict:
        """Manifest bucket entry, with `zf` defaulted to {}.
        `z` maps version token → [min_warc_ts, max_warc_ts] (ISO strings)
        over that token's files for this bucket — the zone map readers
        use to skip whole files on a time predicate. `zf` (optional,
        recorded only when a (bucket, token) dir holds MORE THAN ONE
        file) refines it per file: token → {filename: [lo, hi] | null}
        — null means "range unknown, always read". A zf entry is only
        ever written COMPLETE (every file of the dir listed), so readers
        may treat its key set as the dir's file listing."""
        return {"zf": {}, **raw}

    # ---------- sharded-manifest plumbing ----------

    def _buckets_of(self, manifest: dict, only=None) -> dict:
        """Raw bucket-entry mapping for `manifest` (inline or sharded).
        With `only` (bucket ints), a sharded table loads ONLY the shards
        those buckets live in — point lookups and per-epoch commits
        never touch the other n_shards-1 files."""
        if "shard_files" not in manifest:
            return manifest.get("buckets", {})
        n_shards = int(manifest["n_shards"])
        pointers = manifest["shard_files"]
        if only is None:
            sids = [int(s) for s in pointers]
        else:
            sids = sorted({int(b) % n_shards for b in only})
        out: dict = {}
        cache = self._shard_cache

        def load(sid: int):
            fname = pointers.get(str(sid))
            if fname is None:
                return sid, None, None
            got = cache.get((sid, fname))
            if got is None:
                got = self._get_json(SHARDS_DIR, fname)
            return sid, fname, got

        misses = [s for s in sids if (s, pointers.get(str(s))) not in cache]
        if len(misses) > 8:
            # bulk load (full-table read / compaction scan): shard files
            # are independent small objects — fetch them concurrently, so
            # a k=4096 table costs one parallel burst, not k serial GETs
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as ex:
                loaded = list(ex.map(load, sids))
        else:
            loaded = [load(sid) for sid in sids]
        for sid, fname, got in loaded:
            if got is None:
                continue
            # evict superseded snapshots of the same shard: every commit
            # repoints touched shards to a new fname, and a long-running
            # streaming writer would otherwise accumulate stale entries
            # without bound
            for k in [k for k in cache if k[0] == sid and k[1] != fname]:
                del cache[k]
            cache[(sid, fname)] = got
            out.update(got)
        return out

    def _apply_bucket_updates(
        self, manifest: dict, updates: dict
    ) -> list[str]:
        """Fold `updates` ({bucket_str: raw entry}) into `manifest`.

        Inline: merge into the buckets dict. Sharded: rewrite only the
        dirty shards to NEW immutable side files (writer-unique names —
        a losing concurrent writer's shard files never clobber the
        winner's) and repoint the root. Returns the written shard file
        paths so an aborted commit can delete its own orphans."""
        if "shard_files" not in manifest:
            manifest["buckets"] = {**manifest["buckets"], **updates}
            return []
        n_shards = int(manifest["n_shards"])
        by_sid: dict[int, dict] = {}
        for b, raw in updates.items():
            by_sid.setdefault(int(b) % n_shards, {})[b] = raw
        pointers = dict(manifest["shard_files"])
        written: list[str] = []
        for sid, ups in sorted(by_sid.items()):
            fname = pointers.get(str(sid))
            cur = {} if fname is None else self._get_json(SHARDS_DIR, fname)
            cur.update(ups)
            new_name = f"s={sid}-{uuid.uuid4().hex[:8]}.json"
            p = os.path.join(self.path, SHARDS_DIR, new_name)
            self.store.put(p, json.dumps(cur, sort_keys=True).encode())
            pointers[str(sid)] = new_name
            written.append(p)
        manifest["shard_files"] = pointers
        return written

    def _entries(self, buckets: list[int] | None):
        mapping = self._buckets_of(self._manifest, only=buckets)
        items = (
            mapping.items()
            if buckets is None
            else ((str(b), mapping[str(b)]) for b in buckets if str(b) in mapping)
        )
        return [(b, self._bucket_entry(v)) for b, v in items]

    def _bucket_paths(
        self,
        buckets: list[int] | None = None,
        min_warc_ts=None,
    ) -> tuple[list[str], list[str]]:
        """(base paths, delta paths) for the chosen buckets.

        With `min_warc_ts`, zone-map pruning: skip any (bucket, version)
        file whose recorded max warc_ts is older than the predicate —
        manifest-only, zero file opens for cold history. Safe under
        latest-wins because a key's winning row carries its max warc_ts:
        if any row of the key passes the predicate, so does the winner,
        and the winner's file can't be pruned. Tokens without a recorded
        range are conservatively kept."""

        def keep(e: dict, tok) -> bool:
            if min_warc_ts is None:
                return True
            rng = e["z"].get(str(tok))
            if not rng or rng[1] is None:
                return True
            hi = dt.datetime.fromisoformat(rng[1])
            return hi >= min_warc_ts

        def paths_for(e: dict, tok, b) -> list[str]:
            """The (bucket, token) dir — or, when a per-file zone map
            exists and a predicate is set, only its passing FILES
            (multi-file buckets: the pruning step after dir-level z).
            zf entries are written complete, so the key set IS the
            dir's file listing; a null range means always-read."""
            d = self.store.spark_path(
                os.path.join(self.path, "data", f"v={tok}", f"b={b}")
            )
            zf = e["zf"].get(str(tok)) if min_warc_ts is not None else None
            if not zf:
                return [d]
            out = []
            for fname, rng in zf.items():
                if (
                    not rng
                    or rng[1] is None
                    or dt.datetime.fromisoformat(rng[1]) >= min_warc_ts
                ):
                    out.append(os.path.join(d, fname))
            return out

        base, deltas = [], []
        for b, e in self._entries(buckets):
            if e["base"] is not None and keep(e, e["base"]):
                base.extend(paths_for(e, e["base"], b))
            for dv in e["deltas"]:
                if keep(e, dv):
                    deltas.extend(paths_for(e, dv, b))
        return base, deltas

    def has_deltas(self, buckets: list[int] | None = None) -> bool:
        return any(e["deltas"] for _b, e in self._entries(buckets))

    def read_buckets(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        payload_schema: T.StructType | None = None,
        include_deleted: bool = True,
        min_warc_ts=None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Current resolved state of the chosen buckets (all if None).

        Merge-on-read: when delta files exist, base ∪ deltas is reduced to
        one row per url by the (warc_ts, seq, last_epoch) total order — the
        same latest-wins contract the writer enforces. Old files missing
        newly-evolved columns are null-filled by the parquet reader
        (schema evolution without rewriting history).

        `min_warc_ts` returns only rows whose current warc_ts passes the
        predicate, zone-map-pruning whole files first (see
        `_bucket_paths`) and letting parquet row-group stats skip within
        the files that remain.

        `columns` prunes the row to key + order + is_deleted + the named
        columns BEFORE the merge-on-read dedup — without it the dedup's
        max_by(struct(*)) references every column and defeats parquet
        column pruning, so a narrow consumer (e.g. the fingerprint gate's
        (key, _fp) scan) would drag text/html through the shuffle."""
        schema = full_schema(payload_schema or self.payload_schema)
        base_paths, delta_paths = self._bucket_paths(buckets, min_warc_ts)
        paths = base_paths + delta_paths
        if not paths:
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.schema(schema).parquet(*paths)
        if columns is not None:
            need = dict.fromkeys(
                [self.key_col, "warc_ts", "seq", "last_epoch", "is_deleted", *columns]
            )
            df = df.select(*[c for c in need if c in df.columns])
        if paths:
            if min_warc_ts is not None:
                # pre-dedup filter is safe: the winner carries the key's
                # max warc_ts, so filtering can never promote a loser
                df = df.filter(F.col("warc_ts") >= F.lit(min_warc_ts))
            if delta_paths:
                from qwatch_spark.operators.dedup import latest_wins

                df = latest_wins(
                    df, key=self.key_col, order=("warc_ts", "seq", "last_epoch")
                )
        if not include_deleted:
            df = df.filter(~F.col("is_deleted"))
        return df

    def read_key(
        self, spark: SparkSession, key_value, include_deleted: bool = False
    ) -> DataFrame:
        """Point lookup: the current row for one key, reading ONLY its
        hash bucket (1/n_buckets of the table; at 100k buckets that is a
        single ~1 GB bucket instead of 100 TB). The bucket is computed
        with the same JVM xxhash64 the writer uses — via a 1-row local
        job, so Python never re-implements the hash."""
        b = (
            spark.range(1)
            .select(
                F.pmod(
                    F.xxhash64(F.lit(key_value)), F.lit(self.n_buckets)
                ).cast("int").alias("b")
            )
            .first()["b"]
        )
        return self.read_buckets(
            spark, [int(b)], include_deleted=include_deleted
        ).filter(F.col(self.key_col) == key_value)

    def read(self, spark: SparkSession, include_deleted: bool = False) -> DataFrame:
        """Current table state (live rows, payload columns only)."""
        df = self.read_buckets(spark, include_deleted=include_deleted)
        return df.select(*[f.name for f in self.payload_schema.fields])

    def read_raw(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """UNRESOLVED history scan: base ∪ delta rows with NO latest-wins
        dedup — every version of every key still referenced by the
        manifest. For "did any key EVER write this value" consumers (the
        fingerprint gate's candidate-owner probe, lineage audits): a
        pure columnar scan with zero shuffle, where read_buckets would
        pay a full dedup exchange. `columns` prunes to key + the named
        columns before anything else."""
        schema = full_schema(self.payload_schema)
        base_paths, delta_paths = self._bucket_paths(buckets, None)
        paths = base_paths + delta_paths
        if not paths:
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.schema(schema).parquet(*paths)
        if columns is not None:
            need = dict.fromkeys([self.key_col, *columns])
            df = df.select(*[c for c in need if c in df.columns])
        return df

    def read_version(
        self, spark: SparkSession, version: int, include_deleted: bool = False
    ) -> DataFrame:
        """Time travel: table state as of a committed version (immutable
        version dirs + per-version manifest history; valid until vacuum
        removes unreferenced data). Raises FileNotFoundError for unknown
        or pre-history versions."""
        snap = copy.copy(self)  # same store and shard cache
        snap._manifest = self._get_json(HISTORY_DIR, f"v={int(version)}.json")
        return snap.read(spark, include_deleted=include_deleted)

    def read_changes(
        self, spark: SparkSession, since_version: int, min_warc_ts=None
    ) -> DataFrame:
        """Change data feed: the current winning row of every key whose
        state changed after `since_version` — upserts AND tombstones
        (consumers see deletes via is_deleted). Computed from per-row
        `last_epoch` lineage against the historical manifest's applied
        epochs; cost is one column-pruned scan of the current state.
        `min_warc_ts` additionally zone-map-prunes whole files whose
        recorded warc_ts range predates the predicate (manifest-only —
        cold history costs zero file opens)."""
        old = self._get_json(HISTORY_DIR, f"v={int(since_version)}.json")
        # bucket-diff pruning: a bucket whose (base, deltas) pointers are
        # identical in both manifests received no commits since — skip its
        # files entirely. CDF cost scales with the touched key-spread, not
        # table size. (Compaction rewrites pointers without changing rows;
        # such buckets are read but their rows fail the epoch predicate.)
        old_entries = {
            b: self._bucket_entry(v)
            for b, v in self._buckets_of(old).items()
        }
        changed = [
            int(b) for b, e in self._entries(None) if old_entries.get(b) != e
        ]
        cur = self.read_buckets(
            spark, changed, include_deleted=True, min_warc_ts=min_warc_ts
        )
        return cur.filter(~self._applied(old, "last_epoch"))

    def versions(self) -> list[int]:
        return sorted(
            int(rel[2:-5])
            for rel, _size, _mt in self.store.list_tree(
                os.path.join(self.path, HISTORY_DIR)
            )
            if rel.startswith("v=") and rel.endswith(".json") and "/" not in rel
        )

    # ---------- commit ----------

    def _swap_or_cleanup(
        self,
        manifest: dict,
        written_dir: str | None = None,
        extra_paths: list[str] = (),
    ) -> None:
        """The one CAS commit of a new manifest over this table's own:
        every manifest change after `create` linearizes here. On a
        concurrent-writer abort, delete this writer's own (never-shared)
        version dir, if it staged one, and any shard files it wrote, so
        the loser leaves no junk — the winner's files were never at
        risk."""
        try:
            self._write_manifest(
                self.log, manifest,
                expected_mutation=self._manifest.get("mutation", 0),
            )
        except RuntimeError:
            if written_dir is not None:
                self.store.delete_tree(written_dir)
            for p in extra_paths:
                self.store.delete(p)
            raise
        self._manifest = manifest

    def stage_version_dir(self) -> tuple[int, str, str]:
        """(new_version, token, store path of the dir) for a
        caller-prewritten commit: a writer-unique staging dir under
        data/ (Spark writes it at `store.spark_path(dir)`). Two racing
        writers get different dirs; whoever loses the commit race
        aborts without having touched the winner's files."""
        v = self.version + 1
        token = _vtoken(v)
        return v, token, os.path.join(self.path, "data", f"v={token}")

    def commit_epoch(self, epoch_id: int) -> None:
        """Record an epoch that produced no changes (all rows gated) —
        manifest-only: no version bump, no data files."""
        if self.has_epoch(epoch_id):
            return
        manifest = dict(self._manifest)
        self._record_epoch(manifest, epoch_id)
        self._swap_or_cleanup(manifest)

    def commit_prewritten_delta(
        self,
        touched_buckets: list[int],
        epoch_id: int,
        evolved_payload: T.StructType,
        new_version: int,
        token: str,
        zmaps: dict | None = None,
        rows_delta: int = 0,
    ) -> int:
        """Manifest-only delta commit for a version dir the CALLER already
        wrote via `stage_version_dir()` (the apply path: the deduped
        batch streams straight into its final delta files). The
        caller must have written partitionBy("b") dirs for exactly
        `touched_buckets`. Crash before this call leaves an orphan
        version dir (vacuum cleans it); the CAS commit rejects stale
        writers, and the staging dir is writer-unique so a
        loser never clobbered the winner's files."""
        if self.has_epoch(epoch_id):
            return self.version
        out = os.path.join(self.path, "data", f"v={token}")
        if new_version != self.version + 1:
            self.store.delete_tree(out)
            raise StaleBaseError(
                f"prewritten version {new_version} is stale (current "
                f"{self.version}); another writer committed first"
            )
        manifest = dict(self._manifest)
        manifest["version"] = new_version
        manifest["schema"] = evolved_payload.json()
        self._record_epoch(manifest, epoch_id)
        self._bump_rows_est(manifest, rows_delta)
        cur = self._buckets_of(self._manifest, only=touched_buckets)
        updates: dict = {}
        for b in touched_buckets:
            e = self._bucket_entry(
                cur.get(str(int(b)), {"base": None, "deltas": [], "z": {}})
            )
            z = dict(e["z"])
            rng = (zmaps or {}).get(int(b))
            if rng:
                # exact range of THIS delta's files for the bucket
                z[str(token)] = rng
            updates[str(int(b))] = {
                "base": e["base"],
                "deltas": [*e["deltas"], token],
                "z": z,
                **({"zf": e["zf"]} if e["zf"] else {}),
            }
        written = self._apply_bucket_updates(manifest, updates)
        self._swap_or_cleanup(manifest, out, extra_paths=written)
        return new_version

    @staticmethod
    def _file_ts_ranges_many(
        out: str, buckets, max_workers: int | None = None
    ) -> dict:
        """Per-file warc_ts ranges from parquet FOOTERS for the bucket
        dirs `b=<k>` of one compaction output: {str(k): {fname:
        [lo_iso, hi_iso] | None} | None} (a file range None = rows but
        no usable range, read it always). A bucket maps to None when
        it has no parquet files or any footer lacks the statistics —
        callers then fold prior token ranges instead, conservative and
        never wrong. ONE tree listing of `out` (one LIST round-trip per
        ~1000 keys on object storage, not one per bucket) and ONE
        footer pass (`_footer_stats_many`). Unknown schemes → every
        bucket None."""
        bs = [int(b) for b in buckets]
        store = store_for(out)
        if store is None:
            return {str(b): None for b in bs}
        found = _bucket_files(out, store.list_tree(out))
        per_b = _footer_stats_many(
            out, {b: found[b] for b in bs if b in found}, max_workers
        )
        res: dict[str, dict | None] = {}
        for b in bs:
            sts = per_b.get(b, {})
            ok = sts and all(st is not None for st in sts.values())
            res[str(b)] = {
                p.rsplit("/", 1)[-1]: (
                    [_ziso(v) for v in st["ts"]] if st["ts"] else None
                )
                for p, st in sts.items()
            } if ok else None
        return res

    def _delta_bytes(self, entries: list) -> dict[str, int]:
        """Stored bytes of every bucket's delta chain, from one listing
        of data/ (driver-side; a deployment with huge tables would track
        this in the manifest at commit time instead)."""
        deltas = {
            (f"v={dv}", f"b={b}") for b, e in entries for dv in e["deltas"]
        }
        total: dict[str, int] = {}
        data = os.path.join(self.path, "data")
        for rel, size, _mt in self.store.list_tree(data):
            vdir, _, rest = rel.partition("/")
            bdir, _, name = rest.partition("/")
            if (vdir, bdir) in deltas and not name.startswith(("_", ".")):
                total[bdir[2:]] = total.get(bdir[2:], 0) + size
        return total

    def compact(
        self,
        spark: SparkSession,
        max_deltas: int = 0,
        max_delta_bytes: int | None = None,
        max_records_per_file: int | None = None,
    ) -> list[int]:
        """Fold deltas into new base files for every bucket whose delta
        chain exceeds `max_deltas` versions OR (when set)
        `max_delta_bytes` on disk — chain length bounds read
        amplification in file-open terms, bytes bounds it in I/O terms
        (many tiny deltas vs few huge ones need different triggers).
        Maintenance-only: state is unchanged, no epoch consumed. Returns
        the compacted bucket ids.

        Lineage repair rides along for free: the apply path writes
        upserts with a coarse ``last_op='U'`` (I-vs-U needs a table
        lookup the O(batch) path refuses to pay). Compaction already
        reads every retained row of a victim bucket, which is exactly
        the history needed to reconstruct the truth: a winning DELTA
        row's previous state is the next-newest retained row of its key
        (base files hold the full pre-delta key set, tombstones
        included), so the winner was an insert iff that previous row is
        absent or a tombstone. Base-file winners keep their recorded
        last_op (their own history was folded away by an earlier
        compaction — recorded truth beats reconstruction there).
        Post-compaction, last_op equals the exact I/U of
        `tests/oracle.oracle_final_ops` for in-order feeds (tested in
        test_delta_mode + property-tested over random in-order
        epochings). For a key
        whose winner arrived in an earlier epoch than an older (late)
        event, the repaired value is the event-time truth rather than
        what happened at apply time; a WAL tail is in order, so the
        normal CDC case never hits this. The per-epoch METRICS rows
        of the epoch records are immutable apply-time history and keep the
        coarse semantics (n_insert=0) — documented in
        schema.METRICS_SCHEMA; consumers wanting exact I/U splits read
        the table's last_op."""
        entries = self._entries(None)
        dbytes = self._delta_bytes(entries) if max_delta_bytes is not None else {}
        victims = [
            int(b)
            for b, e in entries
            if len(e["deltas"]) > max_deltas
            or (
                max_delta_bytes is not None
                and e["deltas"]
                and dbytes.get(b, 0) > max_delta_bytes
            )
        ]
        if not victims:
            return []
        resolved = self._resolve_with_lineage_repair(spark, victims)
        new_version = self.version + 1
        token = _vtoken(new_version)
        out = os.path.join(self.path, "data", f"v={token}")
        cols = [f.name for f in full_schema(self.payload_schema).fields]
        writer = (
            resolved.withColumn("b", bucket_expr(self.n_buckets, self.key_col))
            .select("b", *cols)
            .repartition(max(len(victims), 1), "b")
            # time-cluster within each bucket: file splits and row groups
            # then cover disjoint warc_ts ranges, which is what makes the
            # per-file zone maps (and parquet's own row-group stats)
            # actually selective instead of every file spanning the whole
            # history — a local sort, no extra exchange
            .sortWithinPartitions("b", "warc_ts")
            .write.mode("overwrite")
            .partitionBy("b")
        )
        if max_records_per_file:
            # bound file size for very large buckets (one task still owns
            # the whole bucket, but splits its output): the per-file zone
            # maps below keep time-predicate reads from opening every
            # split
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(self.store.spark_path(out))
        manifest = dict(self._manifest)
        manifest["version"] = new_version
        cur = self._buckets_of(self._manifest, only=[int(b) for b in victims])
        updates: dict = {}
        # zone maps for ALL victims in two batched passes (one tree
        # LIST + one pooled footer pass) — the per-victim form paid one
        # LIST round-trip per bucket on object storage
        all_franges = self._file_ts_ranges_many(out, victims)
        for b in victims:
            # prefer EXACT per-file footer ranges (tight after deletes;
            # also yields the per-file `zf` refinement when the bucket
            # spans several files); fall back to folding the prior
            # tokens' ranges (loose but never understated) when footers
            # lack stats
            franges = all_franges.get(str(b))
            zf = {}
            if franges is not None:
                # dir-level z only when EVERY file's range is known —
                # otherwise a dir skip could drop an unknown-range file
                # that the per-file map would have (correctly) kept
                rng = (
                    _zmerge(*franges.values())
                    if all(r is not None for r in franges.values())
                    else None
                )
                if len(franges) > 1:
                    zf = {str(token): franges}
            else:
                old = self._bucket_entry(cur[str(b)])
                prior = [
                    t for t in [old["base"], *old["deltas"]] if t is not None
                ]
                known = [old["z"].get(str(t)) for t in prior]
                rng = (
                    _zmerge(*known)
                    if all(k is not None for k in known)
                    else None
                )
            updates[str(b)] = {
                "base": token,
                "deltas": [],
                "z": {str(token): rng} if rng else {},
                **({"zf": zf} if zf else {}),
            }
        written = self._apply_bucket_updates(manifest, updates)
        self._swap_or_cleanup(manifest, out, extra_paths=written)
        # keep the log short without vacuum: every slot below this
        # commit is superseded (a streaming writer reloads each epoch,
        # and a load LISTs the whole log)
        self.log.prune_below(manifest["mutation"])
        return victims

    def _resolve_with_lineage_repair(
        self, spark: SparkSession, buckets: list[int]
    ) -> DataFrame:
        """Latest-wins resolution of the chosen buckets that ALSO
        reconstructs each delta-file winner's true last_op from the
        retained history (see compact() docstring).

        Physical strategy: ONE aggregation, same single shuffle as the
        plain max_by resolution — the winner row via `max_by` (map-side
        partial agg keeps the fat payload columns combining before the
        exchange) plus the top-2 of a NARROW history struct (order cols
        + is_deleted + provenance, ~40 bytes) via
        `slice(sort_array(collect_list(...)), 1, 2)`. The per-key list
        is bounded by the retained chain length (≤ compact_every + 1
        rows), so no full-row window sort and no spill pressure from
        dragging html/text through a sort."""
        schema = full_schema(self.payload_schema)
        base_paths, delta_paths = self._bucket_paths(buckets)
        if not delta_paths:
            return self.read_buckets(spark, buckets)
        parts = []
        if base_paths:
            parts.append(
                spark.read.schema(schema).parquet(*base_paths)
                .withColumn("_from_delta", F.lit(False))
            )
        parts.append(
            spark.read.schema(schema).parquet(*delta_paths)
            .withColumn("_from_delta", F.lit(True))
        )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        key = self.key_col
        payload = [c for c in df.columns if c not in (key, "_from_delta")]
        row_struct = F.struct(*[F.col(c) for c in payload])
        ord_struct = F.struct("warc_ts", "seq", "last_epoch")
        hist_struct = F.struct(
            "warc_ts", "seq", "last_epoch", "is_deleted", "_from_delta"
        )
        agged = df.groupBy(key).agg(
            F.max_by(row_struct, ord_struct).alias("_row"),
            F.slice(
                F.sort_array(F.collect_list(hist_struct), asc=False), 1, 2
            ).alias("_top2"),
        )
        winner_meta = F.col("_top2")[0]
        prev = F.get(F.col("_top2"), 1)  # null-safe: no runner-up → null
        repaired_op = (
            F.when(winner_meta["is_deleted"], F.lit("D"))
            .when(prev.isNull() | prev["is_deleted"], F.lit("I"))
            .otherwise(F.lit("U"))
        )
        cols = [F.col(key)]
        for c in payload:
            if c == "last_op":
                cols.append(
                    F.when(winner_meta["_from_delta"], repaired_op)
                    .otherwise(F.col("_row.last_op"))
                    .alias("last_op")
                )
            else:
                cols.append(F.col(f"_row.{c}").alias(c))
        return agged.select(*cols)

    # ---------- epoch record ----------

    def put_epoch_record(
        self,
        epoch_id: int,
        version: int,
        n_upserts: int,
        n_deletes: int,
        wall_ms: int,
        buckets: list[dict],
    ) -> None:
        """Write the epoch's record, `commit_log/e=<epoch>.json`, as one
        atomic object put: its commit-log row (COMMIT_LOG_SCHEMA; the
        fingerprint is the table version the commit publishes) plus its
        per-bucket metrics rows under `buckets` (METRICS_SCHEMA without
        `epoch_id`). The apply puts it BEFORE the epoch's commit, so the
        record is durable whenever the epoch is, and the readers show it
        only once the manifest records the epoch. The name is fixed by
        the epoch: a replay after a crash before the commit overwrites
        the uncommitted record, and a replay after the commit returns at
        `has_epoch` and writes nothing."""
        n = int(n_upserts) + int(n_deletes)
        rec = {
            "epoch_id": int(epoch_id),
            "batch_fingerprint": f"v{int(version)}",
            "n_events": n,
            "n_upserts": int(n_upserts),
            "n_deletes": int(n_deletes),
            "wall_ms": int(wall_ms),
            "events_per_sec": n / max(wall_ms, 1) * 1000.0,
            "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
            "buckets": buckets,
        }
        self.store.put(
            os.path.join(self.path, RECORDS_DIR, f"e={int(epoch_id)}.json"),
            json.dumps(rec).encode(),
        )

    def _read_records(self, spark: SparkSession) -> DataFrame:
        """The epoch records of the epochs this table's manifest records
        as applied (`has_epoch`'s predicate), so a record whose commit
        never landed (a crash before the commit, a CAS loser's) is never
        read. A killed put leaves only its hidden `.tmp`, which Spark's
        file listing skips."""
        from qwatch_spark.schema import EPOCH_RECORD_SCHEMA

        d = os.path.join(self.path, RECORDS_DIR)
        if any(rel.endswith(".json") for rel, _s, _m in self.store.list_tree(d)):
            recs = spark.read.schema(EPOCH_RECORD_SCHEMA).json(
                self.store.spark_path(d)
            )
        else:
            recs = spark.createDataFrame([], EPOCH_RECORD_SCHEMA)
        return recs.filter(self._applied(self._manifest, "epoch_id"))

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        """METRICS_SCHEMA rows: the records' `buckets`, exploded."""
        return (
            self._read_records(spark)
            .select("epoch_id", F.explode("buckets").alias("m"))
            .select("epoch_id", "m.*")
        )

    def read_commit_log(self, spark: SparkSession) -> DataFrame:
        """COMMIT_LOG_SCHEMA rows: one per applied epoch."""
        from qwatch_spark.schema import COMMIT_LOG_SCHEMA

        return self._read_records(spark).select(*COMMIT_LOG_SCHEMA.fieldNames())

    # ---------- maintenance ----------

    def vacuum(self, retention_s: float = 600.0) -> list[str]:
        """Delete version dirs no longer referenced by any bucket pointer
        (base or delta) — including aborted concurrent writers' orphan
        staging dirs. Safe because the CAS put is the only commit
        point. Tokens are compared as directory names
        (writer-unique `N-<nonce>`).

        `retention_s` guards the CAS concurrent-writer window: a writer
        stages its version dir and shard files BEFORE its put-if-absent
        linearization, so an unreferenced-but-recent path may belong to a
        commit in flight. Unreferenced paths younger than the retention
        window are skipped (Delta Lake's retention-check policy); pass
        retention_s=0 only when the caller holds exclusive access."""
        live = {
            f"data/v={tok}"
            for _b, e in self._entries(None)
            for tok in [e["base"], *e["deltas"]]
            if tok is not None
        }
        # sharded manifests: shard files not referenced by the CURRENT
        # root are dead (historical roots lose time travel on vacuum,
        # same policy as their data dirs)
        live.update(
            f"{SHARDS_DIR}/{f}"
            for f in self._manifest.get("shard_files", {}).values()
        )
        # one listing of the table: every version dir and shard file
        # with the NEWEST mtime under it — writing parquet inside b=<n>
        # subdirs does not bump the v=<token> dir's own mtime, so a
        # concurrent writer whose staging outlives retention_s after
        # dir creation would otherwise lose files mid-flight
        newest: dict[str, float] = {}
        for rel, _size, mtime in self.store.list_tree(self.path):
            top, _, rest = rel.partition("/")
            if top == "data" and rest.startswith("v="):
                key = f"data/{rest.partition('/')[0]}"
            elif top == SHARDS_DIR and rest.startswith("s=") and "/" not in rest:
                key = rel
            else:
                continue
            newest[key] = max(newest.get(key, mtime), mtime)
        removed = []
        now = time.time()
        for key, mtime in sorted(newest.items()):
            if key not in live and now - mtime >= retention_s:
                self.store.delete_tree(os.path.join(self.path, key))
                removed.append(key.partition("/")[2])
        # the commit log: only the top slot is authoritative
        removed += self.log.prune_below(
            self._manifest.get("mutation", 0)
        )
        return removed
