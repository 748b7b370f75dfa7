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
  directory first, then a single ``manifest.json`` is swapped via
  write-tmp + ``os.replace`` (atomic on POSIX). A crash mid-write
  leaves orphan data files and an unchanged manifest — state intact.

Physical layout (scale design):

- rows are hash-bucketed by ``pmod(xxhash64(url), n_buckets)``; an epoch
  rewrites ONLY the buckets its keys touch (partition-level copy-on-write),
  so apply cost scales with the batch's key spread, not table size. At
  100 TB you'd set n_buckets so a bucket is ~0.5-1 GB (~100k buckets);
  the manifest (bucket → version int) stays tiny.
- the bucket column is derived from ``url`` (never stored), so readers
  can prune to buckets of interest and co-partition merges without extra
  storage.
- old version directories are immutable → time-travel-able until
  ``vacuum()``.

Layout on disk::

    table/
      manifest.json                 # {version, n_buckets, schema,
                                    #  applied_epochs, buckets: {b: v}}
      data/v=<version>-<nonce>/b=<bucket>/  # parquet via partitionBy("b");
                                    # the nonce makes each writer's dir
                                    # unique (loser of a commit race never
                                    # clobbers the winner's files)
      metrics/                      # per-epoch per-bucket lineage (append)
      commit_log/                   # one row per committed epoch (append)
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwatch_spark.plans.objectstore import (
    CAS_BACKENDS,
    CommitConflictError,
    StaleBaseError,
    store_for,
)
from qwatch_spark.schema import PAGE_SCHEMA, schema_from_json

MANIFEST = "manifest.json"
COMMITS_DIR = "_commits"  # CAS protocol: put-if-absent commit log
SHARDS_DIR = "manifest_shards"  # sharded-manifest bucket-entry files


class CasLog:
    """The CAS commit log: slot n is the object `<root>/_commits/m=<n>.json`
    holding mutation n's manifest JSON. The CAS protocol needs exactly
    four operations — put-if-absent of a slot (the linearization point
    of the whole protocol), list, read, delete — and runs them through
    the table's object store, so the same protocol commits on a local
    filesystem (`os.link`, failing EEXIST) and on S3 (`If-None-Match:
    *`). A slot body is the writer's whole manifest, and data commits
    carry nonce version tokens, so the stores' read-back on an existing
    slot tells our own landed write from a rival's; a rival slot with
    byte-identical content is the same commit, so taking it as ours is
    sound."""

    def __init__(self, store, root: str):
        self.store = store
        self.dir = f"{root.rstrip('/')}/{COMMITS_DIR}"

    @classmethod
    def for_table(cls, table_path: str, kind: str) -> "CasLog":
        """`kind` is the manifest's `cas_backend`. "s3" on a plain
        table path keeps the log in bucket `cas` under the table's real
        path, so one table directory can commit through either store."""
        if kind not in CAS_BACKENDS:
            raise ValueError(
                f"unknown cas_backend {kind!r} (expected one of {CAS_BACKENDS})"
            )
        root = table_path
        if kind == "s3" and not table_path.startswith("s3://"):
            root = f"s3://cas/{os.path.realpath(table_path).lstrip('/')}"
        store = store_for(root)
        if store is None:
            raise ValueError(f"no object store client for {root!r}")
        return cls(store, root)

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
    OWN directory, so the loser of the manifest swap can abort without
    ever having clobbered the winner's files — the swap (plus mutation
    guard) stays the only commit point, and loser data is just an orphan
    dir for vacuum. Legacy plain-int tokens remain readable."""
    return f"{int(new_version)}-{uuid.uuid4().hex[:8]}"


def full_schema(payload: T.StructType) -> T.StructType:
    return T.StructType(list(payload.fields) + BOOKKEEPING_FIELDS)


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


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
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
        commit_protocol: str = "localfs",
        manifest_shards: int | None = None,
        cas_backend: str = "localfs",
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
        if commit_protocol not in ("localfs", "cas"):
            raise ValueError(
                f"unknown commit_protocol {commit_protocol!r} "
                "(expected 'localfs' or 'cas')"
            )
        if cas_backend not in CAS_BACKENDS:
            raise ValueError(
                f"unknown cas_backend {cas_backend!r} "
                f"(expected one of {CAS_BACKENDS})"
            )
        if manifest_shards is not None and not (
            1 <= manifest_shards <= n_buckets
        ):
            raise ValueError(
                f"manifest_shards must be in [1, n_buckets]; got {manifest_shards}"
            )
        if os.path.exists(os.path.join(path, MANIFEST)):
            if not overwrite:
                return cls(path)
            shutil.rmtree(path)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        manifest = {
            "version": 0,
            "n_buckets": n_buckets,
            "key_col": key_col,
            "schema": payload_schema.json(),
            "applied_epochs": [],
        }
        if manifest_shards is not None:
            manifest["n_shards"] = manifest_shards
            manifest["shard_files"] = {}
            os.makedirs(os.path.join(path, SHARDS_DIR), exist_ok=True)
        else:
            manifest["buckets"] = {}
        if commit_protocol == "cas":
            manifest["commit_protocol"] = "cas"
            if cas_backend != "localfs":
                manifest["cas_backend"] = cas_backend
        cls._write_manifest(path, manifest)
        return cls(path)

    def _load_manifest(self) -> dict:
        with open(os.path.join(self.path, MANIFEST)) as fh:
            manifest = json.load(fh)
        if manifest.get("commit_protocol") != "cas":
            return manifest
        # CAS tables: the commit log is authoritative, manifest.json is
        # only a pointer cache. A writer that crashed after its CAS
        # linearization (commit slot created) but before the pointer swap
        # leaves the pointer stale — heal forward to the newest commit.
        backend = CasLog.for_table(self.path, manifest.get("cas_backend", "localfs"))
        slots = backend.slots()
        top = max(slots) if slots else -1
        if top > manifest.get("mutation", 0):
            manifest = json.loads(backend.read(top))
            tmp = os.path.join(self.path, f".{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
            os.replace(tmp, os.path.join(self.path, MANIFEST))
        return manifest

    @staticmethod
    def _write_manifest(
        path: str, manifest: dict, expected_mutation: int | None = None
    ) -> None:
        """Swap the manifest atomically, under the table's commit protocol.

        ``localfs`` (default): check-then-replace guarded by a mutation
        counter — a small TOCTOU window remains, so the design assumes a
        single writer per table (the streaming runner); the guard turns
        the realistic stale-writer mistake (two jobs pointed at one
        table) into a loud error instead of silent committed-data loss.

        ``cas``: true compare-and-swap. The linearization point is an
        atomic put-if-absent of commit slot n in the table's `CasLog`,
        through its object store (objectstore.py — localfs: ``os.link``
        into ``_commits/m=<n>.json``, failing EEXIST; s3: a conditional
        put, ``If-None-Match: *``; same protocol as Delta Lake's HDFS
        LogStore). There is NO check-then-act window: a racing writer
        loses at the create itself regardless of interleaving, and
        ``manifest.json`` is just a pointer cache healed forward by
        ``_load_manifest``. The CAS tests run through both stores (s3
        over the dir-backed fake), so the protocol provably depends on
        nothing but the store's primitives."""
        target = os.path.join(path, MANIFEST)
        if manifest.get("commit_protocol") == "cas":
            backend = CasLog.for_table(path, manifest.get("cas_backend", "localfs"))
            n = 0 if expected_mutation is None else expected_mutation + 1
            manifest["mutation"] = n
            if expected_mutation is not None:
                # rebase check (one LIST, same as Delta's LogStore): a
                # writer whose base is behind the log's top must lose
                # LOUDLY here — required because vacuum prunes commit
                # slots below top, so a long-stale writer's put-if-absent
                # target slot may be free again. Writers passing this
                # check target top+1, which vacuum never prunes, so the
                # put below stays the true linearization point for the
                # remaining check→put window.
                slots = backend.slots()
                top = max(slots) if slots else -1
                if top != expected_mutation:
                    raise CommitConflictError(
                        f"concurrent writer detected on {path}: commit log "
                        f"top m={top} != expected {expected_mutation}; "
                        "aborting commit (no state was overwritten)"
                    )
            if not backend.put_if_absent(
                n, json.dumps(manifest, indent=1, sort_keys=True)
            ):
                raise CommitConflictError(
                    f"concurrent writer detected on {path}: commit m={n} "
                    "already exists (lost the CAS put-if-absent); "
                    "aborting commit (no state was overwritten)"
                )
        elif expected_mutation is not None and os.path.exists(target):
            with open(target) as fh:
                cur = json.load(fh)
            if cur.get("mutation", 0) != expected_mutation:
                raise CommitConflictError(
                    f"concurrent writer detected on {path}: manifest mutation "
                    f"{cur.get('mutation', 0)} != expected {expected_mutation}; "
                    "aborting commit (no state was overwritten)"
                )
            manifest["mutation"] = expected_mutation + 1
        tmp = os.path.join(path, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, target)  # atomic commit point (pointer, for cas)
        # manifest history → time travel (readable until vacuum drops the
        # data files an old manifest points to)
        hist = os.path.join(path, "manifests")
        os.makedirs(hist, exist_ok=True)
        with open(os.path.join(hist, f"v={manifest['version']}.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)

    # ---------- properties ----------

    @property
    def n_buckets(self) -> int:
        return self._manifest["n_buckets"]

    @property
    def key_col(self) -> str:
        """Upsert key column (entity tables key on their own id column;
        'url' for legacy/page manifests that predate the field)."""
        return self._manifest.get("key_col", "url")

    @property
    def payload_schema(self) -> T.StructType:
        return schema_from_json(self._manifest["schema"])

    @property
    def version(self) -> int:
        return self._manifest["version"]

    def commit_log_backend(self) -> CasLog:
        """The table's CAS commit log — the conditional-put slots the
        CAS protocol linearizes through."""
        return CasLog.for_table(
            self.path, self._manifest.get("cas_backend", "localfs")
        )

    def has_epoch(self, epoch_id: int) -> bool:
        e = int(epoch_id)
        return (0 <= e <= self._manifest.get("epoch_watermark", -1)) or (
            e in set(self._manifest["applied_epochs"])
        )

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
        non-delete upsert, so est >= live always — EXCEPT on a table
        committed before this key existed, where the absent key reads 0
        (far BELOW live) until `seed_rows_est` (run by maintain_once)
        migrates it from a one-time live-row count; until then
        fp_index="auto" simply stays on the correct full-scan gate
        (perf-only lag, never a correctness hazard). Consumers
        (fp_index="auto") use it as a crossed-threshold trigger, where
        over-counting merely flips the switch early — the safe side."""
        return int(self._manifest.get("rows_est", 0))

    def seed_rows_est(self, spark: SparkSession) -> int | None:
        """One-time migration for tables committed before `rows_est`
        existed: count live rows (narrow key-only scan) and commit the
        seed as a metadata-only manifest swap through the table's
        normal commit protocol (CAS-safe beside a live applier; a lost
        race just retries next maintenance cycle). Returns the seeded
        count, or None if the manifest already carries the key — the
        apply path never calls this, so it never pays the O(table)
        scan. Post-seed the upper-bound invariant holds: future deletes
        are never subtracted and updates tally as inserts."""
        if "rows_est" in self._manifest:
            return None
        n = int(
            self.read_buckets(spark, include_deleted=False, columns=[]).count()
        )
        manifest = dict(self._manifest)
        manifest["version"] = self.version + 1
        manifest["rows_est"] = n
        self._write_manifest(
            self.path, manifest,
            expected_mutation=self._manifest.get("mutation", 0),
        )
        self._manifest = manifest
        return n

    @staticmethod
    def _bump_rows_est(manifest: dict, rows_delta: int) -> None:
        manifest["rows_est"] = max(
            0, int(manifest.get("rows_est", 0)) + int(rows_delta)
        )

    # ---------- reads ----------

    @staticmethod
    def _bucket_entry(raw) -> dict:
        """Manifest bucket entry; accepts the legacy plain-int form.
        `z` maps version token → [min_warc_ts, max_warc_ts] (ISO strings)
        over that token's files for this bucket — the zone map readers
        use to skip whole files on a time predicate. `zf` (optional,
        recorded only when a (bucket, token) dir holds MORE THAN ONE
        file) refines it per file: token → {filename: [lo, hi] | null}
        — null means "range unknown, always read". A zf entry is only
        ever written COMPLETE (every file of the dir listed), so readers
        may treat its key set as the dir's file listing."""
        if isinstance(raw, dict):
            return {
                "base": raw["base"],
                "deltas": raw["deltas"],
                "z": raw.get("z", {}),
                "zf": raw.get("zf", {}),
            }
        return {"base": raw, "deltas": [], "z": {}, "zf": {}}

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
        cache = getattr(self, "_shard_cache", None)
        if cache is None:
            cache = self._shard_cache = {}

        def load(sid: int):
            fname = pointers.get(str(sid))
            if fname is None:
                return sid, None, None
            got = cache.get((sid, fname))
            if got is None:
                with open(os.path.join(self.path, SHARDS_DIR, fname)) as fh:
                    got = json.load(fh)
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
        sdir = os.path.join(self.path, SHARDS_DIR)
        os.makedirs(sdir, exist_ok=True)
        for sid, ups in sorted(by_sid.items()):
            cur = {}
            fname = pointers.get(str(sid))
            if fname is not None:
                with open(os.path.join(sdir, fname)) as fh:
                    cur = json.load(fh)
            cur.update(ups)
            new_name = f"s={sid}-{uuid.uuid4().hex[:8]}.json"
            with open(os.path.join(sdir, new_name), "w") as fh:
                json.dump(cur, fh, sort_keys=True)
            pointers[str(sid)] = new_name
            written.append(os.path.join(sdir, new_name))
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

        import datetime as dt

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
            d = os.path.join(self.path, "data", f"v={tok}", f"b={b}")
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
        hist = os.path.join(self.path, "manifests", f"v={int(version)}.json")
        with open(hist) as fh:
            manifest = json.load(fh)
        snap = SnapshotTable.__new__(SnapshotTable)
        snap.path = self.path
        snap._manifest = manifest
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
        hist = os.path.join(self.path, "manifests", f"v={int(since_version)}.json")
        with open(hist) as fh:
            old = json.load(fh)
        old_wm = int(old.get("epoch_watermark", -1))
        old_sparse = [int(e) for e in old.get("applied_epochs", [])]
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
        # applied-after test against the historical watermark + its small
        # out-of-order set — bounded predicates, not an isin() over every
        # epoch the table ever applied
        cond = F.col("last_epoch") > F.lit(old_wm)
        if old_sparse:
            cond = cond & ~F.col("last_epoch").isin(old_sparse)
        return cur.filter(cond)

    def versions(self) -> list[int]:
        hist = os.path.join(self.path, "manifests")
        if not os.path.isdir(hist):
            return []
        return sorted(
            int(f[2:-5]) for f in os.listdir(hist) if f.startswith("v=")
        )

    # ---------- commit ----------

    def _swap_or_cleanup(
        self, manifest: dict, written_dir: str, extra_paths: list[str] = ()
    ) -> None:
        """Mutation-guarded manifest swap; on a concurrent-writer abort,
        delete this writer's own (never-shared) version dir and any
        shard files it wrote, so the loser leaves no junk — the winner's
        files were never at risk."""
        try:
            self._write_manifest(
                self.path, manifest,
                expected_mutation=self._manifest.get("mutation", 0),
            )
        except RuntimeError:
            shutil.rmtree(written_dir, ignore_errors=True)
            for p in extra_paths:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
            raise
        self._manifest = manifest

    def stage_version_dir(self) -> tuple[int, str, str]:
        """(new_version, token, absolute dir) for a caller-prewritten
        commit: a writer-unique staging dir under data/. Two racing
        writers get different dirs; whoever loses the manifest swap
        aborts without having touched the winner's files."""
        v = self.version + 1
        token = _vtoken(v)
        return v, token, os.path.join(self.path, "data", f"v={token}")

    def commit_epoch(
        self,
        merged: DataFrame,
        touched_buckets: list[int],
        epoch_id: int,
        evolved_payload: T.StructType,
        zmaps: dict | None = None,
        rows_delta: int = 0,
    ) -> int:
        """Write merged rows of the touched buckets as a new writer-unique
        version dir, then atomically swap the manifest. Returns the new
        version.

        `zmaps` (bucket → [lo, hi] warc_ts range of the epoch's UPDATES)
        extends each rewritten bucket's zone map: the new base holds
        current ∪ updates, so its range is the union of the old entry's
        ranges and the updates' range — no extra job over the data."""
        if self.has_epoch(epoch_id):
            return self.version  # duplicate delivery → no-op
        new_version = self.version + 1
        token = _vtoken(new_version)
        out = os.path.join(self.path, "data", f"v={token}")
        cols = [f.name for f in full_schema(evolved_payload).fields]
        (
            merged.withColumn("b", bucket_expr(self.n_buckets, self.key_col))
            .select("b", *cols)
            # co-locate each bucket in one task → exactly one file per
            # bucket per version (bucket size is governed by n_buckets,
            # chosen so a bucket ≈ one healthy parquet file at target SF)
            .repartition(max(len(touched_buckets), 1), "b")
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(out)
        )
        manifest = dict(self._manifest)
        manifest["version"] = new_version
        manifest["schema"] = evolved_payload.json()
        self._record_epoch(manifest, epoch_id)
        self._bump_rows_est(manifest, rows_delta)
        cur = self._buckets_of(self._manifest, only=touched_buckets)
        updates: dict = {}
        for b in touched_buckets:
            # copy-on-write: the new base subsumes any prior deltas
            old = self._bucket_entry(cur.get(str(int(b)), {"base": None, "deltas": []}))
            # only record a range when EVERY contributing file's range is
            # known — an understated hi would wrongly prune live rows
            rng = None
            if zmaps is not None:
                prior = [t for t in [old["base"], *old["deltas"]] if t is not None]
                known = [old["z"].get(str(t)) for t in prior]
                if all(k is not None for k in known):
                    rng = _zmerge(*known, zmaps.get(int(b)))
            updates[str(int(b))] = {
                "base": token,
                "deltas": [],
                "z": {str(token): rng} if rng else {},
            }
        written = self._apply_bucket_updates(manifest, updates)
        self._swap_or_cleanup(manifest, out, extra_paths=written)
        return new_version

    def commit_prewritten_delta(
        self,
        touched_buckets: list[int],
        epoch_id: int,
        evolved_payload: T.StructType,
        new_version: int,
        token: str | None = None,
        zmaps: dict | None = None,
        rows_delta: int = 0,
    ) -> int:
        """Manifest-only delta commit for a version dir the CALLER already
        wrote via `stage_version_dir()` (single-write apply path: the
        deduped batch streams straight into its final delta files — no
        staging copy, half the write I/O of stage-then-commit). The
        caller must have written partitionBy("b") dirs for exactly
        `touched_buckets`. Crash before this call leaves an orphan
        version dir (vacuum cleans it); the mutation guard rejects stale
        writers at the swap, and the staging dir is writer-unique so a
        loser never clobbered the winner's files."""
        if self.has_epoch(epoch_id):
            return self.version
        token = token if token is not None else str(int(new_version))
        out = os.path.join(self.path, "data", f"v={token}")
        if new_version != self.version + 1:
            shutil.rmtree(out, ignore_errors=True)
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
            e = self._bucket_entry(cur.get(str(int(b)), {"base": None, "deltas": []}))
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
    def _ts_range_of_md(md):
        """One footer's warc_ts range: [lo_iso, hi_iso], None (all rows
        null — no range, read always), or the sentinel "missing" (a
        statistic is absent — the caller's whole fast path falls back)."""
        import datetime as dt

        def norm(v):
            if not isinstance(v, dt.datetime):
                return None
            if v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v

        lo = hi = None
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            col = None
            for i in range(rgm.num_columns):
                c = rgm.column(i)
                if c.path_in_schema == "warc_ts":
                    col = c
                    break
            if col is None:
                return "missing"
            st = col.statistics
            if st is not None and st.has_min_max:
                mn, mx = norm(st.min), norm(st.max)
                if mn is None or mx is None:
                    return "missing"
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            elif (
                st is not None
                and st.has_null_count
                and st.null_count == rgm.num_rows
            ):
                continue  # all-null chunk contributes no range
            else:
                return "missing"
        return [_ziso(lo), _ziso(hi)] if lo is not None else None

    @staticmethod
    def _file_ts_ranges_many(
        out: str, buckets, max_workers: int | None = None
    ) -> dict:
        """Per-file warc_ts ranges from parquet FOOTERS for the bucket
        dirs `b=<k>` of one compaction output: {str(k): {fname:
        [lo_iso, hi_iso] | None} | None} (a file range None = rows but
        no usable range, read it always). A bucket maps to None when
        it has no parquet files or any footer lacks the statistics
        (INT96 history, stats disabled) — callers then fold prior
        token ranges instead, conservative and never wrong. Two
        batched passes through the object store at its own width: ONE
        tree listing of `out` (one LIST round-trip per ~1000 keys on
        object storage, not one per bucket) and ONE footer pass over
        every file. Unknown schemes → every bucket None."""
        keys = [str(b) for b in buckets]
        store = store_for(out)
        if store is None:
            return {k: None for k in keys}
        per_bucket: dict[str, list[str]] = {k: [] for k in keys}
        for rel, _size, _mt in store.list_tree(out):
            bdir, _, name = rel.rpartition("/")
            if bdir.startswith("b=") and name.endswith(".parquet"):
                files = per_bucket.get(bdir[2:])
                if files is not None:
                    files.append(f"{out.rstrip('/')}/{rel}")
        flat = [(k, p) for k in keys for p in per_bucket[k]]
        mds = store.parquet_metadata_many([p for _k, p in flat], max_workers)
        res: dict[str, dict | None] = {
            k: ({} if per_bucket[k] else None) for k in keys
        }
        for (k, path), md in zip(flat, mds):
            if res[k] is None:
                continue
            r = SnapshotTable._ts_range_of_md(md)
            if r == "missing":
                res[k] = None
                continue
            res[k][path.rsplit("/", 1)[-1]] = r
        return res

    def _delta_bytes(self, b: str, entry: dict) -> int:
        """On-disk bytes of a bucket's delta chain (driver-side listing;
        an object-store deployment would track this in the manifest at
        commit time instead)."""
        total = 0
        for dv in entry["deltas"]:
            d = os.path.join(self.path, "data", f"v={dv}", f"b={b}")
            if os.path.isdir(d):
                total += sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d)
                    if not f.startswith(("_", "."))
                )
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

        Lineage repair rides along for free: the delta apply path writes
        upserts with a coarse ``last_op='U'`` (I-vs-U needs a table
        lookup the O(batch) path refuses to pay), so cow and delta
        tables record different last_op for identical feeds. Compaction
        already reads every retained row of a victim bucket, which is
        exactly the history needed to reconstruct the truth: a winning
        DELTA row's previous state is the next-newest retained row of
        its key (base files hold the full pre-delta key set, tombstones
        included), so the winner was an insert iff that previous row is
        absent or a tombstone. Base-file winners keep their recorded
        last_op (their own history was folded away by an earlier
        compaction — recorded truth beats reconstruction there).
        Post-compaction, cow and delta tables agree row-for-row on
        last_op for in-order feeds (tested in test_delta_mode +
        property-tested over random in-order epochings). One honest
        divergence: cow classifies I-vs-U against the table state in
        ARRIVAL order, while reconstruction uses EVENT-TIME order — so
        for a key whose winner arrived in an earlier epoch than an
        older (late) event, cow says what happened at apply time and
        the repaired value says what the event-time history implies.
        A WAL tail is in order, so the normal CDC case never hits
        this; when it does, the repaired value is the event-time
        truth. The per-epoch METRICS rows
        appended at apply time are immutable history and keep the
        coarse delta semantics (n_insert=0) — documented in
        schema.METRICS_SCHEMA; consumers wanting exact I/U splits read
        the table's last_op, not cross-mode metrics."""
        victims = [
            int(b)
            for b, e in self._entries(None)
            if len(e["deltas"]) > max_deltas
            or (
                max_delta_bytes is not None
                and e["deltas"]
                and self._delta_bytes(b, e) > max_delta_bytes
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
        writer.parquet(out)
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

    def commit_empty_epoch(self, epoch_id: int) -> None:
        """Record an epoch that produced no changes (all rows gated) —
        manifest-only: no version bump, no data files."""
        if self.has_epoch(epoch_id):
            return
        manifest = dict(self._manifest)
        self._record_epoch(manifest, epoch_id)
        self._write_manifest(
            self.path, manifest,
            expected_mutation=self._manifest.get("mutation", 0),
        )
        self._manifest = manifest

    # ---------- lineage / metrics ----------

    @staticmethod
    def _pa_type(dt_):
        import pyarrow as pa

        return {
            "long": pa.int64(),
            "bigint": pa.int64(),
            "int": pa.int32(),
            "integer": pa.int32(),
            "double": pa.float64(),
            "string": pa.string(),
            "boolean": pa.bool_(),
            # tz-aware (isAdjustedToUTC) so Spark reads TIMESTAMP_LTZ,
            # matching what its own writer produced; session is UTC-naive
            "timestamp": pa.timestamp("us", tz="UTC"),
        }[dt_.simpleString()]

    def _append_rows(self, subdir: str, rows: list[dict], spark_schema) -> None:
        """Append tiny bookkeeping rows as one parquet file written
        DRIVER-SIDE via pyarrow — metrics and commit-log rows are a few
        hundred bytes, and a full Spark write job per table per epoch
        (plan + schedule + task + commit protocol) was a measurable part
        of the per-epoch fixed cost. Spark reads the directory exactly as
        before; files are uniquely named so appends never collide."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.path, subdir)
        os.makedirs(d, exist_ok=True)
        schema = pa.schema(
            [(f.name, self._pa_type(f.dataType)) for f in spark_schema.fields]
        )
        cols = {f.name: [r.get(f.name) for r in rows] for f in spark_schema.fields}
        pq.write_table(
            pa.Table.from_pydict(cols, schema=schema),
            os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"),
        )

    def append_metrics(self, metrics_rows: list[dict]) -> None:
        from qwatch_spark.schema import METRICS_SCHEMA

        self._append_rows("metrics", metrics_rows, METRICS_SCHEMA)

    def append_commit_log(self, spark: SparkSession, row: dict) -> None:
        from qwatch_spark.schema import COMMIT_LOG_SCHEMA

        self._append_rows("commit_log", [row], COMMIT_LOG_SCHEMA)

    def ensure_commit_log_row(self, spark: SparkSession, epoch_id: int) -> bool:
        """Backfill a missing commit_log row for an applied epoch.

        Covers the crash window between the manifest swap (the commit
        point) and the commit_log append: on the duplicate-delivery skip
        path the epoch would otherwise be permanently absent from the
        durable record. The backfill row is marked 'backfill' with null
        counters — per-bucket lineage for the epoch remains recoverable
        from the data files' last_epoch column. Returns True if a row was
        written (dedupable by epoch_id regardless)."""
        import datetime as dt

        p = os.path.join(self.path, "commit_log")
        if os.path.exists(p):
            present = (
                spark.read.parquet(p)
                .filter(F.col("epoch_id") == int(epoch_id))
                .limit(1)
                .count()
            )
            if present:
                return False
        self.append_commit_log(
            spark,
            {
                "epoch_id": int(epoch_id),
                "batch_fingerprint": "backfill",
                "n_events": None,
                "n_upserts": None,
                "n_deletes": None,
                "wall_ms": None,
                "events_per_sec": None,
                "committed_at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            },
        )
        return True

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        from qwatch_spark.schema import METRICS_SCHEMA

        p = os.path.join(self.path, "metrics")
        if not os.path.exists(p):
            return spark.createDataFrame([], METRICS_SCHEMA)
        return spark.read.parquet(p)

    def read_commit_log(self, spark: SparkSession) -> DataFrame:
        from qwatch_spark.schema import COMMIT_LOG_SCHEMA

        p = os.path.join(self.path, "commit_log")
        if not os.path.exists(p):
            return spark.createDataFrame([], COMMIT_LOG_SCHEMA)
        return spark.read.parquet(p)

    # ---------- maintenance ----------

    def vacuum(self, retention_s: float = 600.0) -> list[str]:
        """Delete version dirs no longer referenced by any bucket pointer
        (base or delta) — including aborted concurrent writers' orphan
        staging dirs. Safe because the manifest swap is the only commit
        point. Tokens are compared as directory names (legacy plain-int
        and writer-unique `N-<nonce>` forms alike).

        `retention_s` guards the CAS concurrent-writer window: a writer
        stages its version dir and shard files BEFORE its put-if-absent
        linearization, so an unreferenced-but-recent path may belong to a
        commit in flight. Unreferenced paths younger than the retention
        window are skipped (Delta Lake's retention-check policy); pass
        retention_s=0 only when the caller holds exclusive access."""

        def expired(p: str) -> bool:
            # retention is keyed off the NEWEST mtime in the whole tree,
            # not the top-level dir: writing parquet inside b=<n> subdirs
            # does not bump the parent v=<token> dir's mtime, so a
            # concurrent writer whose staging phase outlives retention_s
            # after dir creation would otherwise lose still-being-written
            # files mid-flight. The walk is per-UNREFERENCED-dir only
            # (orphans are rare) and file-count-bounded by the staged
            # epoch, so this stays metadata-cheap.
            try:
                newest = os.path.getmtime(p)
                if os.path.isdir(p):
                    for root, _dirs, files in os.walk(p):
                        for name in files:
                            try:
                                newest = max(
                                    newest,
                                    os.path.getmtime(os.path.join(root, name)),
                                )
                            except OSError:
                                return False  # vanished → someone owns it
                return (time.time() - newest) >= retention_s
            except OSError:
                return False  # disappeared underneath us → someone owns it

        live: set[str] = set()
        for _b, e in self._entries(None):
            if e["base"] is not None:
                live.add(f"v={e['base']}")
            live.update(f"v={d}" for d in e["deltas"])
        removed = []
        data = os.path.join(self.path, "data")
        for entry in os.listdir(data):
            if not entry.startswith("v="):
                continue
            if entry not in live and expired(os.path.join(data, entry)):
                shutil.rmtree(os.path.join(data, entry))
                removed.append(entry)
        # sharded manifests: shard files not referenced by the CURRENT
        # root are dead (historical roots lose time travel on vacuum,
        # same policy as their data dirs)
        sdir = os.path.join(self.path, SHARDS_DIR)
        if os.path.isdir(sdir):
            live_shards = set(self._manifest.get("shard_files", {}).values())
            for f in os.listdir(sdir):
                if (
                    f.startswith("s=")
                    and f not in live_shards
                    and expired(os.path.join(sdir, f))
                ):
                    os.unlink(os.path.join(sdir, f))
                    removed.append(f)
        # CAS commit log: only the highest mutation is authoritative
        # (loads recover forward to max); older slots are dead weight
        if self._manifest.get("commit_protocol") == "cas":
            backend = self.commit_log_backend()
            top = self._manifest.get("mutation", 0)
            for n in backend.slots():
                if n < top:
                    backend.delete(n)
                    removed.append(f"m={n}.json")
        return removed
