"""The one driver-side storage seam: a local filesystem and S3 behind the
same small set of object primitives.

Everything the engine does to storage outside Spark goes through here:
a table's pointer, history, shards, bookkeeping appends and CAS commit
log (`snapshot_table.CasLog`, under the table path, so the table's
path picks the one store all of it lives in), the parquet-footer
stats of the delta commit and compaction
(`snapshot_table._footer_stats_many`), the ANN serving indexes'
pointer/claim/fold/vacuum protocol (`operators/similarity`) and the
fingerprint bloom index (`plans/fp_bloom`). Two stores implement the
primitives:

- `LocalStore` — plain file ops. Atomic put is tmp + `os.replace`;
  put-if-absent is `os.link` of a complete tmp file (fails EEXIST —
  the trick Delta Lake's HDFS LogStore uses), so a reader never sees
  a half-written slot; move is `os.rename`.
- `S3Store` — the boto3 client surface: `put_object` (atomic
  visibility), `put_object(IfNoneMatch="*")` (S3's conditional put),
  paginated `list_objects_v2`, ranged `get_object`, `head_object`,
  `copy_object` (object stores have no rename: move is copy + delete).

Paths are store-native: a local path (or `file://` URI) or
`s3://bucket/key`. `store_for(path)` picks the store by scheme and
returns None for schemes no driver-side client serves (hdfs://,
abfs://, ...) — footer-stats callers then fall back to a Spark job.

Spark reads and writes the same bytes through `spark_path()`: identity
locally, `s3a://bucket/key` on a real bucket, and a test hook
(`S3Store.spark_path_for`) that maps into the directory a
`DirBackedFakeS3Client` is rooted at, so the whole control plane runs
against bytes Spark can scan.

I/O width is a store property (`io_workers`): local metadata ops are
microseconds of GIL-held CPU where a thread pool measured 8× slower
than a plain loop, so 1; S3 ops are a network round-trip each, so
they overlap on one shared pool (`pmap`).
"""

from __future__ import annotations

import io
import os
import random
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

# ---- the S3 error-code table ----
# missing: GET/DELETE bodies carry "NoSuchKey"; HEAD responses have no
# body, so botocore surfaces the bare HTTP status ("404"/"NotFound"),
# and some S3-compatible stores and proxies do the same on GET
MISSING = frozenset({"NoSuchKey", "404", "NotFound"})
LOST = "PreconditionFailed"  # 412: the key exists, the conditional put lost
IN_FLIGHT = "ConditionalRequestConflict"  # 409: a rival conditional put
# to the same key is in flight; the outcome is undecided


class CommitConflictError(RuntimeError):
    """A writer lost a commit race (CAS put-if-absent lost, mutation
    guard tripped). Retryable: rebase on the new manifest and retry.
    Subclasses RuntimeError so pre-existing catch sites keep working;
    NEW code must catch this type, never match on message substrings
    (an unrelated error whose text happens to contain 'stale' must not
    be silently retried)."""


class StaleBaseError(CommitConflictError):
    """The writer's base version/manifest was superseded before its
    commit — the pre-commit flavor of losing the race."""


class S3ClientError(Exception):
    """botocore.exceptions.ClientError shape: `.response["Error"]["Code"]`
    carries the S3 error code. The fake raises this; a real boto3
    client raises botocore's ClientError, which has the identical
    attribute — this module only ever reads `.response`."""

    def __init__(self, code: str, message: str = ""):
        super().__init__(f"{code}: {message}")
        self.response = {"Error": {"Code": code, "Message": message}}


def _code(exc) -> str:
    return getattr(exc, "response", {}).get("Error", {}).get("Code", "")


def split_uri(uri: str) -> tuple[str, str]:
    """`s3://bucket/key/` -> ("bucket", "key")."""
    bucket, _, key = uri[len("s3://"):].partition("/")
    return bucket, key.rstrip("/")


def _local(p: str) -> str:
    return p[len("file://"):] if p.startswith("file://") else p


def _hidden_tmp(p: str) -> str:
    """The in-flight name of a put to `p`: `.<name>.<hex>.tmp` beside it.
    The leading dot puts a killed put under Spark's hidden-file filter,
    so a directory Spark scans never shows it a torn file; listings skip
    the `.tmp` suffix."""
    d, name = os.path.split(p)
    return os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")


def iter_keys(client, bucket: str, prefix: str):
    """Paginated `list_objects_v2` as a generator of Contents entries
    (1000 keys per round-trip on real S3; the fake pages at 2 so every
    caller exercises the continuation path)."""
    token: str | None = None
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix}
        if token is not None:
            kw["ContinuationToken"] = token
        resp = client.list_objects_v2(**kw)
        yield from resp.get("Contents", [])
        if not resp.get("IsTruncated"):
            return
        token = resp["NextContinuationToken"]


# ---- the shared I/O pool ----

_POOL_SIZE = 512
_pool: ThreadPoolExecutor | None = None
_pool_lock = threading.Lock()


def _shared_pool() -> ThreadPoolExecutor:
    """Session-lifetime I/O pool, created lazily and REUSED across
    commits: spawning a thread costs ~0.7 ms on a 32-core host, so a
    per-commit pool of hundreds of threads would cost more than the
    round-trips it overlaps (measured: 512 pooled 20 ms sleeps took
    0.34 s on a fresh pool vs the ~0.06 s two waves should). Shut down
    at interpreter exit so a long-lived driver cannot leak it across
    embedded restarts."""
    global _pool
    with _pool_lock:
        if _pool is None:
            import atexit

            _pool = ThreadPoolExecutor(
                max_workers=_POOL_SIZE, thread_name_prefix="objectstore-io"
            )
            atexit.register(_shutdown_pool)
        return _pool


def _shutdown_pool() -> None:
    global _pool
    with _pool_lock:
        if _pool is not None:
            _pool.shutdown(wait=False, cancel_futures=True)
            _pool = None


def pmap(fn, items, max_workers: int = 32) -> list:
    """Map `fn` over `items` concurrently (shared pool, concurrency
    capped at `max_workers` by a semaphore), preserving order. Plain
    loop for 0/1 items or max_workers<=1 — the local stores' width.
    Exceptions propagate: a corrupt footer must fail the fast path
    loudly, not silently drop a file's stats."""
    items = list(items)
    if len(items) <= 1 or max_workers <= 1:
        return [fn(x) for x in items]
    sem = threading.Semaphore(max_workers)

    def gated(x):
        with sem:
            return fn(x)

    futures = [_shared_pool().submit(gated, x) for x in items]
    return [f.result() for f in futures]


class LocalStore:
    """The primitives over a local (or locally mounted) filesystem."""

    io_workers = 1

    def spark_path(self, p: str) -> str:
        return p

    def get(self, p: str, start: int | None = None, end: int | None = None):
        """Bytes of `p` (or its [start, end) slice), None when missing.
        Any other OSError (EACCES, EISDIR, EIO, ...) propagates: a
        transient I/O error must never read as 'no such object'."""
        start = start or 0
        try:
            with open(_local(p), "rb") as fh:
                fh.seek(start)
                return fh.read(-1 if end is None else end - start)
        except (FileNotFoundError, NotADirectoryError):
            return None

    def _tmp_beside(self, p: str, data: bytes) -> str:
        p = _local(p)
        # a key's parent "directories" never need creating on an object
        # store, so the local side makes them on demand
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = _hidden_tmp(p)
        with open(tmp, "wb") as fh:
            fh.write(data)
        return tmp

    def put(self, p: str, data: bytes) -> None:
        """Atomic visibility: readers see the old bytes or the new ones."""
        tmp = self._tmp_beside(p, data)
        try:
            os.replace(tmp, _local(p))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def put_if_absent(self, p: str, data: bytes) -> bool:
        """Atomically create `p` with `data`. True when `p` now holds
        `data` — created here, or already holding exactly these bytes
        (the S3 store's read-back rule, kept identical here); False when
        it holds a rival's. The link of a COMPLETE tmp file is the
        create: readers never see a torn object, across processes too."""
        tmp = self._tmp_beside(p, data)
        try:
            os.link(tmp, _local(p))
            return True
        except FileExistsError:
            return self.get(p) == data
        finally:
            os.unlink(tmp)

    def list_tree(self, d: str) -> list[tuple[str, int, float]]:
        """Every object under `d`, recursively, as (path relative to
        `d`, size, mtime), sorted by path; [] when `d` is missing.
        In-flight `.tmp` puts are not objects."""
        root = _local(d)
        out = []
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".tmp"):
                    continue
                full = os.path.join(dirpath, f)
                try:
                    st = os.stat(full)
                except FileNotFoundError:
                    continue  # deleted between walk and stat
                out.append(
                    (full[len(root):].lstrip(os.sep), st.st_size, st.st_mtime)
                )
        out.sort()
        return out

    def exists(self, p: str) -> bool:
        return os.path.exists(_local(p))

    def delete(self, p: str) -> None:
        try:
            os.unlink(_local(p))
        except FileNotFoundError:
            pass

    def delete_tree(self, d: str) -> None:
        """Delete everything under `d`, or `d` itself when it is a file."""
        d = _local(d)
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
        else:
            self.delete(d)

    def copy(self, src: str, dst: str) -> None:
        with open(_local(src), "rb") as fh:
            self.put(dst, fh.read())

    def move(self, src: str, dst: str) -> None:
        dst = _local(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(_local(src), dst)

    def stamp(self, p: str) -> int:
        """Cache-validation stamp: mtime_ns, so an overwrite in place
        can never serve a dead snapshot from a process cache. Raises
        FileNotFoundError when `p` is missing."""
        return os.stat(_local(p)).st_mtime_ns

    def parquet_metadata(self, path: str):
        import pyarrow.parquet as pq

        # path-string form: pyarrow's NATIVE file reader. A Python file
        # object here forces every byte through GIL-held PythonFile
        # calls (measured ~7× slower on a 512-file fixture)
        return pq.ParquetFile(_local(path)).metadata

    def parquet_metadata_many(
        self, paths: list[str], max_workers: int | None = None
    ) -> list:
        """Parquet FileMetaData (footer only) for every path."""
        return pmap(
            self.parquet_metadata,
            paths,
            self.io_workers if max_workers is None else max_workers,
        )


class S3Store:
    """The primitives over boto3's S3 client surface. Thread-safe iff
    the client is (boto3 clients and the fake both are).

    Class hooks: `client_factory` builds the client `store_for` uses
    (tests install the fake; None = a default boto3 client), and
    `spark_path_for(bucket, key)` maps an object to what Spark should
    address (None = `s3a://bucket/key`).

    Assumes part files are WRITE-ONCE (the table's contract: data files
    are only created and deleted, never rewritten), which makes the
    listing-time size cache sound; a footer fetch that finds bad magic
    behind a cached size still re-HEADs once before failing."""

    client_factory = None
    spark_path_for = None
    io_workers = 512  # latency-bound round-trips: overlap wide (the
    # s5cmd/rclone class of S3 tooling defaults to 256-512 concurrent
    # ops; S3 itself serves 5,500 GET/s per prefix)
    tail_bytes = 128 * 1024  # footer prefetch (typ. footers ≪ this)
    size_cache_max = 65536  # bounds driver memory in a long-lived
    # session; eviction is insertion order, fine for a cache every
    # listing refills

    def __init__(self, client):
        self.client = client
        self._sizes: dict[str, int] = {}  # parquet sizes seen by listings
        self._sizes_lock = threading.Lock()

    def spark_path(self, p: str) -> str:
        bucket, key = split_uri(p)
        if S3Store.spark_path_for is not None:
            return S3Store.spark_path_for(bucket, key)
        return f"s3a://{bucket}/{key}"  # pragma: no cover - real cluster

    def get(self, p: str, start: int | None = None, end: int | None = None):
        """Bytes of `p` (or its [start, end) slice — one ranged GET),
        None when missing."""
        bucket, key = split_uri(p)
        kw = {"Bucket": bucket, "Key": key}
        if start is not None or end is not None:
            last = "" if end is None else end - 1
            kw["Range"] = f"bytes={start or 0}-{last}"  # inclusive, like S3
        try:
            resp = self.client.get_object(**kw)
        except Exception as exc:
            if _code(exc) in MISSING:
                return None
            raise
        return resp["Body"].read()

    def put(self, p: str, data: bytes) -> None:
        bucket, key = split_uri(p)
        # an object put is atomic-visibility: no tmp + rename needed
        self.client.put_object(Bucket=bucket, Key=key, Body=data)

    def put_if_absent(self, p: str, data: bytes) -> bool:
        """`put_object(IfNoneMatch="*")`. On 412 the key exists — but if
        OUR write landed and only its 200 was lost (an SDK retry re-sent
        it and now sees the key), the object holds OUR bytes, so read it
        back and compare: equal is a win. Callers must therefore write
        bodies unique to the writer. On 409 a rival conditional write is
        in flight: re-poll with bounded jittered backoff until a winner
        lands."""
        bucket, key = split_uri(p)
        for attempt in range(64):
            try:
                self.client.put_object(
                    Bucket=bucket, Key=key, Body=data, IfNoneMatch="*"
                )
                return True
            except Exception as exc:
                code = _code(exc)
                if code == LOST:
                    return self.get(p) == data
                if code != IN_FLIGHT:
                    raise
                time.sleep(random.uniform(0, min(0.2 * 2 ** min(attempt, 6), 2.0)))
        # exhaustion: the same ambiguity — check whether our write
        # landed before declaring it dead
        if self.get(p) == data:
            return True
        raise CommitConflictError(f"{p}: conditional-write conflict did not settle")

    def _cache_size(self, uri: str, size: int) -> None:
        with self._sizes_lock:
            while len(self._sizes) >= self.size_cache_max:
                self._sizes.pop(next(iter(self._sizes)))
            self._sizes[uri] = int(size)

    def list_tree(self, d: str) -> list[tuple[str, int, float]]:
        """Every object under `d` as (relative path, size, mtime),
        sorted — ONE non-delimited LIST (1000 keys per round-trip), not
        one per sub-prefix. Parquet sizes go to the footer size cache,
        saving a HEAD per footer read."""
        bucket, key = split_uri(d)
        prefix = f"{key}/" if key else ""
        out = []
        for obj in iter_keys(self.client, bucket, prefix):
            rel = obj["Key"][len(prefix):]
            if rel.endswith(".parquet"):
                self._cache_size(f"s3://{bucket}/{obj['Key']}", obj["Size"])
            lm = obj.get("LastModified", 0.0)
            ts = lm.timestamp() if hasattr(lm, "timestamp") else float(lm)
            out.append((rel, int(obj["Size"]), ts))
        out.sort()
        return out

    def exists(self, p: str) -> bool:
        bucket, key = split_uri(p)
        try:
            self.client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception as exc:
            if _code(exc) in MISSING:
                return False
            raise

    def delete(self, p: str) -> None:
        bucket, key = split_uri(p)
        self.client.delete_object(Bucket=bucket, Key=key)  # idempotent

    def delete_tree(self, d: str) -> None:
        """Pooled deletes of every key under `d` (a superseded 10^4-file
        index version would otherwise cost 10^4 sequential round-trips),
        then `d` itself, which may be a single object (a stale claim)."""
        pmap(
            lambda rel: self.delete(f"{d.rstrip('/')}/{rel}"),
            [rel for rel, _size, _mt in self.list_tree(d)],
            self.io_workers,
        )
        self.delete(d)

    def copy(self, src: str, dst: str) -> None:
        sbucket, skey = split_uri(src)
        bucket, key = split_uri(dst)
        self.client.copy_object(
            Bucket=bucket, Key=key, CopySource={"Bucket": sbucket, "Key": skey}
        )

    def move(self, src: str, dst: str) -> None:
        self.copy(src, dst)  # server-side; each object write is atomic
        self.delete(src)

    def stamp(self, p: str) -> int:
        """Always 0, with no round-trip: every blob the engine writes
        to an object store is write-once under a nonce-unique name, so
        the name alone identifies the content."""
        return 0

    def _size_of(self, path: str) -> int:
        with self._sizes_lock:
            size = self._sizes.get(path)
        if size is None:
            bucket, key = split_uri(path)
            size = int(
                self.client.head_object(Bucket=bucket, Key=key)["ContentLength"]
            )
            self._cache_size(path, size)
        return size

    def _tail(self, path: str, size: int, n: int) -> bytes:
        data = self.get(path, max(0, size - n), size)
        if data is None:
            raise FileNotFoundError(path)
        return data

    def _fetch_footer(self, path: str) -> bytes:
        """The file's footer bytes (incl. the trailing length + magic):
        one ranged GET of the last `tail_bytes`, a second only when a
        footer outgrew the prefetch. The pure-I/O stage the pool
        overlaps."""
        size = self._size_of(path)
        data = self._tail(path, size, self.tail_bytes)
        if data[-4:] != b"PAR1":
            # not parquet, or the cached listing size went stale (object
            # rewritten — outside the write-once contract, but
            # survivable): drop it, HEAD a fresh size, retry ONCE
            with self._sizes_lock:
                stale = self._sizes.pop(path, None)
            size = self._size_of(path)
            if stale != size:
                data = self._tail(path, size, self.tail_bytes)
        if data[-4:] != b"PAR1":
            raise ValueError(f"{path}: not a parquet file (bad magic)")
        flen = int.from_bytes(data[-8:-4], "little") + 8
        if flen > size:
            raise ValueError(f"{path}: corrupt footer length {flen}")
        if flen > len(data):  # footer bigger than the prefetch
            data = self._tail(path, size, flen)
        return data[-flen:]

    def parquet_metadata_many(
        self, paths: list[str], max_workers: int | None = None
    ) -> list:
        """Two stages: POOLED footer fetches (network round-trips that
        release the GIL, so hundreds overlap), then SERIAL parses over
        `pa.BufferReader` — a native Arrow memory file, so the thrift
        parse runs at the local path's speed (a Python file object
        measured ~4× slower, and a wide pool convoys GIL-held parses 6×
        slower than this plain loop). A metadata-only parse reads the
        footer relative to EOF and never dereferences row-group
        offsets, so parsing the footer slice alone is exact."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        footers = pmap(
            self._fetch_footer,
            paths,
            self.io_workers if max_workers is None else max_workers,
        )
        return [pq.ParquetFile(pa.BufferReader(b)).metadata for b in footers]


def s3_client():
    """The client every S3Store is built with: the `client_factory`
    hook if installed, else a default boto3 client; None when neither
    is available."""
    if S3Store.client_factory is not None:
        return S3Store.client_factory()
    try:  # pragma: no cover - no boto3/object store in this sandbox
        import boto3  # type: ignore[import-not-found]
    except ImportError:
        return None
    return boto3.client("s3")  # pragma: no cover


_LOCAL = LocalStore()
# one S3Store (hence one client) per factory: hot paths resolve the
# store per call (index path mapping, pointer reads, the 50 ms
# fold-wait poll), and a production boto3 client costs tens of ms of
# botocore session setup. Keyed by the factory OBJECT so swapping
# `client_factory` gets a fresh client; boto3 clients are thread-safe.
_S3_CACHE: dict = {}


def store_for(path: str) -> LocalStore | S3Store | None:
    """The store for `path`'s scheme; None when no driver-side client
    can serve it (hdfs://, abfs://, ..., or s3:// without boto3)."""
    if path.startswith("s3://"):
        factory = S3Store.client_factory
        store = _S3_CACHE.get(factory)
        if store is None:
            client = s3_client()
            if client is None:
                return None
            store = S3Store(client)
            _S3_CACHE.clear()  # one live entry: old factories are dead
            _S3_CACHE[factory] = store
        return store
    if "://" in path and not path.startswith("file://"):
        return None
    return _LOCAL


def store_spec(path: str):
    """A PICKLABLE recipe for rebuilding `store_for(path)` inside an
    executor's Python worker (the fp-bloom probe UDF): class hooks set
    on the driver do not exist in worker processes, so the factory
    itself must ride the closure. It must be picklable (the fake is; a
    deployment needing a configured boto3 client passes a top-level
    function); None builds a default boto3 client worker-side."""
    if path.startswith("s3://"):
        return ("s3", S3Store.client_factory)
    return ("local", None)


# worker-side memo: the fp-bloom probe resolves its store once per
# Arrow batch, and reused Python workers keep this across tasks
_SPEC_CACHE: dict = {}


def store_from_spec(spec) -> LocalStore | S3Store:
    """Worker-side counterpart of `store_spec` (memoized per spec)."""
    kind, factory = spec
    try:
        return _SPEC_CACHE[spec]
    except (KeyError, TypeError):
        pass  # TypeError: unhashable factory — build fresh each call
    if kind == "local":
        store = _LOCAL
    elif factory is not None:
        store = S3Store(factory())
    else:  # pragma: no cover - real cluster default
        import boto3  # type: ignore[import-not-found]

        store = S3Store(boto3.client("s3"))
    try:
        _SPEC_CACHE[spec] = store
    except TypeError:  # pragma: no cover - unhashable factory
        pass
    return store


class DirBackedFakeS3Client:
    """The boto3 client surface over a REAL directory: object
    `bucket/key` is the file `<root>/bucket/key`. It is the one fake,
    because it is the one Spark can read too: Spark scans and writes
    through the filesystem path (production: s3a:// against the
    bucket) while the control plane speaks boto3 against the SAME
    bytes — the two-views-of-one-store shape a real deployment has.

    Semantics match S3 where the engine depends on them:
      - `put_object` is atomic-visibility (tmp file + os.replace);
      - `put_object(IfNoneMatch="*")` is a true cross-PROCESS CAS that
        never exposes a torn object (link of a complete tmp file);
      - listings are lexicographic with Size + LastModified and page
        at `page_size` (2 by default, so every caller exercises the
        pagination loop);
      - HEAD of a missing key fails with the bare "404" (HEAD responses
        carry no body to name "NoSuchKey"), GET/copy with "NoSuchKey";
      - `copy_object` copies bytes — object stores have no rename.
    Directories as such don't exist: empty dirs are invisible to
    listings, exactly like prefixes on S3."""

    def __init__(self, root: str, page_size: int = 2):
        self.root = os.path.realpath(root)
        self.page_size = int(page_size)

    def _path(self, bucket: str, key: str) -> str:
        p = os.path.realpath(os.path.join(self.root, bucket, key))
        if not p.startswith(self.root + os.sep):
            raise ValueError(f"key escapes the store root: {bucket}/{key}")
        return p

    def put_object(self, Bucket: str, Key: str, Body, IfNoneMatch: str | None = None):
        data = bytes(Body) if isinstance(Body, (bytes, bytearray)) else str(Body).encode()
        dst = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = _hidden_tmp(dst)
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            if IfNoneMatch == "*":
                try:
                    os.link(tmp, dst)  # atomic create-or-fail
                except FileExistsError:
                    raise S3ClientError(LOST, Key) from None
            else:
                os.replace(tmp, dst)  # atomic visibility, like an S3 put
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return {}

    def list_objects_v2(
        self,
        Bucket: str,
        Prefix: str = "",
        ContinuationToken: str | None = None,
        MaxKeys: int | None = None,
    ):
        base = os.path.join(self.root, Bucket)
        keys = []
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".tmp"):
                    continue  # in-flight atomic puts are not objects
                key = os.path.relpath(os.path.join(dirpath, f), base)
                if key.startswith(Prefix) and (
                    ContinuationToken is None or key > ContinuationToken
                ):
                    keys.append(key)
        keys.sort()
        page = keys[: MaxKeys or self.page_size]
        contents = []
        for k in page:
            try:
                st = os.stat(self._path(Bucket, k))
            except OSError:
                continue  # deleted between walk and stat
            contents.append({"Key": k, "Size": st.st_size, "LastModified": st.st_mtime})
        out: dict = {"Contents": contents, "IsTruncated": len(keys) > len(page)}
        if out["IsTruncated"]:
            out["NextContinuationToken"] = page[-1]
        return out

    def get_object(self, Bucket: str, Key: str, Range: str | None = None):
        try:
            with open(self._path(Bucket, Key), "rb") as fh:
                data = fh.read()
        except (FileNotFoundError, IsADirectoryError):
            raise S3ClientError("NoSuchKey", Key) from None
        if Range is not None:
            # "bytes=a-b" (inclusive) or "bytes=a-", like S3
            a, _, b = Range.split("=", 1)[1].partition("-")
            data = data[int(a): int(b) + 1 if b else None]
        return {"Body": io.BytesIO(data)}

    def head_object(self, Bucket: str, Key: str):
        p = self._path(Bucket, Key)
        if not os.path.isfile(p):  # a prefix/dir is not an object
            raise S3ClientError("404", Key)
        return {"ContentLength": os.path.getsize(p)}

    def delete_object(self, Bucket: str, Key: str):
        try:
            os.unlink(self._path(Bucket, Key))
        except (FileNotFoundError, IsADirectoryError):
            # a prefix is not an object on S3: deleting it is a no-op
            # (empty dirs left behind are invisible to listings too)
            pass
        return {}

    def copy_object(self, Bucket: str, Key: str, CopySource: dict):
        try:
            with open(self._path(CopySource["Bucket"], CopySource["Key"]), "rb") as fh:
                data = fh.read()
        except FileNotFoundError:
            raise S3ClientError("NoSuchKey", CopySource["Key"]) from None
        # keyword form, like every boto3 call — subclasses wrap these
        # methods with **kw signatures (latency models, call counters)
        return self.put_object(Bucket=Bucket, Key=Key, Body=data)
