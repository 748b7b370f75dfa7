"""The ANN-index versioned-pointer protocol over OBJECT STORAGE — the
round-7 verdict's #1: through r7 every protocol primitive (pointer
swap, rival claim, file-snapshot listings, fold moves, vacuum) was a
local-fs call, so `ivf_maintain`/`lsh_maintain`/vacuum/the append
conflict check could not run where a 100 TB deployment's indexes live.
`plans/objectstore.py` is the port seam; this suite proves the SAME
protocol — build, append, probe, maintain, conflict-retry, vacuum,
and the concurrent appender+probers+maintainer stress — over the
boto3 client surface.

The store is a `DirBackedFakeS3Client`: the boto3 surface rooted at a
real directory, so Spark scans and writes the very bytes the control
plane manipulates (two views of one store — the shape a real
deployment has with s3a:// on the data plane and boto3 on the control
plane). Conditional puts are O_CREAT|O_EXCL (true cross-process CAS),
listings paginate at 2 keys/page so every LIST exercises the
pagination loop, and folds go through `copy_object` — object stores
have no rename, and nothing here assumes one.
"""

import threading

import pytest
from pyspark.sql import functions as F

import qwatch_spark.operators.similarity as sim
from qwatch_spark.plans.objectstore import (
    DirBackedFakeS3Client,
    LocalStore,
    S3ClientError,
    S3Store,
    store_for,
)
from tests.test_similarity_dedup import _clustered_corpus


@pytest.fixture()
def s3idx(tmp_path):
    """Installs a directory-rooted fake S3 store behind the two class
    hooks the production port uses (`S3Store.client_factory` for the
    control plane, `S3Store.spark_path_for` for the data plane) and
    yields a path factory: name -> `s3://idx/<name>`. Set directly, not
    through `monkeypatch`, so a test's own `monkeypatch.undo()` cannot
    drop the fake mid-test."""
    store = tmp_path / "store"
    store.mkdir()
    old_factory = S3Store.client_factory
    old_map = S3Store.spark_path_for
    S3Store.client_factory = lambda: DirBackedFakeS3Client(str(store))
    S3Store.spark_path_for = lambda bucket, key: str(store / bucket / key)
    try:
        yield lambda name: f"s3://idx/{name}"
    finally:
        S3Store.client_factory = old_factory
        S3Store.spark_path_for = old_map


def _read_cur(spark, path):
    data, v = sim._idx_current(path)
    return spark.read.parquet(sim._sp(data)), v


# ---------------------------------------------------------------- fakes


def test_dir_backed_fake_client_semantics(tmp_path):
    """The fake must be honest where the protocol depends on it:
    conditional-put exclusivity (across threads), pagination, ranged
    GETs, server-side copy, and in-flight `.tmp` invisibility."""
    c = DirBackedFakeS3Client(str(tmp_path))
    c.put_object(Bucket="b", Key="a/k1", Body=b"hello world")
    got = c.get_object(Bucket="b", Key="a/k1")["Body"].read()
    assert got == b"hello world"
    assert (
        c.get_object(Bucket="b", Key="a/k1", Range="bytes=6-10")["Body"].read()
        == b"world"
    )
    with pytest.raises(S3ClientError, match="NoSuchKey"):
        c.get_object(Bucket="b", Key="missing")

    # conditional put: exactly one of N racing writers wins
    wins: list[int] = []
    def claim(i):
        try:
            c.put_object(Bucket="b", Key="claim", Body=b"", IfNoneMatch="*")
            wins.append(i)
        except S3ClientError as e:
            assert e.response["Error"]["Code"] == "PreconditionFailed"
    ts = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1

    # pagination: page_size=2 forces the continuation loop
    for i in range(7):
        c.put_object(Bucket="b", Key=f"p/{i:02d}", Body=b"x")
    keys, token = [], None
    while True:
        kw = {"Bucket": "b", "Prefix": "p/"}
        if token:
            kw["ContinuationToken"] = token
        resp = c.list_objects_v2(**kw)
        keys += [o["Key"] for o in resp["Contents"]]
        assert len(resp["Contents"]) <= 2
        if not resp["IsTruncated"]:
            break
        token = resp["NextContinuationToken"]
    assert keys == [f"p/{i:02d}" for i in range(7)]

    # copy is bytes, not rename: source survives
    c.copy_object(
        Bucket="b", Key="a/k2", CopySource={"Bucket": "b", "Key": "a/k1"}
    )
    assert c.get_object(Bucket="b", Key="a/k1")["Body"].read() == b"hello world"
    assert c.get_object(Bucket="b", Key="a/k2")["Body"].read() == b"hello world"

    # an in-flight atomic put's scratch is not an object
    (tmp_path / "b" / "a" / "zz.deadbeef.tmp").write_bytes(b"torn")
    listed = {
        o["Key"] for o in c.list_objects_v2(Bucket="b", Prefix="a/")["Contents"]
    }
    assert listed == {"a/k1", "a/k2"}

    # keys cannot escape the store root
    with pytest.raises(ValueError, match="escapes"):
        c.put_object(Bucket="b", Key="../../etc/passwd", Body=b"no")


def test_indexfs_dispatch_and_primitive_parity(tmp_path, monkeypatch):
    """`store_for` picks the store per scheme, and the two stores agree
    on every primitive — and the index protocol built on them — over
    equivalent roots (the parity that makes the s3 tests meaningful)."""
    assert isinstance(store_for(str(tmp_path / "x")), LocalStore)
    assert isinstance(store_for("file:///tmp/x"), LocalStore)
    assert store_for("hdfs://nn/idx") is None
    with pytest.raises(ValueError, match="scheme"):
        sim._idx_fs("hdfs://nn/idx")

    store = tmp_path / "store"
    store.mkdir()
    monkeypatch.setattr(
        S3Store, "client_factory", lambda: DirBackedFakeS3Client(str(store))
    )
    pairs = [
        (store_for(str(tmp_path / "loc")), str(tmp_path / "loc")),
        (store_for("s3://idx/loc"), "s3://idx/loc"),
    ]
    assert isinstance(pairs[1][0], S3Store)
    for fs, path in pairs:
        # put-if-absent: won, the read-back of our own landed write, lost
        slot = f"{path}/_commits/m=0.json"
        assert fs.get(slot) is None
        assert fs.put_if_absent(slot, b"mine") is True
        assert fs.put_if_absent(slot, b"mine") is True
        assert fs.put_if_absent(slot, b"rival") is False
        assert fs.get(slot) == b"mine"
        # atomic put overwrites; ranged get is a [start, end) slice
        blob = f"{path}/blob"
        fs.put(blob, b"hello world")
        assert fs.get(blob, 6, 11) == b"world"
        assert fs.get(blob, 6) == b"world"
        assert fs.get(blob, 0, 5) == b"hello"
        # copy is bytes (the source survives); move does not keep it
        fs.copy(blob, f"{path}/sub/copy")
        fs.move(f"{path}/sub/copy", f"{path}/sub/moved")
        assert fs.get(blob) == fs.get(f"{path}/sub/moved") == b"hello world"
        assert not fs.exists(f"{path}/sub/copy")
        # recursive listing: relative paths, sorted, with sizes + mtimes
        listed = fs.list_tree(path)
        assert [(rel, size) for rel, size, _mt in listed] == [
            ("_commits/m=0.json", 4),
            ("blob", 11),
            ("sub/moved", 11),
        ]
        assert all(mt > 0 for _rel, _size, mt in listed)
        assert fs.list_tree(f"{path}/nowhere") == []
        # idempotent delete; delete_tree takes a prefix or one object
        fs.delete(blob)
        fs.delete(blob)
        assert not fs.exists(blob) and fs.get(blob) is None
        fs.delete_tree(f"{path}/sub")
        fs.delete_tree(f"{path}/_commits/m=0.json")
        assert fs.list_tree(path) == []

        # the index protocol over those primitives
        assert sim._pointer_read(fs, path) is None  # no index yet
        assert sim._claim_version(fs, path, 0) is True
        assert sim._claim_version(fs, path, 0) is False  # rival loses
        sim._idx_swap_current(path, 0)
        assert sim._pointer_read(fs, path) == 0
        sim._idx_swap_current(path, 3)  # re-publish overwrites
        assert sim._pointer_read(fs, path) == 3
        marker = f"{path}/_v3/_folding"
        assert not fs.exists(marker)
        fs.put(marker, b"fold in progress")
        assert fs.exists(marker)
        fs.delete(marker)
        assert not fs.exists(marker)
        # depth-exact listing: only cell=*/x.parquet, not deeper
        # staging files nor non-parquet siblings
        for rel, body in [
            ("_v3/cell=0/p1.parquet", b"a"),
            ("_v3/cell=1/p2.parquet", b"b"),
            ("_v3/cell=1/p2.parquet.crc", b"c"),
            ("_v3/_SUCCESS", b""),
            ("_v3/_temporary/0/cell=1/p3.parquet", b"d"),
        ]:
            fs.put(f"{path}/{rel}", body)
        parts = sim._list_parts(fs, f"{path}/_v3", ("cell=*",))
        assert sorted(p.rsplit("/", 2)[-2] for p in parts) == [
            "cell=0",
            "cell=1",
        ]
        assert {p.rsplit("/", 1)[-1] for p in parts} == {
            "p1.parquet",
            "p2.parquet",
        }
        fs.delete_tree(f"{path}/_v3")
        assert sim._list_parts(fs, f"{path}/_v3", ("cell=*",)) == set()


# ------------------------------------------------------- ivf over s3


def test_ivf_protocol_over_s3(spark, s3idx):
    """Build → append → batch-probe → maintain → vacuum → probe, all at
    an `s3://` path: the complete IVF life cycle the r7 verdict called
    cluster-inert, now running over conditional puts + LISTs + copies."""
    rows, df = _clustered_corpus(spark, 240)
    vecs = {i: v for i, v in rows}
    path = s3idx("ivf")
    sim.ivf_build_index(df.filter(F.col("vec_id") < 150), path, n_cells=8)
    top = sim.ivf_probe_topk(spark, path, vecs[3], k=1, n_probe=8).collect()
    assert int(top[0]["vec_id"]) == 3
    assert sim.ivf_index_append(df.filter(F.col("vec_id") >= 150), path) == 90
    top = sim.ivf_probe_topk(spark, path, vecs[222], k=1, n_probe=8).collect()
    assert int(top[0]["vec_id"]) == 222, "append not probe-visible on s3"

    # batch probe == per-query probe (the amortized serving path)
    qids = [5, 77, 200]
    batch = sim.ivf_probe_topk_batch(
        spark, path, [(q, vecs[q]) for q in qids], k=3, n_probe=4
    ).collect()
    for q in qids:
        single = sim.ivf_probe_topk(
            spark, path, vecs[q], k=3, n_probe=4
        ).collect()
        got = sorted(
            (int(r["vec_id"]), r["cosine"])
            for r in batch
            if int(r["query_id"]) == q
        )
        assert got == sorted((int(r["vec_id"]), r["cosine"]) for r in single)

    out = sim.ivf_maintain(spark, path, n_cells=15, lloyd_iters=1)
    assert out["old_version"] == 0 and out["new_version"] == 1
    cur, v = _read_cur(spark, path)
    assert v == 1
    got = cur.groupBy("vec_id").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicates"
    assert got.count() == 240, "maintain lost vectors"

    removed = sim.ivf_vacuum(path, retention_s=0)
    assert removed, "superseded _v0 must be vacuumed"
    client = S3Store.client_factory()
    root_keys = [
        o["Key"]
        for o in client.list_objects_v2(
            Bucket="idx", Prefix="ivf/", MaxKeys=10_000
        )["Contents"]
    ]
    assert not any(k.startswith("ivf/_v0/") for k in root_keys)
    assert not any(k.endswith(".claim") for k in root_keys)
    top = sim.ivf_probe_topk(spark, path, vecs[222], k=1, n_probe=15).collect()
    assert int(top[0]["vec_id"]) == 222, "vacuumed index must still serve"
    # empty batch on a maintained-and-vacuumed s3 index: the r7 verdict
    # #1 contract, now on the remote path too
    empty = sim.ivf_probe_topk_batch(spark, path, [], k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id",
        "vec_id",
        "cosine",
    ]


def test_ivf_rival_claim_and_conflict_retry_over_s3(
    spark, s3idx, monkeypatch
):
    """The two failure paths over s3: a rival's conditional-put claim
    fails maintenance typed; an append racing a maintenance swap fails
    typed and the dedup retry is exactly-once."""
    rows, df = _clustered_corpus(spark, 140)
    path = s3idx("ivf")
    sim.ivf_build_index(df.filter(F.col("vec_id") < 100), path, n_cells=8)

    fs = sim._idx_fs(path)
    assert sim._claim_version(fs, path, 1) is True  # rival claims v1
    with pytest.raises(sim.IndexConflictError, match="rival"):
        sim.ivf_maintain(spark, path, n_cells=8, lloyd_iters=0)
    fs.delete(f"{path}/_v1.claim")

    batch = df.filter(F.col("vec_id") >= 100)
    real = sim._idx_current
    state = {"calls": 0}

    def racing(p):
        state["calls"] += 1
        if state["calls"] == 2:  # between the write and its check
            sim.ivf_maintain(spark, p, n_cells=8, lloyd_iters=0)
        return real(p)

    monkeypatch.setattr(sim, "_idx_current", racing)
    with pytest.raises(sim.IndexConflictError, match="dedup_against_index"):
        sim.ivf_index_append(batch, path)
    monkeypatch.undo()
    assert sim.ivf_index_append(batch, path, dedup_against_index=True) == 0
    cur, v = _read_cur(spark, path)
    assert v == 1
    got = cur.groupBy("vec_id").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate ids"
    assert got.count() == 140, "batch lost"


# ------------------------------------------------------- lsh over s3


def test_lsh_protocol_over_s3(spark, s3idx):
    """LSH life cycle at an `s3://` path: append-sprayed small files →
    `lsh_maintain` compaction (the copy-based fold) → probe-identical
    results → the new version carries `_params` through vacuum."""
    rows, df = _clustered_corpus(spark, 160)
    vecs = {i: v for i, v in rows}
    path = s3idx("lsh")
    sim.lsh_build_index(
        df.filter(F.col("vec_id") < 40), path, n_planes=16, n_bands=8, dim=16
    )
    for lo in range(40, 160, 30):
        sim.lsh_index_append(
            df.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 30)
            ),
            path,
        )
    fs = sim._idx_fs(path)
    data0, _ = sim._idx_current(path)
    n_before = len(sim._list_parts(fs, data0, ("band=*", "bucket=*")))
    qids = [1, 77, 150]
    before = {
        q: [
            (int(r["vec_id"]), r["cosine"])
            for r in sim.lsh_probe_topk(spark, path, vecs[q], k=5).collect()
        ]
        for q in qids
    }
    out = sim.lsh_maintain(spark, path)
    assert out["new_version"] == 1 and out["folded"] == 0
    data1, _ = sim._idx_current(path)
    n_after = len(sim._list_parts(fs, data1, ("band=*", "bucket=*")))
    assert n_after < n_before / 2, (n_before, n_after)
    after = {
        q: [
            (int(r["vec_id"]), r["cosine"])
            for r in sim.lsh_probe_topk(spark, path, vecs[q], k=5).collect()
        ]
        for q in qids
    }
    assert after == before, "compaction changed probe results"
    assert sim.lsh_vacuum(path, retention_s=0)
    assert sim._lsh_index_params(data1) == (16, 8, 16, 7)
    again = {
        q: [
            (int(r["vec_id"]), r["cosine"])
            for r in sim.lsh_probe_topk(spark, path, vecs[q], k=5).collect()
        ]
        for q in qids
    }
    assert again == before


# ------------------------------------------- round-trip budget on s3


class _CountingClient(DirBackedFakeS3Client):
    """Every boto3 API call is a network round-trip in production —
    the counters make the serving paths' control-plane cost assertable."""

    calls: dict  # class-level so every factory-made instance shares it

    def _bump(self, op):
        type(self).calls[op] = type(self).calls.get(op, 0) + 1

    def put_object(self, **kw):
        self._bump("put")
        return super().put_object(**kw)

    def get_object(self, **kw):
        self._bump("get")
        return super().get_object(**kw)

    def list_objects_v2(self, **kw):
        self._bump("list")
        return super().list_objects_v2(**kw)

    def head_object(self, **kw):
        self._bump("head")
        return super().head_object(**kw)

    def delete_object(self, **kw):
        self._bump("delete")
        return super().delete_object(**kw)

    def copy_object(self, **kw):
        self._bump("copy")
        return super().copy_object(**kw)


def test_probe_and_append_round_trip_budget(spark, tmp_path, monkeypatch):
    """At 100 TB the serving indexes live behind a network: control-plane
    round-trips are the probe's latency floor. Pin the budgets so they
    cannot silently regress to O(index size):

      - a probe costs ONE pointer GET (cells/buckets are read by Spark
        through the data plane, already partition-pruned);
      - an append costs two pointer GETs (entry resolve + post-write
        conflict check) and zero LISTs;
      - compaction's LISTs page at 1000 keys — O(files/1000) + O(fold)
        copies, never per-file round-trips outside the pooled fold.
    """
    store = tmp_path / "store"
    store.mkdir()

    class Client(_CountingClient):
        calls = {}

    monkeypatch.setattr(
        S3Store, "client_factory", lambda: Client(str(store), page_size=1000)
    )
    monkeypatch.setattr(
        S3Store, "spark_path_for", lambda bucket, key: str(store / bucket / key)
    )
    rows, df = _clustered_corpus(spark, 120)
    vecs = {i: v for i, v in rows}
    path = "s3://idx/rt"
    sim.ivf_build_index(df.filter(F.col("vec_id") < 100), path, n_cells=8)

    Client.calls = {}
    got = sim.ivf_probe_topk(spark, path, vecs[7], k=3, n_probe=4).collect()
    assert int(got[0]["vec_id"]) == 7
    assert Client.calls.get("list", 0) == 0, Client.calls
    assert Client.calls.get("get", 0) <= 2, (
        f"probe control-plane cost regressed: {Client.calls}"
    )

    Client.calls = {}
    n = sim.ivf_index_append(df.filter(F.col("vec_id") >= 100), path)
    assert n == 20
    assert Client.calls.get("list", 0) == 0, Client.calls
    assert Client.calls.get("get", 0) <= 4, (
        f"append control-plane cost regressed: {Client.calls}"
    )

    # maintenance: LISTs page at 1000 keys -> a handful for this index,
    # and data movement is Spark-side (rebuild) + pooled copies (fold)
    Client.calls = {}
    sim.ivf_maintain(spark, path, n_cells=10, lloyd_iters=0)
    assert Client.calls.get("list", 0) <= 8, Client.calls
    assert Client.calls.get("get", 0) <= 8, Client.calls


# --------------------------------------- index metadata as store objects


def test_index_metadata_launches_no_spark_jobs(spark, s3idx, monkeypatch):
    """`_seeds` and `_params` are single store objects: building and
    probing an `s3://` IVF and LSH index reads and writes them with no
    Spark job. Every call of the three metadata functions runs under
    one job group, which must end up with no jobs."""
    sc = spark.sparkContext
    group = "qwatch:test:index-metadata"
    calls: dict[str, int] = {}

    def in_group(name, fn):
        def wrapped(*a, **kw):
            calls[name] = calls.get(name, 0) + 1
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return fn(*a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        return wrapped

    for name in ("_read_seed_rows", "_write_seed_rows", "_lsh_index_params"):
        monkeypatch.setattr(sim, name, in_group(name, getattr(sim, name)))
    rows, df = _clustered_corpus(spark, 120)
    vecs = dict(rows)
    ivf, lsh = s3idx("ivf"), s3idx("lsh")
    sim.ivf_build_index(df, ivf, n_cells=8)
    top = sim.ivf_probe_topk(spark, ivf, vecs[7], k=1, n_probe=8).collect()
    assert int(top[0]["vec_id"]) == 7
    sim.lsh_build_index(df, lsh, n_planes=16, n_bands=8, dim=16)
    top = sim.lsh_probe_topk(spark, lsh, vecs[7], k=1).collect()
    assert int(top[0]["vec_id"]) == 7
    assert set(calls) == {
        "_read_seed_rows", "_write_seed_rows", "_lsh_index_params"
    }, calls
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


# ------------------------------------------------- one on-disk layout


def _index_paths(where, s3idx, tmp_path):
    name = s3idx if where == "s3" else (lambda n: str(tmp_path / n))
    return name("ivf"), name("lsh")


def _objects(path):
    """{key relative to `path`: (size, mtime)} of every object under it."""
    return {
        rel: (size, mt) for rel, size, mt in sim._idx_fs(path).list_tree(path)
    }


@pytest.mark.parametrize("where", ["local", "s3"])
def test_every_index_write_is_versioned(spark, s3idx, tmp_path, where):
    """A build, an append and a maintain write nothing at an index's
    root but `_current` and `_v<K>.claim`; every other object lands
    under a `_v<K>/` version dir."""
    import re

    _rows, df = _clustered_corpus(spark, 160)
    ivf, lsh = _index_paths(where, s3idx, tmp_path)
    first, rest = df.filter(F.col("vec_id") < 120), df.filter(F.col("vec_id") >= 120)
    sim.ivf_build_index(first, ivf, n_cells=6)
    assert sim.ivf_index_append(rest, ivf) == 40
    sim.ivf_maintain(spark, ivf, n_cells=8, lloyd_iters=0)
    sim.lsh_build_index(first, lsh, n_planes=16, n_bands=8, dim=16)
    assert sim.lsh_index_append(rest, lsh) == 40 * 8
    sim.lsh_maintain(spark, lsh)
    layout = re.compile(r"_current|_v\d+\.claim|_v\d+/.+")
    for path in (ivf, lsh):
        keys = sorted(_objects(path))
        assert [k for k in keys if not layout.fullmatch(k)] == [], keys
        assert {k.split("/", 1)[0] for k in keys} == {
            "_current", "_v0", "_v0.claim", "_v1", "_v1.claim"
        }
        assert sim._idx_current(path)[1] == 1


@pytest.mark.parametrize("where", ["local", "s3"])
def test_rebuild_keeps_the_resolved_version(
    spark, s3idx, tmp_path, where, monkeypatch
):
    """A rebuild at a live index path publishes the next version and
    leaves every file of the version a probe already resolved unchanged,
    so that probe still answers — the retention guarantee `*_vacuum`
    upholds, met by the build itself rather than by refusing it."""
    rows, df = _clustered_corpus(spark, 120)
    vecs = dict(rows)
    ivf, lsh = _index_paths(where, s3idx, tmp_path)
    sim.ivf_build_index(df, ivf, n_cells=8)
    sim.lsh_build_index(df, lsh, n_planes=16, n_bands=8, dim=16)
    probes = {
        ivf: lambda: sim.ivf_probe_topk(
            spark, ivf, vecs[7], k=3, n_probe=8
        ).collect(),
        lsh: lambda: sim.lsh_probe_topk(spark, lsh, vecs[7], k=3).collect(),
    }
    resolved = {path: sim._idx_current(path) for path in probes}
    before = {
        path: (_objects(resolved[path][0]), probe())
        for path, probe in probes.items()
    }
    # rebuild both with different parameters
    sim.ivf_build_index(df, ivf, n_cells=4)
    sim.lsh_build_index(df, lsh, n_planes=8, n_bands=4, dim=16, seed=11)
    for path, probe in probes.items():
        assert sim._idx_current(path)[1] == 1
        assert int(probe()[0]["vec_id"]) == 7  # the new version serves
        files, answer = before[path]
        assert _objects(resolved[path][0]) == files
        # a probe that resolved the old version before the rebuild
        monkeypatch.setattr(
            sim, "_idx_current", lambda _p, r=resolved[path]: r
        )
        assert probe() == answer
        monkeypatch.undo()


@pytest.mark.parametrize("where", ["local", "s3"])
def test_corrupt_pointer_raises_and_writes_nothing(
    spark, s3idx, tmp_path, where
):
    """A `_current` that does not parse makes every probe, append,
    maintain, build and vacuum raise before anything is written under
    the index root: read as "no pointer", an append's files would land
    where no probe or fold looks."""
    rows, df = _clustered_corpus(spark, 100)
    vecs = dict(rows)
    ivf, lsh = _index_paths(where, s3idx, tmp_path)
    first, batch = df.filter(F.col("vec_id") < 80), df.filter(F.col("vec_id") >= 80)
    sim.ivf_build_index(first, ivf, n_cells=4)
    sim.lsh_build_index(first, lsh, n_planes=16, n_bands=8, dim=16)
    ops = {
        ivf: [
            lambda: sim.ivf_probe_topk(spark, ivf, vecs[3], k=3).collect(),
            lambda: sim.ivf_probe_topk_batch(
                spark, ivf, [(3, vecs[3])], k=3
            ).collect(),
            lambda: sim.ivf_index_append(batch, ivf),
            lambda: sim.ivf_maintain(spark, ivf, n_cells=4, lloyd_iters=0),
            lambda: sim.ivf_build_index(batch, ivf, n_cells=4),
            lambda: sim.ivf_vacuum(ivf, retention_s=0),
        ],
        lsh: [
            lambda: sim.lsh_probe_topk(spark, lsh, vecs[3], k=3).collect(),
            lambda: sim.lsh_probe_topk_batch(
                spark, lsh, [(3, vecs[3])], k=3
            ).collect(),
            lambda: sim.lsh_index_append(batch, lsh),
            lambda: sim.lsh_maintain(spark, lsh),
            lambda: sim.lsh_build_index(
                batch, lsh, n_planes=16, n_bands=8, dim=16
            ),
            lambda: sim.lsh_vacuum(lsh, retention_s=0),
        ],
    }
    for path, calls in ops.items():
        sim._idx_fs(path).put(f"{path}/_current", b"{not json")
        before = _objects(path)
        for call in calls:
            with pytest.raises(ValueError, match="corrupt _current"):
                call()
        assert _objects(path) == before


# ---------------------------------------------------- fp bloom over s3


def test_fp_bloom_over_s3(spark, s3idx):
    """The fingerprint bloom index's full life cycle at an `s3://`
    table path: request marker, per-epoch segment appends (driver-side
    object puts), the gate probe — whose pandas UDF runs in EXECUTOR
    workers that must rebuild the store client from the picklable spec
    (driver-set class hooks don't exist there) — small-segment
    OR-folds, and the consolidation rebuild. The dedup gate was the
    last side index still hard-wired to local file ops."""
    import hashlib

    from qwatch_spark.plans.fp_bloom import FpBloomIndex

    tpath = s3idx("fptab")
    idx = FpBloomIndex(tpath)
    assert not idx.enabled() and not idx.requested()
    idx.request_enable()
    idx.request_enable()  # idempotent
    assert idx.requested() and not idx.enabled()

    def fp(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    known0 = [fp(f"doc-{i}") for i in range(40)]
    known1 = [fp(f"late-{i}") for i in range(25)]
    novel = [fp(f"never-{i}") for i in range(30)]
    df0 = spark.createDataFrame([(x,) for x in known0], "fp string")
    df1 = spark.createDataFrame([(x,) for x in known1], "fp string")
    idx.append_segment(df0, "fp", epoch_id=0, n_keys=len(known0))
    idx.append_segment(df1, "fp", epoch_id=1, n_keys=len(known1))
    assert len(idx.segment_paths()) == 2
    assert all(p.startswith("s3://idx/fptab/") for p in idx.segment_paths())

    def hits(fps):
        probe_df = spark.createDataFrame([(x,) for x in fps], "fp string")
        got = probe_df.select(
            "fp", idx.maybe_member(F.col("fp")).alias("hit")
        ).collect()
        return {r["fp"]: r["hit"] for r in got}

    got = hits(known0 + known1 + novel + [None])
    assert all(got[x] for x in known0 + known1), "known fp missed"
    assert not any(got[x] for x in novel), "novel fp false-positive"

    # OR-fold the two committed segments into one; coverage must hold
    assert idx.merge_small_segments(committed_epoch=1, max_files=1) == 2
    assert len(idx.segment_paths()) == 1
    got = hits(known0 + known1 + novel)
    assert all(got[x] for x in known0 + known1), "merge lost coverage"
    assert not any(got[x] for x in novel)

    # consolidation rebuild at a committed watermark covering both
    # epochs: old segments retired, meta written, request cleared
    from qwatch_spark.plans.snapshot_table import SnapshotTable

    import tempfile

    t = SnapshotTable.create(
        tempfile.mkdtemp(prefix="fps3_"), n_buckets=4
    )
    t.commit_epoch(0)
    t.commit_epoch(1)
    idx.rebuild(spark, SnapshotTable(t.path))
    names = [p.rsplit("/", 1)[-1] for p in idx.segment_paths()]
    assert len(names) == 1 and names[0].startswith("full-w1-"), names
    assert idx.enabled() and not idx.requested()


# ------------------------------------------------------------ stress


@pytest.mark.parametrize("kind", ["ivf", "lsh"])
def test_concurrent_append_probe_maintain_stress_over_s3(
    spark, s3idx, kind
):
    """The round-7 concurrency stress — appender with typed-conflict
    retry, probers mid-traffic, a maintainer swapping versions — run
    ENTIRELY over the object-store protocol: claims are conditional
    puts, folds are server-side copies racing a live appender in the
    same version dir, and the post-maintain visibility bound must hold
    exactly as it does locally."""
    import random
    import time as _time

    rows, df = _clustered_corpus(spark, 300, n_clusters=30)
    vecs = {i: v for i, v in rows}
    path = s3idx(kind)
    seed_df = df.filter(F.col("vec_id") < 60)
    if kind == "ivf":
        sim.ivf_build_index(seed_df, path, n_cells=7)

        def append(batch, dedup):
            sim.ivf_index_append(batch, path, dedup_against_index=dedup)

        def maintain():
            sim.ivf_maintain(spark, path, lloyd_iters=0)

        def probe(q):
            return sim.ivf_probe_topk(
                spark, path, vecs[q], k=3, n_probe=4
            ).collect()
    else:
        sim.lsh_build_index(seed_df, path, n_planes=16, n_bands=8, dim=16)

        def append(batch, dedup):
            sim.lsh_index_append(batch, path, dedup_against_index=dedup)

        def maintain():
            sim.lsh_maintain(spark, path)

        def probe(q):
            return sim.lsh_probe_topk(spark, path, vecs[q], k=3).collect()

    committed = list(range(60))
    lock = threading.Lock()
    errors: list = []
    stop = threading.Event()
    probes_done = [0]
    maintains_done = [0]

    def appender():
        try:
            for lo in range(60, 300, 60):
                batch = df.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 60)
                )
                for attempt in range(8):
                    try:
                        append(batch, attempt > 0)
                        break
                    except sim.IndexConflictError:
                        continue
                else:
                    raise RuntimeError("append conflicted 8x running")
                with lock:
                    committed.extend(range(lo, lo + 60))
        except Exception as e:  # noqa: BLE001
            errors.append(("append", repr(e)))
        finally:
            stop.set()

    def maintainer():
        try:
            for _ in range(2):  # bounded, spaced — see the local twin
                if stop.is_set():
                    break
                with lock:
                    pre = set(committed)
                try:
                    maintain()
                    maintains_done[0] += 1
                except sim.IndexConflictError:
                    pass
                else:
                    # post-maintain visibility bound, on the s3 path
                    cur, _v = _read_cur(spark, path)
                    present = {
                        int(r["vec_id"])
                        for r in cur.select("vec_id").distinct().collect()
                    }
                    missing = pre - present
                    assert not missing, (
                        f"post-maintain visibility gap over s3: "
                        f"{sorted(missing)[:8]}"
                    )
                _time.sleep(1.5)
        except Exception as e:  # noqa: BLE001
            errors.append(("maintain", repr(e)))

    def prober(seed):
        rnd = random.Random(seed)
        try:
            while not stop.is_set() or probes_done[0] < 4:
                with lock:
                    q = rnd.choice(committed)
                got = probe(q)
                assert got, f"probe {q} empty"
                probes_done[0] += 1
                if probes_done[0] > 20:
                    break
        except Exception as e:  # noqa: BLE001
            errors.append(("probe", repr(e)))

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=maintainer),
        threading.Thread(target=prober, args=(3,)),
        threading.Thread(target=prober, args=(17,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert maintains_done[0] >= 1, "maintainer never completed a cycle"
    cur, _v = _read_cur(spark, path)
    if kind == "ivf":
        got = cur.groupBy("vec_id").count()
        assert got.filter(F.col("count") > 1).count() == 0, "duplicates"
        assert got.count() == 300, "lost vectors"
        top = sim.ivf_probe_topk(
            spark, path, vecs[255], k=1, n_probe=6
        ).collect()
    else:
        got = cur.groupBy("vec_id", "band").count()
        assert got.filter(F.col("count") > 1).count() == 0, "duplicates"
        per_id = got.groupBy("vec_id").count()
        assert per_id.filter(F.col("count") != 8).count() == 0, (
            "missing bands"
        )
        assert per_id.count() == 300, "lost vectors"
        top = sim.lsh_probe_topk(spark, path, vecs[255], k=1).collect()
    assert int(top[0]["vec_id"]) == 255
