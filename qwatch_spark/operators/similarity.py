"""Similarity search over an embedding column (array<float>).

- `cosine_topk` — brute-force cosine top-k against a query vector: the
  correctness baseline. O(n·d) per query; fine for re-ranking, wrong as
  the primary index at 10^9 vectors.
- `lsh_rand_buckets` / `ann_topk_lsh` — sign-random-projection LSH with
  SEEDED random hyperplanes: integer coefficients derived from
  md5(seed:plane:dim), materialized as literals so any SQL engine
  reproduces the exact same buckets. Planes are split into bands
  (OR-construction): vectors are candidates if they collide in ANY
  band, which controls recall independently of precision — the
  single-probe first-k-dims hack this replaces had data-correlated
  planes and uncontrolled recall.
- `cosine_near_dup_pairs` — embedding near-duplicate pairs ≥ threshold
  (banded-LSH candidates, then exact cosine refine on candidates only).

Numerics: float32 is widened to float64 (exact), each product is cast to
DECIMAL(30,15) and the products are folded left to right in array order.
Every partial sum is rounded to 1e-14 (Spark types decimal(38,15) +
decimal(30,15) as decimal(38,14)), so the sum is not exact and depends
on element order — but that order is the array's own, so the result is
bit-stable across partitionings and re-runs, and any engine that folds
in array order with the same decimal rounding reproduces it. Final
cosine is rounded to 9 places.

All pure Column expressions (`zip_with`/`aggregate`/higher-order
functions) — JVM-side, no UDFs.
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEC = "decimal(30,15)"
_ACC = "decimal(38,15)"


def _dec_sum(arr: Column) -> Column:
    """Left fold of an array of decimals in array order; every partial
    sum rounds to 1e-14 (see `_py_norm`)."""
    return F.aggregate(
        arr,
        F.lit(0).cast(_ACC),
        lambda acc, v: (acc + v).cast(_ACC),
    )


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)
    )
    return _dec_sum(prods).cast("double")


def _norm_sq(a: Column) -> Column:
    sq = F.transform(a, lambda x: (x.cast("double") * x.cast("double")).cast(_DEC))
    return _dec_sum(sq).cast("double")


def cosine_sim(a: Column, b: Column, scale: int = 9) -> Column:
    return F.round(_dot(a, b) / (F.sqrt(_norm_sq(a)) * F.sqrt(_norm_sq(b))), scale)


def _py_norm(vec) -> float:
    """Driver-side replica of sqrt(`_norm_sq`) for one vector — bit-equal
    to the Column expressions, term for term: Decimal(repr(x)) ==
    BigDecimal.valueOf(double), HALF_UP quantize == the decimal(30,15)
    cast, float(Decimal) == Decimal.toDouble, IEEE sqrt both sides. The
    running sum is NOT exact: `acc + v` in `_dec_sum` adds decimal(38,15)
    to decimal(30,15), which needs precision 39, so Spark's precision-loss
    rule types every partial sum decimal(38,14) — each step rounds HALF_UP
    to 1e-14, and so must this loop."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q15 = Decimal("1e-15")
    q14 = Decimal("1e-14")
    s = Decimal(0)
    for x in vec:
        fx = float(x)
        sq = Decimal(repr(fx * fx)).quantize(q15, rounding=ROUND_HALF_UP)
        s = (s + sq).quantize(q14, rounding=ROUND_HALF_UP)
    return math.sqrt(float(s))


def cosine_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k vs the vector with id `query_id`.
    The 1-row query side is broadcast — no shuffle of the corpus."""
    q = vectors.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = (
        vectors.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_sim(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


def cosine_topk_fast(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-k — the throughput path.

    numpy does the dot products per Arrow batch (SIMD, ~100× the
    interpreted higher-order-function path); `cosine_topk` remains the
    bit-stable oracle-checked reference. Results agree to float64
    rounding; ordering ties broken by id on both.
    """
    q_rows = vectors.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not q_rows:
        raise ValueError(f"query vector {query_id} not found")
    qv = np.asarray(q_rows[0][0], dtype=np.float64)
    qn = np.sqrt((qv * qv).sum())
    spark = vectors.sparkSession
    bq = spark.sparkContext.broadcast(qv)

    @F.pandas_udf(T.DoubleType())
    def _cos(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.map(lambda a: np.asarray(a, dtype=np.float64)))
        dots = m @ bq.value
        norms = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(np.round(dots / norms, 9))

    return (
        vectors.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), _cos(F.col(vec_col)).alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def plane_coeffs(n_planes: int, dim: int, seed: int = 7) -> list[list[int]]:
    """Seeded random hyperplane matrix: c[p][j] ∈ [-8, 7] from
    md5(seed:p:j). Data-independent, uniformly mixed, and — because the
    coefficients are small integers materialized as literals — exactly
    reproducible by any SQL engine (the DuckDB oracle inlines the same
    matrix as a VALUES table)."""
    return [
        [
            (int(hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()[:8], 16) % 16)
            - 8
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _plane_dot(vec: Column, coeffs: list[int]) -> Column:
    """Exact (decimal-summed) projection of `vec` onto an integer plane."""
    carr = F.array(*[F.lit(c) for c in coeffs])
    prods = F.zip_with(vec, carr, lambda x, c: (x.cast("double") * c).cast(_DEC))
    return _dec_sum(prods).cast("double")


def _check_dim(vectors: DataFrame, vec_col: str, dim: int) -> None:
    """Fail loudly if the embedding length differs from `dim`: zip_with
    null-pads a shorter side and the decimal sum skips null products, so
    a mismatch would silently project a truncated vector (recall loss
    with no error). One limit-1 probe at plan-build time."""
    row = vectors.select(F.size(F.col(vec_col)).alias("_d")).first()
    if row is not None and row["_d"] != dim:
        raise ValueError(
            f"embedding column {vec_col!r} has length {row['_d']}, "
            f"but dim={dim} hyperplanes were requested; pass dim={row['_d']}"
        )


def lsh_rand_buckets(
    vectors: DataFrame,
    n_planes: int = 16,
    n_bands: int = 2,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per (vector, band): bucket = sign-bit pattern of the
    band's hyperplane projections (n_planes // n_bands bits each).

    OR-construction: downstream ops treat vectors as candidates if they
    collide in ANY band — recall 1-(1-p^b)^L for per-plane agreement p,
    tunable via (n_planes, n_bands) instead of praying over one probe.
    Single scan of the corpus: bands are exploded from one projection,
    not unioned re-scans."""
    _check_dim(vectors, vec_col, dim)
    coeffs = plane_coeffs(n_planes, dim, seed)
    bpb = n_planes // n_bands
    band_structs = []
    for b in range(n_bands):
        expr = None
        for j in range(bpb):
            p = b * bpb + j
            bit = (
                F.when(
                    _plane_dot(F.col(vec_col), coeffs[p]) >= 0,
                    F.lit(1 << (bpb - 1 - j)),
                )
                .otherwise(F.lit(0))
            )
            expr = bit if expr is None else expr + bit
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"), expr.cast("int").alias("bucket")
            )
        )
    return vectors.select(
        F.col(id_col), F.col(vec_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        id_col, vec_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def ann_topk_lsh(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine scored only on vectors sharing at
    least one band bucket with the query (multi-band OR candidates).

    Tuning: per-plane agreement for angle θ is p = 1-θ/π; band recall is
    1-(1-p^bits)^bands. Top-k targets are often only moderately similar
    (p ≈ 0.6), so the default uses many SHORT bands (8 bands × 2 bits →
    recall ≈ 0.97 at p = 0.6). At corpus scale raise n_planes and bits
    per band together (e.g. 128 planes × 16 bands of 8) so each band
    still has enough buckets to keep candidate sets bounded."""
    bucketed = lsh_rand_buckets(
        vectors, n_planes, n_bands, dim, seed, id_col, vec_col
    )
    qb = bucketed.filter(F.col(id_col) == query_id).select(
        F.col("band").alias("_qband"), F.col("bucket").alias("_qbucket")
    )
    cand = (
        bucketed.join(
            F.broadcast(qb),
            (F.col("band") == F.col("_qband"))
            & (F.col("bucket") == F.col("_qbucket")),
        )
        .filter(F.col(id_col) != query_id)
        .select(id_col, vec_col)
        .distinct()
    )
    q = vectors.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        F.col(id_col), cosine_sim(F.col(vec_col), F.col("_qvec")).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


def _assign_literal(
    vectors: DataFrame, seeds: list[tuple[int, list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """Argmax over seed cells inlined as literal expressions: one narrow
    projection over the corpus scan, zero exchanges, decimal-exact sims
    (SQL-oracle-reproducible). Ties break toward the lower cell id via
    lexicographic struct comparison on (sim, -cell)."""
    cands = F.array(
        *[
            F.struct(
                cosine_sim(
                    F.col(vec_col), F.array(*[F.lit(float(x)) for x in vec])
                ).alias("sim"),
                F.lit(-int(cell)).alias("negcell"),
            )
            for cell, vec in seeds
        ]
    )
    best = F.array_max(cands)
    return vectors.select(
        F.col(id_col),
        (-best["negcell"]).cast("long").alias("cell"),
        F.col(vec_col),
    )


def _assign_pandas(
    vectors: DataFrame, seeds: list[tuple[int, list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """Argmax via an Arrow-batched pandas UDF over a broadcast seed
    matrix — the large-n_cells path (the literal form would inline
    n_cells × dim expression nodes and blow up analysis/codegen). Still
    a single narrow projection: no exchange, embeddings never travel.
    Sims are float64 rounded to 9 places (vs the literal path's decimal
    sums — identical except at ties beyond 1e-9); np.argmax keeps the
    FIRST max, i.e. the same lower-cell tie-break."""
    cells = np.asarray([c for c, _ in seeds], dtype=np.int64)
    mat = np.asarray([v for _, v in seeds], dtype=np.float64)
    mat = mat / np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    spark = vectors.sparkSession
    b = spark.sparkContext.broadcast((cells, mat))

    @F.pandas_udf(T.LongType())
    def _cell(emb: pd.Series) -> pd.Series:
        cells_, mat_ = b.value
        m = np.vstack(emb.map(lambda a: np.asarray(a, dtype=np.float64)))
        norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
        sims = np.round((m / norms) @ mat_.T, 9)
        return pd.Series(cells_[np.argmax(sims, axis=1)])

    return vectors.select(
        F.col(id_col), _cell(F.col(vec_col)).alias("cell"), F.col(vec_col)
    )


def ivf_assign(
    vectors: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literals: int = 4096,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest seed cell.

    Seeds are the vectors with the `n_cells` smallest ids — a
    deterministic medoid-style quantizer (real IVF trains k-means; the
    partition/probe plumbing and the cost model are identical, and
    determinism keeps the operator exactly reproducible by a SQL
    oracle). Assignment is a per-row argmax over the seed set; while
    n_cells × dim ≤ `max_literals` the seeds are inlined as literal
    expressions (decimal-exact, zero exchanges); above that the argmax
    moves into an Arrow-batched pandas UDF over a broadcast seed matrix
    (still zero exchanges — at √n cells over 10⁹ vectors the literal
    plan would carry millions of expression nodes and OOM the driver at
    analysis time, so the UDF is the scale path, plan-tested
    exchange-free).

    `lloyd_iters > 0` refines the seeds with that many deterministic
    Lloyd iterations before the final assignment: each iteration
    reassigns, then recomputes every cell centroid as the per-dimension
    mean of its members — sums in DECIMAL so the reduction is
    partition-order-independent and the refinement is exactly
    reproducible run to run. Empty cells keep their previous centroid.
    Each iteration is one aggregation job collecting n_cells × dim
    values (bounded)."""
    seeds, assign = _ivf_codebook(
        vectors, n_cells, id_col, vec_col, max_literals, lloyd_iters
    )
    return assign(vectors, seeds, id_col, vec_col)


def _ivf_codebook(
    vectors: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    max_literals: int,
    lloyd_iters: int,
    seed_strategy: str = "first_ids",
):
    """Derive the FINAL (possibly Lloyd-refined) codebook plus the
    matching assign function. Split out so ivf_build_index can persist
    the refined centroids to `_seeds` — probes and appends must quantize
    with the same codebook the build partitioned by, or cell selection
    degrades recall.

    `seed_strategy` picks the medoid seeds:
      - "first_ids": the `n_cells` smallest ids — exactly mirrorable by
        a SQL oracle (q52's contract; keep for `ivf_assign`). The bias:
        in an APPEND-GROWN corpus the smallest ids are the OLDEST rows,
        so a recluster of a drifted corpus re-seeds from stale data and
        leans on Lloyd to recover (r7 verdict #3).
      - "uniform": a deterministic uniform sample — the `n_cells` rows
        with the smallest `md5(salt || id)` (hash order is uniform over
        ids but independent of insertion age, and the (hash, id) total
        order makes the sample exactly reproducible regardless of
        partitioning — unlike df.sample, whose draw depends on the
        partition layout). Cells are labeled 0..k-1 in hash order.
        `ivf_maintain` defaults to this, so reclustering seeds from the
        corpus AS IT IS, not as it started."""
    if seed_strategy == "uniform":
        seed_rows = (
            vectors.select(F.col(id_col).alias("_sid"), F.col(vec_col))
            .orderBy(
                F.md5(
                    F.concat(
                        F.lit("ivf-seed:"), F.col("_sid").cast("string")
                    )
                ),
                F.col("_sid"),
            )
            .limit(n_cells)
            .collect()
        )
        if not seed_rows:
            raise ValueError("ivf codebook: the corpus is empty")
        seeds = [(c, list(r[vec_col])) for c, r in enumerate(seed_rows)]
    elif seed_strategy == "first_ids":
        seed_rows = (
            vectors.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col).cast("long").alias("_cell"), F.col(vec_col))
            .orderBy("_cell")
            .collect()
        )
        if not seed_rows:
            raise ValueError(
                f"ivf_assign: no seed vectors (no rows with {id_col} < "
                f"{n_cells}); the corpus is empty or ids do not start near 0"
            )
        seeds = [(int(r["_cell"]), list(r[vec_col])) for r in seed_rows]
    else:
        raise ValueError(
            f"unknown seed_strategy {seed_strategy!r} "
            "(expected 'first_ids' or 'uniform')"
        )
    dim = len(seeds[0][1])
    assign = _assigner(seeds, max_literals)

    for _ in range(lloyd_iters):
        assigned = assign(vectors, seeds, id_col, vec_col)
        # centroid = per-dimension mean over members; decimal sums make
        # the float reduction associative → deterministic across runs.
        # One flat aggregation (dim decimal sums + a count per cell)
        # instead of the former posexplode → (cell, pos) agg →
        # collect_list re-fold: same exact decimal totals (decimal
        # addition is order-independent), one exchange instead of two
        # and no dim× row blowup (r9 optimization; the division to the
        # float mean moves driver-side — float(exact decimal)/count is
        # the same IEEE op the old in-plan cast-and-divide performed)
        aggs = [F.count("*").alias("_n")] + [
            F.sum(
                F.element_at(F.col(vec_col), i + 1)
                .cast("double")
                .cast(_DEC)
            ).alias(f"_s{i}")
            for i in range(dim)
        ]
        cent_rows = assigned.groupBy("cell").agg(*aggs).collect()
        new = {
            int(r["cell"]): [
                float(r[f"_s{i}"]) / r["_n"] for i in range(dim)
            ]
            for r in cent_rows
        }
        seeds = [(c, new.get(c, v)) for c, v in seeds]

    return seeds, assign


def ivf_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: exact cosine top-k over only the `n_probe` cells whose
    seeds are nearest the query — the inverted-file scale path (scan
    n_probe/n_cells of the corpus instead of all of it). At 10⁹ vectors
    you'd raise n_cells to ~√n and store the assignment as a bucketed
    column so the probe is a partition-pruned read."""
    assigned = ivf_assign(vectors, n_cells, id_col, vec_col)
    q = vectors.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    seeds = vectors.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("_seed")
    )
    probe = (
        seeds.crossJoin(F.broadcast(q))
        .select(
            "cell", cosine_sim(F.col("_seed"), F.col("_qvec")).alias("_sim")
        )
        .orderBy(F.desc("_sim"), "cell")
        .limit(n_probe)
        .select("cell")
    )
    cand = assigned.join(F.broadcast(probe), "cell").filter(
        F.col(id_col) != query_id
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        F.col(id_col), cosine_sim(F.col(vec_col), F.col("_qvec")).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


# `_seeds` (IVF) and `_params` (LSH) are bounded metadata tables, one
# parquet object each at this fixed key under their dir
_META_KEY = "part-00000.parquet"


def _put_meta(d: str, columns: dict) -> None:
    """Write the metadata table `columns` ({name: pyarrow array}) as ONE
    parquet object at `d/part-00000.parquet` — one store put, no Spark
    job; the put is atomic, so a reader sees the old table or the new
    one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(columns), buf)
    _idx_fs(d).put(f"{d}/{_META_KEY}", buf.getvalue().to_pybytes())


def _get_meta(d: str, columns: list[str]) -> list[dict]:
    """Rows of the metadata table at `d`: ONE GET of the fixed key; []
    when there is none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    blob = _idx_fs(d).get(f"{d}/{_META_KEY}")
    if blob is None:
        return []
    # ParquetFile, not pq.read_table: the dataset reader's thread pool
    # aborts the interpreter at exit (pyarrow 16)
    return pq.ParquetFile(pa.BufferReader(blob)).read(columns).to_pylist()


def _read_seed_rows(data: str, vec_col: str) -> list[tuple[int, list[float]]]:
    """The `_seeds` snapshot as [(cell, vector), ...] in cell order."""
    return sorted(
        (r["cell"], r[vec_col])
        for r in _get_meta(f"{data.rstrip('/')}/_seeds", ["cell", vec_col])
    )


def _write_seed_rows(seeds: list[tuple[int, list]], data: str, vec_col: str) -> None:
    """Persist the codebook snapshot to `data/_seeds`: int64 `cell` +
    list<double> vector."""
    import pyarrow as pa

    _put_meta(
        f"{data.rstrip('/')}/_seeds",
        {
            "cell": pa.array([int(c) for c, _ in seeds], pa.int64()),
            vec_col: pa.array(
                [[float(x) for x in v] for _, v in seeds], pa.list_(pa.float64())
            ),
        },
    )


def _ivf_seeds(data: str, path: str, vec_col: str):
    """The IVF front door: the `_seeds` snapshot of the index at `path`
    (current data dir `data`) as (rows, cells, matrix), where rows is
    [(cell, vector), ...] in cell order. Raises if there are none."""
    rows = _read_seed_rows(data, vec_col)
    if not rows:
        raise ValueError(f"IVF index at {path} has no seeds")
    cells = np.asarray([c for c, _ in rows], dtype=np.int64)
    return rows, cells, np.asarray([v for _, v in rows], dtype=np.float64)


def _probe_cells(
    cells, mat, vec: list[float], n_probe: int, path: str, qid=None
) -> list[int]:
    """The `n_probe` seed cells nearest `vec` by cosine, ties toward the
    lower cell id (like ivf_assign). A query of the wrong length raises."""
    if len(vec) != mat.shape[1]:
        name = "query" if qid is None else f"query {qid}"
        raise ValueError(
            f"{name} has length {len(vec)}, but the index at "
            f"{path} was built with dim={mat.shape[1]}"
        )
    q = np.asarray([float(x) for x in vec], dtype=np.float64)
    sims = (mat @ q) / (np.sqrt((mat * mat).sum(axis=1)) * np.sqrt((q * q).sum()))
    order = np.lexsort((cells, -np.round(sims, 9)))
    return [int(c) for c in cells[order][:n_probe]]


def _assigner(seeds: list[tuple[int, list]], max_literals: int):
    """The cell-assign function for codebook `seeds`: literal argmax
    while n_cells × dim ≤ `max_literals` (decimal-exact, SQL-oracle
    reproducible), the pandas-UDF argmax above it (see `ivf_assign`)."""
    if len(seeds) * len(seeds[0][1]) <= max_literals:
        return _assign_literal
    return _assign_pandas


def ivf_build_index(
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literals: int = 4096,
    lloyd_iters: int = 0,
    seed_strategy: str = "first_ids",
) -> None:
    """Build the IVF index at `path` as its next version (`_v0` on an
    empty path): a CELL-PARTITIONED parquet layout — the physical form
    that makes probes partition-pruned reads instead of full scans
    (SCALING.md's 10⁹-vector path). Layout:

        path/_current                          {"version": K}
        path/_vK/cell=<c>/part-*.parquet       (id, embedding)
        path/_vK/_seeds/part-00000.parquet     (cell, embedding)

    The version is published like a maintain's (`_publish_version`),
    so a rebuild at a live path leaves the version a probe already
    resolved intact until `ivf_vacuum` retires it. The seed snapshot
    makes probe-cell selection a driver-side numpy argmax over n_cells
    rows — zero jobs at query time: `_seeds` is one store object,
    written with one put and read with one GET."""
    store = _idx_fs(path)
    v0 = _pointer_read(store, path)
    write = _ivf_writer(
        vectors, n_cells, id_col, vec_col, max_literals, lloyd_iters,
        seed_strategy,
    )
    _publish_version(store, path, "ivf_build_index", "build", v0, write)


def _ivf_writer(
    vectors: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    max_literals: int,
    lloyd_iters: int,
    seed_strategy: str,
):
    """Derive the codebook of `vectors` now and return `write(vdir)`,
    which writes one IVF index version (cells + `_seeds`) into `vdir`."""
    seeds, assign = _ivf_codebook(
        vectors, n_cells, id_col, vec_col, max_literals, lloyd_iters,
        seed_strategy=seed_strategy,
    )

    def write(vdir: str) -> None:
        (
            assign(vectors, seeds, id_col, vec_col)
            .repartition(n_cells, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(_sp(vdir))
        )
        # persist the FINAL codebook — with lloyd_iters > 0 the
        # partition assignment above used the refined centroids, so
        # `_seeds` must hold those, not the original seed vectors:
        # probe cell selection and incremental appends quantize against
        # `_seeds`, and a mismatched quantizer silently degrades recall
        _write_seed_rows(seeds, vdir, vec_col)

    return write


def ivf_params_for(
    n_vectors: int, target_recall: float = 0.9
) -> tuple[int, int, int]:
    """(n_cells, n_probe, lloyd_iters) sized to deliver ≥ `target_recall`
    recall@k — the recall-targeted parameter rule as code, not prose.

    Calibration model: with n_cells ≈ √n (the classic IVF cell rule —
    cells stay √n-sized so a probe is O(√n) rows), expected recall on
    the WORST-case corpus (unclustered/uniform, like the test fixture's
    near-random embeddings — measured in scripts/bench_ann_recall.py:
    8 cells / 4 probes ≈ 0.76 ≈ 4/8 + margin) is approximately the
    probed fraction n_probe/n_cells, because true neighbors spread
    uniformly over cells. So the rule probes ceil(target · n_cells)
    cells plus one safety cell. On clustered corpora (the realistic
    case, where Lloyd concentrates neighbors into few cells) the same
    parameters OVER-deliver — the rule errs on the recall side, and a
    caller who measures better-than-target recall can lower n_probe.
    Lloyd refinement is always on (5 iterations): it is a no-op on
    uniform data (measured) and is what creates the cell structure
    that lets clustered corpora beat the uniform bound.

    The honest consequence of a high target on unclustered data —
    probing ~all cells ≈ brute force — is visible in the study's
    measured latency column rather than hidden behind a recall miss."""
    import math

    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    n_cells = max(1, int(round(math.sqrt(max(1, n_vectors)))))
    n_probe = min(n_cells, math.ceil(target_recall * n_cells) + 1)
    return n_cells, n_probe, 5


def ivf_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Query a built IVF index: pick the `n_probe` nearest seed cells
    driver-side (numpy over the bounded `_seeds` snapshot, no Spark
    job), then exact-cosine top-k over ONLY those cells' files — the
    `cell IN (...)` filter is a partition filter, so the scan opens
    n_probe/n_cells of the index (assert via df.inputFiles()). The
    query arrives as a VECTOR (the ANN-serving shape); pass
    `exclude_id` to drop a known corpus row (self-match)."""
    data, _v = _idx_current(path)
    _rows, cells, mat = _ivf_seeds(data, path, vec_col)
    probe = _probe_cells(cells, mat, query_vec, n_probe, path)
    idx = spark.read.parquet(_sp(data)).filter(F.col("cell").isin(probe))
    if exclude_id is not None:
        idx = idx.filter(F.col(id_col) != exclude_id)
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = idx.select(
        F.col(id_col),
        F.round(
            _dot(F.col(vec_col), qarr)
            / (
                F.sqrt(_norm_sq(F.col(vec_col)))
                * F.lit(_py_norm(query_vec))
            ),
            9,
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


def _batch_probe_guard(
    spark, path: str, queries: list, max_batch: int, id_col: str
):
    """Shared front door for the batch probes: returns an empty
    (query_id, id_col, cosine) DataFrame — id_col typed from the index
    itself, so the empty result is schema-identical to a non-empty one
    — when `queries` is empty (filter(None) on a predicate built from
    zero rows raised a confusing TypeError before), and raises a clear
    ValueError past `max_batch`: each query is replicated n_bands /
    n_probe times into a driver-side createDataFrame + broadcast, so an
    unbounded batch grows driver memory quadratic-ish in (batch ×
    fan-out × dim). Chunk big batches caller-side — probe results are
    per-query independent, so unioning chunked calls is exact."""
    if len(queries) > max_batch:
        raise ValueError(
            f"batch of {len(queries)} queries exceeds max_batch="
            f"{max_batch}: each query is replicated per band/probe-cell "
            "into a driver-side broadcast. Chunk the batch into "
            f"<= {max_batch}-query calls and union the results — they "
            "are per-query independent, so chunking is exact."
        )
    if queries:
        return None
    # `path` is the CURRENT version's data dir — both batch probes
    # resolve `_idx_current` before calling: the index root holds only
    # underscore names, which Spark's listing hides, so reading it
    # raises "unable to infer schema"
    id_type = dict(spark.read.parquet(_sp(path)).dtypes)[id_col]
    return spark.createDataFrame(
        [], f"query_id long, {id_col} {id_type}, cosine double"
    )


def ivf_probe_topk_batch(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_id: bool = False,
    max_batch: int = 1024,
) -> DataFrame:
    """Serve MANY IVF probes as ONE Spark job — the amortized form of
    `ivf_probe_topk`, mirroring `lsh_probe_topk_batch`: the single
    probe's floor is per-query plan analysis/codegen on fresh query
    literals, so a serving batch compiles the plan once instead.

      - the bounded `_seeds` snapshot is read ONCE (one GET) and
        every query's `n_probe` nearest cells are picked driver-side by
        `_probe_cells`, the single probe's own pick — probe-cell choice
        is bit-identical per query;
      - ONE scan reads the union of all queries' cells (`cell IN`
        lands in PartitionFilters — the single probe's pruning
        guarantee, kept);
      - a broadcast join on `cell` fans candidates to the queries that
        probed that cell. A vector lives in exactly one cell, so a
        (query, candidate) pair occurs at most once — no fold step is
        needed (unlike the LSH batch, where multi-band collisions are
        folded by max);
      - cosine runs column-vs-column and per-query top-k uses the same
        (desc cosine, id) order as the single probe, so results are
        row-identical to `ivf_probe_topk` per query (pytest-pinned).

    `queries` is [(query_id, vector), ...]; returns (query_id, id_col,
    cosine). `exclude_query_id` drops the candidate whose id equals its
    query's id — the batch form of `exclude_id=qid`. An empty batch
    returns an empty schema-identical frame; batches over `max_batch`
    raise (see `_batch_probe_guard` — chunk and union, it's exact)."""
    data, _v = _idx_current(path)
    empty = _batch_probe_guard(spark, data, queries, max_batch, id_col)
    if empty is not None:
        return empty
    _rows, cells, mat = _ivf_seeds(data, path, vec_col)
    rows = []
    for qid, vec in queries:
        probe = _probe_cells(cells, mat, vec, n_probe, path, qid)
        qv = [float(x) for x in vec]
        qn = _py_norm(qv)
        for c in probe:
            rows.append((int(qid), c, qv, qn))
    qdf = spark.createDataFrame(
        rows, "query_id long, cell int, qvec array<double>, qnorm double"
    )
    probe_cells = sorted({r[1] for r in rows})
    idx = spark.read.parquet(_sp(data)).filter(F.col("cell").isin(probe_cells))
    # candidate norm once per scan row + driver-side query norms —
    # bit-identical to cosine_sim (see the lsh batch probe; same r9
    # optimization)
    cand = idx.select(
        "cell",
        id_col,
        vec_col,
        F.sqrt(_norm_sq(F.col(vec_col))).alias("_nrm"),
    ).join(F.broadcast(qdf), ["cell"])
    if exclude_query_id:
        cand = cand.filter(F.col(id_col) != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col(id_col),
        F.round(
            _dot(F.col(vec_col), F.col("qvec"))
            / (F.col("_nrm") * F.col("qnorm")),
            9,
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


_LSH_PARAMS = ("n_planes", "n_bands", "dim", "seed")  # the `_params` columns


def lsh_build_index(
    vectors: DataFrame,
    path: str,
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the sign-LSH index at `path` as its next version (`_v0` on
    an empty path): a (band, bucket)-PARTITIONED parquet layout — the
    serving form of `ann_topk_lsh`. The ad-hoc query recomputes corpus
    signatures per query (fine for one-off sweeps, measured ~12× an IVF
    probe per query in the recall study); this pays the hashing once
    and turns every probe into a partition-pruned read of exactly the
    n_bands directories the query lands in. Layout:

        path/_current                                 {"version": K}
        path/_vK/band=<b>/bucket=<k>/part-*.parquet   (id, embedding)
        path/_vK/_params/part-00000.parquet   (n_planes, n_bands, dim, seed)

    The version is published like a maintain's (`_publish_version`).
    One row per (vector, band) — the L hash tables of classic LSH, so
    the index footprint is n_bands × the corpus: the standard LSH
    space-for-recall trade, stated rather than hidden. The write
    repartitions on (band, bucket) so each directory is written by one
    task (one file per bucket, no small-file spray); a pathologically
    hot bucket at corpus scale means the bands are too short for the
    corpus — raise bits per band (see ann_topk_lsh's tuning note)
    before reaching for write-side salting. `_params` persists the
    hyperplane parameters of its version; probes and appends MUST hash
    with them (a re-derived quantizer silently degrades recall — same
    invariant as the IVF `_seeds` snapshot); like `_seeds` it is one
    store object."""
    store = _idx_fs(path)
    v0 = _pointer_read(store, path)
    bucketed = lsh_rand_buckets(
        vectors, n_planes, n_bands, dim, seed, id_col, vec_col
    )
    _publish_version(
        store, path, "lsh_build_index", "build", v0,
        lambda vdir: _lsh_write(bucketed, vdir, (n_planes, n_bands, dim, seed)),
    )


def _lsh_write(rows: DataFrame, vdir: str, params: tuple) -> None:
    """Write one LSH index version into `vdir`: `rows` partitioned by
    (band, bucket), one file per bucket, and `params` (n_planes,
    n_bands, dim, seed) as its `_params`."""
    import pyarrow as pa

    (
        rows.repartition("band", "bucket")
        .write.mode("overwrite")
        .partitionBy("band", "bucket")
        .parquet(_sp(vdir))
    )
    _put_meta(
        f"{vdir}/_params",
        {k: pa.array([int(v)], pa.int32()) for k, v in zip(_LSH_PARAMS, params)},
    )


def _lsh_index_params(data: str) -> tuple:
    """(n_planes, n_bands, dim, seed) of the index version at `data`:
    one GET of its `_params` per call, uncached."""
    rows = _get_meta(f"{data.rstrip('/')}/_params", list(_LSH_PARAMS))
    if not rows:
        raise ValueError(f"LSH index version at {data} has no _params")
    return tuple(rows[0][k] for k in _LSH_PARAMS)


def lsh_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_against_index: bool = False,
    fold_wait_timeout_s: float = 600.0,
) -> int:
    """O(batch) index growth: hash ONLY the new vectors with the
    persisted `_params` hyperplanes and append them into the CURRENT
    version's (band, bucket) directories — no rebuild, no touch of
    existing files, immediately probe-visible (mirrors
    ivf_index_append). Returns the number of (vector, band) rows
    written. If a compaction swap (`lsh_maintain`) lands mid-append the
    post-write version check raises the typed `IndexConflictError`;
    RETRY with `dedup_against_index=True`, which anti-joins the batch
    against the current index on (id, band) — id alone would be wrong:
    a torn append can land HALF its band files inside the maintainer's
    pinned snapshot, and an id-level dedup would then permanently drop
    the missing bands (silent recall loss). The sequence is
    `_append_current`'s."""

    def hashed(data: str) -> DataFrame:
        n_planes, n_bands, dim, seed = _lsh_index_params(data)
        return lsh_rand_buckets(
            new_vectors, n_planes, n_bands, dim, seed, id_col, vec_col
        )

    return _append_current(
        path,
        "lsh_index_append",
        "compaction",
        [id_col, "band"],
        ["band", "bucket"],
        hashed,
        dedup_against_index,
        fold_wait_timeout_s,
    )


def _lsh_query_buckets(
    n_planes: int, n_bands: int, dim: int, seed: int, query_vec
) -> list[tuple[int, int]]:
    """Driver-side replica of `lsh_rand_buckets` for ONE vector, exact
    to the Column expressions — so probes pay zero Spark jobs for
    hashing (the expression tree for 16 planes × 64 decimal products
    costs seconds of per-query analysis/codegen when run as a 1-row
    job; the same math in Python is microseconds). Exactness argument,
    term by term against `_plane_dot` + `_dec_sum`:

      - `x.cast("double") * c` — IEEE-754 double × small int; Python's
        `float(x) * c` is the identical operation.
      - `.cast(_DEC)` (decimal(30,15)) — Spark converts via
        BigDecimal.valueOf(double), i.e. the SHORTEST decimal string
        that round-trips to the double, then HALF_UP at 15 fractional
        digits. Python's `repr(float)` produces the same shortest
        round-trip string, so `Decimal(repr(p)).quantize(1e-15,
        HALF_UP)` yields the same decimal value.
      - `_dec_sum` accumulates in decimal(38,15): 15 fractional digits
        are preserved at every step, so the sum is the exact sum of
        the quantized products — as is Python's Decimal `+`.
      - the sign test `>= 0` happens after a decimal→double cast,
        which cannot flip a sign; comparing the exact Decimal sum is
        therefore equivalent.

    Bit-for-bit agreement with the Spark expressions over a full
    corpus is pytest-pinned (test_similarity_dedup)."""
    from decimal import ROUND_HALF_UP, Decimal

    coeffs = plane_coeffs(n_planes, dim, seed)
    q15 = Decimal("1e-15")
    bits = []
    for prow in coeffs:
        s = Decimal(0)
        for x, c in zip(query_vec, prow):
            s += Decimal(repr(float(x) * c)).quantize(
                q15, rounding=ROUND_HALF_UP
            )
        bits.append(1 if s >= 0 else 0)
    bpb = n_planes // n_bands
    out = []
    for b in range(n_bands):
        bucket = 0
        for j in range(bpb):
            bucket |= bits[b * bpb + j] << (bpb - 1 - j)
        out.append((b, bucket))
    return out


def lsh_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Query a built LSH index: hash the query with the SAME persisted
    (n_planes, n_bands, dim, seed) hyperplanes — driver-side, through
    `_lsh_query_buckets`, an exact replica of the build's decimal
    expressions (never a float64 re-derivation whose sign could flip at
    a near-zero projection; see its docstring for the term-by-term
    argument) — then exact-cosine top-k over ONLY the n_bands
    (band, bucket) directories the query collides with. The
    OR-of-pairs predicate references only partition columns, so it
    lands in the scan's PartitionFilters: the probe opens n_bands
    directories out of n_bands × 2^bits (plan-asserted in tests), and
    the whole probe runs ONE Spark job. Candidates colliding in several
    bands are deduplicated before scoring, so each is scored once.
    Results are identical to `ann_topk_lsh` at the same parameters
    (pytest-pinned)."""
    data, _v = _idx_current(path)
    n_planes, n_bands, dim, seed = _lsh_index_params(data)
    if len(query_vec) != dim:
        raise ValueError(
            f"query vector has length {len(query_vec)}, but the index at "
            f"{path} was built with dim={dim}"
        )
    qb = _lsh_query_buckets(n_planes, n_bands, dim, seed, query_vec)
    pred = None
    for band, bucket in qb:
        c = (F.col("band") == band) & (F.col("bucket") == bucket)
        pred = c if pred is None else pred | c
    idx = spark.read.parquet(_sp(data)).filter(pred)
    if exclude_id is not None:
        idx = idx.filter(F.col(id_col) != exclude_id)
    cand = idx.select(id_col, vec_col).dropDuplicates([id_col])
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.round(
            _dot(F.col(vec_col), qarr)
            / (
                F.sqrt(_norm_sq(F.col(vec_col)))
                * F.lit(_py_norm(query_vec))
            ),
            9,
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


def lsh_probe_topk_batch(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_id: bool = False,
    max_batch: int = 1024,
) -> DataFrame:
    """Serve MANY probes as ONE Spark job — the amortized form of
    `lsh_probe_topk`, whose per-query floor is not I/O but plan
    analysis/codegen on each query's fresh literals (~1 s/query
    measured). Here the query set becomes a broadcast DataFrame, so
    the plan is compiled once for any batch size:

      - every query is hashed driver-side with the persisted params
        (`_lsh_query_buckets`, exact-decimal replica — microseconds);
      - ONE scan reads the union of all queries' (band, bucket)
        directories, pruned via a per-band `bucket IN (...)` predicate
        over partition columns only (lands in PartitionFilters, same
        guarantee the single probe plan-asserts);
      - a broadcast join on (band, bucket) fans candidates out to
        their queries and cosine runs COLUMN-vs-COLUMN (embedding ×
        qvec) — no per-query literal arrays anywhere — BEFORE the
        multi-band duplicate (query, candidate) pairs are folded by a
        map-side-combined max over (query_id, id). Duplicate pairs are
        byte-identical inputs, so their cosines are the same double and
        max ≡ dedup-then-score; scoring first means the only exchange
        in the job carries skinny (query_id, id, cosine) rows — never
        the 64-double embedding arrays (a dropDuplicates before scoring
        shuffled ~1 KB/collision-row; at 32 queries on this fixture
        that was a multi-GB shuffle and ~85% of the batch wall);
      - per-query top-k via row_number over (desc cosine, id) — the
        same deterministic order the single probe sorts by, so results
        are row-identical to running `lsh_probe_topk` per query
        (pytest-pinned).

    `queries` is [(query_id, vector), ...]; returns (query_id, id_col,
    cosine). With `exclude_query_id`, a candidate whose id equals its
    query's id is dropped — the batch form of `exclude_id=qid` self-
    exclusion. The broadcast join keys the scan rows against ALL
    queries' buckets, so a band's IN-list over-reads only rows another
    query legitimately needs; cross-query false candidates cannot
    appear because the join re-checks the exact (band, bucket) pair.
    An empty batch returns an empty schema-identical frame; batches
    over `max_batch` raise (see `_batch_probe_guard` — chunk and
    union, it's exact)."""
    data, _v = _idx_current(path)
    empty = _batch_probe_guard(spark, data, queries, max_batch, id_col)
    if empty is not None:
        return empty
    n_planes, n_bands, dim, seed = _lsh_index_params(data)
    rows = []
    for qid, vec in queries:
        if len(vec) != dim:
            raise ValueError(
                f"query {qid} has length {len(vec)}, but the index at "
                f"{path} was built with dim={dim}"
            )
        qv = [float(x) for x in vec]
        qn = _py_norm(qv)
        for band, bucket in _lsh_query_buckets(
            n_planes, n_bands, dim, seed, qv
        ):
            rows.append((int(qid), band, bucket, qv, qn))
    qdf = spark.createDataFrame(
        rows,
        "query_id long, band int, bucket int, qvec array<double>, "
        "qnorm double",
    )
    by_band: dict[int, set[int]] = {}
    for _qid, band, bucket, _qv, _qn in rows:
        by_band.setdefault(band, set()).add(bucket)
    pred = None
    for band in sorted(by_band):
        c = (F.col("band") == band) & F.col("bucket").isin(
            sorted(by_band[band])
        )
        pred = c if pred is None else pred | c
    idx = spark.read.parquet(_sp(data)).filter(pred)
    # candidate norm ONCE per scan row (a candidate is scored against
    # every query that probed its bucket — the norm does not change)
    # and query norms computed driver-side (exact replica, _py_norm):
    # only the dot's decimal chain remains per pair — 1 of cosine_sim's
    # 3 per-pair reductions, bit-identical values (r9 optimization;
    # a fully unrolled element_at chain was ALSO tried and measured
    # SLOWER than the higher-order form — BigDecimal-allocation bound
    # either way, so fewer chains is the lever, not codegen).
    cand = idx.select(
        "band",
        "bucket",
        id_col,
        vec_col,
        F.sqrt(_norm_sq(F.col(vec_col))).alias("_nrm"),
    ).join(F.broadcast(qdf), ["band", "bucket"])
    if exclude_query_id:
        cand = cand.filter(F.col(id_col) != F.col("query_id"))
    scored = (
        cand.select(
            "query_id",
            F.col(id_col),
            F.round(
                _dot(F.col(vec_col), F.col("qvec"))
                / (F.col("_nrm") * F.col("qnorm")),
                9,
            ).alias("cosine"),
        )
        # fold multi-band collisions AFTER scoring: partial aggregation
        # shrinks each task's output to one row per (query, candidate)
        # and the arrays stay on the scan side of the exchange
        .groupBy("query_id", id_col)
        .agg(F.max("cosine").alias("cosine"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs (a<b) with cosine ≥ threshold: candidates
    from per-band bucket self-joins (never a global cross join), distinct
    across bands, then exact cosine refined on candidates only.

    Near-dups are HIGHLY similar (cosine ≥ 0.9 → per-plane p ≈ 0.86), so
    bands of 4 bits give recall 1-(1-0.86⁴)⁴ ≈ 0.95 while unrelated
    pairs (p ≈ 0.5) collide in a band with only p⁴ ≈ 6%."""
    b = lsh_rand_buckets(vectors, n_planes, n_bands, dim, seed, id_col, vec_col)
    l = b.select(F.col(id_col).alias("id_a"), "band", "bucket")
    r = b.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # norms BELOW the pair joins: a doc participates in many candidate
    # pairs, so its norm reduction runs once per doc-side row instead of
    # once per pair (bit-identical cosine — same expressions, same
    # operand order; r9 optimization, same lever as the batch probes)
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.sqrt(_norm_sq(F.col(vec_col))).alias("_na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.sqrt(_norm_sq(F.col(vec_col))).alias("_nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("_na") * F.col("_nb")),
                9,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


class IndexConflictError(RuntimeError):
    """An index mutation raced a concurrent maintenance swap (or a
    rival maintainer): the work landed against a superseded codebook
    version. Retryable — re-invoke and the operation rebases on the
    current version. Typed (never match on message substrings), like
    the table's CommitConflictError."""


def _idx_fs(path: str):
    """The object store the index protocol runs on (plans/objectstore):
    local paths get plain file ops; `s3://` paths run the SAME protocol
    over the client the CAS commit log speaks — pointer publish is an
    atomic put, the rival claim is a conditional put, the fold is
    pooled server-side copies. Other schemes raise: the protocol needs
    a driver-side client. Lazy import: plans pulls in the table stack,
    which this operator module must not load at import."""
    from qwatch_spark.plans.objectstore import store_for

    store = store_for(path)
    if store is None:
        raise ValueError(
            f"no index protocol client for scheme of {path!r} "
            "(local paths and s3:// are supported)"
        )
    return store


def _pointer_read(store, path: str) -> int | None:
    """Current version from `path/_current`; None when there is no
    pointer (no index at `path`). A pointer that does not parse raises
    ValueError and any other I/O error propagates: reading either as
    "no index" would let a build re-publish `_v0` over a live index."""
    raw = store.get(f"{path.rstrip('/')}/_current")
    if raw is None:
        return None
    try:
        return int(json.loads(raw)["version"])
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"index at {path}: corrupt _current pointer {raw[:64]!r}"
        ) from e


def _claim_version(store, path: str, version: int) -> bool:
    """Create-exclusive claim of `path/_v<version>.claim` — the
    rival-writer CAS of builds and maintains; False = a rival holds it. The claim lives
    OUTSIDE the version dir so the version write's overwrite mode can
    never erase it mid-protocol. Its body is a nonce: the store's
    read-back after an ambiguous 412 must not take a rival's claim for
    ours.

    Crash residual: a writer that claims and dies before the swap
    leaves the claim in place, and the next build or maintain at that
    version number fails typed until an operator removes it — the
    single-maintenance-owner contract's recovery step. Claims of
    published versions (K <= current) are junk that vacuum removes."""
    return store.put_if_absent(
        f"{path.rstrip('/')}/_v{int(version)}.claim", uuid.uuid4().hex.encode()
    )


def _list_parts(store, d: str, patterns: tuple[str, ...]) -> set[str]:
    """All `*.parquet` exactly len(patterns) levels below `d`, each level
    matching its fnmatch pattern (e.g. ("cell=*",) or ("band=*",
    "bucket=*")) — the pinned-snapshot / delta-detection listing, ONE
    tree LIST on an object store."""
    out = set()
    for rel, _size, _mt in store.list_tree(d):
        segs = rel.split("/")
        if (
            len(segs) == len(patterns) + 1
            and segs[-1].endswith(".parquet")
            and all(fnmatch.fnmatch(s, p) for s, p in zip(segs, patterns))
        ):
            out.add(f"{d.rstrip('/')}/{rel}")
    return out


def _sp(p: str) -> str:
    """Map an index-namespace path to what SPARK should address —
    identity locally, `s3a://bucket/key` (or the test hook's mapping)
    on an object store. Every spark.read/.write of index data goes
    through this; the protocol itself stays in the index namespace."""
    return _idx_fs(p).spark_path(p)


def _idx_current(path: str) -> tuple[str, int]:
    """Resolve an index's CURRENT data dir: `path/_current` (json
    `{"version": K}`) points at `path/_vK` (UNDERSCORE-prefixed, so
    Spark's directory listings hide it). The pointer is the index's
    visibility linearization point — every build and maintain writes a
    complete version dir BEFORE swapping the pointer to it
    (`_publish_version`), so a probe or append that resolved a version
    keeps a fully intact dir under it until `*_vacuum` retires it.
    Raises ValueError when `path` holds no index. Returns the
    INDEX-namespace dir — map through `_sp` at Spark boundaries."""
    v = _pointer_read(_idx_fs(path), path)
    if v is None:
        raise ValueError(f"no index at {path} (no _current pointer)")
    return f"{path.rstrip('/')}/_v{v}", v


def _idx_swap_current(path: str, version: int) -> None:
    # an atomic put: readers see the old pointer or the new one
    _idx_fs(path).put(
        f"{path.rstrip('/')}/_current",
        json.dumps({"version": int(version)}).encode(),
    )


def _fold_marker(vdir: str) -> str:
    return f"{vdir.rstrip('/')}/_folding"


def _wait_no_fold(path: str, timeout_s: float = 600.0) -> tuple[str, int]:
    """Resolve the CURRENT version dir, waiting out any in-progress
    post-swap delta fold — the serialization point that closes the
    write-skew between a maintainer's fold and a conflicted append
    retrying with `dedup_against_index=True`: both sides anti-join the
    new version BEFORE either side's part files land, so without an
    ordering they can each decide the same ids are missing and both
    insert them (duplicates that persist across rebuilds and occupy two
    top-k slots per id). An anti-join is a read, not a synchronization
    point; the `_folding` marker is. The maintainer drops the marker
    into the new version dir BEFORE the pointer swap and clears it when
    the fold lands, so a dedup-retry (which by definition starts after
    observing the swap) that waits for the marker to clear is
    guaranteed to see the fold's output in its anti-join. Re-resolves
    the pointer on every poll — a newer maintenance cycle may swap
    again while we wait. Raises the typed `IndexConflictError` after `timeout_s`
    (a marker that never clears means the single maintenance owner
    crashed mid-fold — see the *_maintain crash notes). The default is
    sized for a HEALTHY large fold, not an optimistic one: the marker
    is held across the fold's Spark reads, the anti-join, and (on an
    object store) the pooled per-file copies — minutes at scale, so a
    short timeout would misdiagnose a working fold as a crash and fail
    retries that would have succeeded. Appends expose the knob as
    `fold_wait_timeout_s`."""
    import time as _time

    deadline = _time.monotonic() + float(timeout_s)
    store = _idx_fs(path)
    while True:
        data, v = _idx_current(path)
        if not store.exists(_fold_marker(data)):
            return data, v
        if _time.monotonic() >= deadline:
            raise IndexConflictError(
                f"index at {path}: version {v}'s post-swap fold marker "
                f"did not clear within {timeout_s}s — the maintenance "
                "owner likely crashed mid-fold; re-run maintenance "
                "before retrying appends"
            )
        _time.sleep(0.05)


def _append_current(
    path: str,
    fn: str,
    swap: str,
    keys: list[str],
    partition_cols: list[str],
    rows_for,
    dedup_against_index: bool,
    fold_wait_timeout_s: float,
) -> int:
    """The append half of the versioned-pointer protocol, shared by
    `ivf_index_append` and `lsh_index_append`; `fn` (the caller) and
    `swap` (the maintenance that can supersede it) name them in the
    conflict message.

      - resolve the CURRENT version dir — a dedup retry first waits out
        any in-progress post-swap fold (`_wait_no_fold`): its anti-join
        and the fold's would otherwise race (write skew — both read
        before either writes, both insert the same rows);
      - `rows_for(data)` turns the batch into index rows against that
        version (IVF: assign against its `_seeds`; LSH: hash with its
        `_params`); a dedup retry anti-joins them on the index
        keys `keys` ([id] for IVF, [id, band] for LSH — see
        `lsh_index_append` for why band);
      - append them `partitionBy(partition_cols)` into that dir;
      - post-write version check: if a maintenance swap landed
        meanwhile, the rows went into the superseded version, so raise
        the typed `IndexConflictError` — retry with
        `dedup_against_index=True`. Zero rows written cannot lose
        anything — the common shape of a dedup retry whose rows the
        maintainer's fold already carried; returning cleanly is what
        makes retry-under-repeated-swaps terminate (each retry only
        rewrites the still-missing rows, monotonically shrinking).

    `_idx_current` is called through the module global at entry (by
    `_wait_no_fold`'s polls on a retry) and once post-write. Returns
    the number of rows written."""
    data, v0 = (
        _wait_no_fold(path, fold_wait_timeout_s)
        if dedup_against_index
        else _idx_current(path)
    )
    rows = rows_for(data)
    if dedup_against_index:
        rows = rows.join(
            rows.sparkSession.read.parquet(_sp(data)).select(*keys),
            keys,
            "left_anti",
        )
    n = rows.count()
    if n:
        (
            rows.repartition(*partition_cols)
            .write.mode("append")
            .partitionBy(*partition_cols)
            .parquet(_sp(data))
        )
    if n and _idx_current(path)[1] != v0:
        raise IndexConflictError(
            f"{fn}({path}): a {swap} swap superseded version {v0} "
            "mid-append — retry with dedup_against_index=True (the "
            "maintainer may have carried part of this batch forward "
            "already)"
        )
    return int(n)


def ivf_index_append(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literals: int = 4096,
    dedup_against_index: bool = False,
    fold_wait_timeout_s: float = 600.0,
) -> int:
    """Incrementally add vectors to a built IVF index (the CDC story
    for embeddings): assign the batch against the index's FROZEN
    `_seeds` snapshot — so placement is consistent with the original
    build and every prior append, and probes keep finding everything
    without a rebuild — then append one file set into the touched
    cell partitions. Returns the number of vectors appended.

    Append-only contract: callers feed NEW ids (re-adding an id leaves
    both copies visible to probes). Updating/deleting vectors composes
    the same way the snapshot table handles rows — a latest-wins read
    or a periodic rebuild at maintenance cadence; at 10⁹ vectors an
    append is O(batch) against a √n-cell layout while the rebuild is
    `ivf_maintain`'s O(n) job. If a maintenance swap lands DURING the
    append, the batch was quantized against (and written into) the
    superseded version — the post-write version check raises the
    typed `IndexConflictError`. RETRY with `dedup_against_index=True`:
    depending on where the swap landed relative to this append's write,
    the maintainer may have already carried the batch into the new
    version (its pinned snapshot or its post-swap delta fold), so a
    blind re-append could duplicate; the flag anti-joins the batch
    against the current index's ids first (one id-column scan — paid
    only on the rare conflict path, keeping the normal append O(batch)).
    The sequence is `_append_current`'s."""

    def assigned(data: str) -> DataFrame:
        seeds, _cells, _mat = _ivf_seeds(data, path, vec_col)
        return _assigner(seeds, max_literals)(vectors, seeds, id_col, vec_col)

    return _append_current(
        path,
        "ivf_index_append",
        "maintenance",
        [id_col],
        ["cell"],
        assigned,
        dedup_against_index,
        fold_wait_timeout_s,
    )


def _append_via_move(df, vdir: str, partition_cols: list[str]) -> None:
    """Append `df` into a LIVE version dir WITHOUT the Hadoop committer:
    the maintainer's post-swap fold runs concurrently with a live
    appender writing the same dir, and two committer jobs sharing one
    `<dir>/_temporary/0` staging tree clobber each other (one job's
    commit cleanup deletes the other's in-flight attempt dirs —
    observed as 'Mkdirs failed to create .../_temporary/...' task
    failures in the stress test). The fold instead writes to a hidden
    scratch dir inside the version (`.fold-*`, invisible to Spark's
    listings and to `_list_parts`) and hard-renames the part files into their partition dirs — per-file
    atomic, no shared staging, same visibility semantics as any append
    (files appear one by one). Part filenames carry job UUIDs, so
    renames cannot collide with the appender's files. The move is the
    store's: per-file `os.rename` locally; pooled server-side copy +
    delete on an object store, where every object write is already
    per-file atomic."""
    from qwatch_spark.plans.objectstore import pmap

    store = _idx_fs(vdir)
    vdir = vdir.rstrip("/")
    scratch = f"{vdir}/.fold-{uuid.uuid4().hex}"
    try:
        (
            df.repartition(*partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(store.spark_path(scratch))
        )
        parts = _list_parts(store, scratch, ("*=*",) * len(partition_cols))
        pmap(
            lambda src: store.move(src, vdir + src[len(scratch):]),
            sorted(parts),
            store.io_workers,
        )
    finally:
        store.delete_tree(scratch)


def _publish_version(store, path: str, fn: str, work: str, v0, write) -> int:
    """Publish the next version of the index at `path` — the one write
    sequence of every build and every maintain. `v0` is the version the
    caller resolved before its reads (None: no index yet), `write(vdir)`
    writes the complete new version dir, and `fn` / `work` name the
    caller in messages:

      - claim: a rival writer is excluded by the `_vK.claim`
        put-if-absent (`_claim_version`: a link of a complete file
        locally, a conditional put on S3) — a lost claim raises the
        typed `IndexConflictError`; rebase and retry;
      - recheck: the window between resolving `v0` and claiming is
        wide enough for a rival to claim, publish, and have vacuum
        retire its now-published claim; without the post-claim pointer
        recheck a stale writer could RE-claim the current version
        number and overwrite the live dir. The claim left behind on
        raising targets a published (or superseded) version, which
        vacuum clears as junk;
      - write: `path/_vK` is written COMPLETELY before the `_current`
        pointer swaps to it (`_idx_swap_current`, an atomic store put),
        so a reader that resolved an older version keeps a fully intact
        dir. A write that raises deletes its unpublished `_vK` and
        releases the claim, so the next writer can take K.

    Returns K."""
    new_v = 0 if v0 is None else v0 + 1
    if not _claim_version(store, path, new_v):
        raise IndexConflictError(
            f"{fn}({path}): version {new_v} already claimed by a rival; "
            "rebase on the new current and retry"
        )
    if _pointer_read(store, path) != v0:
        raise IndexConflictError(
            f"{fn}({path}): the current version moved past the one read "
            f"before the {work}; rebase and retry"
        )
    vdir = f"{path.rstrip('/')}/_v{new_v}"
    try:
        write(vdir)
    except BaseException:
        store.delete_tree(vdir)
        store.delete(f"{vdir}.claim")
        raise
    _idx_swap_current(path, new_v)
    return new_v


def _maintain_version(
    spark,
    path: str,
    fn: str,
    label: str,
    work: str,
    keys: list[str],
    partition_cols: list[str],
    prepare,
    to_rows=None,
) -> tuple[int, int, int, int]:
    """The maintenance half of the versioned-pointer protocol, shared by
    `ivf_maintain` (recluster) and `lsh_maintain` (compaction) — `fn`
    names the caller, `label` the index kind and `work` the rebuild in
    messages. The fp_bloom rebuild discipline, adapted:

      - pin: the rebuild's input is a FILE SNAPSHOT of the current
        version (`_list_parts`, an explicit part-file list, not a dir
        read), so the rebuild and the fold below reason about exactly
        what was read; `prepare(data, pinned)` does the pre-claim work
        (reads, sizing) and returns `write(vdir)`, the rebuild;
      - publish: claim → recheck → write → swap (`_publish_version`,
        the build's sequence too); the recheck matters most here, where
        the window since resolving the version spans the pinned read;
      - fold: appends that COMMITTED into the old version during the
        rebuild (wrote + passed their version check before the swap)
        are not lost: after the swap, the old version's part files NOT
        in the pinned snapshot — the delta — are anti-joined on the
        index keys `keys` against what the new version already holds,
        turned into new-version rows by `to_rows(rows, vdir)` (IVF:
        assign against the new codebook; LSH: as they are) and moved in
        committer-free (`_append_via_move` — a live appender may be
        writing the same dir). The anti-join alone is NOT a
        synchronization point (it is a read): a conflicted append
        retrying with `dedup_against_index=True` could anti-join
        concurrently with the fold and both could insert the same rows
        (write skew). The `_folding` marker closes that: it is put into
        the new version dir BEFORE the swap and deleted when the fold
        lands, and dedup retries wait for it (`_wait_no_fold`) — so a
        retry's anti-join always sees the fold's output, and the fold
        never races a retry's writes (a retry starts only after
        observing the swap, hence after the marker exists);
      - after the swap no append can succeed into the old version (its
        post-write check necessarily runs after the swap), so ONE fold
        round suffices;
      - VISIBILITY BOUND: an append that committed into the old version
        mid-rebuild becomes probe-visible again when the fold lands —
        i.e. before this returns. Between the swap and the fold's
        completion, probes against the new version may transiently miss
        those rows (bounded by the fold duration — the documented
        eventual-visibility contract of a serving index; the stress
        test asserts post-maintain completeness);
      - if the fold itself fails (or the owner crashes mid-fold) this
        raises with the marker left in place, so dedup retries fail
        typed instead of silently duplicating; the delta rows still
        exist in the superseded version dir — protected by vacuum
        retention (which also skips data dirs while the marker stands)
        — and recovery is re-running maintenance before the retention
        window retires them (the single-maintenance-owner contract);
      - superseded version dirs are retired by `ivf_vacuum` /
        `lsh_vacuum` under a retention window, never here — a long
        probe may still be reading them.

    Every primitive goes through the object store (`plans/objectstore`):
    plain file ops locally; on `s3://` conditional puts, paginated LISTs
    and server-side copies. Returns (old_version, new_version, number of
    pinned files, rows folded)."""
    store = _idx_fs(path)
    patterns = tuple(f"{c}=*" for c in partition_cols)
    data, v0 = _idx_current(path)
    pinned = _list_parts(store, data, patterns)
    if not pinned:
        raise ValueError(f"{label} index at {path} has no data files")
    write = prepare(data, pinned)

    def write_marked(vdir: str) -> None:
        write(vdir)
        store.put(
            _fold_marker(vdir),
            b"fold in progress; cleared when the delta fold lands",
        )

    # publish: probes/appends flip to the new version here
    new_v = _publish_version(store, path, fn, work, v0, write_marked)
    vdir = f"{path.rstrip('/')}/_v{new_v}"
    folded = 0
    delta = _list_parts(store, data, patterns) - pinned
    if delta:
        rows = (
            spark.read.option("basePath", store.spark_path(data))
            .parquet(*[store.spark_path(f) for f in sorted(delta)])
            .join(spark.read.parquet(_sp(vdir)).select(*keys), keys, "left_anti")
        )
        if to_rows is not None:
            rows = to_rows(rows, vdir)
        folded = rows.count()
        if folded:
            _append_via_move(rows, vdir, partition_cols)
    store.delete(_fold_marker(vdir))  # fold landed: release retries
    return v0, new_v, len(pinned), int(folded)


def ivf_maintain(
    spark,
    path: str,
    target_cell_rows: int | None = None,
    n_cells: int | None = None,
    lloyd_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literals: int = 4096,
    seed_strategy: str = "uniform",
) -> dict:
    """Recluster a grown IVF index against its CURRENT corpus — the
    maintenance-cadence answer to codebook drift (r6 verdict #2):
    `ivf_index_append` quantizes every batch against the build-time
    `_seeds` snapshot, so under sustained growth cells bloat (per-probe
    rows grow linearly in corpus size) and drift away from the data's
    actual distribution (recall decays). This is the ANN family's
    analog of the fp_bloom rebuild: ONE O(n) scan of the index at
    maintenance cadence, never on the append path.

    Sizing: `n_cells` wins if given; else `n / target_cell_rows`
    (restore a chosen per-cell row count — pass the build-time cell
    size to bring per-probe cost back to build-time levels exactly);
    else the √n rule (`ivf_params_for`). `n` comes from the pinned
    files' parquet footers on a local index (exact, job-free) and from
    a Spark count on a remote one. The codebook re-derives over the
    CURRENT corpus with `seed_strategy="uniform"` by default — a
    deterministic hash-ordered uniform sample — NOT the build's
    id-ordered medoids: in an append-grown corpus the smallest ids are
    the oldest rows, so id-seeding a drifted corpus would plant every
    seed in yesterday's distribution and lean on Lloyd to crawl toward
    the new content (r7 verdict #3; the drift test pins recall@10 ≥ 0.9
    for queries from the newly-appended regime). `lloyd_iters`
    refinement then runs exactly as at build time.

    The rebuild is the build's writer (`_ivf_writer`: cells + `_seeds`)
    into the new version dir; the fold assigns the delta against the NEW
    codebook.
    Visibility, concurrency and crash semantics are `_maintain_version`'s.
    Returns {"old_version", "new_version", "n", "n_cells_old",
    "n_cells_new", "folded"}."""
    import math

    from qwatch_spark.plans.objectstore import LocalStore

    store = _idx_fs(path)
    sized: dict = {}

    def prepare(data: str, pinned: set[str]):
        files = sorted(pinned)
        # partition dirs carry `cell`; reading explicit part files yields
        # just (id, embedding) — the rebuild re-derives cells anyway
        corpus = spark.read.parquet(
            *[store.spark_path(f) for f in files]
        ).select(id_col, vec_col)
        n = (
            sum(md.num_rows for md in store.parquet_metadata_many(files))
            if isinstance(store, LocalStore)
            else corpus.count()
        )
        k = n_cells
        if k is None:
            if target_cell_rows is not None:
                k = max(1, round(n / max(1, int(target_cell_rows))))
            else:
                k = max(1, int(round(math.sqrt(n))))
        sized.update(n=n, old=len(_read_seed_rows(data, vec_col)), new=k)
        return _ivf_writer(
            corpus, k, id_col, vec_col, max_literals, lloyd_iters,
            seed_strategy,
        )

    def assigned(rows: DataFrame, vdir: str) -> DataFrame:
        seeds = _read_seed_rows(vdir, vec_col)
        return _assigner(seeds, max_literals)(
            rows.select(id_col, vec_col), seeds, id_col, vec_col
        )

    v0, new_v, _pinned, folded = _maintain_version(
        spark, path, "ivf_maintain", "IVF", "rebuild", [id_col], ["cell"],
        prepare, assigned,
    )
    return {
        "old_version": v0,
        "new_version": new_v,
        "n": int(sized["n"]),
        "n_cells_old": sized["old"],
        "n_cells_new": int(sized["new"]),
        "folded": folded,
    }


def ivf_vacuum(path: str, retention_s: float = 600.0) -> list[str]:
    """Delete SUPERSEDED version dirs (`_vK`, K < current) of the index
    at `path` whose tree has been quiet for `retention_s` — the
    retention window is what keeps a probe that resolved the old
    version mid-swap safe, exactly like the table vacuum. Claim files of
    PUBLISHED versions (`_vK.claim`, K <= current) are protocol junk —
    their version either swapped in or lost — and are removed
    immediately (no retention: nothing reads a claim after its version
    is decided); a claim for a version ABOVE current is an in-flight
    (or crashed) writer and is left alone — removing a crashed one is
    the operator-recovery step `_claim_version` states. Runs entirely
    on the storage seam, so vacuum works on object storage too. Returns
    the removed paths."""
    import re
    import time as _time

    store = _idx_fs(path)
    data, cur = _idx_current(path)
    # crashed-fold guard (r8 verdict #1): while the CURRENT version still
    # carries its `_folding` marker, appends committed mid-rebuild exist
    # ONLY in the superseded dirs the fold was reading — retiring those
    # dirs would silently delete the delta rows from the serving index
    # with no error anywhere. Skip every data-dir deletion until a
    # re-run of maintenance lands the fold and clears the marker;
    # published-claim junk is still cleaned (claims carry no data).
    fold_pending = store.exists(_fold_marker(data))
    removed = []
    now = _time.time()
    root = path.rstrip("/")
    # one listing: each root entry's newest mtime anywhere under it is
    # the quiet-window clock for retention
    entries: dict[str, float] = {}
    for rel, _size, mtime in store.list_tree(root):
        name = rel.split("/", 1)[0]
        entries[name] = max(entries.get(name, mtime), mtime)

    for name, newest in sorted(entries.items()):
        full = f"{root}/{name}"
        mc = re.fullmatch(r"_v(\d+)\.claim", name)
        if mc:
            if int(mc.group(1)) <= cur:
                store.delete(full)
                removed.append(full)
            continue
        m = re.fullmatch(r"_v(\d+)", name)
        if m and int(m.group(1)) < cur and not fold_pending and (
            now - newest >= retention_s
        ):
            store.delete_tree(full)
            removed.append(full)
    return removed


# one layout for both kinds: an LSH index vacuums exactly like an IVF one
lsh_vacuum = ivf_vacuum


def lsh_maintain(spark, path: str, id_col: str = "vec_id") -> dict:
    """Compact a fragmented LSH serving index at maintenance cadence —
    the LSH half of the serving-index maintenance story. LSH has no
    codebook drift (hyperplanes are data-independent), but every
    O(batch) `lsh_index_append` sprays one file set across its
    (band, bucket) dirs, so after K appends a probe opens ~K files per
    pruned directory (footer opens are round-trips on object storage —
    the classic lake small-file disease). This rewrites the CURRENT
    version to one file per (band, bucket) behind the SAME
    versioned-pointer protocol as `ivf_maintain` (`_maintain_version`):
    the pinned files are read with basePath so the partition columns
    survive, the delta fold anti-joins on (id, band) — the band-complete
    key, see `lsh_index_append`'s dedup note — and `_params` is carried
    into the new version unchanged: planes never change across
    maintenance.

    Returns {"old_version", "new_version", "n_files_before",
    "n_files_after", "folded"}."""
    store = _idx_fs(path)

    def prepare(data: str, pinned: set[str]):
        params = _lsh_index_params(data)
        rows = spark.read.option("basePath", store.spark_path(data)).parquet(
            *[store.spark_path(f) for f in sorted(pinned)]
        )
        return lambda vdir: _lsh_write(rows, vdir, params)

    v0, new_v, n_before, folded = _maintain_version(
        spark, path, "lsh_maintain", "LSH", "compaction", [id_col, "band"],
        ["band", "bucket"], prepare,
    )
    vdir = f"{path.rstrip('/')}/_v{new_v}"
    return {
        "old_version": v0,
        "new_version": new_v,
        "n_files_before": n_before,
        "n_files_after": len(_list_parts(store, vdir, ("band=*", "bucket=*"))),
        "folded": folded,
    }
