"""Unit-level checks of the similarity/dedup operators beyond the oracle
harness: fast-vs-exact cosine agreement, LSH recall vs brute force,
simhash hamming locality sanity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import hashlib

from qwatch_spark.operators.dedup_text import (
    jaccard_pairs,
    lsh_candidate_pairs,
    near_dup_pairs,
)
from qwatch_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    cosine_topk_fast,
    ivf_assign,
    ivf_topk,
    lsh_rand_buckets,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_fast_cosine_matches_exact(emb):
    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, 0, k=10).collect()}
    fast = {r["vec_id"]: r["cosine"] for r in cosine_topk_fast(emb, 0, k=10).collect()}
    assert set(exact) == set(fast)
    for vid in exact:
        assert abs(exact[vid] - fast[vid]) < 1e-8


def test_ann_is_subset_of_bruteforce_ranking(emb):
    """Every ANN hit must carry the same cosine the exact scorer assigns."""
    ann = {r["vec_id"]: r["cosine"] for r in ann_topk_lsh(emb, 0, k=5).collect()}
    assert ann  # query's bucket is non-trivial
    full = {
        r["vec_id"]: r["cosine"]
        for r in cosine_topk(emb, 0, k=10**6).collect()
    }
    for vid, cos in ann.items():
        assert full[vid] == cos


def test_lsh_buckets_partition_all_vectors(emb):
    """Every vector appears once per band; buckets are non-trivial."""
    n = emb.count()
    b = lsh_rand_buckets(emb, n_planes=16, n_bands=2)
    assert b.count() == 2 * n
    assert b.groupBy("band").count().select("count").distinct().count() == 1
    assert b.select("band", "bucket").distinct().count() > 2


def test_ann_recall_vs_bruteforce(emb):
    """Multi-band OR-construction recall gate at the q32 config (16
    planes × 8 bands): the fixture's neighbors are only weakly similar
    (cosine ≈ 0.3 → per-plane p ≈ 0.6), so short bands are what makes
    recall controllable — deterministic given seeded planes."""
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
    ann = {
        r["vec_id"]
        for r in ann_topk_lsh(emb, 0, k=10, n_planes=16, n_bands=8).collect()
    }
    recall = len(set(exact) & ann) / len(exact)
    assert recall >= 0.8, f"ANN recall {recall} vs exact top-10"


def test_ivf_partitions_and_recall(emb):
    """IVF cells partition the corpus (every vector in exactly one cell,
    roughly balanced) and probing 2/8 cells recovers most of the exact
    top-10 while scanning ~25% of the corpus."""
    n = emb.count()
    a = ivf_assign(emb, n_cells=8)
    assert a.count() == n
    sizes = [r["count"] for r in a.groupBy("cell").count().collect()]
    assert len(sizes) == 8 and max(sizes) < n / 2  # no degenerate cell
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
    got = {
        r["vec_id"]
        for r in ivf_topk(emb, 0, k=10, n_cells=8, n_probe=2).collect()
    }
    recall = len(set(exact) & got) / len(exact)
    assert recall >= 0.8, f"IVF recall {recall}"


def test_lsh_candidates_have_high_jaccard_recall(docs):
    """Pairs with very high word-set Jaccard should mostly share an LSH
    band bucket (16 hashes, 4 bands of 4 → P(candidate) = 1-(1-s⁴)⁴
    ≈ 0.98 at s=0.9)."""
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=0.9).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()
    }
    if strong:
        recall = len(strong & cands) / len(strong)
        assert recall >= 0.8, f"LSH recall {recall} over {len(strong)} strong pairs"


def test_lsh_refine_composition(docs):
    """near_dup_pairs (LSH→refine, the scale plan) must equal the
    exhaustive Jaccard restricted to the LSH candidate set — same pairs,
    bit-identical jaccard values."""
    raw = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()
    }
    composed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    expected = {p: j for p, j in raw.items() if p in cands}
    assert composed == expected


def _synth_corpus(spark, n_docs=300, doc_len=60, vocab=5000, n_dups=15):
    """Deterministic realistic-vocabulary corpus: random docs share
    ~doc_len²/vocab ≈ 0.7 words (Jaccard ≈ 0.006); n_dups planted
    near-dups clone a base doc with 2 of doc_len words replaced
    (Jaccard ≈ 0.93)."""
    rows = []
    for d in range(n_docs):
        words = [
            "w%d"
            % (
                int(hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:8], 16)
                % vocab
            )
            for i in range(doc_len)
        ]
        rows.append((d, " ".join(words)))
    for j in range(n_dups):
        w = rows[j][1].split(" ")
        w[0], w[doc_len // 2] = "zdup0", "zdup1"
        rows.append((n_docs + j, " ".join(w)))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_lsh_selectivity_on_realistic_vocab(spark):
    """The 16×4 default must be a SIEVE on a realistic vocabulary:
    candidate pairs < 5% of all pairs, while catching the planted
    near-dups. (The sf fixture's 31-word vocabulary makes every doc pair
    ~0.5-similar, so selectivity is asserted on a synthesized corpus.)"""
    n_docs, n_dups = 300, 15
    docs = _synth_corpus(spark, n_docs=n_docs, n_dups=n_dups)
    n = n_docs + n_dups
    all_pairs = n * (n - 1) // 2
    cands = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()
    }
    assert len(cands) / all_pairs < 0.05, (
        f"LSH not selective: {len(cands)}/{all_pairs}"
    )
    planted = {(j, n_docs + j) for j in range(n_dups)}
    caught = planted & cands
    assert len(caught) / n_dups >= 0.8, f"planted recall {len(caught)}/{n_dups}"
    found = {
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs(docs, threshold=0.8).collect()
    }
    assert caught <= found


def test_ivf_pandas_path_matches_literal(emb):
    """Above the literal budget the argmax moves into the Arrow-batched
    pandas UDF over a broadcast seed matrix — same cells as the literal
    path (decimal-vs-float64 differ only at ties beyond 1e-9; the
    fixture has none)."""
    lit = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, n_cells=8).collect()}
    pdu = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, n_cells=8, max_literals=1).collect()
    }
    assert lit == pdu


def test_ivf_empty_seed_set_raises(emb):
    with pytest.raises(ValueError, match="no seed vectors"):
        ivf_assign(emb.filter(F.col("vec_id") < 0), n_cells=8).collect()


def test_ivf_lloyd_refinement_deterministic(emb):
    """Lloyd iterations refine centroids but keep the quantizer total
    (every vector assigned) and deterministic (decimal centroid sums →
    identical assignment across runs)."""
    n = emb.count()
    a1 = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, n_cells=8, lloyd_iters=2).collect()}
    a2 = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, n_cells=8, lloyd_iters=2).collect()}
    assert len(a1) == n and a1 == a2
    # refinement should actually move assignments off the medoid seeding
    a0 = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, n_cells=8).collect()}
    assert a1 != a0


def test_ivf_maintain_uniform_seeding_survives_drift(spark, tmp_path):
    """r7 verdict #3: id-ordered seeding re-seeds a recluster from the
    OLDEST rows, so maintaining a corpus whose distribution drifted
    (new content clusters appended over time) planted every seed in
    yesterday's data. `ivf_maintain` now seeds from a deterministic
    uniform sample: build on regime A, append 10× of regime B (disjoint
    cluster structure, ids strictly above A's), maintain — recall@10
    for B-queries must hold ≥ 0.9, and the sample must be exactly
    reproducible (hash total order, not partition-dependent df.sample)."""
    import qwatch_spark.operators.similarity as sim

    dim, nA, nB = 16, 100, 1000
    rng = np.random.default_rng(11)
    centersA = rng.normal(0.0, 1.0, (8, dim))
    centersB = rng.normal(0.0, 1.0, (25, dim)) + 3.0  # drifted regime
    rows = [
        (i, [float(x) for x in centersA[i % 8] + rng.normal(0, 0.05, dim)])
        for i in range(nA)
    ] + [
        (
            nA + j,
            [
                float(x)
                for x in centersB[j % 25] + rng.normal(0, 0.05, dim)
            ],
        )
        for j in range(nB)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    sim.ivf_build_index(
        df.filter(F.col("vec_id") < nA), path, n_cells=10, lloyd_iters=5
    )
    for lo in range(nA, nA + nB, 250):
        sim.ivf_index_append(
            df.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 250)
            ),
            path,
        )
    out = sim.ivf_maintain(spark, path, n_cells=33, lloyd_iters=5)
    assert out["n"] == nA + nB and out["n_cells_new"] == 33
    # uniform seeding is exactly reproducible run-to-run
    s1, _ = sim._ivf_codebook(df, 33, "vec_id", "embedding", 4096, 0,
                              seed_strategy="uniform")
    s2, _ = sim._ivf_codebook(df, 33, "vec_id", "embedding", 4096, 0,
                              seed_strategy="uniform")
    assert s1 == s2
    # ... and actually samples the drifted regime (B is 10/11 of the
    # corpus; id-seeding would have taken 33/33 seeds from A)
    b_vecs = {tuple(vec) for _i, vec in rows[nA:]}
    n_b_seeds = sum(1 for _c, v in s1 if tuple(v) in b_vecs)
    assert n_b_seeds >= 20, f"only {n_b_seeds}/33 seeds from regime B"
    qids = [nA + 3, nA + 137, nA + 555, nA + 999]
    recall = _recall_at10(spark, path, rows, qids, n_probe=6)
    assert recall >= 0.9, f"B-query recall after drift maintain: {recall}"
    # unknown strategies fail loudly
    with pytest.raises(ValueError, match="seed_strategy"):
        sim._ivf_codebook(df, 8, "vec_id", "embedding", 4096, 0,
                          seed_strategy="nope")


def test_ivf_index_probe_is_partition_pruned(spark, emb, tmp_path):
    """Built IVF index: probing must read ONLY the probed cells'
    partition directories (the 10^9-vector scale path), and the probe's
    result must equal the in-memory ivf_topk on the same quantizer."""
    from qwatch_spark.operators.similarity import ivf_build_index, ivf_probe_topk

    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    got = ivf_probe_topk(
        spark, path, qvec, k=10, n_probe=2, exclude_id=0
    )
    # partition pruning: the cell IN (...) predicate must land in the
    # scan's PartitionFilters (inputFiles() ignores partition filters,
    # so assert on the physical plan)
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), f"no partition filter on cell:\n{plan}"
    want = {
        r["vec_id"]: r["cosine"]
        for r in ivf_topk(emb, 0, k=10, n_cells=8, n_probe=2).collect()
    }
    res = {r["vec_id"]: r["cosine"] for r in got.collect()}
    assert res == want


def test_ivf_batch_probe_matches_per_query_and_prunes(spark, emb, tmp_path):
    """ivf_probe_topk_batch must return, per query, EXACTLY what
    ivf_probe_topk returns for that query (candidates, cosines,
    tie-order), from one pruned union scan — `cell IN` still lands in
    PartitionFilters."""
    import re

    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_topk,
        ivf_probe_topk_batch,
    )

    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8)
    qids = [0, 3, 7, 11, 19, 42]
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    batch = ivf_probe_topk_batch(
        spark, path, [(q, qvecs[q]) for q in qids], k=10, n_probe=2,
        exclude_query_id=True,
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), f"no partition filter on cell:\n{plan}"
    got: dict[int, list[tuple[int, object]]] = {q: [] for q in qids}
    for r in batch.orderBy("query_id", F.desc("cosine"), "vec_id").collect():
        got[int(r["query_id"])].append((int(r["vec_id"]), r["cosine"]))
    for q in qids:
        want = [
            (int(r["vec_id"]), r["cosine"])
            for r in ivf_probe_topk(
                spark, path, qvecs[q], k=10, n_probe=2, exclude_id=q
            ).collect()
        ]
        assert got[q] == want, f"query {q} diverged from per-query probe"


def test_batch_probe_empty_guard_and_chunking(spark, emb, tmp_path):
    """ADVICE r6 + verdict #8: an empty batch returns an empty frame
    with the SAME schema as a non-empty probe (no filter(None)
    TypeError); a batch past max_batch raises a clear ValueError; and
    chunked calls union to exactly the unchunked result — the chunking
    escape hatch the guard's error message prescribes."""
    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_topk_batch,
        lsh_build_index,
        lsh_probe_topk_batch,
    )

    ivf_path = str(tmp_path / "ivf")
    lsh_path = str(tmp_path / "lsh")
    ivf_build_index(emb, ivf_path, n_cells=8)
    lsh_build_index(emb, lsh_path, n_planes=16, n_bands=8)
    qids = [0, 3, 7, 11]
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    batch = [(q, qvecs[q]) for q in qids]
    for fn, path in (
        (ivf_probe_topk_batch, ivf_path),
        (lsh_probe_topk_batch, lsh_path),
    ):
        full = fn(spark, path, batch, k=5)
        e = fn(spark, path, [], k=5)
        assert e.count() == 0
        assert e.schema == full.schema, (e.schema, full.schema)
        with pytest.raises(ValueError, match="max_batch"):
            fn(spark, path, batch, k=5, max_batch=3)
        chunked = fn(spark, path, batch[:2], k=5, max_batch=2).unionAll(
            fn(spark, path, batch[2:], k=5, max_batch=2)
        )
        key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
        assert sorted(chunked.collect(), key=key) == sorted(
            full.collect(), key=key
        )


def test_batch_probe_empty_on_maintained_vacuumed_index(spark, emb, tmp_path):
    """r7 verdict #1: the empty-batch guard must resolve the CURRENT
    version dir like every other probe path. On a maintained index whose
    legacy flat layout has been vacuumed, the ROOT holds only underscore
    dirs (`_current`, `_vK`) — invisible to Spark's listing — so the old
    root read raised AnalysisException ('unable to infer schema') on an
    EMPTY batch, the exact API contract the guard exists to keep."""
    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_maintain,
        ivf_probe_topk_batch,
        ivf_vacuum,
        lsh_build_index,
        lsh_maintain,
        lsh_probe_topk_batch,
        lsh_vacuum,
    )

    ivf_path = str(tmp_path / "ivf")
    lsh_path = str(tmp_path / "lsh")
    ivf_build_index(emb, ivf_path, n_cells=8)
    lsh_build_index(emb, lsh_path, n_planes=16, n_bands=8)
    ivf_maintain(spark, ivf_path)
    lsh_maintain(spark, lsh_path)
    assert ivf_vacuum(ivf_path, retention_s=0.0)  # flat layout retired
    assert lsh_vacuum(lsh_path, retention_s=0.0)
    qid = 0
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]
    ]
    for fn, path in (
        (ivf_probe_topk_batch, ivf_path),
        (lsh_probe_topk_batch, lsh_path),
    ):
        full = fn(spark, path, [(qid, qvec)], k=5)
        e = fn(spark, path, [], k=5)  # raised before the fix
        assert e.count() == 0
        assert e.schema == full.schema


def test_ivf_batch_probe_wrong_dim_raises(spark, emb, tmp_path):
    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_topk_batch,
    )

    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8)
    with pytest.raises(ValueError, match="length"):
        ivf_probe_topk_batch(spark, path, [(1, [0.5] * 10)], k=5)


def test_ivf_probe_empty_index_raises(spark, tmp_path, emb):
    from qwatch_spark.operators.similarity import ivf_build_index, ivf_probe_topk

    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8)
    import shutil

    shutil.rmtree(f"{path}/_seeds")
    emb.limit(0).select(
        F.lit(0).alias("cell"), "embedding"
    ).write.parquet(f"{path}/_seeds")
    with pytest.raises(ValueError, match="no seeds"):
        ivf_probe_topk(spark, path, [0.0] * 64, k=5)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    """Random sparse graph: Spark min-label propagation must produce
    exactly the python union-find's min-id components."""
    import random

    from qwatch_spark.operators.dedup_text import connected_components

    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    # union-find roots are min ids because union always parents the max
    want = _union_find(edges)
    assert got == want


def test_connected_components_on_real_near_dups(docs, spark):
    """End-to-end dedup pipeline: LSH near-dup pairs → components →
    canonical selection keeps exactly one doc per cluster plus all
    unpaired docs."""
    from qwatch_spark.operators.dedup_text import (
        connected_components,
        dedup_keep_canonical,
        near_dup_pairs,
    )

    subset = docs.filter(F.col("doc_id") < 120)
    pairs = near_dup_pairs(subset, n_hashes=16, band_size=4, threshold=0.7)
    edge_list = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    want = _union_find(edge_list)
    comps = {
        r["node"]: r["component"]
        for r in connected_components(pairs, "doc_a", "doc_b").collect()
    }
    assert comps == want

    kept = dedup_keep_canonical(subset, pairs, src_col="doc_a", dst_col="doc_b")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in subset.select("doc_id").collect()}
    clustered = set(want)
    canonicals = set(want.values())
    assert kept_ids == (all_ids - clustered) | canonicals
    assert len(edge_list) > 0  # the fixture actually exercises clustering


def test_connected_components_nonconvergence_raises(spark):
    from qwatch_spark.operators.dedup_text import connected_components

    path_edges = [(i, i + 1) for i in range(400)]  # diameter 400
    df = spark.createDataFrame(path_edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_ivf_index_append_is_probe_visible(spark, tmp_path):
    """Incremental index growth: vectors appended AFTER the build are
    assigned against the frozen seed snapshot and found by probes
    without any rebuild — including as exact top-1 for their own
    query vector."""
    import numpy as np

    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_probe_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8)
    base_files = set(spark.read.parquet(path).inputFiles())

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    new_id = 1_000_003
    added = ivf_index_append(
        spark.createDataFrame(
            [(new_id, [float(x) * 1.0 for x in qvec])],
            "vec_id long, embedding array<float>",
        ),
        path,
    )
    assert added == 1
    assert set(spark.read.parquet(path).inputFiles()) > base_files

    top = ivf_probe_topk(spark, path, qvec, k=3, n_probe=2, exclude_id=3).collect()
    assert top[0]["vec_id"] == new_id  # identical direction => cosine 1.0
    assert abs(top[0]["cosine"] - 1.0) < 1e-9
    # empty append is a no-op
    assert ivf_index_append(
        spark.createDataFrame([], "vec_id long, embedding array<float>"), path
    ) == 0


def test_ivf_build_persists_lloyd_refined_codebook(spark, tmp_path):
    """With lloyd_iters > 0 the build partitions by the REFINED
    centroids — `_seeds` must hold those same centroids (ADVICE r4):
    probe cell selection and incremental appends quantize against
    `_seeds`, and a mismatched quantizer silently degrades recall.
    Checked two ways: `_seeds` equals the refined codebook bit-for-bit,
    and re-quantizing every indexed vector against `_seeds` reproduces
    its stored cell partition."""
    import numpy as np

    from qwatch_spark.operators.similarity import (
        _ivf_codebook,
        ivf_build_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_build_index(emb, path, n_cells=8, lloyd_iters=2)

    seeds, _assign = _ivf_codebook(emb, 8, "vec_id", "embedding", 4096, 2)
    refined = {c: np.asarray(v, dtype=np.float64) for c, v in seeds}
    stored = {
        int(r["cell"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{path}/_seeds").collect()
    }
    assert set(stored) == set(refined)
    for c in refined:
        assert np.array_equal(stored[c], refined[c]), f"cell {c} codebook drift"
    # Lloyd actually moved the centroids off the original seed vectors
    orig = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    assert any(not np.allclose(stored[c], orig[c]) for c in stored)

    # quantizer consistency: stored cell == argmax cosine vs _seeds
    mat = np.stack([stored[c] for c in sorted(stored)])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for r in spark.read.parquet(path).collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        assert int(r["cell"]) == int(np.argmax(mat @ v)), r["vec_id"]


def test_lsh_index_probe_matches_adhoc_and_prunes(spark, emb, tmp_path):
    """Built LSH index: the probe must (a) read ONLY the n_bands
    (band, bucket) directories the query hashes into — the predicate
    lands in PartitionFilters, the serving-scale property — and
    (b) return exactly what ad-hoc ann_topk_lsh returns at the same
    parameters (same planes, same decimal bucket math, same scoring)."""
    import re

    from qwatch_spark.operators.similarity import lsh_build_index, lsh_probe_topk

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path, n_planes=16, n_bands=8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
    ]
    got = lsh_probe_topk(spark, path, qvec, k=10, exclude_id=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "band" in m.group(1) and "bucket" in m.group(1), (
        f"no partition filter on band/bucket:\n{plan}"
    )
    want = {
        r["vec_id"]: r["cosine"]
        for r in ann_topk_lsh(emb, 3, k=10, n_planes=16, n_bands=8).collect()
    }
    res = {r["vec_id"]: r["cosine"] for r in got.collect()}
    assert res == want


def test_lsh_index_append_is_probe_visible(spark, emb, tmp_path):
    """O(batch) growth: build on half the corpus, append the rest —
    probes must see appended vectors without a rebuild, and the final
    top-k must equal the ad-hoc query over the FULL corpus."""
    from qwatch_spark.operators.similarity import (
        lsh_build_index,
        lsh_index_append,
        lsh_probe_topk,
    )

    split = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    path = str(tmp_path / "lsh")
    lsh_build_index(emb.filter(F.col("vec_id") <= split), path)
    base_files = set(spark.read.parquet(path).inputFiles())
    lsh_index_append(emb.filter(F.col("vec_id") > split), path)
    assert set(spark.read.parquet(path).inputFiles()) > base_files
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
    ]
    got = {
        r["vec_id"]: r["cosine"]
        for r in lsh_probe_topk(spark, path, qvec, k=10, exclude_id=3).collect()
    }
    want = {
        r["vec_id"]: r["cosine"]
        for r in ann_topk_lsh(emb, 3, k=10).collect()
    }
    assert got == want
    assert any(v > split for v in got), "no appended vector in top-k slice"


def test_lsh_probe_missing_params_raises(spark, emb, tmp_path):
    """An index whose _params snapshot is gone must fail loudly in a
    process that never built it (cache cleared = fresh-process view);
    hashing with guessed parameters would silently break recall."""
    import shutil

    from qwatch_spark.operators.similarity import (
        _LSH_PARAMS_CACHE,
        lsh_build_index,
        lsh_probe_topk,
    )

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path)
    shutil.rmtree(f"{path}/_params")
    _LSH_PARAMS_CACHE.pop(path, None)  # simulate a fresh process
    with pytest.raises(Exception):
        lsh_probe_topk(spark, path, [0.0] * 64, k=5)


def test_lsh_probe_wrong_dim_raises(spark, emb, tmp_path):
    """A query vector shorter than the indexed dim must fail loudly
    (zip_with would silently truncate the projection otherwise)."""
    from qwatch_spark.operators.similarity import lsh_build_index, lsh_probe_topk

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path)
    with pytest.raises(ValueError, match="length"):
        lsh_probe_topk(spark, path, [0.5] * 10, k=5).collect()


def test_lsh_driver_bucket_hash_matches_spark(spark, emb):
    """The probe's driver-side decimal hash (_lsh_query_buckets) must
    agree BIT-FOR-BIT with the lsh_rand_buckets Column expressions over
    the entire corpus — this equality is what lets lsh_probe_topk skip
    the per-query Spark hashing job without risking a sign flip at a
    near-zero projection."""
    from qwatch_spark.operators.similarity import _lsh_query_buckets

    want: dict[int, list[tuple[int, int]]] = {}
    for r in lsh_rand_buckets(emb, 16, 8).collect():
        want.setdefault(int(r["vec_id"]), []).append(
            (int(r["band"]), int(r["bucket"]))
        )
    for r in emb.collect():
        got = _lsh_query_buckets(16, 8, 64, 7, list(r["embedding"]))
        assert sorted(want[int(r["vec_id"])]) == got, r["vec_id"]


def test_lsh_batch_probe_matches_per_query_and_prunes(spark, emb, tmp_path):
    """lsh_probe_topk_batch must return, per query, EXACTLY what
    lsh_probe_topk returns for that query (same candidates, cosines,
    tie-order), while reading one pruned union scan — the predicate
    still lands in PartitionFilters."""
    import re

    from qwatch_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_topk,
        lsh_probe_topk_batch,
    )

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path, n_planes=16, n_bands=8)
    qids = [0, 3, 7, 11, 19, 42]
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    batch = lsh_probe_topk_batch(
        spark, path, [(q, qvecs[q]) for q in qids], k=10,
        exclude_query_id=True,
    )
    plan = batch._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "band" in m.group(1) and "bucket" in m.group(1), (
        f"no partition filter on band/bucket:\n{plan}"
    )
    # the multi-band fold must be a map-side-combined aggregate over
    # SCORED rows: partial_max below the exchange, and no exchange may
    # carry the embedding arrays (the pre-fix dropDuplicates shuffled
    # ~1 KB rows holding both 64-double vectors)
    assert "partial_max(cosine" in plan, f"fold is not map-side combined:\n{plan}"
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line and "qvec" not in line, (
                f"arrays crossed an exchange:\n{line}"
            )
    got: dict[int, list[tuple[int, object]]] = {q: [] for q in qids}
    for r in batch.orderBy("query_id", F.desc("cosine"), "vec_id").collect():
        got[int(r["query_id"])].append((int(r["vec_id"]), r["cosine"]))
    for q in qids:
        want = [
            (int(r["vec_id"]), r["cosine"])
            for r in lsh_probe_topk(
                spark, path, qvecs[q], k=10, exclude_id=q
            ).collect()
        ]
        assert got[q] == want, f"query {q} diverged from per-query probe"


def test_lsh_batch_probe_wrong_dim_raises(spark, emb, tmp_path):
    from qwatch_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_topk_batch,
    )

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path)
    with pytest.raises(ValueError, match="length"):
        lsh_probe_topk_batch(spark, path, [(1, [0.5] * 10)], k=5)


def test_lsh_params_cache_invalidated_by_external_rebuild(spark, emb, tmp_path):
    """A rebuild at the same path with DIFFERENT params (as another
    process — the cache entry is left in place) must not be probed with
    the stale cached hyperplanes: _lsh_index_params revalidates against
    the _params directory stamp."""
    from qwatch_spark.operators.similarity import (
        _lsh_index_params,
        lsh_build_index,
    )

    path = str(tmp_path / "lsh")
    lsh_build_index(emb, path, n_planes=16, n_bands=8, seed=7)
    assert _lsh_index_params(spark, path) == (16, 8, 64, 7)
    # out-of-process rebuild: different geometry, cache NOT popped
    import time as _time

    _time.sleep(0.05)  # ensure a distinguishable mtime stamp
    lsh_build_index(emb, path, n_planes=8, n_bands=4, seed=11)
    # simulate the other process having done the build: poison our
    # process's entry back to the OLD params but keep the new stamp
    # unknowable — i.e. restore the pre-build cache state
    from qwatch_spark.operators import similarity as S

    S._LSH_PARAMS_CACHE[path] = (1, (16, 8, 64, 7))  # stale stamp+params
    assert _lsh_index_params(spark, path) == (8, 4, 64, 11), (
        "stale cached params survived an external rebuild"
    )


def test_ivf_params_for_shape():
    """The recall-targeted rule: √n cells, probe fraction ≥ target
    (uniform worst-case calibration), Lloyd always on, and the helper
    rejects nonsense targets."""
    from qwatch_spark.operators.similarity import ivf_params_for

    n_cells, n_probe, lloyd = ivf_params_for(2000, target_recall=0.9)
    assert n_cells == 45  # round(sqrt(2000))
    assert n_probe / n_cells >= 0.9
    assert n_probe <= n_cells
    assert lloyd > 0
    # monotone: a higher target never probes fewer cells
    lo = ivf_params_for(10_000, 0.5)[1]
    hi = ivf_params_for(10_000, 0.95)[1]
    assert hi >= lo
    # degenerate corpora stay valid
    assert ivf_params_for(1, 0.9) == (1, 1, 5)
    with pytest.raises(ValueError):
        ivf_params_for(1000, 0.0)
    with pytest.raises(ValueError):
        ivf_params_for(1000, 1.5)


def _clustered_corpus(spark, n, dim=16, n_clusters=96, seed=5):
    """Deterministic clustered embeddings (the realistic ANN corpus
    shape — uniform fixtures can't show codebook drift because nothing
    clusters): `n_clusters` Gaussian centers, members tightly around
    them, ids round-robin over clusters so any prefix covers most
    clusters."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    rows = [
        (
            i,
            [
                float(x)
                for x in centers[i % n_clusters]
                + rng.normal(0.0, 0.05, dim)
            ],
        )
        for i in range(n)
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _ivf_state(spark, path):
    """(n_rows, n_cells) of the index's CURRENT version."""
    from qwatch_spark.operators.similarity import _idx_current

    data, _v = _idx_current(path)
    n = spark.read.parquet(data).count()
    cells = spark.read.parquet(f"{data}/_seeds").count()
    return n, cells


def _recall_at10(spark, path, rows, qids, n_probe):
    from qwatch_spark.operators.similarity import ivf_probe_topk_batch

    vecs = {i: np.asarray(v) for i, v in rows}
    got = ivf_probe_topk_batch(
        spark, path, [(q, list(vecs[q])) for q in qids], k=10,
        n_probe=n_probe, exclude_query_id=True,
    ).collect()
    by_q: dict[int, list[int]] = {q: [] for q in qids}
    for r in got:
        by_q[int(r["query_id"])].append(int(r["vec_id"]))
    mat = np.asarray([v for _i, v in rows])
    ids = np.asarray([i for i, _v in rows])
    norms = np.linalg.norm(mat, axis=1)
    hits = total = 0
    for q in qids:
        sims = (mat @ vecs[q]) / (norms * np.linalg.norm(vecs[q]))
        order = np.argsort(-np.round(sims, 9), kind="stable")
        truth = [int(ids[j]) for j in order if int(ids[j]) != q][:10]
        hits += len(set(truth) & set(by_q[q]))
        total += 10
    return hits / total


def test_ivf_maintain_restores_probe_cost_and_recall(spark, tmp_path):
    """r6 verdict #2: appends quantize against the frozen build-time
    codebook, so 10× growth bloats cells 10× (per-probe rows grow
    linearly — the one unbounded-horizon weakness in the ANN family).
    `ivf_maintain` reclusters at maintenance cadence behind a versioned
    pointer swap: per-probe row count must return to ~build-time
    levels, and probe recall@10 (vs numpy ground truth) must hold."""
    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_maintain,
    )

    n0, n1 = 120, 1200
    rows, df = _clustered_corpus(spark, n1)
    path = str(tmp_path / "ivf")
    build_cells = 11  # ≈ √120: build-time cell ≈ 11 rows
    ivf_build_index(
        df.filter(F.col("vec_id") < n0), path, n_cells=build_cells,
        lloyd_iters=5,
    )
    for lo in range(n0, n1, 360):
        ivf_index_append(
            df.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 360)
            ),
            path,
        )
    n_probe = 3
    qids = [7, 131, 555, 700, 999, 1100]
    n_b, cells_b = _ivf_state(spark, path)
    assert (n_b, cells_b) == (n1, build_cells)
    cost_grown = n_probe * n_b / cells_b  # ≈ 10× the build-time cost
    recall_grown = _recall_at10(spark, path, rows, qids, n_probe)

    out = ivf_maintain(
        spark, path, target_cell_rows=round(n0 / build_cells)
    )
    assert out["old_version"] == -1 and out["new_version"] == 0
    assert out["n"] == n1 and out["folded"] == 0
    n_a, cells_a = _ivf_state(spark, path)
    assert n_a == n1, "maintain must preserve every vector"
    cost_after = n_probe * n_a / cells_a
    build_cost = n_probe * n0 / build_cells
    assert cost_after <= 2 * build_cost, (
        f"per-probe rows {cost_after:.0f} not restored to ~build-time "
        f"{build_cost:.0f} (grown: {cost_grown:.0f})"
    )
    assert cost_grown / cost_after >= 5, "maintenance barely helped"
    recall_after = _recall_at10(spark, path, rows, qids, n_probe)
    assert recall_after >= 0.9, f"recall degraded to {recall_after}"
    assert recall_after >= recall_grown - 0.05, (
        f"recall {recall_grown} -> {recall_after}"
    )


def test_ivf_append_conflict_is_typed_and_retry_dedups(
    spark, tmp_path, monkeypatch
):
    """An append racing a maintenance swap must fail with the typed
    IndexConflictError (not silently vanish into the dead version), and
    the prescribed retry (`dedup_against_index=True`) must be
    duplicate-free even when the maintainer already carried the batch
    forward (the nastiest interleaving: write → maintain pins the
    files → swap → version check fires)."""
    import qwatch_spark.operators.similarity as sim

    rows, df = _clustered_corpus(spark, 140)
    path = str(tmp_path / "ivf")
    ivf = sim
    ivf.ivf_build_index(df.filter(F.col("vec_id") < 100), path, n_cells=8)
    batch = df.filter(F.col("vec_id") >= 100)

    real = sim._idx_current
    state = {"calls": 0}

    def racing(p):
        state["calls"] += 1
        if state["calls"] == 2:
            # between this append's write and its version check, a
            # maintainer (which pinned files AFTER the write, so the
            # batch is already in its rebuild) swaps the pointer
            ivf.ivf_maintain(spark, p, n_cells=8, lloyd_iters=0)
        return real(p)

    monkeypatch.setattr(sim, "_idx_current", racing)
    with pytest.raises(sim.IndexConflictError, match="dedup_against_index"):
        ivf.ivf_index_append(batch, path)
    monkeypatch.undo()

    # retry per the contract: anti-joined, so nothing duplicates
    n = ivf.ivf_index_append(batch, path, dedup_against_index=True)
    assert n == 0, "maintainer had carried the batch; retry must no-op"
    data, v = sim._idx_current(path)
    assert v == 0
    got = spark.read.parquet(data).groupBy("vec_id").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate ids"
    assert got.count() == 140, "batch lost"


def test_ivf_maintain_rival_claim_and_vacuum(spark, tmp_path):
    """Two maintainers: the create-exclusive `_vK.claim` file is the
    CAS — the loser gets the typed conflict and nothing is corrupted.
    (A claim FILE, not mkdir on the version dir: the build's overwrite
    write would momentarily delete a mkdir-claim.) ivf_vacuum retires
    superseded versions (and the legacy flat layout) only past the
    retention window, and clears the now-junk claims of published
    versions."""
    import os as _os

    from qwatch_spark.operators.similarity import (
        IndexConflictError,
        ivf_build_index,
        ivf_maintain,
        ivf_probe_topk,
        ivf_vacuum,
    )

    rows, df = _clustered_corpus(spark, 150)
    path = str(tmp_path / "ivf")
    ivf_build_index(df, path, n_cells=8)
    # rival already claimed version 0 (what _claim_version creates)
    open(_os.path.join(path, "_v0.claim"), "w").close()
    with pytest.raises(IndexConflictError, match="rival"):
        ivf_maintain(spark, path, n_cells=12)
    _os.remove(_os.path.join(path, "_v0.claim"))
    out = ivf_maintain(spark, path, n_cells=12)
    assert out["new_version"] == 0
    # the winner's own claim is junk once v0 published; vacuum removes
    # it even inside retention (claims carry no reader guarantees)
    assert _os.path.exists(_os.path.join(path, "_v0.claim"))
    # legacy layout still on disk (a mid-swap reader may hold it) ...
    assert any(d.startswith("cell=") for d in _os.listdir(path))
    inside = ivf_vacuum(path, retention_s=3600)  # inside retention:
    assert inside == [_os.path.join(path, "_v0.claim")]  # claim only
    assert not _os.path.exists(_os.path.join(path, "_v0.claim"))
    removed = ivf_vacuum(path, retention_s=0)
    assert removed, "superseded legacy dirs must be vacuumed"
    assert not any(d.startswith("cell=") for d in _os.listdir(path))
    # ... and the current version still serves
    q = rows[3][1]
    got = ivf_probe_topk(spark, path, q, k=3, n_probe=12).collect()
    assert int(got[0]["vec_id"]) == 3


def test_maintain_rejects_stale_claimant_after_claim_vacuumed(
    spark, tmp_path, monkeypatch
):
    """The claim-file CAS alone cannot stop a maintainer whose
    read-to-claim window spans a rival's entire claim → publish →
    vacuum cycle: the rival's published claim is junk and vacuum
    removes it, so the stale maintainer's claim SUCCEEDS on a version
    number that is already live — and its overwrite build would delete
    the current version dir under active probes. The post-claim pointer
    recheck closes this: the stale claimant must fail typed, touch
    nothing, and leave only a vacuum-clearable junk claim behind."""
    import glob as _glob
    import os as _os

    import qwatch_spark.operators.similarity as sim

    rows, df = _clustered_corpus(spark, 120)
    path = str(tmp_path / "ivf")
    sim.ivf_build_index(df, path, n_cells=8)
    sim.ivf_maintain(spark, path, n_cells=10, lloyd_iters=0)  # cur = 0
    removed = sim.ivf_vacuum(path, retention_s=3600)  # retires _v0.claim
    assert removed == [_os.path.join(path, "_v0.claim")]

    live_files = sorted(
        _glob.glob(_os.path.join(path, "_v0", "cell=*", "*.parquet"))
    )
    real = sim._idx_current
    calls = {"n": 0}

    def stale_first(p):
        # what a maintainer that read the pointer BEFORE the rival's
        # whole cycle saw: the legacy, pointerless layout
        calls["n"] += 1
        return (p, -1) if calls["n"] == 1 else real(p)

    monkeypatch.setattr(sim, "_idx_current", stale_first)
    with pytest.raises(sim.IndexConflictError, match="moved past"):
        sim.ivf_maintain(spark, path, n_cells=10, lloyd_iters=0)
    monkeypatch.undo()

    # the live version dir was never touched, probes still serve ...
    assert sorted(
        _glob.glob(_os.path.join(path, "_v0", "cell=*", "*.parquet"))
    ) == live_files
    got = sim.ivf_probe_topk(spark, path, rows[5][1], k=1, n_probe=10).collect()
    assert int(got[0]["vec_id"]) == 5
    # ... and the stale claimant's junk claim is vacuum-clearable
    assert sim.ivf_vacuum(path, retention_s=3600) == [
        _os.path.join(path, "_v0.claim")
    ]


@pytest.mark.parametrize("kind", ["ivf", "lsh"])
def test_concurrent_append_probe_maintain_stress(spark, tmp_path, kind):
    """The r6 stress test's discipline extended to maintenance, over
    BOTH serving families: an appender (retrying typed conflicts with
    the dedup flag), two probers, and a MAINTAINER mid-traffic (IVF:
    recluster; LSH: small-file compaction — whose post-swap fold runs
    CONCURRENTLY with the live appender in the same version dir, the
    committer-staging clash _append_via_move exists for). Every probe
    must succeed against a fully intact version; after the dust
    settles, every vector is present exactly once and findable."""
    import random
    import threading

    import qwatch_spark.operators.similarity as sim

    rows, df = _clustered_corpus(spark, 480, n_clusters=48)
    vecs = {i: v for i, v in rows}
    path = str(tmp_path / kind)
    seed_df = df.filter(F.col("vec_id") < 60)
    if kind == "ivf":
        sim.ivf_build_index(seed_df, path, n_cells=7)

        def append(batch, dedup):
            sim.ivf_index_append(batch, path, dedup_against_index=dedup)

        def maintain():
            sim.ivf_maintain(spark, path, lloyd_iters=1)

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
            for lo in range(60, 480, 60):
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
        except Exception as e:
            errors.append(("append", repr(e)))
        finally:
            stop.set()

    def maintainer():
        import time as _time

        try:
            # BOUNDED cycles at a spaced cadence: real deployments
            # recluster at minutes-to-hours intervals — a maintainer
            # swapping continuously with zero gap starves appenders by
            # construction (every append window then contains a swap),
            # which tests the test, not the protocol. Three spaced
            # swaps still land mid-traffic, and bounding them makes the
            # appender's retry budget deterministically sufficient (a
            # batch can conflict at most once per remaining cycle).
            for _ in range(3):
                if stop.is_set():
                    break
                with lock:
                    pre = set(committed)
                try:
                    maintain()
                    maintains_done[0] += 1
                except sim.IndexConflictError:
                    pass  # rival claim — rebase next cycle
                else:
                    # the documented VISIBILITY BOUND (r7 verdict #3):
                    # every append that returned success BEFORE this
                    # maintain started must be probe-visible again by
                    # the time maintain returns (the post-swap gap is
                    # bounded by the fold, which lands before return)
                    data_now, _vn = sim._idx_current(path)
                    present = {
                        int(r["vec_id"])
                        for r in spark.read.parquet(data_now)
                        .select("vec_id")
                        .distinct()
                        .collect()
                    }
                    missing = pre - present
                    assert not missing, (
                        f"post-maintain visibility gap: appends that "
                        f"committed before the maintain are missing "
                        f"after it returned: {sorted(missing)[:8]}"
                    )
                _time.sleep(2.0)
        except Exception as e:
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
                if probes_done[0] > 30:
                    break
        except Exception as e:
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
    # final state: every id exactly once, regardless of interleaving
    data, _v = sim._idx_current(path)
    if kind == "ivf":
        got = spark.read.parquet(data).groupBy("vec_id").count()
        assert got.filter(F.col("count") > 1).count() == 0, "duplicates"
        assert got.count() == 480, "lost vectors"
        top = sim.ivf_probe_topk(
            spark, path, vecs[433], k=1, n_probe=6, exclude_id=None
        ).collect()
    else:
        got = spark.read.parquet(data).groupBy("vec_id", "band").count()
        assert got.filter(F.col("count") > 1).count() == 0, "duplicates"
        per_id = got.groupBy("vec_id").count()
        assert per_id.filter(F.col("count") != 8).count() == 0, (
            "missing bands"
        )
        assert per_id.count() == 480, "lost vectors"
        top = sim.lsh_probe_topk(spark, path, vecs[433], k=1).collect()
    assert int(top[0]["vec_id"]) == 433


def _lsh_files_per_bucket(path):
    import glob as _glob

    from qwatch_spark.operators.similarity import _idx_current

    data, _v = _idx_current(path)
    files = _glob.glob(f"{data}/band=*/bucket=*/*.parquet")
    dirs = {f.rsplit("/", 1)[0] for f in files}
    return len(files), (len(files) / max(1, len(dirs)))


def test_lsh_maintain_compacts_small_files_probe_identical(
    spark, emb, tmp_path
):
    """r7: LSH has no codebook drift (planes are data-independent) but
    every O(batch) append sprays one file set across its (band,bucket)
    dirs — after K appends a probe opens ~K files per pruned dir (the
    lake small-file disease). `lsh_maintain` compacts the CURRENT
    version to ~one file per bucket behind the same versioned-pointer
    swap the IVF maintenance uses; probe results must be row-identical
    before/after, and `_params` (immutable planes) stays live at the
    root across versions."""
    from qwatch_spark.operators.similarity import (
        lsh_build_index,
        lsh_index_append,
        lsh_maintain,
        lsh_probe_topk,
        lsh_vacuum,
    )

    rows = emb.limit(160).collect()
    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    ids = sorted(vecs)
    path = str(tmp_path / "lsh")
    lsh_build_index(
        emb.filter(F.col("vec_id").isin(ids[:40])), path,
        n_planes=16, n_bands=8,
    )
    for lo in range(40, 160, 15):  # 8 appends: files pile up per bucket
        lsh_index_append(
            emb.filter(F.col("vec_id").isin(ids[lo: lo + 15])), path
        )
    n_before, per_bucket_before = _lsh_files_per_bucket(path)
    assert per_bucket_before > 2, "fixture didn't fragment"
    qids = [ids[1], ids[77], ids[150]]
    before = {
        q: [(int(r["vec_id"]), r["cosine"]) for r in
            lsh_probe_topk(spark, path, vecs[q], k=5).collect()]
        for q in qids
    }
    out = lsh_maintain(spark, path)
    assert out["new_version"] == 0 and out["folded"] == 0
    n_after, per_bucket_after = _lsh_files_per_bucket(path)
    assert per_bucket_after <= 1.01, (n_before, n_after)
    assert n_after < n_before / 2
    after = {
        q: [(int(r["vec_id"]), r["cosine"]) for r in
            lsh_probe_topk(spark, path, vecs[q], k=5).collect()]
        for q in qids
    }
    assert after == before, "compaction changed probe results"
    # vacuum retires the legacy flat layout; _params must survive
    assert lsh_vacuum(path, retention_s=0)
    import os as _os

    assert _os.path.isdir(_os.path.join(path, "_params"))
    assert not any(d.startswith("band=") for d in _os.listdir(path))
    again = {
        q: [(int(r["vec_id"]), r["cosine"]) for r in
            lsh_probe_topk(spark, path, vecs[q], k=5).collect()]
        for q in qids
    }
    assert again == before


def test_lsh_append_conflict_typed_and_band_complete_fold(
    spark, emb, tmp_path, monkeypatch
):
    """An LSH append racing a compaction swap gets the typed conflict;
    the retry dedups on (id, band) — NOT id alone, because a torn
    append can land HALF its band files inside the maintainer's pinned
    snapshot and the other half in the fold window; an id-level dedup
    would permanently drop the missing bands (silent recall loss)."""
    import qwatch_spark.operators.similarity as sim

    ids = [int(r["vec_id"]) for r in emb.limit(120).collect()]
    path = str(tmp_path / "lsh")
    sim.lsh_build_index(
        emb.filter(F.col("vec_id").isin(ids[:80])), path,
        n_planes=16, n_bands=8,
    )
    batch = emb.filter(F.col("vec_id").isin(ids[80:]))

    real = sim._idx_current
    state = {"calls": 0}

    def racing(p):
        state["calls"] += 1
        if state["calls"] == 2:  # post-write check: a compaction landed
            sim.lsh_maintain(spark, p)
        return real(p)

    monkeypatch.setattr(sim, "_idx_current", racing)
    with pytest.raises(sim.IndexConflictError, match="dedup_against_index"):
        sim.lsh_index_append(batch, path)
    monkeypatch.undo()
    assert sim.lsh_index_append(batch, path, dedup_against_index=True) == 0
    data, v = sim._idx_current(path)
    assert v == 0
    got = spark.read.parquet(data).groupBy("vec_id", "band").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate rows"
    per_id = got.groupBy("vec_id").count()
    assert per_id.filter(F.col("count") != 8).count() == 0, "missing bands"
    assert per_id.count() == 120


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_concurrent_append_probe_stress(spark, emb, tmp_path, kind):
    """Interleaved appender + probers against a live serving index
    (driver threads share the executor pool — the streaming-ingest
    shape): every probe issued mid-append must succeed, and any vector
    whose append HAD COMMITTED before the probe picked it must be
    findable as its own exact top hit; after the appender drains, the
    full corpus is probe-visible. Mirrors the fp_bloom
    concurrent-consolidation discipline for the ANN family."""
    import random
    import threading

    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_probe_topk,
        lsh_build_index,
        lsh_index_append,
        lsh_probe_topk,
    )

    rows = emb.collect()
    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    ids = sorted(vecs)
    seed_ids, rest = ids[:40], ids[40:160]
    path = str(tmp_path / kind)
    seed_df = emb.filter(F.col("vec_id").isin(seed_ids))
    if kind == "lsh":
        lsh_build_index(seed_df, path, n_planes=16, n_bands=8)
    else:
        ivf_build_index(seed_df, path, n_cells=4)

    committed = list(seed_ids)
    lock = threading.Lock()
    errors: list = []
    stop = threading.Event()
    probes_done = [0]

    def probe_one(q: int):
        if kind == "lsh":
            got = lsh_probe_topk(spark, path, vecs[q], k=5).collect()
        else:
            got = ivf_probe_topk(
                spark, path, vecs[q], k=5, n_probe=4
            ).collect()
        assert got, f"probe for {q} returned nothing"
        top = got[0]
        assert int(top["vec_id"]) == q, (
            f"{kind}: committed vector {q} not its own top hit: {got[:3]}"
        )

    def appender():
        try:
            for i in range(0, len(rest), 30):
                batch = rest[i : i + 30]
                bdf = emb.filter(F.col("vec_id").isin(batch))
                if kind == "lsh":
                    lsh_index_append(bdf, path)
                else:
                    ivf_index_append(bdf, path)
                with lock:
                    committed.extend(batch)
        except Exception as e:  # surface in main thread
            errors.append(("append", repr(e)))
        finally:
            stop.set()

    def prober(seed: int):
        rnd = random.Random(seed)
        try:
            while not stop.is_set() or probes_done[0] < 4:
                with lock:
                    pool = list(committed)
                probe_one(rnd.choice(pool))
                probes_done[0] += 1
                if probes_done[0] > 40:
                    break
        except Exception as e:
            errors.append(("probe", repr(e)))

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=prober, args=(11,)),
        threading.Thread(target=prober, args=(23,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert probes_done[0] >= 4
    # quiescent sweep: the whole committed corpus is probe-visible
    for q in (seed_ids[0], rest[0], rest[-1]):
        probe_one(q)


def test_fresh_build_over_versioned_index_refused(spark, emb, tmp_path):
    """ADVICE r7: a fresh `.mode('overwrite')` build at a VERSIONED
    index path would delete `_vK` dirs and `_current` out from under
    live probes that already resolved the old version — the retention
    guarantee `*_vacuum` exists to uphold. Builds now refuse with a
    clear pointer to `*_maintain`; a flat (unversioned) rebuild stays
    supported (the params-cache invalidation flow)."""
    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_maintain,
        lsh_build_index,
        lsh_maintain,
    )

    ivf_path = str(tmp_path / "ivf")
    lsh_path = str(tmp_path / "lsh")
    ivf_build_index(emb, ivf_path, n_cells=8)
    lsh_build_index(emb, lsh_path, n_planes=16, n_bands=8)
    # flat rebuild over a flat layout: still fine
    ivf_build_index(emb, ivf_path, n_cells=8)
    lsh_build_index(emb, lsh_path, n_planes=16, n_bands=8)
    ivf_maintain(spark, ivf_path)
    lsh_maintain(spark, lsh_path)
    with pytest.raises(ValueError, match="ivf_maintain"):
        ivf_build_index(emb, ivf_path, n_cells=8)
    with pytest.raises(ValueError, match="lsh_maintain"):
        lsh_build_index(emb, lsh_path, n_planes=16, n_bands=8)


def test_fold_retry_write_skew_serialized(spark, tmp_path, monkeypatch):
    """ADVICE r8 (medium): the post-swap fold and a conflicted append
    retrying with dedup_against_index=True both anti-join the new
    version BEFORE either side's part files land — a write skew that
    inserts the same ids twice (and probes have no per-id dedup, so a
    duplicate occupies two top-k slots). The `_folding` marker
    serializes them: it exists from before the swap until the fold
    lands, and dedup retries wait on it, so the retry's anti-join is
    guaranteed to see the fold's output. This test reproduces the exact
    interleaving deterministically: an append lands in the OLD version
    inside the rebuild window (so it becomes fold delta), the fold is
    held open at its write step, and the dedup retry for the same batch
    runs concurrently — it must block until the fold lands and then
    write NOTHING."""
    import threading
    import time as _time

    import qwatch_spark.operators.similarity as sim

    _rows, df = _clustered_corpus(spark, 120, n_clusters=12)
    path = str(tmp_path / "ivf")
    sim.ivf_build_index(df.filter(F.col("vec_id") < 60), path, n_cells=6)
    batch = df.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120))

    # (1) inject the batch into the OLD version inside the maintain's
    # rebuild window (after the file-snapshot pin, before the swap) —
    # the append succeeds (no swap yet) and its files become fold delta
    orig_build = sim.ivf_build_index
    injected = threading.Event()

    def build_then_inject(*a, **kw):
        orig_build(*a, **kw)
        if not injected.is_set():
            injected.set()
            n = sim.ivf_index_append(batch, path)
            assert n == 60

    # (2) hold the fold open at its WRITE step — the window in which
    # the retry's anti-join would race it without the marker
    orig_move = sim._append_via_move
    fold_at_write = threading.Event()
    fold_release = threading.Event()

    def held_move(df_, vdir, cols):
        fold_at_write.set()
        assert fold_release.wait(timeout=120), "test orchestration hang"
        orig_move(df_, vdir, cols)

    monkeypatch.setattr(sim, "ivf_build_index", build_then_inject)
    monkeypatch.setattr(sim, "_append_via_move", held_move)

    maint_out: dict = {}
    retry_out: dict = {}
    errors: list = []

    def maintainer():
        try:
            maint_out.update(sim.ivf_maintain(spark, path, lloyd_iters=0))
        except Exception as e:  # surfaced below
            errors.append(("maintain", repr(e)))
            fold_at_write.set()  # unblock the retry thread

    def retry():
        try:
            assert fold_at_write.wait(timeout=120)
            t0 = _time.monotonic()
            retry_out["n"] = sim.ivf_index_append(
                batch, path, dedup_against_index=True
            )
            retry_out["waited_s"] = _time.monotonic() - t0
        except Exception as e:
            errors.append(("retry", repr(e)))

    tm = threading.Thread(target=maintainer)
    tr = threading.Thread(target=retry)
    tm.start()
    tr.start()
    assert fold_at_write.wait(timeout=120)
    _time.sleep(1.0)  # give the retry time to reach the marker wait
    fold_release.set()
    tm.join(timeout=300)
    tr.join(timeout=300)
    assert not errors, errors
    assert maint_out["folded"] == 60  # the injected batch WAS fold delta
    # the retry blocked on the marker, then saw the fold's output and
    # wrote nothing — the write skew is closed
    assert retry_out["n"] == 0, "retry duplicated the folded batch"
    assert retry_out["waited_s"] >= 0.5, (
        "retry did not serialize behind the fold "
        f"(waited {retry_out['waited_s']:.2f}s)"
    )
    data, _v = sim._idx_current(path)
    got = spark.read.parquet(data).groupBy("vec_id").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate ids"
    assert got.count() == 120, "lost vectors"


def test_wait_no_fold_timeout_is_typed(tmp_path):
    """A `_folding` marker that never clears (maintenance owner crashed
    mid-fold) must fail dedup retries with the typed IndexConflictError
    — loud and retryable-by-policy, never a silent duplicate. Pure
    pointer-file unit test, no Spark."""
    import json
    import os

    import qwatch_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    vdir = os.path.join(path, "_v3")
    os.makedirs(vdir)
    with open(os.path.join(path, "_current"), "w") as fh:
        json.dump({"version": 3}, fh)
    with open(sim._fold_marker(vdir), "w") as fh:
        fh.write("x")
    t0 = __import__("time").monotonic()
    with pytest.raises(sim.IndexConflictError, match="fold marker"):
        sim._wait_no_fold(path, timeout_s=0.3)
    assert __import__("time").monotonic() - t0 >= 0.3
    os.remove(sim._fold_marker(vdir))
    assert sim._wait_no_fold(path, timeout_s=0.3) == (vdir, 3)


@pytest.mark.parametrize("source", ["float", "double", "sf0.01"])
def test_py_norm_bit_equal_to_column_norm(spark, source):
    """`_py_norm` (driver-side query norm) must equal sqrt(`_norm_sq`)
    bit for bit — the IVF/LSH top-k paths divide engine dots by it, so a
    one-ulp drift can reorder ties against cosine_topk. Seeded
    array<float> / array<double> vectors over magnitudes 1e-7…1e4 and
    dims 1…256 (both ends included), plus the sf0.01 embeddings."""
    import os

    from qwatch_spark.operators.similarity import _norm_sq, _py_norm

    if source == "sf0.01":
        df = spark.read.parquet(
            os.path.join(os.path.dirname(SF), "sf0.01", "embeddings.parquet")
        ).select(F.col("embedding").alias("v"))
    else:
        rng = np.random.default_rng(20260)
        dims = [1, 256] + [int(d) for d in rng.integers(1, 257, size=298)]
        rows = [
            ([float(x) for x in rng.standard_normal(d) * 10.0 ** rng.uniform(-7, 4)],)
            for d in dims
        ]
        df = spark.createDataFrame(rows, f"v array<{source}>")
    got = df.select("v", F.sqrt(_norm_sq(F.col("v"))).alias("n")).collect()
    assert got
    bad = [r["v"] for r in got if _py_norm(r["v"]) != r["n"]]
    assert not bad, f"{len(bad)}/{len(got)} norms differ, e.g. {bad[0][:4]}"
