"""Document deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash, and n-gram Jaccard — each as a pure DataFrame composition
(JVM-side, whole-stage codegen; no Python in the hot path).

Hashing is md5-hex based (not xxhash64) deliberately: md5 is available
bit-identically in Spark, DuckDB, and Python, so every operator here has
an exact external oracle. String-ordered min over hex digests is a valid
uniform minhash (digests are uniformly distributed in hex space).

Scale notes (100 TB corpus):
- exact dedup: one shuffle on a 128-bit digest key — balanced by
  construction (hash keys don't skew);
- minhash: explode(words)→distinct is the big intermediate; it shuffles
  (doc_id, word) pairs once, then per-doc min-aggregation is map-side
  combinable. Band buckets are then a *small* join key set; the LSH
  bucket join replaces the O(n²) pair space with per-bucket pairs;
- pairwise Jaccard is provided for verification at small n and as the
  refine step AFTER LSH candidate generation — never run it unbucketed
  at scale (the candidate_pairs path composes LSH → refine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = " "


def _spread_small_input(docs: DataFrame) -> DataFrame:
    """Round-robin an UNDER-SPLIT document scan across the executor pool
    before the tokenize/shingle explode multiplies it ~50-300×.

    A small corpus slice often arrives as 1-2 scan partitions (one
    parquet file under maxPartitionBytes), which serializes the entire
    map side of every set-based operator — explode, the per-pair hash
    family, partial aggregation — into one task (measured: the whole
    minhash pipeline's 2.4 s at sf0.1 was one core). Scale-adaptive per
    the round rules: only fires when the scan has fewer than half the
    pool's partitions, so a real corpus (parts ≫ cores) never pays a
    raw-document shuffle; the round-robin assignment is deterministic
    under retries (sortBeforeRepartition, on by default)."""
    sc = docs.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        n = docs.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - planning-only probe; never fatal
        return docs
    return docs.repartition(p) if n < max(2, p // 2) else docs


def _shuffle_width(spark) -> int:
    """The session's configured shuffle width (falls back to the pool
    size) — for exchanges that must pin an explicit partition count to
    stay out of AQE's byte-based coalescing."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def doc_words(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, word) distinct pairs — the shared shuffle for set-based ops.
    No input spread here: for the light one-aggregation consumers
    (simhash, sizes, tf) the extra exchange + stage costs more than the
    map-side parallelism buys (measured: q29 0.70 s -> 0.93 s with it);
    heavy pipelines spread their OWN input (lsh_candidate_pairs,
    winnow_fingerprints — both measured wins)."""
    return (
        docs
        .select(id_col, F.explode(F.split(F.col(text_col), TOKEN_SPLIT)).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )


def doc_shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingle) distinct char-n-gram pairs — the classic MinHash
    shingling unit (word tokens miss reorderings; char shingles don't)."""
    idx = F.explode(
        F.sequence(F.lit(1), F.length(text_col) - (n - 1))
    ).alias("i")
    return (
        docs.select(id_col, F.col(text_col), idx)
        .select(id_col, F.col(text_col).substr(F.col("i"), F.lit(n)).alias("word"))
        .distinct()
    )


def minhash_signatures_char(
    docs: DataFrame, n: int = 3, n_hashes: int = 4
) -> DataFrame:
    """Minhash over char-n-gram shingles (same md5 hash family)."""
    return doc_shingles(docs, n).groupBy("doc_id").agg(
        *[_minhash_col(i) for i in range(n_hashes)]
    )


def tfidf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Term frequency × inverse document frequency per (doc, word).
    tf = raw in-doc count, idf = ln(N/df); plain Column math, exact
    within float64 (no accumulation-order dependence: tf and df are
    integer aggregates, the product is one scalar op)."""
    words = (
        docs.select(id_col, F.explode(F.split(F.col(text_col), TOKEN_SPLIT)).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    df_counts = (
        words.select(id_col, "word").distinct().groupBy("word").agg(F.count("*").alias("df"))
    )
    # N stays IN the plan as a broadcast 1-row aggregate instead of an
    # eager docs.count() — the whole composition remains lazy (one job,
    # not a driver-side count job plus the real one), and consumers that
    # filter docs upstream get N of the filtered set for free.
    n_docs = docs.agg(F.count("*").cast("double").alias("_n"))
    # No broadcast hint on df_counts: the vocabulary grows with the corpus
    # (billions of distinct terms at web scale). A plain shuffle join lets
    # AQE broadcast at runtime only when the relation actually fits.
    return (
        tf.join(df_counts, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: digest, representative, group size."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def _minhash_col(i: int) -> F.Column:
    return F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("word")))).alias(f"mh{i}")


def minhash_signatures(docs: DataFrame, n_hashes: int = 4) -> DataFrame:
    """Per-doc minhash signature over the distinct-word set (md5 family)."""
    return doc_words(docs).groupBy("doc_id").agg(
        *[_minhash_col(i) for i in range(n_hashes)]
    )


def lsh_candidate_pairs(docs: DataFrame, n_hashes: int = 16, band_size: int = 4) -> DataFrame:
    """Per-bucket candidate pairs (a < b), each emitted EXACTLY ONCE.
    The scale path: pair generation is per-bucket, never global.

    Default 16 hashes × bands of 4: band-collision probability is s^4
    for Jaccard similarity s (4 OR'd bands), so unrelated pairs
    (s ≈ 0.1) collide with p ≈ 4e-4 while near-dups (s ≥ 0.8) are
    caught with p ≈ 0.87 — a selective sieve, not the quadratic
    76%-of-all-pairs blowup the old 4×2 toy config produced.

    Physical shape (optimization round 9): the former bucket SELF-JOIN
    + DISTINCT executed the whole minhash pipeline twice (Catalyst does
    not share a common subtree across a self-join's two sides) and then
    shuffled every (pair, band) collision into a corpus-wide distinct —
    on a dense corpus that distinct's input is bands × the pair count,
    by far the plan's largest exchange. Now each (band, bucket) group
    aggregates its members once (`collect_list`, sorted by doc_id) and
    generates pairs in-task with higher-order functions; a pair sharing
    several buckets is emitted only by its FIRST shared band — each doc
    carries its band fingerprints (16-byte `unhex(md5)`, equality ≡ the
    hex-string bucket equality the oracle SQL groups on) and a
    candidate survives iff the first index where the two fingerprint
    arrays agree is this group's band. Every co-bucketed pair is
    emitted exactly once globally, so the result set is identical to
    the join+distinct form with NO distinct step: one minhash pipeline,
    one small (doc, band) exchange, zero pair-level shuffles. The inner
    `filter` runs before pair structs materialize, so a bucket of m
    members holds O(m · survivors) structs, not O(m²). A pathologically
    hot bucket still lands in one task — same as the self-join form;
    raise bits per band (see the tuning note above) if buckets outgrow
    tasks."""
    # spread an under-split scan before the tokenize explode: the
    # signature pipeline's map side (explode + 16-hash family + partial
    # distinct) is heavy enough that the small extra exchange pays for
    # itself (measured: q28 4.7-5.0 s -> 3.6-3.9 s; the light
    # one-aggregation consumers of doc_words measured the OPPOSITE,
    # which is why the spread lives here and in winnowing, not inside
    # doc_words)
    sig = minhash_signatures(_spread_small_input(docs), n_hashes)
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.unhex(
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{b * band_size + j}")
                            for j in range(band_size)
                        ],
                    )
                )
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select(F.col("doc_id"), bands.alias("_bs")).select(
        "doc_id", "_bs", F.posexplode(F.col("_bs")).alias("band", "bucket")
    )
    grouped = (
        exploded.repartition(
            _shuffle_width(docs.sparkSession), "band", "bucket"
        )
        .groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("_bs")))
            ).alias("_ds")
        )
        .filter(F.size("_ds") > 1)
    )

    # Pair-space blocking: a single hot bucket's C(m,2) pair space would
    # otherwise be generated by ONE task (the self-join form had the
    # same skew — all rows of a join key land in one partition). Each
    # member belongs to block pmod(doc_id, T); a hot bucket's pair space
    # is the union of the T*(T+1)/2 block pairs (a <= b), each emitted
    # as its own row and hash-spread across the cluster by the
    # repartition below, so it parallelizes T*(T+1)/2 ways. CONDITIONAL:
    # buckets under BLOCK_MIN members stay ONE row (sentinel block
    # (-1,-1) = the whole member list) — a realistic sparse corpus has
    # thousands of tiny buckets, and blocking every one of them
    # multiplied rows 36× for nothing (measured: the realistic-corpus
    # bench entry 0.64 s → 1.14 s with unconditional blocking, back
    # under it with the size gate; the dense fixture's ~2,300-doc hot
    # buckets stay blocked).
    T = 8
    BLOCK_MIN = 256
    block_pairs = F.explode(
        F.when(
            F.size("_ds") < BLOCK_MIN,
            F.array(F.struct(F.lit(-1).alias("a"), F.lit(-1).alias("b"))),
        ).otherwise(
            F.array(
                *[
                    F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                    for a in range(T)
                    for b in range(a, T)
                ]
            )
        )
    )

    def _chunk(g):
        # sentinel block -1 = the whole (small) bucket, unsplit
        return F.when(g == -1, F.col("_ds")).otherwise(
            F.filter(
                F.col("_ds"), lambda x: F.pmod(x["doc_id"], F.lit(T)) == g
            )
        )

    chunked = (
        grouped.select("band", "bucket", "_ds", block_pairs.alias("_ab"))
        .select(
            "band",
            "bucket",
            F.col("_ab.a").alias("_a"),
            F.col("_ab.b").alias("_b"),
            _chunk(F.col("_ab.a")).alias("_ca"),
            _chunk(F.col("_ab.b")).alias("_cb"),
        )
        .filter((F.size("_ca") > 0) & (F.size("_cb") > 0))
        # EXPLICIT partition count, pinned to the session's configured
        # shuffle width: a column-only repartition is fair game for
        # AQE's byte-based partition coalescing, and the grouped rows
        # here are tiny in BYTES while carrying QUADRATIC pair-gen
        # work — compute skew invisible to size stats. Measured at
        # sf0.1: AQE merged this exchange to 2 partitions, so the
        # blocked hot buckets' 36-way spread ran as 2 tasks (q28's
        # final stage). REPARTITION_BY_NUM is exempt from coalescing;
        # the count follows the session's shuffle-partition knob
        # (scale-adaptive: pool-sized locally, the tuned width on a
        # cluster), never a constant.
        .repartition(
            _shuffle_width(docs.sparkSession), "band", "bucket", "_a", "_b"
        )
    )

    def _new_at_this_band(x, y):
        # True iff this group's band is the FIRST band where the two
        # docs share a bucket: all earlier band fingerprints differ.
        # Nested and/or over element_at — no per-check array
        # allocations, short-circuits on the first shared earlier band.
        cond = F.col("band") == F.lit(n_bands - 1)
        for j in range(n_bands - 2, -1, -1):
            cond = (F.element_at(x["_bs"], j + 1) != F.element_at(y["_bs"], j + 1)) & cond
            cond = (F.col("band") == F.lit(j)) | cond
        return cond

    pairs = F.flatten(
        F.transform(
            F.col("_ca"),
            lambda x: F.transform(
                F.filter(
                    F.col("_cb"),
                    lambda y: F.when(
                        F.col("_a") == F.col("_b"), y["doc_id"] > x["doc_id"]
                    ).otherwise(F.lit(True))
                    & _new_at_this_band(x, y),
                ),
                lambda y: F.struct(
                    F.least(x["doc_id"], y["doc_id"]).alias("doc_a"),
                    F.greatest(x["doc_id"], y["doc_id"]).alias("doc_b"),
                ),
            ),
        )
    )
    return (
        chunked.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b"))
    )


def _jaccard_from_common(common: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_common) + per-doc sizes → thresholded Jaccard.
    No broadcast hints: per-doc size tables grow with the corpus; AQE
    broadcasts at runtime when a side actually fits."""
    s1 = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_words").alias("na"))
    s2 = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_words").alias("nb"))
    return (
        common.join(s1, "doc_a")
        .join(s2, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXHAUSTIVE word-set Jaccard over every co-occurring pair.

    Small-n verification helper ONLY: the word↔word self-join is
    quadratic in document frequency per token (hot stopwords join every
    doc pair). The scale path is `near_dup_pairs`, which computes the
    same value on LSH candidates only.
    """
    words = doc_words(docs)
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    w1, w2 = words.alias("w1"), words.alias("w2")
    common = (
        w1.join(
            w2,
            (F.col("w1.word") == F.col("w2.word"))
            & (F.col("w1.doc_id") < F.col("w2.doc_id")),
        )
        .groupBy(
            F.col("w1.doc_id").alias("doc_a"), F.col("w2.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def near_dup_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Composed near-duplicate detector: LSH candidates → exact Jaccard
    refined ONLY on candidates. This is the operator a training-data
    pipeline actually calls at 100 TB.

    Plan shape: the only pair-producing join is the per-bucket LSH
    self-join (selective by construction at 16×4); the refine step joins
    candidate pairs against the (doc_id, word) lists — intermediate size
    is |candidates| × avg_doc_len, never |vocab-df²|. No global
    word↔word self-join anywhere in the plan.
    """
    cand = lsh_candidate_pairs(docs, n_hashes, band_size)
    words = doc_words(docs)
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    wa = words.select(F.col("doc_id").alias("doc_a"), "word")
    wb = words.select(F.col("doc_id").alias("doc_b"), "word")
    common = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "word"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def simhash(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """n_bits-bit SimHash over distinct words.

    Bit j is the sign of the ±1 vote sum, where a word votes via the
    high bit of the j-th hex digit of its md5 (digit in [8..f] → +1).
    Pure integer arithmetic — portable to any SQL oracle.
    """
    words = doc_words(docs).withColumn("h", F.md5(F.col("word")))
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(*"89abcdef"), F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(n_bits)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{j}") > 0, F.lit(1 << (n_bits - 1 - j))).otherwise(F.lit(0))
        for j in range(n_bits)
    ]
    expr = bits[0]
    for b in bits[1:]:
        expr = expr + b
    return agg.select("doc_id", expr.cast("int").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    work_dir: str | None = None,
) -> DataFrame:
    """Connected components over a pair/edge DataFrame — the step that
    turns near-duplicate PAIRS into duplicate CLUSTERS (the MinHash-LSH
    dedup pipeline's final reduce; no reference analog — qwatch has no
    dedup at all).

    Algorithm: iterative min-label propagation with pointer jumping.
    Every node starts labeled with itself; each round, (1) a node
    adopts the minimum label in its closed neighborhood, then (2) a
    path-halving hop replaces each node's label by its LABEL's label
    (labels only shrink, so the hop is safe and compresses chains
    geometrically). Propagation alone needs O(diameter) rounds — a
    sparse random graph's tree-ish components easily exceed 20 — while
    the jump makes it O(log diameter). Stops when a round changes
    nothing, or raises at `max_iter` (silent truncation would mislabel
    components).

    Scale shape: each round is two equi-joins (labels ⋈ edges on the
    node id; labels ⋈ labels for the jump) + one map-side-combinable
    min aggregation — no collects, no windows; the edge set is reused
    each round. Labels are materialized to parquet per round (the
    iterative-algorithm exception to the no-persist rule) — NOT
    `localCheckpoint`, which truncates the plan but PRESERVES the
    origin plan's statistics: with 2-3 self-referencing joins per round
    the carried `sizeInBytes` exponentiates (measured: 9,000+ decimal
    digits by round 8, at which point Catalyst's stats visitor spends
    minutes inside BigInteger multiplication). The parquet round-trip
    resets stats to real file sizes and is the portable shape for
    cluster-scale iterative label propagation anyway. The convergence
    probe is a count of changed labels (one action per round).

    `work_dir` is where per-round labels are written; it MUST be on
    storage every executor can read (the table's filesystem, an
    object-store prefix). The default — a driver-local tempdir — is
    only correct on local[*]; a multi-node run that leaves it unset
    would scatter round files across executor-local disks. The rounds
    live in `work_dir`'s object store (`objectstore.store_for`): Spark
    writes them at `store.spark_path`, and `store.delete_tree` removes
    them. A run that dies between rounds leaves its `cc-*` prefix
    behind: an object-store work_dir should carry a lifecycle/TTL rule
    for those prefixes.

    Returns (node, component) with component = min node id reachable.
    """
    import tempfile
    import uuid

    from qwatch_spark.plans.objectstore import store_for

    spark = pairs.sparkSession
    ckdir = tempfile.mkdtemp(prefix="qwatch_cc_") if work_dir is None else (
        f"{work_dir.rstrip('/')}/cc-{uuid.uuid4().hex}"
    )
    store = store_for(ckdir)
    if store is None:
        raise ValueError(f"no object store client for {work_dir!r}")

    def materialize(df: DataFrame) -> DataFrame:
        p = store.spark_path(f"{ckdir}/{uuid.uuid4().hex}")
        df.write.parquet(p)
        return spark.read.parquet(p)

    # symmetrize via one explode, not a union of two selects over
    # `pairs` — Catalyst does not dedupe common subtrees across union
    # branches, and `pairs` is typically the FULL near-dup pipeline
    # (LSH banding + Jaccard refine), which the union form executed
    # twice (same disease as a per-band union of LSH bands)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
                    ),
                    F.struct(
                        F.col(dst_col).alias("u"), F.col(src_col).alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
    )
    edges = materialize(edges)  # read repeatedly: one scan-ready copy
    labels = materialize(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    from pyspark.sql import Observation

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        # the OLD component rides along as _oc so the convergence probe
        # below needs no third join back against `labels` (r9: one join
        # removed per round)
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.col("component").alias("_oc"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump (path halving): component := label(component).
        # Labels only ever shrink toward the component min, so the hop
        # can never overshoot — it just compresses label chains. The
        # jump table is the propagated frame itself; its subtree repeats
        # on both join sides, but the shared shuffle is deduplicated by
        # ReuseExchange, so the round does not recompute neighbor_min.
        lbl = propagated.select(
            F.col("node").alias("_ln"), F.col("component").alias("_lc")
        )
        jumped = propagated.join(
            lbl, propagated.component == F.col("_ln"), "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("_lc"), F.col("component"))
            ).alias("component"),
            "_oc",
        )
        # convergence probe via observe() fused into the materialize
        # write: the former separate count job per round is gone (r9).
        # Task retries can only INFLATE the observed count (benign: one
        # extra round); a true fixpoint sums 0 in every task, so the
        # stop condition is exact.
        obs = Observation()
        new_labels = materialize(
            jumped.observe(
                obs,
                F.sum((F.col("component") < F.col("_oc")).cast("long")).alias(
                    "chg"
                ),
            ).select("node", "component")
        )
        changed = obs.get["chg"] or 0
        labels = new_labels
        if changed == 0:
            # final result must survive the temp-dir cleanup below
            out = labels.localCheckpoint(eager=True)
            store.delete_tree(ckdir)
            return out
    store.delete_tree(ckdir)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (component diameter exceeds it)"
    )


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    work_dir: str | None = None,
) -> DataFrame:
    """The dedup pipeline's final select: one canonical document per
    near-dup cluster (the minimum id — deterministic and join-free to
    pick once components are labeled) plus every document that appears
    in no pair. Anti-join on the non-canonical cluster members, so the
    corpus scan stays one pass. `work_dir`: shared-storage scratch for
    the components rounds (see connected_components; required off
    local[*])."""
    comps = connected_components(pairs, src_col, dst_col, work_dir=work_dir)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
