"""jobs/corpus_job.py end to end on a planted corpus: exact dups drop
to their canonical, near-dups prune, the deterministic mix keeps a
per-language subset, packing covers every surviving token, and a
re-run reproduces the corpus bit-for-bit."""

import json
import os
import random

from qwatch_spark.session import get_spark  # noqa: F401 (session fixture owns it)

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega ursa vega nova "
    "quark lepton boson hadron meson tensor vector scalar matrix kernel"
).split()


def make_docs(spark, n=120):
    rng = random.Random(7)
    rows = []
    for i in range(1, n + 1):
        body = " ".join(rng.sample(WORDS, 18) * 3)
        rows.append((i, f"the {body} of and a", "en" if i % 3 else "de", "s", 0))
    # planted pairs ride in the lang kept at rate 1.0 ("de"), so the
    # canonical's survival through the mix stage is deterministic
    dup = "the " + " ".join(WORDS[:20]) + " of and a"
    rows += [(2001, dup, "de", "s", 0), (2002, dup, "de", "s", 0)]
    base = [f"{w}x" for w in WORDS[:24]]  # disjoint from every other doc
    rows += [
        (3001, "the " + " ".join(base) + " of and a", "de", "s", 0),
        (3002, "the " + " ".join(base[:-1] + ["changed"]) + " of and a", "de", "s", 0),
    ]
    # planted CHAIN cluster A~B~C with A≁C (each hop swaps 2 of 24
    # words: jaccard 22/26 ≈ 0.846 ≥ 0.8; A vs C is 20/28 ≈ 0.714 < 0.8)
    # — only components-based dedup keeps exactly the minimum id
    chain = [f"{w}y" for w in WORDS[:24]]
    b_doc = chain[:-2] + ["swapb1", "swapb2"]
    c_doc = chain[:-4] + ["swapc1", "swapc2", "swapb1", "swapb2"]
    rows += [
        (4001, "the " + " ".join(chain) + " of and a", "de", "s", 0),
        (4002, "the " + " ".join(b_doc) + " of and a", "de", "s", 0),
        (4003, "the " + " ".join(c_doc) + " of and a", "de", "s", 0),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def run_job(spark, docs, tmp_path, name):
    from jobs.corpus_job import main

    src = str(tmp_path / f"docs_{name}.parquet")
    out = str(tmp_path / f"corpus_{name}")
    docs.write.mode("overwrite").parquet(src)
    assert main([
        "--documents", src, "--out", out, "--seq-len", "128",
        "--rates", "en=0.6", "--default-rate", "1.0", "--jaccard", "0.8",
    ]) == 0
    with open(f"{out}/stats.json") as fh:
        stats = json.load(fh)
    out_docs = spark.read.parquet(f"{out}/docs.parquet")
    spans = spark.read.parquet(f"{out}/spans.parquet")
    return stats, out_docs, spans


def test_corpus_job_end_to_end(spark, tmp_path):
    docs = make_docs(spark)
    stats, out_docs, spans = run_job(spark, docs, tmp_path, "a")

    ids = {r["doc_id"] for r in out_docs.select("doc_id").collect()}
    assert 2001 in ids and 2002 not in ids, "exact dup must keep canonical only"
    assert 3001 in ids and 3002 not in ids, "near dup must keep lower id"
    assert 4001 in ids and 4002 not in ids and 4003 not in ids, (
        "a chain-shaped cluster must collapse to its single minimum id"
    )
    assert stats["after_exact_dedup"] == stats["after_quality"] - 1
    # at least the planted near-dups go; the random corpus may
    # contribute a rare extra pair (deterministic under the fixed seed)
    assert stats["after_near_dedup"] <= stats["after_exact_dedup"] - 3
    assert 0 < stats["after_mix"] < stats["after_near_dedup"]  # de kept, en mixed

    # packing covers every surviving token exactly once
    span_tok = sum(r["n_tok_in_chunk"] for r in spans.collect())
    assert span_tok == stats["total_tokens"]
    assert stats["n_chunks"] == (stats["total_tokens"] + 127) // 128

    # determinism: a re-run over the same input is bit-identical
    stats2, out_docs2, _ = run_job(spark, docs, tmp_path, "b")
    assert stats2 == stats
    a = sorted(map(tuple, out_docs.collect()))
    b = sorted(map(tuple, out_docs2.collect()))
    assert a == b


def test_corpus_job_on_s3_out(spark, tmp_path, monkeypatch):
    """`--out s3://...` goes through the output's object store: stats.json
    is an object put, Spark writes the corpus (and the components
    rounds) at `store.spark_path`, and nothing lands in a local relative
    `s3:/...` directory."""
    from jobs.corpus_job import main
    from qwatch_spark.plans.objectstore import DirBackedFakeS3Client, S3Store, store_for

    root = tmp_path / "s3"
    root.mkdir()
    monkeypatch.setattr(
        S3Store, "client_factory", lambda: DirBackedFakeS3Client(str(root))
    )
    monkeypatch.setattr(
        S3Store, "spark_path_for", lambda bucket, key: str(root / bucket / key)
    )
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    src = str(tmp_path / "docs.parquet")
    make_docs(spark).write.parquet(src)
    assert main([
        "--documents", src, "--out", "s3://lake/corpus", "--seq-len", "128",
        "--jaccard", "0.8",
    ]) == 0
    store = store_for("s3://lake/corpus")
    stats = json.loads(store.get("s3://lake/corpus/stats.json"))
    docs = spark.read.parquet(store.spark_path("s3://lake/corpus/docs.parquet"))
    assert docs.count() == stats["after_mix"] > 0
    assert not os.path.exists(cwd / "s3:")
    # the components rounds were deleted through the store
    assert store.list_tree("s3://lake/corpus/_cc_work") == []
