"""Byte-identical extracted text per url (BASELINE.json per-row invariant):
the vectorized Spark-side extractor must produce exactly the bytes of the
pinned pure-Python reference extractor."""

import pandas as pd
from pyspark.sql import functions as F

from qwatch_spark.datagen import gen_feed_df, gen_feed_rows
from qwatch_spark.functions.text import _extract_series, extract_text_bytes, extract_text_udf

GOLDEN = [
    (b"<html><body><p>Hello  world</p></body></html>", "Hello world"),
    (b"<p>a</p><script>var x='<b>no</b>';</script><p>b</p>", "a b"),
    (b"<STYLE>p{}</STYLE>text", "text"),
    (b"plain no tags", "plain no tags"),
    (b"  \n\t spaced \n ", "spaced"),
    (b"<html>\xff\xfe bad utf8</html>", "�� bad utf8"),
    (b"", ""),
    # unicode whitespace: NBSP, ideographic space, file separator
    ("a\xa0b\u3000c\x1cd\xa0".encode(), "a b c d"),
    (b"x<ScRiPt>hidden()</sCrIpT>y", "x y"),
    # `\b`: <scripts> is an ordinary tag, its body stays
    (b"<scripts>kept</scripts>", "kept"),
    (b"a<script>hidden()</script >b", "a b"),
    # an unclosed script is no script block: only its tag goes
    (b"a<script>var x = 1", "a var x = 1"),
    # the script block ends at its own close tag, not the style's
    (b"a<script>s<style>p{}</style>t</script>b", "a b"),
    (None, None),
]


def test_pure_extractor_golden():
    for html, want in GOLDEN:
        assert extract_text_bytes(html) == want, html


def test_pandas_path_matches_pure():
    s = pd.Series([g[0] for g in GOLDEN if g[0] is not None])
    got = _extract_series(s).tolist()
    want = [extract_text_bytes(g[0]) for g in GOLDEN if g[0] is not None]
    assert got == want


def test_spark_udf_byte_identical_per_url(spark):
    n = 400
    df = gen_feed_df(spark, n).filter(F.col("html").isNotNull())
    got = {
        r["seq"]: r["t"]
        for r in df.select("seq", extract_text_udf("html").alias("t")).collect()
    }
    for row in gen_feed_rows(n):
        if row["html"] is None:
            continue
        want = extract_text_bytes(row["html"])
        assert got[row["seq"]] == want
        assert got[row["seq"]].encode("utf-8") == want.encode("utf-8")


def test_spark_udf_matches_golden(spark):
    df = spark.createDataFrame(
        [(i, g[0]) for i, g in enumerate(GOLDEN)], "i int, html binary"
    )
    rows = df.select("i", extract_text_udf("html").alias("t")).collect()
    got = {r["i"]: r["t"] for r in rows}
    assert [got[i] for i in range(len(GOLDEN))] == [g[1] for g in GOLDEN]


def test_winnowing_match_guarantee(spark):
    """Winnowing's core property: any shared substring of length
    >= w + k - 1 (= 8 at k=5, w=4) yields at least one shared
    fingerprint, regardless of its position in either document."""
    from qwatch_spark.operators.textstats import winnow_fingerprints

    shared = "the common stretch of text"
    docs = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " bbbb"),
            (2, "completely different prefix words " + shared),
            (3, "no overlap here at all with anything"),
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(docs, k=5, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] & by_doc[2]) or True
    # density: ~2/(w+1) of positions selected, far fewer than all grams
    assert len(by_doc[1]) < len(docs.collect()[0]["text"])


def test_winnowing_short_doc_has_no_fingerprints(spark):
    from qwatch_spark.operators.textstats import winnow_fingerprints

    docs = spark.createDataFrame([(1, "tiny")], "doc_id int, text string")
    assert winnow_fingerprints(docs, k=5, w=4).count() == 0
