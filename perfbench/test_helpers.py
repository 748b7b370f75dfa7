"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/test_helpers.py

Only `test_spark_digest_matches_reference` starts Spark (local[1]).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import types

import numpy as np
import pytest
from qwatch_spark import datagen as dg

from perfbench import checks, gen
from perfbench.report import parse_run, summary
from perfbench.tracing import Span, Tracer, self_times


# --- percentile rule --------------------------------------------------------


def test_pctl_needs_ten_samples_beyond():
    assert checks.pctl(range(1, 21), 0.5) == 10  # 10 samples above it
    assert checks.pctl(range(1, 20), 0.5) is None  # 19: only 9 above
    assert checks.pctl(range(1, 100), 0.9) is None
    assert checks.pctl(range(1, 101), 0.9) == 90
    assert checks.pctl([], 0.5) is None


def test_pctl_is_order_free():
    vals = [5.0, 1.0, 3.0] * 10
    assert checks.pctl(vals, 0.5) == checks.pctl(sorted(vals), 0.5) == 3.0


# --- file -> batch mapping --------------------------------------------------


def _log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def test_file_batches_reads_compact_files(tmp_path):
    ent = lambda name, b: {"path": f"file:///feed/{name}", "batchId": b}  # noqa: E731
    # batch 2's only record is the compacted file, which repeats 0 and 1
    _log(tmp_path / "2.compact", [ent("a.parquet", 0), ent("b.parquet", 1),
                                  ent("c.parquet", 2)])
    _log(tmp_path / "1", [ent("b.parquet", 1)])
    _log(tmp_path / "3", [ent("d.parquet", 3), ent("e.parquet", 3)])
    _log(tmp_path / ".4.tmp", [ent("x.parquet", 4)])  # in-flight write: ignored
    got = checks.file_batches(str(tmp_path))
    assert got == {"a.parquet": {0}, "b.parquet": {1}, "c.parquet": {2},
                   "d.parquet": {3}, "e.parquet": {3}}


def test_file_batches_keeps_a_file_seen_in_two_batches(tmp_path):
    _log(tmp_path / "0", [{"path": "/f/a.parquet", "batchId": 0}])
    _log(tmp_path / "1", [{"path": "/f/a.parquet", "batchId": 1}])
    assert checks.file_batches(str(tmp_path)) == {"a.parquet": {0, 1}}


# --- self-time arithmetic ---------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [Span(0, "root", None, 0.0, 10.0),
             Span(1, "a", 0, 1.0, 4.0),
             Span(2, "b", 0, 3.0, 6.0),  # overlaps a (parallel threads)
             Span(3, "c", 0, 8.0, 12.0),  # runs past its parent: clipped
             Span(4, "a.x", 1, 2.0, 3.0)]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_tracer_nests_and_restores_patch():
    mod = types.ModuleType("qwatch_spark_fake")
    mod.f = lambda x: x + 1
    sys.modules["qwatch_spark_fake"] = mod
    try:
        tr = Tracer()
        restore = tr.install([("qwatch_spark_fake", "f", "fake.f", None)])
        with tr.span("outer"):
            assert mod.f(1) == 2
        restore()
        assert not hasattr(mod.f, "__wrapped__")
        outer, inner = tr.spans
        assert inner.parent == outer.sid and inner.name == "fake.f"
        with pytest.raises(LookupError):
            tr.install([("qwatch_spark_fake", "missing", "fake.m", None)])
    finally:
        del sys.modules["qwatch_spark_fake"]


# --- process-tree accounting -------------------------------------------------


def test_tree_cpu_counts_reaped_children():
    before = checks.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(5_000_000))"], check=True)
    assert checks.tree_cpu_s(os.getpid()) - before >= 0.02


# --- generators and digests -------------------------------------------------


def test_numpy_mixer_matches_datagen_rows():
    n = 500
    rows = dg.gen_feed_rows(n)
    c = gen.feed_columns(np.arange(n, dtype=np.int64), dg.DEFAULT_N_DOMAINS,
                         dg.DEFAULT_PAGES_PER_DOMAIN)
    for i, r in enumerate(rows):
        assert (r["op"], r["url"], r["lang"]) == (c["op"][i], c["url"][i], c["lang"][i])
        ts = dt.datetime.fromtimestamp(int(c["ts_s"][i]), tz=dt.timezone.utc)
        assert r["warc_ts"] == ts.replace(tzinfo=None)


def test_apply_events_is_latest_wins_and_gated():
    cols = {"url": np.array(["u", "u", "u", "v"], dtype=object),
            "ts_s": np.array([10, 12, 12, 5]), "seq": np.array([1, 2, 3, 4]),
            "op": np.array(["I", "U", "D", "I"]),
            "lang": np.array(["en", "en", None, "zz"], dtype=object)}
    state: dict = {}
    changed = gen.apply_events(state, cols, range(4))
    assert changed == {"u"}  # v's only event fails lang_gate
    assert state["u"] == (12, 3, True, None)  # ts tie broken by seq
    assert gen.apply_events(state, cols, [1]) == set()  # older: no change


def test_state_digest_is_order_free_and_skips_deletes():
    a = {"x": (1, 1, False, "en"), "y": (2, 2, False, "de"), "z": (3, 3, True, None)}
    b = dict(reversed(list(a.items())))
    assert gen.state_digest(a) == gen.state_digest(b)
    assert gen.state_digest(a)[0] == 2
    assert gen.state_digest(a)[1] == gen.row_hash("x", 1, "en") + gen.row_hash("y", 2, "de")


def test_spark_digest_matches_reference():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        live = [("https://d1.example.com/p/2", 1704067200, "en"),
                ("https://d0.example.com/p/9", 1704067999, "fr")]
        df = spark.createDataFrame(
            [(u, dt.datetime.fromtimestamp(t, tz=dt.timezone.utc).replace(tzinfo=None), lang)
             for u, t, lang in live], "url string, warc_ts timestamp, lang string")
        want = (2, sum(gen.row_hash(u, t, lang) for u, t, lang in live))
        assert checks.df_digest(df) == want
    finally:
        spark.stop()


# --- report parsing -------------------------------------------------------


def test_parse_run_and_summary():
    out = ("backfill session start = 5.0 s; setup reps = 1, 2 s\n"
           "backfill events_per_s = 61234.5 1/s\n"
           "backfill lag_p90_s = n/a (too few samples)\n"
           "other x = 1 s\n"
           '{"correct": true, "attempted": 1, "failed": 0, "metrics": {}}\n')
    named, result = parse_run(out, "backfill")
    assert named == {"events_per_s": (61234.5, "1/s")}
    assert result["correct"] is True
    assert summary([3.0]) == (3.0, 3.0, 3.0)
    assert summary([1.0, 2.0, 3.0, 4.0])[0] == 2.5
