"""Benchmark harness — prints ONE JSON line (driver contract).

Headline metric: end-to-end CDC apply throughput (change-events/sec) on a
deterministic generated feed (BASELINE.json), plus wall-time for a set of
headline operator queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Noise protocol: the host shows up to 3-5x wall variance on identical runs
(hypervisor co-tenancy; BENCH/BASELINE.md). The cdc/stream/entity trials
are therefore INTERLEAVED round-robin (cdc, stream, entity, cdc, ...) for
QWATCH_BENCH_TRIALS rounds (default 3) and each bench reports best-of-N
plus the full trial list — a single noisy window hits one trial of each
bench instead of every trial of one bench. Same protocol as the scaling
studies in scripts/bench_scaling.py.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  QWATCH_BENCH_EVENTS  CDC feed size (default 2_000_000)
  QWATCH_BENCH_TRIALS  interleaved trials per bench (default 3)

Queries are forced with the noop sink (full materialization, no collect).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qwatch_spark import queries as q  # noqa: E402
from qwatch_spark.config import PipelineConfig  # noqa: E402
from qwatch_spark.datagen import gen_feed_df  # noqa: E402
from qwatch_spark.operators.apply import replay_feed  # noqa: E402
from qwatch_spark.plans.snapshot_table import SnapshotTable  # noqa: E402
from qwatch_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q01_dedup_latest",
    "q11_fk_broadcast_join",
    "q16_hourly_rollup",
    "q24_explode_wordcount",
    "q27_minhash_signatures",
    "q28_lsh_candidate_pairs",
    "q29_simhash",
    "q38_cosine_topk_fast",
]


def _near_dup_bounded(spark, sf_dir):
    """Composed LSH→Jaccard near-dup on a bounded 500-doc slice.

    The synthetic documents fixture has a 31-word vocabulary, so ~70% of
    ALL pairs are genuine near-dups — any correct operator's OUTPUT is
    quadratic on it (sf0.1: 5,000 docs → ~8M true pairs). Benchmarking
    the full slice would measure output materialization, not the
    operator; the bounded slice keeps the headline comparable across SFs
    while q30's correctness stays gated on the full table at sf0.01."""
    from pyspark.sql import functions as F

    from qwatch_spark.operators.dedup_text import near_dup_pairs

    docs = q.ld(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return near_dup_pairs(docs, n_hashes=16, band_size=4, threshold=0.5)


def _ivf_probe(spark, sf_dir):
    """Build the cell-partitioned IVF index once, then time the
    partition-pruned probe (the ANN serving path): probe scan opens
    n_probe/n_cells of the index."""
    import tempfile

    from qwatch_spark.operators.similarity import ivf_build_index, ivf_probe_topk

    if not hasattr(_ivf_probe, "path"):
        _ivf_probe.path = tempfile.mkdtemp(
            prefix="qwatch_bench_ivf_", dir=_fast_dir()
        )
        emb = q.ld(spark, sf_dir, "embeddings")
        ivf_build_index(emb, _ivf_probe.path, n_cells=8)
        _ivf_probe.qvec = [
            float(x)
            for x in emb.filter(emb.vec_id == 0).first()["embedding"]
        ]
    return ivf_probe_topk(
        spark, _ivf_probe.path, _ivf_probe.qvec, k=10, n_probe=2, exclude_id=0
    )


def _ivf_probe_batch(spark, sf_dir, n_queries: int = 32):
    """32 IVF probes as ONE job (ivf_probe_topk_batch): the serving
    amortization twin of lsh_probe_batch32 — per-query plan
    analysis/codegen on fresh literals is paid once for the batch.
    Wall ÷ 32 is the amortized per-query cost; results pytest-pinned
    identical to 32 single probes."""
    from pyspark.sql import functions as F

    from qwatch_spark.operators.similarity import ivf_probe_topk_batch

    _ivf_probe(spark, sf_dir)  # reuse the built index
    if not hasattr(_ivf_probe_batch, "queries"):
        emb = q.ld(spark, sf_dir, "embeddings")
        rows = emb.filter(F.col("vec_id") < n_queries).collect()
        _ivf_probe_batch.queries = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in rows
        ]
    return ivf_probe_topk_batch(
        spark, _ivf_probe.path, _ivf_probe_batch.queries, k=10, n_probe=2,
        exclude_query_id=True,
    )


def _ivf_maintain(spark, sf_dir):
    """Maintenance-cadence IVF recluster (r7): build on 1/4 of the
    embeddings, grow 4× by appends against the frozen codebook (cells
    bloat 4×, off the clock), then time `ivf_maintain` — the O(n)
    rebuild + versioned pointer swap that restores per-probe cost.
    Each timed call reclusters the SAME corpus into the next version
    (identical work), so the warm/timed protocol is well-defined."""
    import tempfile

    from pyspark.sql import functions as F

    from qwatch_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_maintain,
    )

    if not hasattr(_ivf_maintain, "path"):
        _ivf_maintain.path = tempfile.mkdtemp(
            prefix="qwatch_bench_ivfm_", dir=_fast_dir()
        )
        emb = q.ld(spark, sf_dir, "embeddings")
        n = emb.count()
        ivf_build_index(
            emb.filter(F.col("vec_id") < n // 4),
            _ivf_maintain.path,
            n_cells=max(2, int(round((n // 4) ** 0.5))),
        )
        ivf_index_append(
            emb.filter(F.col("vec_id") >= n // 4), _ivf_maintain.path
        )
    # max_literals=1 forces the Arrow-batched pandas assign — the path
    # real corpus sizes take anyway (√n cells × dim blows the literal
    # budget), and it avoids re-paying a 22-cell literal argmax tree's
    # codegen on every timed call (measured: 15.2 s literal vs 9.6 s
    # pandas on the identical recluster)
    out = ivf_maintain(
        spark, _ivf_maintain.path, lloyd_iters=1, max_literals=1
    )
    _ivf_maintain.stats = {
        "ivf_maintain_rows": out["n"],
        "ivf_maintain_cells": f"{out['n_cells_old']}->{out['n_cells_new']}",
    }
    return spark.range(1)  # the maintain itself is eager; nothing to force


def _dedup_canonical(spark, sf_dir):
    """Cluster-canonical selection timed SEPARATELY from pair
    generation: connected components over a precomputed (cached) pair
    set + canonical anti-join. Keeps `near_dup_refine_500docs` a pure
    pairs number and gives the iterative CC rounds their own entry."""
    import tempfile

    from pyspark.sql import functions as F

    from qwatch_spark.operators.dedup_text import dedup_keep_canonical

    if not hasattr(_dedup_canonical, "pairs"):
        docs = q.ld(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        _dedup_canonical.docs = docs
        _dedup_canonical.pairs = _near_dup_bounded(spark, sf_dir).localCheckpoint()
        _dedup_canonical.work = tempfile.mkdtemp(
            prefix="qwatch_bench_cc_", dir=_fast_dir()
        )
    return dedup_keep_canonical(
        _dedup_canonical.docs,
        _dedup_canonical.pairs,
        src_col="doc_a",
        dst_col="doc_b",
        work_dir=_dedup_canonical.work,
    )


def _lsh_probe(spark, sf_dir):
    """Build the (band, bucket)-partitioned LSH index once, then time
    the partition-pruned probe (the LSH serving path — the ad-hoc
    ann_topk_lsh rehashes the corpus per query; this opens only the
    n_bands directories the query collides with)."""
    import tempfile

    from qwatch_spark.operators.similarity import lsh_build_index, lsh_probe_topk

    if not hasattr(_lsh_probe, "path"):
        _lsh_probe.path = tempfile.mkdtemp(
            prefix="qwatch_bench_lsh_", dir=_fast_dir()
        )
        emb = q.ld(spark, sf_dir, "embeddings")
        lsh_build_index(emb, _lsh_probe.path, n_planes=16, n_bands=8)
        _lsh_probe.qvec = [
            float(x)
            for x in emb.filter(emb.vec_id == 0).first()["embedding"]
        ]
    return lsh_probe_topk(
        spark, _lsh_probe.path, _lsh_probe.qvec, k=10, exclude_id=0
    )


def _lsh_probe_batch(spark, sf_dir, n_queries: int = 32):
    """32 probes as ONE job (lsh_probe_topk_batch): the serving-path
    amortization — the single probe's wall is dominated by per-query
    plan analysis/codegen on fresh literals, the batch compiles once.
    Wall here ÷ 32 is the amortized per-query cost; results are
    pytest-pinned identical to 32 single probes."""
    from pyspark.sql import functions as F

    from qwatch_spark.operators.similarity import lsh_probe_topk_batch

    _lsh_probe(spark, sf_dir)  # reuse the built index + its warmup
    if not hasattr(_lsh_probe_batch, "queries"):
        emb = q.ld(spark, sf_dir, "embeddings")
        rows = emb.filter(F.col("vec_id") < n_queries).collect()
        _lsh_probe_batch.queries = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in rows
        ]
    return lsh_probe_topk_batch(
        spark, _lsh_probe.path, _lsh_probe_batch.queries, k=10,
        exclude_query_id=True,
    )


def _lsh_pairs_realistic(spark, sf_dir):
    """q28's counterweight: the sf documents fixture has a 31-word
    vocabulary, so ~70% of ALL pairs are true near-dups and q28's wall
    measures output density, not the operator. This entry runs the SAME
    operator over a deterministic realistic-vocabulary corpus (5k docs,
    60 words each from a 50k vocab → cross-doc Jaccard ≈ 0.006, with 50
    planted near-dups) where LSH behaves as the sieve it is in
    production; the artifact prints the measured selectivity next to
    the wall so the two entries are interpretable side by side."""
    import hashlib

    from qwatch_spark.operators.dedup_text import lsh_candidate_pairs

    if not hasattr(_lsh_pairs_realistic, "docs"):
        n_docs, doc_len, vocab, n_dups = 5000, 60, 50_000, 50
        rows = []
        for d in range(n_docs):
            words = [
                "w%d"
                % (
                    int(
                        hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:8], 16
                    )
                    % vocab
                )
                for i in range(doc_len)
            ]
            rows.append((d, " ".join(words)))
        for j in range(n_dups):
            w = rows[j][1].split(" ")
            w[0], w[doc_len // 2] = "zdup0", "zdup1"
            rows.append((n_docs + j, " ".join(w)))
        docs = (
            spark.createDataFrame(rows, "doc_id int, text string")
            .repartition(32)
            .localCheckpoint()  # single-use pin: corpus gen off the clock
        )
        _lsh_pairs_realistic.docs = docs
        n = n_docs + n_dups
        n_cand = lsh_candidate_pairs(docs).count()
        _lsh_pairs_realistic.stats = {
            "lsh_realistic_docs": n,
            "lsh_realistic_candidate_pairs": int(n_cand),
            "lsh_realistic_selectivity": round(n_cand / (n * (n - 1) / 2), 6),
        }
    return lsh_candidate_pairs(_lsh_pairs_realistic.docs)


EXTRA_BENCH = {
    "near_dup_refine_500docs": _near_dup_bounded,
    "ivf_probe_partition_pruned": _ivf_probe,
    "ivf_probe_batch32": _ivf_probe_batch,
    "lsh_probe_partition_pruned": _lsh_probe,
    "lsh_probe_batch32": _lsh_probe_batch,
    "lsh_pairs_realistic_corpus": _lsh_pairs_realistic,
}

# Entries whose operator runs ACTIONS inside the call (iterative
# connected components) — timed around the call itself, not a later
# force(), or the measured window would miss the actual work.
EAGER_BENCH = {
    "dedup_canonical_500docs": _dedup_canonical,
    "ivf_maintain_recluster": _ivf_maintain,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sum_phases(stats) -> dict:
    """Aggregate per-epoch phase walls (write/commit/lineage/...) into one
    breakdown — shows where an epoch's fixed cost actually goes."""
    agg: dict[str, float] = {}
    for s in stats:
        for k, v in (getattr(s, "phases", None) or {}).items():
            agg[k] = round(agg.get(k, 0.0) + v, 3)
    return agg


def _fast_dir() -> str | None:
    """tmpfs if available — the host's single ~141 MB/s virtio disk is
    not representative of cluster storage and dominates otherwise."""
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


class _Bench:
    """One interleavable bench: prepared once, run per trial round,
    finished into its result dict (best-of-N + full trial list)."""

    def __init__(self, name: str):
        self.name = name
        self.walls: list[float] = []
        self.stats: list = []

    def trial(self, i: int) -> None:  # pragma: no cover - overridden
        raise NotImplementedError

    def run(self, i: int) -> None:
        t0 = time.time()
        self.stats.append(self.trial(i))
        self.walls.append(time.time() - t0)

    def best(self) -> tuple[float, object]:
        b = self.walls.index(min(self.walls))
        return self.walls[b], self.stats[b]


class CdcBench(_Bench):
    def __init__(self, spark, n_events: int, cpus: int):
        super().__init__("cdc")
        self.spark, self.n_events = spark, n_events
        # auto = merge-on-read deltas + bounded compaction: the scale path
        # (apply cost O(batch), not O(table)); correctness vs the oracle
        # is pytest-gated (tests/test_delta_mode.py)
        self.cfg = PipelineConfig(n_buckets=max(32, cpus), write_mode="auto")
        self.tmp = tempfile.mkdtemp(prefix="qwatch_bench_", dir=_fast_dir())
        # warmup (excluded): C2 JIT tiering + codecs + python workers.
        # TWO epochs, not one — a one-epoch warmup left trial 0 running
        # 2-3x slow (measured; it was the r4 artifact's loose-trial
        # culprit). Every write_mode="auto" epoch takes the delta path,
        # so the second epoch repeats the first one's write plan on a
        # table that already holds deltas.
        from qwatch_spark.operators.apply import apply_changes

        wt = SnapshotTable.create(f"{self.tmp}/warm", n_buckets=self.cfg.n_buckets)
        warm = gen_feed_df(
            spark, 200_000, epoch_size=100_000, num_partitions=cpus * 2
        )
        for e in range(2):
            apply_changes(
                spark,
                warm.filter(warm.epoch_hint == e).drop("epoch_hint"),
                wt,
                e,
                self.cfg,
            )
        self.feed = gen_feed_df(
            spark,
            n_events,
            n_domains=2000,
            pages_per_domain=5000,
            epoch_size=max(1, n_events // 2),
            num_partitions=cpus * 2,
        )
        self.tables: list[SnapshotTable] = []

    def trial(self, i: int):
        table = SnapshotTable.create(f"{self.tmp}/table{i}", n_buckets=self.cfg.n_buckets)
        self.tables.append(table)
        return replay_feed(self.spark, self.feed, table, self.cfg)

    def finish(self) -> dict:
        wall, stats = self.best()
        out = {
            "cdc_events": self.n_events,
            "cdc_wall_sec": round(wall, 3),
            "cdc_wall_sec_trials": [round(w, 3) for w in self.walls],
            "cdc_events_per_sec": round(self.n_events / wall, 1),
            "cdc_epochs": len(stats),
            "cdc_phases": _sum_phases(stats),
            "cdc_final_rows": self.tables[0].read(self.spark).count(),
        }
        shutil.rmtree(self.tmp, ignore_errors=True)
        return out


class StreamBench(_Bench):
    """Streaming-path trials: the same CDC apply driven through the
    Structured Streaming runner (file source → foreachBatch →
    exactly-once epoch commits), so checkpointing + trigger overhead is
    visible next to the batch replay number."""

    def __init__(self, spark, n_events: int, cpus: int):
        super().__init__("stream")
        from qwatch_spark.datagen import write_feed_files

        self.spark, self.n_events = spark, n_events
        self.cfg = PipelineConfig(
            n_buckets=max(32, cpus), write_mode="auto", max_files_per_trigger=4
        )
        self.tmp = tempfile.mkdtemp(prefix="qwatch_bench_stream_", dir=_fast_dir())
        write_feed_files(spark, f"{self.tmp}/feed", n_events, files=8)
        # warmup (excluded): the streaming runner's plan shapes (file
        # source, foreachBatch, dead-letter probe) JIT on a small feed so
        # trial 1 is a real sample, not a codegen warmup. 8 files /
        # trigger cap 4 = two epochs, each through the delta write path
        # (every write_mode="auto" epoch takes it).
        from qwatch_spark.streaming import run_stream

        write_feed_files(spark, f"{self.tmp}/warmfeed", 50_000, files=8)
        wt = SnapshotTable.create(f"{self.tmp}/warm", n_buckets=self.cfg.n_buckets)
        run_stream(spark, f"{self.tmp}/warmfeed", wt.path, f"{self.tmp}/warmck", self.cfg)

    def trial(self, i: int):
        from qwatch_spark.streaming import run_stream

        table = SnapshotTable.create(f"{self.tmp}/table{i}", n_buckets=self.cfg.n_buckets)
        return run_stream(
            self.spark, f"{self.tmp}/feed", table.path, f"{self.tmp}/ckpt{i}", self.cfg
        )

    def finish(self) -> dict:
        wall, stats = self.best()
        # the apply phases sum vs total wall isolates the streaming
        # machinery's fixed cost (trigger, checkpoint commits, dead-letter
        # probe) from the shared apply work
        out = {
            "stream_events": self.n_events,
            "stream_wall_sec": round(wall, 3),
            "stream_wall_sec_trials": [round(w, 3) for w in self.walls],
            "stream_events_per_sec": round(self.n_events / wall, 1),
            "stream_epochs": len(stats),
            "stream_phases": _sum_phases(stats),
            "stream_overhead_sec": round(
                wall - sum(s.wall_ms for s in stats) / 1000.0, 3
            ),
        }
        shutil.rmtree(self.tmp, ignore_errors=True)
        return out


class EntityBench(_Bench):
    """Multi-entity apply trials (q51 shape at bench scale): one
    discriminated page+domain feed with create-if-absent FK skeletons and
    an explicit link table — three independent single-shuffle MERGEs per
    epoch. Measures the claim that per-entity applies don't interfere."""

    def __init__(self, spark, n_events: int, cpus: int):
        super().__init__("entity")
        from qwatch_spark.datagen import gen_entity_feed_df
        from qwatch_spark.queries import entity_graph_specs

        self.spark, self.n_events = spark, n_events
        self.specs, self.links = entity_graph_specs()
        self.cfg = PipelineConfig(n_buckets=max(32, cpus), write_mode="auto", rules=())
        self.tmp = tempfile.mkdtemp(prefix="qwatch_bench_entity_", dir=_fast_dir())
        self.feed = gen_entity_feed_df(
            spark,
            n_events,
            n_domains=2000,
            pages_per_domain=5000,
            epoch_size=max(1, n_events // 2),
            num_partitions=cpus * 2,
        )
        # warmup (excluded): entity routing + skeleton union + link
        # derivation have their own plan shapes (bench_scaling learned
        # this the hard way — single-table warmup left entity codegen in
        # the measured window). Two epochs, each through the delta write
        # path (every write_mode="auto" epoch takes it) — a one-epoch
        # warmup left trial 0 running 2.4x slow (measured), which under
        # interleaved best-of-3 on a noisy host is exactly how the r4
        # artifact's 129k ev/s reading happened.
        from qwatch_spark.operators.entities import (
            apply_entity_changes,
            create_entity_tables,
        )

        wt = create_entity_tables(
            f"{self.tmp}/warm", self.specs, self.links, n_buckets=self.cfg.n_buckets
        )
        warm = gen_entity_feed_df(
            spark, 200_000, epoch_size=100_000, num_partitions=cpus * 2
        )
        for e in range(2):
            apply_entity_changes(
                spark,
                warm.filter(warm.epoch_hint == e).drop("epoch_hint"),
                self.specs, wt, e, links=self.links, cfg=self.cfg,
            )
        # trial tables are created OUTSIDE the timed window (r3 protocol
        # parity: table DDL is not apply throughput)
        self.tables = [
            create_entity_tables(
                f"{self.tmp}/t{i}", self.specs, self.links,
                n_buckets=self.cfg.n_buckets,
            )
            for i in range(int(os.environ.get("QWATCH_BENCH_TRIALS", "3")))
        ]

    def trial(self, i: int):
        from qwatch_spark.operators.entities import apply_entity_changes

        tables = self.tables[i]
        epoch_stats = []
        for e in range(2):
            batch = self.feed.filter(self.feed.epoch_hint == e).drop("epoch_hint")
            epoch_stats.append(
                apply_entity_changes(
                    self.spark, batch, self.specs, tables, e,
                    links=self.links, cfg=self.cfg,
                )
            )
        return epoch_stats

    def finish(self) -> dict:
        wall, stats = self.best()
        # stats: per-epoch dict of table -> ApplyStats. Two breakdowns:
        # phases summed over all table-epochs (where does an epoch's
        # time go), and per-table wall sums (which table is slow). The
        # applies run thread-parallel, so table walls OVERLAP — their
        # sum exceeding the trial wall means the overlap is working.
        table_walls: dict[str, float] = {}
        for ep in stats:
            for name, s in ep.items():
                table_walls[name] = round(
                    table_walls.get(name, 0.0) + s.wall_ms / 1000.0, 3
                )
        out = {
            "entity_events": self.n_events,
            "entity_wall_sec": round(wall, 3),
            "entity_wall_sec_trials": [round(w, 3) for w in self.walls],
            "entity_events_per_sec": round(self.n_events / wall, 1),
            "entity_tables": len(self.specs) + len(self.links),
            "entity_phases": _sum_phases(
                [s for ep in stats for s in ep.values()]
            ),
            "entity_table_walls": table_walls,
        }
        shutil.rmtree(self.tmp, ignore_errors=True)
        return out


class EntityStreamBench(_Bench):
    """The multi-entity apply driven through the Structured Streaming
    runner (file source → foreachBatch → per-table exactly-once commits)
    — the streaming twin of EntityBench, so trigger/checkpoint overhead
    on the multi-table path is driver-visible next to the batch number
    (it was previously pytest-only)."""

    def __init__(self, spark, n_events: int, cpus: int):
        super().__init__("entity_stream")
        from qwatch_spark.datagen import write_entity_feed_files
        from qwatch_spark.queries import entity_graph_specs

        self.spark, self.n_events = spark, n_events
        self.specs, self.links = entity_graph_specs()
        self.cfg = PipelineConfig(
            n_buckets=max(32, cpus), write_mode="auto", rules=(),
            max_files_per_trigger=4,
        )
        self.tmp = tempfile.mkdtemp(
            prefix="qwatch_bench_estream_", dir=_fast_dir()
        )
        write_entity_feed_files(
            spark, f"{self.tmp}/feed", n_events, files=8,
            n_domains=2000, pages_per_domain=5000,
            num_partitions=cpus * 2,
        )
        from qwatch_spark.streaming import run_entity_stream

        # 8 files / trigger cap 4 = two warm epochs (the second one
        # writes onto tables that already hold deltas)
        write_entity_feed_files(spark, f"{self.tmp}/warmfeed", 50_000, files=8)
        run_entity_stream(
            spark, f"{self.tmp}/warmfeed", f"{self.tmp}/warm",
            f"{self.tmp}/warmck", self.specs, self.links, self.cfg,
        )

    def trial(self, i: int):
        from qwatch_spark.streaming import run_entity_stream

        return run_entity_stream(
            self.spark, f"{self.tmp}/feed", f"{self.tmp}/t{i}",
            f"{self.tmp}/ck{i}", self.specs, self.links, self.cfg,
        )

    def finish(self) -> dict:
        wall, stats = self.best()
        flat = [s for ep in stats for s in ep.values()]
        out = {
            "entity_stream_events": self.n_events,
            "entity_stream_wall_sec": round(wall, 3),
            "entity_stream_wall_sec_trials": [round(w, 3) for w in self.walls],
            "entity_stream_events_per_sec": round(self.n_events / wall, 1),
            "entity_stream_epochs": len(stats),
            "entity_stream_phases": _sum_phases(flat),
        }
        shutil.rmtree(self.tmp, ignore_errors=True)
        return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("QWATCH_BENCH_EVENTS", "2000000"))
    n_trials = int(os.environ.get("QWATCH_BENCH_TRIALS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    extra = {"spark.ui.showConsoleProgress": "false"}
    if _fast_dir():
        extra["spark.local.dir"] = os.path.join(_fast_dir(), "qwatch_bench_spill")
    spark = get_spark(
        app_name="qwatch_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )

    registry = q.queries()
    timings: dict[str, float] = {}
    # r6 verdict #5: headline/EXTRA entries were a single timed force,
    # inheriting this host's 2.5× window noise into BENCH_rN.json. Now
    # interleaved best-of-N (default 3, like the _Bench classes): every
    # arm samples each noise window, min is reported, trials published.
    op_trials = int(os.environ.get("QWATCH_BENCH_OP_TRIALS", "3"))
    lazy = [(n, registry[n]) for n in HEADLINE] + list(EXTRA_BENCH.items())
    dfs = {}
    for name, fn in lazy:
        dfs[name] = fn(spark, sf_dir)
        force(dfs[name])  # warm (read/plan caches)
    for name, fn in EAGER_BENCH.items():
        force(fn(spark, sf_dir))  # warm
    op_trial_walls: dict[str, list[float]] = {
        name: [] for name, _fn in lazy
    }
    op_trial_walls.update({name: [] for name in EAGER_BENCH})
    for _ in range(op_trials):
        for name, _fn in lazy:
            t0 = time.time()
            force(dfs[name])
            op_trial_walls[name].append(round(time.time() - t0, 3))
        for name, fn in EAGER_BENCH.items():
            t0 = time.time()
            force(fn(spark, sf_dir))
            op_trial_walls[name].append(round(time.time() - t0, 3))
    for name, walls in op_trial_walls.items():
        timings[name] = min(walls)

    n_stream = int(os.environ.get("QWATCH_BENCH_STREAM_EVENTS", "500000"))
    n_entity = int(os.environ.get("QWATCH_BENCH_ENTITY_EVENTS", "1000000"))
    # sized to match EntityBench (its streaming twin) so the two walls
    # are directly comparable and the per-epoch trigger/checkpoint fixed
    # cost (~1.2 s) doesn't dominate the reading: at 500k events the
    # entry measured the streaming machinery, not apply throughput
    # (round-6 study: 500k -> 93k ev/s, 2M -> 242k ev/s, same code)
    n_estream = int(os.environ.get("QWATCH_BENCH_ESTREAM_EVENTS", "1000000"))
    benches = [
        CdcBench(spark, n_events, cpus),
        StreamBench(spark, n_stream, cpus),
        EntityBench(spark, n_entity, cpus),
        EntityStreamBench(spark, n_estream, cpus),
    ]
    for i in range(n_trials):  # interleaved: cdc, stream, entity, ..., cdc, ...
        for b in benches:
            b.run(i)
    cdc, stream, entity, estream = (b.finish() for b in benches)
    timings["cdc_apply"] = cdc["cdc_wall_sec"]
    timings["stream_apply"] = stream["stream_wall_sec"]
    timings["entity_apply"] = entity["entity_wall_sec"]
    timings["entity_stream"] = estream["entity_stream_wall_sec"]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_bench_wall_sec (headline ops + CDC apply replay)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "bench_trials": n_trials,
        "op_trials": op_trials,
        "query_trials": op_trial_walls,
        **cdc,
        **stream,
        **entity,
        **estream,
        **getattr(_lsh_pairs_realistic, "stats", {}),
        **getattr(_ivf_maintain, "stats", {}),
    }
    spark.stop()
    # The FULL artifact (per-entry trials arrays, phase walls, extra
    # stats) goes to a file: both r6 and r7 driver runs recorded
    # "parsed": null because this dict as ONE stdout line overflowed
    # the driver's capture (r7 verdict #6). Stdout gets the compact
    # contract line — metric/value/unit/queries/sf plus the headline
    # throughputs — small enough to never truncate; the file path is
    # included so a reader can find the rest.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        "bench_full_latest.json",
    )
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as fh:
        json.dump(out, fh, indent=1)
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "full_artifact": "BENCH/bench_full_latest.json",
    }
    for k in (
        "cdc_events_per_sec",
        "stream_events_per_sec",
        "entity_events_per_sec",
        "entity_stream_events_per_sec",
    ):
        if k in out:
            compact[k] = out[k]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
