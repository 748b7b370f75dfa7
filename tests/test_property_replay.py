"""Property-based replay invariance (hypothesis): for ANY epoch
partitioning and ANY arrival order of the same event set, the engine's
final state equals the dict-replay oracle — the strongest form of the
CDC apply contract (order-independence + partition-independence).

Examples are kept few and small: each example runs real Spark applies.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from qwatch_spark.config import PipelineConfig
from qwatch_spark.datagen import gen_feed_rows
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.plans.snapshot_table import SnapshotTable
from qwatch_spark.schema import EVENT_SCHEMA
from tests.oracle import oracle_final_pages

N = 400
ROWS = gen_feed_rows(N)


def engine_state(spark, table):
    return {
        r["url"]: (
            r["warc_ts"],
            bytes(r["html"]) if r["html"] is not None else None,
            r["text"],
            r["lang"],
        )
        for r in table.read(spark).collect()
    }


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_cuts=st.integers(0, 4),
    mode=st.sampled_from(["delta", "auto"]),
)
def test_any_epoching_and_order_matches_oracle(
    spark, tmp_path_factory, seed, n_cuts, mode
):
    import random

    rng = random.Random(seed)
    rows = list(ROWS)
    rng.shuffle(rows)  # arbitrary arrival order
    cuts = sorted(rng.sample(range(1, len(rows)), n_cuts)) if n_cuts else []
    epochs, prev = [], 0
    for c in [*cuts, len(rows)]:
        epochs.append(rows[prev:c])
        prev = c

    cfg = PipelineConfig(n_buckets=4, write_mode=mode, compact_every=2)
    tmp = tmp_path_factory.mktemp(f"prop_{seed}_{n_cuts}_{mode}")
    table = SnapshotTable.create(str(tmp / "t"), n_buckets=4)
    for i, batch_rows in enumerate(e for e in epochs if e):
        df = spark.createDataFrame(batch_rows, EVENT_SCHEMA).drop("epoch_hint")
        apply_changes(spark, df, table, i, cfg)

    want = oracle_final_pages(ROWS, cfg)
    assert engine_state(spark, table) == want


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 2**31 - 1), n_cuts=st.integers(0, 3))
def test_lineage_repair_matches_cow_and_oracle_any_inorder_epoching(
    spark, tmp_path_factory, seed, n_cuts
):
    """For ANY in-order epoching (event-time-sorted feed cut at random
    points — the WAL-tail shape), delta replay + full compaction yields
    the dict oracle's exact per-key op classification (the one the
    retired copy-on-write path recorded at apply time)."""
    import random

    from tests.oracle import oracle_final_ops

    rng = random.Random(seed)
    rows = sorted(ROWS, key=lambda r: (r["warc_ts"], r["seq"]))
    cuts = sorted(rng.sample(range(1, len(rows)), n_cuts)) if n_cuts else []
    epochs, prev = [], 0
    for c in [*cuts, len(rows)]:
        epochs.append(rows[prev:c])
        prev = c
    cfg = PipelineConfig(n_buckets=4, write_mode="delta")
    want = oracle_final_ops(epochs, cfg)

    path = tmp_path_factory.mktemp("lineage_prop") / "delta"
    dt_ = SnapshotTable.create(str(path), n_buckets=4)
    for e, ep_rows in enumerate(epochs):
        batch = spark.createDataFrame(
            [tuple(r[f.name] for f in EVENT_SCHEMA.fields) for r in ep_rows],
            EVENT_SCHEMA,
        )
        apply_changes(spark, batch, dt_, e, cfg)
    dt_.compact(spark, max_deltas=0)
    dt_ = SnapshotTable(dt_.path)

    delta_ops = {
        r["url"]: r["last_op"]
        for r in dt_.read_buckets(spark, include_deleted=True)
        .select("url", "last_op").collect()
    }
    assert delta_ops == want
