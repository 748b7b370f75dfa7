"""Remote-model cost of the ANN-index maintenance protocol (round 8).

The round-7 commit-stats study established the pattern: model an object
store with the in-repo fake plus one RTT of latency per API call
(slept outside any lock, so concurrent calls overlap like real S3) and
measure the ENGINE's round-trip structure, not the sandbox's disk.
This script applies it to the index protocol the round-8 port moved
onto the storage seam:

- the fold move (`similarity._append_via_move`, the post-swap delta
  fold / committer-free append): the object-store form has no rename,
  so every part file is a `copy_object` + `delete_object` round-trip
  pair. The design pools them (`pmap` at the store's `io_workers`,
  64 here); the r6-style sequential model (io_workers=1) is what a
  naive port would pay. Measured at F fold files: pooled ≈
  ceil(F/64)+const RTT waves; sequential ≈ 2F × RTT. The gap is the
  design rationale as a number.
- `lsh_maintain` end-to-end at an RTT-modeled path: the protocol's
  control-plane cost (pointer GET, claim PUT, two tree LISTs paging at
  1000 keys, marker PUT/DELETE, swap PUT) rides on a Spark data plane
  that is local either way — so the wall delta vs the zero-RTT fake IS
  the protocol's round-trip bill, and it must stay O(pages + pointer
  ops), not O(files).

Run: python scripts/bench_index_remote.py   (prints one JSON line)
Env: RTT (default 0.05), FOLD_FILES (default 128), TRIALS (default 3).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from qwatch_spark.plans.objectstore import (  # noqa: E402
    DirBackedFakeS3Client,
    S3Store,
    store_for,
)
from qwatch_spark.session import get_spark  # noqa: E402

RTT = float(os.environ.get("RTT", "0.05"))
FOLD_FILES = int(os.environ.get("FOLD_FILES", "128"))
TRIALS = int(os.environ.get("TRIALS", "3"))


def make_slow_client_cls(rtt: float):
    class SlowDirS3(DirBackedFakeS3Client):
        def put_object(self, **kw):
            time.sleep(rtt)
            return super().put_object(**kw)

        def get_object(self, **kw):
            time.sleep(rtt)
            return super().get_object(**kw)

        def head_object(self, **kw):
            time.sleep(rtt)
            return super().head_object(**kw)

        def list_objects_v2(self, **kw):
            time.sleep(rtt)
            return super().list_objects_v2(**kw)

        def copy_object(self, **kw):
            time.sleep(rtt)
            return super().copy_object(**kw)

        def delete_object(self, **kw):
            time.sleep(rtt)
            return super().delete_object(**kw)

    return SlowDirS3


def main() -> None:
    import tempfile

    import qwatch_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    store = tempfile.mkdtemp(prefix="idx_remote_")
    S3Store.spark_path_for = staticmethod(
        lambda bucket, key: os.path.join(store, bucket, key)
    )

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(0.0, 1.0, 16)]) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out: dict = {
        "metric": "index_protocol_remote_model",
        "rtt_model_sec": RTT,
        "fold_files": FOLD_FILES,
    }

    # ---- fold move: pooled copies vs the sequential model ----
    # FOLD_FILES distinct cells -> the fold's repartition("cell") +
    # partitionBy("cell") writes one file per cell -> FOLD_FILES
    # copy + delete round-trip pairs
    slow_cls = make_slow_client_cls(RTT)
    S3Store.client_factory = lambda: slow_cls(store, page_size=1000)
    fold_df = df.withColumn("cell", F.col("vec_id") % FOLD_FILES)
    fs = store_for("s3://bench")
    pooled, sequential = [], []
    for i in range(TRIALS):
        for arm, workers in (("pooled", 64), ("seq", 1)):
            vdir = f"s3://bench/fold_{arm}_{i}/_v0"
            os.makedirs(os.path.join(store, "bench", f"fold_{arm}_{i}", "_v0"),
                        exist_ok=True)
            fs.io_workers = workers
            t0 = time.monotonic()
            sim._append_via_move(fold_df, vdir, ["cell"])
            wall = round(time.monotonic() - t0, 3)
            (pooled if arm == "pooled" else sequential).append(wall)
    out["fold_pooled_walls"] = pooled
    out["fold_sequential_walls"] = sequential
    out["fold_pooled_best"] = min(pooled)
    out["fold_sequential_best"] = min(sequential)
    out["fold_speedup"] = round(min(sequential) / min(pooled), 2)

    # ---- lsh_maintain end-to-end: zero-RTT fake vs RTT-modeled ----
    walls: dict = {"rtt0": [], "rtt": []}
    for i in range(TRIALS):
        for arm, rtt in (("rtt0", 0.0), ("rtt", RTT)):
            cls = DirBackedFakeS3Client if rtt == 0 else make_slow_client_cls(rtt)
            S3Store.client_factory = (
                lambda c=cls: c(store, page_size=1000)
            )
            path = f"s3://bench/lsh_{arm}_{i}"
            sim.lsh_build_index(
                df.filter(F.col("vec_id") < 200), path,
                n_planes=16, n_bands=8, dim=16,
            )
            for lo in (200, 330, 460):
                sim.lsh_index_append(
                    df.filter(
                        (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 130)
                    ),
                    path,
                )
            t0 = time.monotonic()
            sim.lsh_maintain(spark, path)
            walls[arm].append(round(time.monotonic() - t0, 3))
    out["lsh_maintain_local_model_walls"] = walls["rtt0"]
    out["lsh_maintain_remote_model_walls"] = walls["rtt"]
    out["lsh_maintain_protocol_rtt_bill_sec"] = round(
        min(walls["rtt"]) - min(walls["rtt0"]), 3
    )
    out["lsh_maintain_rtt_bill_in_rtts"] = round(
        (min(walls["rtt"]) - min(walls["rtt0"])) / RTT, 1
    )
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    raise SystemExit(main())
