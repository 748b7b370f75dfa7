"""Commit-time footer-stats scaling: wall vs touched-file count.

r6 verdict #1 done-gate: the stats phase of a delta commit must not
re-serialize as the touched-file count grows. Two regimes, measured
separately because their bottlenecks differ:

- LOCAL (native pyarrow path-reads, sequential by design — a thread
  pool measured 8× SLOWER here because footer parse is ~75 µs of
  GIL-held CPU): wall grows linearly in files but at microseconds per
  file — reported as per-file cost so the absolute commit impact at
  512 touched files is visible (~tens of ms).
- REMOTE-MODEL (the regime the r6 verdict is about): each LIST/GET is
  a network round-trip. Modeled with FULL FIDELITY: the epoch's delta
  files are mirrored byte-for-byte into the in-repo dir-backed fake S3
  behind a client subclass that sleeps one RTT per API call, and
  `_delta_footer_stats` runs against the `s3://` path — the
  exact code path a remote table takes (one tree LIST, size-carrying
  listings, pooled ranged tail-GETs, serial native parse). The
  flatness criterion is evaluated on the ENGINE EXCESS over the
  model's own floor — a pure pmap of N 1-RTT sleeps at the same width
  — because thread-per-request wakeup serialization on this 32-core
  host costs ~0.2 s at 512 concurrent sleeps with ZERO engine code in
  the loop (measured); that floor is the harness, not the commit
  path. The raw engine walls, the floor walls, and the r6
  sequential-loop model (max_workers=1, one RTT at a time — what the
  commit paid before this round) are all published alongside.

Fixture: one delta epoch over n_buckets=64 vs n_buckets=512 (every
bucket touched → 64 vs 512 footer files). Best-of-N interleaved.

Run: python scripts/bench_commit_stats.py  (prints one JSON line)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qwatch_spark.config import PipelineConfig  # noqa: E402
from qwatch_spark.datagen import gen_feed_df  # noqa: E402
import qwatch_spark.operators.apply as apply_mod  # noqa: E402
from qwatch_spark.operators.apply import (  # noqa: E402
    _bucket_files,
    _delta_footer_stats,
    apply_changes,
)
from qwatch_spark.plans.objectstore import (  # noqa: E402
    DirBackedFakeS3Client,
    S3Store,
    pmap,
    store_for,
)
from qwatch_spark.plans.snapshot_table import SnapshotTable  # noqa: E402
from qwatch_spark.session import get_spark  # noqa: E402

TRIALS = int(os.environ.get("TRIALS", "7"))
ROWS = int(os.environ.get("ROWS", "60000"))
RTT = float(os.environ.get("RTT", "0.05"))  # modeled S3 first-byte RTT


class SlowS3(DirBackedFakeS3Client):
    """The fake S3 with one RTT of latency per API call (concurrent
    calls overlap exactly like real S3), and real S3's 1000-keys-per-
    LIST page size (the default fake's page_size=2 exists to exercise
    the pagination loop)."""

    def __init__(self, root: str):
        super().__init__(root, page_size=1000)

    def list_objects_v2(self, **kw):
        time.sleep(RTT)
        return super().list_objects_v2(**kw)

    def get_object(self, **kw):
        time.sleep(RTT)
        return super().get_object(**kw)

    def head_object(self, **kw):
        time.sleep(RTT)
        return super().head_object(**kw)


def build(spark, path: str, n_buckets: int) -> tuple[str, list[int]]:
    cfg = PipelineConfig(n_buckets=n_buckets, write_mode="delta")
    t = SnapshotTable.create(path, n_buckets=n_buckets)
    apply_changes(
        spark, gen_feed_df(spark, ROWS).drop("epoch_hint"), t, 0, cfg
    )
    t = SnapshotTable(path)
    tok = None
    for _b, e in t._entries(None):
        for d in e["deltas"]:
            tok = d
    out = os.path.join(path, "data", f"v={tok}")
    touched = sorted(int(d[2:]) for d in os.listdir(out) if d.startswith("b="))
    return out, touched


def footer_stats(out: str, max_workers: int | None = None):
    """The commit's stats read as a commit pays it: one tree LIST of
    the epoch dir, then the footer pass over the files it found."""
    files = _bucket_files(out, store_for(out).list_tree(out))
    return _delta_footer_stats(out, files, max_workers)


def timed(fn) -> float:
    t0 = time.monotonic()
    got = fn()
    wall = time.monotonic() - t0
    assert got is not None
    return round(wall, 5)


def main() -> None:
    import tempfile

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    work = tempfile.mkdtemp(prefix="commit_stats_")
    s3_root = os.path.join(work, "s3")
    S3Store.client_factory = lambda: SlowS3(s3_root)
    upload = DirBackedFakeS3Client(s3_root)  # latency-free mirror uploads
    arms = {}
    for nb in (64, 512):
        out, touched = build(spark, os.path.join(work, f"t{nb}"), nb)
        n_files = 0
        for b in touched:
            d = os.path.join(out, f"b={b}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    n_files += 1
                    with open(os.path.join(d, f), "rb") as fh:
                        upload.put_object(
                            Bucket="bench",
                            Key=f"t{nb}/b={b}/{f}",
                            Body=fh.read(),
                        )
        arms[nb] = {"out": out, "n_files": n_files,
                    "s3_out": f"s3://bench/t{nb}", "local": [], "remote": []}

    # correctness of the remote path before timing it
    for a in arms.values():
        assert footer_stats(a["s3_out"]) == footer_stats(a["out"])

    # ---- whole-epoch arm: the footer stats read vs the aggregate-job
    # fallback it replaces, measured as full apply epochs on fresh tables
    # so each stats phase is timed inside a real commit. The job arm
    # forces the fallback by making the footer harvest report missing
    # statistics, exactly as an INT96 or stats-less file would.
    epoch_trials = int(os.environ.get("EPOCH_TRIALS", "3"))
    epoch_arm: dict = {}
    feed = gen_feed_df(spark, ROWS).drop("epoch_hint")
    feed = feed.localCheckpoint()  # same materialized input every trial
    for i in range(epoch_trials):
        for nb in (64, 512):
            for mode in ("footer", "job"):
                cfg = PipelineConfig(n_buckets=nb, write_mode="delta")
                p = os.path.join(work, f"ep_{mode}{nb}_{i}")
                t = SnapshotTable.create(p, n_buckets=nb)
                if mode == "job":
                    apply_mod._delta_footer_stats = lambda out, files: None
                try:
                    stats = apply_changes(spark, feed, t, 0, cfg)
                finally:
                    apply_mod._delta_footer_stats = _delta_footer_stats
                e = epoch_arm.setdefault(
                    f"{mode}_{nb}", {"write": [], "commit_stats": []}
                )
                e["write"].append(round(stats.phases["write"], 4))
                e["commit_stats"].append(
                    round(stats.phases["commit_stats"], 4)
                )
    epoch_best = {
        k: {ph: min(ws) for ph, ws in v.items()} for k, v in epoch_arm.items()
    }
    # stop the JVM before timing: hundreds of idle executor threads add
    # wakeup-latency noise to the 256-thread RTT waves we're measuring
    spark.stop()

    width = S3Store.io_workers
    pmap(lambda _x: None, range(width), width)  # warm the shared pool
    for nb, a in arms.items():
        a["floor"] = []

    def floor_once(n_calls: int) -> float:
        # the irreducible cost of this MODEL: n concurrent 1-RTT calls
        # on a thread-per-request client on this host (thread wakeup
        # serialization alone measured ~0.2 s at 512 threads — that is
        # measurement-harness floor, not engine serialization)
        t0 = time.monotonic()
        pmap(lambda _x: time.sleep(RTT), range(n_calls), width)
        return round(time.monotonic() - t0, 5)

    for _ in range(TRIALS):  # interleave all arms in the same window
        for nb, a in arms.items():
            a["local"].append(
                timed(lambda: footer_stats(a["out"]))
            )
        for nb, a in arms.items():
            a["remote"].append(
                timed(lambda: footer_stats(a["s3_out"]))
            )
            # +2: one LIST round-trip, and the GETs span ceil(n/width)
            # waves exactly like the engine's fetch phase
            a["floor"].append(floor_once(a["n_files"] + 1))

    # the r6 sequential-loop model, measured once per arm: what the
    # commit paid BEFORE pooling (one RTT at a time)
    seq_model = {}
    if not os.environ.get("SKIP_SEQ"):
        for nb, a in arms.items():
            t0 = time.monotonic()
            got = footer_stats(a["s3_out"], max_workers=1)
            assert got is not None
            seq_model[nb] = round(time.monotonic() - t0, 3)

    best = {
        (nb, k): min(a[k])
        for nb, a in arms.items()
        for k in ("local", "remote", "floor")
    }
    remote_ratio = best[(512, "remote")] / best[(64, "remote")]
    # engine serialization on top of the model's unavoidable floor —
    # the quantity the r6 verdict is actually about
    excess = {
        nb: max(0.0, best[(nb, "remote")] - best[(nb, "floor")])
        for nb in arms
    }
    excess_ratio = excess[512] / max(excess[64], 1e-9)
    print(json.dumps({
        "metric": "commit_stats_wall_sec_by_touched_files",
        "rows": ROWS,
        "rtt_model_sec": RTT,
        "files_64": arms[64]["n_files"],
        "files_512": arms[512]["n_files"],
        "local_wall_64": best[(64, "local")],
        "local_wall_512": best[(512, "local")],
        "local_us_per_file_512": round(
            best[(512, "local")] / arms[512]["n_files"] * 1e6, 1
        ),
        "remote_wall_64": best[(64, "remote")],
        "remote_wall_512": best[(512, "remote")],
        "remote_ratio_512_over_64": round(remote_ratio, 3),
        "model_floor_64": best[(64, "floor")],
        "model_floor_512": best[(512, "floor")],
        "engine_excess_64": round(excess[64], 5),
        "engine_excess_512": round(excess[512], 5),
        "engine_excess_ratio_512_over_64": round(excess_ratio, 3),
        "engine_flat_within_2x": excess_ratio <= 2.0,
        "sequential_model_walls": seq_model,
        "epoch_arm_best": epoch_best,
        "epoch_arm_trials": epoch_arm,
        "local_trials_64": arms[64]["local"],
        "local_trials_512": arms[512]["local"],
        "remote_trials_64": arms[64]["remote"],
        "remote_trials_512": arms[512]["remote"],
        "floor_trials_64": arms[64]["floor"],
        "floor_trials_512": arms[512]["floor"],
    }))


if __name__ == "__main__":
    main()
