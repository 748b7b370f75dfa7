"""Standalone table maintenance — compaction + vacuum off the apply path.

`write_mode="auto"` compacts INLINE after each apply: simple, but at
minute-epochs the fold's tail latency lands on the apply path. The scale
deployment runs applies in `delta` mode (pure O(batch)) and this
maintenance loop as a SEPARATE writer on its own cadence — which the CAS
commit protocol makes safe: compaction commits through the same
put-if-absent linearization as applies, a lost race aborts cleanly
(loser's staged files self-cleaned, state untouched) and simply retries
next cycle, and vacuum's retention window keeps it from collecting a
concurrent writer's staged-but-unlinearized files.

Reference analog: qwatch has no maintenance story at all (Neo4j compacts
internally); this is the part the lake-table design has to own.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from qwatch_spark.plans.objectstore import CommitConflictError
from qwatch_spark.plans.snapshot_table import SnapshotTable


def maintain_once(
    spark: SparkSession,
    table_path: str,
    max_deltas: int = 8,
    max_delta_bytes: int | None = None,
    retention_s: float = 600.0,
    vacuum_enabled: bool = True,
    max_records_per_file: int | None = None,
) -> dict:
    """One maintenance cycle: reload (rebase), compact chains over the
    thresholds, vacuum expired unreferenced files. Loud-abort on a lost
    commit race is converted into `{"lost_race": True}` — maintenance is
    idempotent and just runs again next cycle."""
    table = SnapshotTable(table_path)  # fresh load = rebase on current state
    out = {
        "version": table.version,
        "compacted_buckets": 0,
        "vacuumed": 0,
        "lost_race": False,
    }
    try:
        victims = table.compact(
            spark, max_deltas=max_deltas, max_delta_bytes=max_delta_bytes,
            max_records_per_file=max_records_per_file,
        )
        out["compacted_buckets"] = len(victims)
        out["version"] = table.version
    except CommitConflictError:
        # typed catch (objectstore.CommitConflictError), not message
        # matching — unrelated RuntimeErrors must surface
        out["lost_race"] = True
        table = SnapshotTable(table_path)  # rebase before vacuum
    try:
        # legacy-table migration: manifests from before rows_est carry
        # no estimate (reads 0, so fp_index="auto" would never flip);
        # the one-time live count belongs here, not on the apply path
        seeded = table.seed_rows_est(spark)
        if seeded is not None:
            out["rows_est_seeded"] = seeded
    except CommitConflictError:
        out["lost_race"] = True
        table = SnapshotTable(table_path)
    if vacuum_enabled:
        out["vacuumed"] = len(table.vacuum(retention_s=retention_s))
    from qwatch_spark.plans.fp_bloom import FpBloomIndex

    idx = FpBloomIndex(table_path)
    if idx.enabled() or idx.requested():
        # consolidate per-epoch bloom segments and shed dead
        # fingerprints; the one O(live rows) scan the fingerprint gate
        # still needs runs HERE, at maintenance cadence, not per epoch.
        # `requested()` is fp_index="auto"'s deferred bootstrap: the
        # apply path only marks the request when rows_est crosses the
        # threshold (never paying the O(table) scan inside an epoch);
        # this rebuild writes the meta file that flips the gate from
        # full-scan to bloom-probe and clears the marker.
        bootstrapped = not idx.enabled()
        idx.rebuild(spark, SnapshotTable(table_path))
        out["fp_index_rebuilt"] = True
        if bootstrapped:
            out["fp_index_bootstrapped"] = True
    return out


def maintain_loop(
    spark: SparkSession,
    table_path: str,
    interval_s: float,
    cycles: int | None = None,
    **kw,
) -> list[dict]:
    """Run maintenance every `interval_s` seconds; `cycles=None` loops
    forever (the daemon form spark-submit runs)."""
    results = []
    i = 0
    while cycles is None or i < cycles:
        results.append(maintain_once(spark, table_path, **kw))
        i += 1
        if cycles is not None and i >= cycles:
            break
        time.sleep(interval_s)
    return results
