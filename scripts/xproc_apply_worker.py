"""Cross-process CDC writer for the multi-writer stress test (r6
verdict #4): a REAL OS process (own JVM, own Python) applying feed
epochs to a shared CAS-committed SnapshotTable with the optimistic
rebase-and-retry loop a production writer runs. The pytest driver
(tests/test_xproc_writers.py) launches two of these simultaneously
against one localfs-backend table and diffs the result against a
single-writer oracle.

Usage: python scripts/xproc_apply_worker.py TABLE_PATH WRITER_ID
       N_EPOCHS BARRIER_FILE

Prints ONE json line: {"writer", "applied", "conflicts"}.
Exit 0 on success.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qwatch_spark.config import PipelineConfig  # noqa: E402
from qwatch_spark.operators.apply import apply_changes  # noqa: E402
from qwatch_spark.plans.objectstore import CommitConflictError  # noqa: E402
from qwatch_spark.plans.snapshot_table import SnapshotTable  # noqa: E402
from qwatch_spark.session import get_spark  # noqa: E402

FEED = (
    "seq long, op string, url string, warc_ts timestamp, html binary, "
    "lang string, source string"
)


def epoch_rows(writer: int, e: int):
    """Deterministic rows for (writer, epoch) — pure function of the
    ids, so the oracle process regenerates the identical feed. Writers
    own DISJOINT url spaces (w{writer}.ex): the contention under test
    is the manifest CAS, not row-level merge order."""
    import datetime as dt

    page = (
        b"<html><body>"
        + f"writer {writer} epoch {e} words of plain readable text ".encode()
        * 4
        + b"</body></html>"
    )
    rows = []
    for i in range(5):
        rows.append(
            (
                writer * 100000 + e * 100 + i,
                "I",
                f"https://w{writer}.ex/{e}-{i}",
                dt.datetime(2024, 1, 1 + e, writer, i),
                page,
                "en",
                "s",
            )
        )
    if e > 0:  # churn: delete one of the previous epoch's pages
        rows.append(
            (
                writer * 100000 + e * 100 + 99,
                "D",
                f"https://w{writer}.ex/{e - 1}-0",
                dt.datetime(2024, 1, 1 + e, writer, 30),
                None,
                None,
                "s",
            )
        )
    return rows


def main() -> int:
    table_path, writer_id, n_epochs, barrier = sys.argv[1:5]
    w, n = int(writer_id), int(n_epochs)
    spark = get_spark(
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
        },
    )
    cfg = PipelineConfig(
        n_buckets=4,
        write_mode="delta",
        rules=("valid_url", "lang_gate", "extract_text"),
    )
    # start line: both workers burn their JVM startup BEFORE the race
    while not os.path.exists(barrier):
        time.sleep(0.05)
    conflicts = applied = 0
    for e in range(n):
        epoch = 2 * e + w  # globally unique, interleaved across writers
        df = spark.createDataFrame(epoch_rows(w, e), FEED)
        for attempt in range(60):
            table = SnapshotTable(table_path)  # reload = rebase
            try:
                apply_changes(spark, df, table, epoch, cfg)
                applied += 1
                break
            except CommitConflictError:
                conflicts += 1
                time.sleep(0.02 * (attempt % 4))
        else:
            print(json.dumps({"writer": w, "error": f"epoch {epoch} stuck"}))
            return 2
    print(json.dumps({"writer": w, "applied": applied, "conflicts": conflicts}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
