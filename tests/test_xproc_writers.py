"""Cross-PROCESS multi-writer stress (r6 verdict #4): every prior CAS
race test drove the protocol with threads or fakes inside one process;
this one launches two real OS processes (separate JVMs, separate Python
interpreters — no shared locks, no shared Spark session) applying
interleaved epochs to ONE local CAS-committed table, with the
rebase-and-retry loop a production writer runs. Gates: the final table
state equals the single-writer oracle (no lost commits, no duplicated
rows), the commit log is a gap-free mutation sequence, and at least one
typed CommitConflictError was observed (proving the writers actually
contended rather than serializing by accident)."""

import json
import os
import subprocess
import sys
import time

from qwatch_spark.config import PipelineConfig
from qwatch_spark.operators.apply import apply_changes
from qwatch_spark.plans.snapshot_table import SnapshotTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "scripts", "xproc_apply_worker.py")
N_EPOCHS = 5


def state(spark, table):
    return sorted(
        (r["url"], r["warc_ts"], r["text"])
        for r in table.read(spark).collect()
    )


def test_two_process_writers_match_single_writer_oracle(spark, tmp_path):
    sys.path.insert(0, REPO)
    from scripts.xproc_apply_worker import FEED, epoch_rows

    path = str(tmp_path / "t")
    SnapshotTable.create(path, n_buckets=4)
    barrier = str(tmp_path / "go")

    env = dict(os.environ, PYTHONPATH=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, WORKER, path, str(w), str(N_EPOCHS), barrier],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            env=env,
        )
        for w in (0, 1)
    ]
    # start the race only once both JVMs are warm: under load one can
    # come up many seconds after the other and finish unopposed
    deadline = time.monotonic() + 300
    while not all(os.path.exists(f"{barrier}.{w}") for w in (0, 1)):
        assert all(p.poll() is None for p in procs), "a worker died at startup"
        assert time.monotonic() < deadline, "workers never came up"
        time.sleep(0.1)
    open(barrier, "w").close()
    results = []
    for p in procs:
        out, _ = p.communicate(timeout=420)
        line = out.decode().strip().splitlines()[-1]
        results.append(json.loads(line))
        assert p.returncode == 0, results[-1]
    assert all(r["applied"] == N_EPOCHS for r in results), results
    total_conflicts = sum(r["conflicts"] for r in results)
    assert total_conflicts >= 1, (
        f"no typed conflicts observed ({results}) — the writers "
        "serialized by accident; the race was not exercised"
    )

    # single-writer oracle over the SAME deterministic epochs, in order
    oracle_path = str(tmp_path / "oracle")
    t = SnapshotTable.create(oracle_path, n_buckets=4)
    cfg = PipelineConfig(
        n_buckets=4,
        write_mode="delta",
        rules=("valid_url", "lang_gate", "extract_text"),
    )
    for e in range(N_EPOCHS):
        for w in (0, 1):
            apply_changes(
                spark,
                spark.createDataFrame(epoch_rows(w, e), FEED),
                t,
                2 * e + w,
                cfg,
            )

    racy = SnapshotTable(path)
    assert state(spark, racy) == state(spark, SnapshotTable(oracle_path))
    # every epoch landed exactly once; the commit log is gap-free
    assert all(racy.has_epoch(e) for e in range(2 * N_EPOCHS))
    logged = racy.log.slots()
    assert logged == list(range(racy._manifest["mutation"] + 1))