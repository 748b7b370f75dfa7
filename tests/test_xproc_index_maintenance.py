"""Cross-PROCESS ANN-index maintenance stress (r7 verdict #5): the
append-vs-compaction races were only ever exercised by threads inside
one JVM — the very races that surfaced the `_temporary/0` committer
clash and the torn-band dedup key. Here a REAL appender process (own
JVM, production conflict-retry loop) races a REAL maintainer process
(lsh_maintain compaction cycles) on one shared LSH index, with the
appender's armed batch deterministically colliding with a swap
across the process boundary. Gates: every batch applied, at least one
typed IndexConflictError observed, and the final index equals the
oracle id set with NO torn bands — every id carries all 8 bands
exactly once (the (id, band) fold-key completeness property)."""

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "scripts", "xproc_index_worker.py")

N_BATCHES = 4
ARM_BATCH = 1  # this batch's post-write check waits out a real swap


def test_two_process_append_vs_maintain_exactly_once(spark, tmp_path):
    sys.path.insert(0, REPO)
    import qwatch_spark.operators.similarity as sim
    from scripts.xproc_index_worker import batch_ids, vec_of

    path = str(tmp_path / "lsh")
    seed = spark.createDataFrame(
        [(i, vec_of(i)) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    sim.lsh_build_index(seed, path, n_planes=16, n_bands=8, dim=16)

    barrier = str(tmp_path / "go")
    done = str(tmp_path / "done")
    env = dict(os.environ, PYTHONPATH=REPO)
    procs = [
        subprocess.Popen(
            [sys.executable, WORKER, "append", path, str(N_BATCHES),
             barrier, done, str(ARM_BATCH)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        ),
        subprocess.Popen(
            [sys.executable, WORKER, "maintain", path, "8", barrier, done],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        ),
    ]
    # start the race only once both JVMs are warm: under load one can
    # come up many seconds after the other, and a maintainer that ran
    # its cycles alone leaves the armed batch nothing to observe
    deadline = time.monotonic() + 300
    while not all(os.path.exists(f"{barrier}.{r}") for r in ("append", "maintain")):
        assert all(p.poll() is None for p in procs), "a worker died at startup"
        assert time.monotonic() < deadline, "workers never came up"
        time.sleep(0.1)
    open(barrier, "w").close()
    results = {}
    for p in procs:
        out, _ = p.communicate(timeout=420)
        line = out.decode().strip().splitlines()[-1]
        r = json.loads(line)
        assert p.returncode == 0, r
        results[r["role"]] = r
    assert results["append"]["applied"] == N_BATCHES, results
    assert results["append"]["armed_swap_seen"], (
        f"the armed batch's check never saw a swap ({results})"
    )
    assert results["maintain"]["maintains"] >= 1, results
    total_conflicts = (
        results["append"]["conflicts"] + results["maintain"]["conflicts"]
    )
    assert total_conflicts >= 1, (
        f"no typed conflicts observed ({results}) — the armed batch's "
        "swap-wait should force at least one"
    )

    # final state == oracle, exactly once, band-complete — regardless
    # of which version the races landed in
    want_ids = set(range(60))
    for b in range(N_BATCHES):
        want_ids |= set(batch_ids(b))
    data, v = sim._idx_current(path)
    assert v >= 1, "maintainer never published a version"
    got = spark.read.parquet(data).groupBy("vec_id", "band").count()
    assert got.filter(F.col("count") > 1).count() == 0, "duplicate rows"
    per_id = got.groupBy("vec_id").count()
    assert per_id.filter(F.col("count") != 8).count() == 0, "torn bands"
    have_ids = {int(r["vec_id"]) for r in per_id.select("vec_id").collect()}
    assert have_ids == want_ids, (
        f"lost={sorted(want_ids - have_ids)[:8]} "
        f"extra={sorted(have_ids - want_ids)[:8]}"
    )
    # a probe still serves off the maintained index
    top = sim.lsh_probe_topk(spark, path, vec_of(123), k=1).collect()
    assert int(top[0]["vec_id"]) == 123
