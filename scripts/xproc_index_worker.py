"""Cross-process worker for the ANN-index maintenance stress (r7
verdict #5): the table CAS has a two-real-JVM race test
(xproc_apply_worker.py); the INDEX protocol's races — append vs
compaction swap, dedup-retry vs fold — were only ever exercised by
threads inside one process. This worker runs one side of that race as
a REAL OS process (own JVM, own interpreter) against one shared LSH
serving index.

Each worker touches `BARRIER.<role>` once its JVM is up and then waits
for BARRIER, so the driver starts the race only when both JVMs are warm
(under load a JVM can take many seconds longer to start than its rival).

Roles:
  append INDEX_PATH N_BATCHES BARRIER DONE_FILE ARM_BATCH
    Appends N_BATCHES × 40 vectors with the production retry loop
    (typed IndexConflictError → retry with dedup_against_index=True,
    which serializes behind any in-progress fold via the cross-process
    `_folding` marker). For batch == ARM_BATCH the post-write version
    check BLOCKS until the maintainer process publishes a swap — the
    deterministic cross-process form of the interleaving the in-process
    monkeypatch tests pin (write lands in the old version → maintainer
    pins it → swap → check fires typed). Touches `DONE_FILE.armed` when
    that check starts waiting, and DONE_FILE when done.

  maintain INDEX_PATH MAX_CYCLES BARRIER DONE_FILE
    Runs lsh_maintain cycles (small-file compaction behind the
    versioned pointer) at a spaced cadence until the appender's
    DONE_FILE appears or MAX_CYCLES land. If the armed check has not
    started waiting by then, it idles until it does and runs one more
    successful cycle: the armed batch blocks on a swap, and a maintainer
    that cycled ahead alone would leave it none to observe.

Prints ONE json line: {"role", "applied"|"maintains", "conflicts"}; the
appender adds "armed_swap_seen" (its armed check observed a swap).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402


def vec_of(i: int, dim: int = 16) -> list[float]:
    """Deterministic per-id vector — pure function of the id, so the
    pytest driver builds the seed index from the identical corpus."""
    rng = np.random.default_rng(10_000 + i)
    return [float(x) for x in rng.normal(0.0, 1.0, dim)]


def batch_ids(b: int) -> list[int]:
    return list(range(60 + b * 40, 60 + (b + 1) * 40))


def _wait_for(path_exists: str, timeout_s: float = 120.0) -> None:
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(path_exists):
        if time.monotonic() >= deadline:
            raise TimeoutError(path_exists)
        time.sleep(0.05)


def main() -> int:
    role = sys.argv[1]
    idx_path = sys.argv[2]

    from qwatch_spark.session import get_spark  # noqa: E402
    import qwatch_spark.operators.similarity as sim  # noqa: E402

    spark = get_spark(
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
        },
    )
    open(f"{sys.argv[4]}.{role}", "w").close()  # this JVM is warm

    if role == "append":
        n_batches, barrier, done_file, arm_batch = (
            int(sys.argv[3]), sys.argv[4], sys.argv[5], int(sys.argv[6]),
        )
        _wait_for(barrier)
        real = sim._idx_current
        hook_state = {"armed": False, "calls": 0, "swap_seen": False}

        def hooked(p):
            out = real(p)
            if hook_state["armed"]:
                hook_state["calls"] += 1
                if hook_state["calls"] == 2:
                    # the POST-WRITE version check of the armed batch:
                    # hold it open until the OTHER PROCESS's compaction
                    # swap publishes, so the check observes a stale v0
                    # — the exact interleaving the retry contract is
                    # specified against, across real process boundaries
                    open(f"{done_file}.armed", "w").close()
                    deadline = time.monotonic() + 120.0
                    while real(p)[1] == out[1]:
                        if time.monotonic() >= deadline:
                            return out  # no swap: the test fails
                        time.sleep(0.1)
                    hook_state["swap_seen"] = True
                    return real(p)
            return out

        sim._idx_current = hooked
        conflicts = applied = 0
        try:
            for b in range(n_batches):
                df = spark.createDataFrame(
                    [(i, vec_of(i)) for i in batch_ids(b)],
                    "vec_id long, embedding array<double>",
                )
                hook_state["armed"] = b == arm_batch
                hook_state["calls"] = 0
                for attempt in range(10):
                    try:
                        sim.lsh_index_append(
                            df, idx_path, dedup_against_index=attempt > 0
                        )
                        applied += 1
                        break
                    except sim.IndexConflictError:
                        conflicts += 1
                        hook_state["armed"] = False  # retry runs clean
                else:
                    print(json.dumps({"role": role, "error": f"batch {b} stuck"}))
                    return 2
        finally:
            sim._idx_current = real
            open(done_file, "w").close()
        print(json.dumps({
            "role": role, "applied": applied, "conflicts": conflicts,
            "armed_swap_seen": hook_state["swap_seen"],
        }))
        return 0

    if role == "maintain":
        max_cycles, barrier, done_file = (
            int(sys.argv[3]), sys.argv[4], sys.argv[5],
        )
        _wait_for(barrier)
        maintains = conflicts = cycles = 0
        armed_served = False  # a swap landed after the armed check began
        while not os.path.exists(done_file):
            armed = os.path.exists(f"{done_file}.armed")
            if cycles >= max_cycles:
                if armed_served:
                    break
                if not armed:
                    time.sleep(0.1)
                    continue
            try:
                sim.lsh_maintain(spark, idx_path)
                maintains += 1
                armed_served = armed_served or armed
            except sim.IndexConflictError:
                conflicts += 1  # rival claim — rebase next cycle
            cycles += 1
            if os.path.exists(done_file):
                break
            time.sleep(1.5)
        print(json.dumps(
            {"role": role, "maintains": maintains, "conflicts": conflicts}
        ))
        return 0

    print(json.dumps({"error": f"unknown role {role}"}))
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
