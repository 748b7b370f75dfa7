"""qwatch_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the workload's named figures with
units and the correctness verdict, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Exits 1
when an output is wrong and 2 when the engine cannot be imported.
Everything the run writes stays under .perfbench_work/ and is removed.

The JSON carries the end-to-end metrics that every workload defines:

    setup_s            session start + median of SETUP_REPS (table DDL +
                       warm-up)
    peak_rss_mb        peak resident memory (PSS) of this process, the JVM
                       and its Python workers
    cpu_ms_per_kevent  CPU time (user + system) of that process tree in the
                       timed window, per 1000 input events (near_dup:
                       documents)

CPU time, not wall time, is the JSON's cost metric: on a shared virtual
machine a busy neighbour stretched every wall figure by a fifth or more
between two sets of runs, while CPU time leaves out stolen time. The wall
figures are printed beside it:

    events_per_s       input events per second of the workload's timed calls
    latency_p50_s      median latency of the workload's user-facing
                       operation: one epoch's apply (backfill), a file's
                       publish-to-commit lag (entity_stream), a read_key
                       lookup (read_write), one near-dup pass (near_dup)

Each workload's `report` gives the exact definitions. A median (p50) is
always printed, beside its sample count; a higher percentile only where
at least ten samples lie beyond it (`checks.pctl`), else "n/a".
The figures only one workload has (lag, read latencies, bytes per live
row, ...) are printed as `<workload> <name> = <value> <unit>` lines;
`perfbench/report.py` collects them for every workload.

BENCHMARK.json lists backfill and entity_stream. read_write and near_dup
run only by hand (`--workload read_write`): read_write's many sub-second
Spark jobs spread by more than a quarter from run to run, and a warmed
near_dup run takes about a minute, beyond the per-run time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the traced run fails when its root spans miss the timed wall by more
RECONCILE_LIMIT = 0.10
T0 = time.perf_counter()

E2E = (("setup_s", "s"), ("peak_rss_mb", "MB"), ("cpu_ms_per_kevent", "ms"))
SPARK_PHASES = ("decode", "gate", "dedup", "project", "write", "commit", "compact",
                "read", "stream", "lsh", "cc")
LAYERS = (
    "sources.decode_s", "rules.gate_s", "rules.gate_keep_ratio", "rules.project_s",
    "rules.project_rows", "apply.dedup_s", "apply.dedup_keep_ratio", "apply.write_s",
    "apply.commit_s", "apply.files_written", "apply.bytes_written", "apply.epoch_s",
    "apply.self_s", "snapshot.commit_swap_s", "snapshot.compact_s",
    "snapshot.compactions", "snapshot.delta_chain_max",
    "snapshot.files_per_read_key", "snapshot.read_buckets_s", "snapshot.self_s",
    "entities.epoch_s", "entities.overlap", "entities.self_s", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.query_planning_s", "streaming.wal_commit_s",
    "streaming.latest_offset_s", "streaming.commit_offsets_s", "streaming.overhead_s",
    "streaming.batches", "streaming.rows_per_batch", "streaming.self_s",
    "dedup_text.pairs_s", "dedup_text.candidate_pairs", "dedup_text.precision",
    "dedup_text.recall_near", "dedup_text.canonical_s", "dedup_text.cc_jobs",
    "dedup_text.self_s", "gen.late_max_s", "trace.overhead_frac",
    "trace.reconcile_err", "trace.spans",
)


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last in ("overhead_frac", "reconcile_err", "overlap", "precision", "recall_near",
                "gate_keep_ratio", "dedup_keep_ratio"):
        return "ratio"
    return "count"


def layer_names() -> list[str]:
    from perfbench.tracing import SPARK_METRICS

    return list(LAYERS) + [f"spark.{p}.{m}" for p in SPARK_PHASES for m in SPARK_METRICS]


def host_conf(work: str, trace: bool) -> tuple[int, dict]:
    """local[nproc], a driver heap well below host RAM, spill and scratch
    inside the work dir; the event log only for the traced run."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(2, int(ram_gib * 0.25)))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{heap_gib}g",
        "spark.local.dir": f"{work}/spill",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a fixed, pre-touched heap keeps the JVM's resident size from
        # following the collector's resize decisions, so peak_rss_mb moves
        # with off-heap, metaspace and Python-worker memory, not GC timing
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_gib}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = f"{work}/eventlog"
    return cores, conf


def start_session(work: str, trace: bool):
    from qwatch_spark.session import get_spark

    cores, conf = host_conf(work, trace)
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (its Python workers
    exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def trace_metrics(wl, tr, fold: dict, lo: float, hi: float) -> dict:
    """Per-layer figures from the spans, the engine's returned stats and
    the event log; time figures are per unit of the workload's work."""
    from perfbench import checks
    from perfbench.tracing import by_name, self_times

    units = max(wl.units(), 1)
    spans = [s for s in tr.spans if s.end is not None and s.start >= lo]
    selfs = self_times(spans)
    dur = by_name(spans)
    L = dict.fromkeys(layer_names(), 0.0)
    L.update(wl.layers)
    for layer in ("apply", "snapshot", "entities", "streaming", "dedup_text"):
        L[f"{layer}.self_s"] = sum(
            selfs[s.sid] for s in spans if s.name.split(".")[0] == layer) / units
    applies = [s.dur for s in spans if s.name == "apply.apply_changes"]
    if applies:
        L["apply.epoch_s"] = checks.median(applies)
    stats = wl.apply_stats
    L["apply.write_s"] = sum((s.phases or {}).get("write", 0.0) for s in stats) / units
    L["apply.commit_s"] = sum((s.phases or {}).get("commit", 0.0) for s in stats) / units
    L["snapshot.compactions"] = sum(1 for s in stats if "compact" in (s.phases or {}))
    L["snapshot.commit_swap_s"] = dur.get("snapshot.commit_swap", 0.0) / units
    L["snapshot.compact_s"] = dur.get("snapshot.compact", 0.0) / units
    L["snapshot.read_buckets_s"] = sum(
        dur.get(n, 0.0) for n in ("snapshot.read_key", "snapshot.read_changes",
                                  "snapshot.scan")) / units
    for phase, acc in fold.items():
        for m, v in acc.items():
            if f"spark.{phase}.{m}" in L:
                L[f"spark.{phase}.{m}"] = v / units if m.endswith(("_s", "bytes")) else v
    L["dedup_text.cc_jobs"] = fold.get("cc", {}).get("jobs", 0.0) / units
    window = [s for s in spans if s.start <= hi]
    roots = sum(s.dur for s in window if s.parent is None)
    wall = hi - lo
    L["trace.reconcile_err"] = abs(roots - wall) / wall
    L["trace.overhead_frac"] = tr.cost_s * len(window) / wall
    L["trace.spans"] = len(window)
    return L


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spill"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the checkout root, not this directory, leads the import path
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str) -> int:
    try:
        import qwatch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench import checks
    from perfbench.tracing import Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    rss = checks.RssSampler().start()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds)
    spark = None
    try:
        wl.make_inputs()
        # set-up = session start + median of SETUP_REPS (table DDL +
        # warm-up); the session starts once because a restarted context
        # loses its Python accumulator channel in the same JVM
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
        tr = Tracer(spark.sparkContext if trace else None)
        restore = tr.install() if trace else None
        cpu_lo = checks.tree_cpu_s(os.getpid())
        lo, lo_ms = time.perf_counter(), time.time() * 1e3
        wl.run(spark, tr)
        hi = time.perf_counter()
        cpu_s = checks.tree_cpu_s(os.getpid()) - cpu_lo
        if trace:
            wl.trace_layers(spark, tr)
            restore()
            tr.cost_s = tr.span_cost_s()
        hi_ms = time.time() * 1e3
        wl.verify(spark)
        wl.finish(spark)
    except Exception:  # noqa: BLE001 - any engine error fails the run
        traceback.print_exc()
        if spark is not None:
            stop_jvm(spark)
        rss.stop()
        return 1
    stop_jvm(spark)
    peak_mb = rss.stop()

    if trace:
        default = "stream" if wl.name == "entity_stream" else "other"
        fold = fold_event_log(f"{work}/eventlog", lo_ms, hi_ms, default)
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in trace_metrics(wl, tr, fold, lo, hi).items()}
        err = metrics["trace.reconcile_err"]["value"]
        wl.attempted += 1
        wl.fail(err > RECONCILE_LIMIT, f"root spans miss the timed wall by {err:.1%}")
    events_per_s, latency_s, human = wl.report()
    e2e = {"setup_s": session_s + checks.median(setup_s), "peak_rss_mb": peak_mb,
           "cpu_ms_per_kevent": cpu_s * 1e6 / max(wl.events(), 1)}
    print(f"{wl.name} session start = {session_s:.2f} s; setup reps = "
          f"{', '.join(f'{t:.2f}' for t in setup_s)} s; "
          f"timed window = {hi - lo:.2f} s")
    human = {"setup_s": (e2e["setup_s"], "s"),
             "failed_frac": (wl.failed / max(wl.attempted, 1), "ratio"),
             "peak_rss_mb": (peak_mb, "MB"),
             "cpu_ms_per_kevent": (e2e["cpu_ms_per_kevent"], "ms"),
             "events_per_s": (events_per_s, "1/s"), "latency_p50_s": (latency_s, "s"),
             **human}
    for name, (v, unit) in human.items():
        shown = "n/a (too few samples)" if v is None else f"{v:.6g} {unit}"
        print(f"{wl.name} {name} = {shown}")
    print(f"{wl.name} correct = {wl.failed == 0} "
          f"({wl.attempted - wl.failed}/{wl.attempted} checks passed)")
    for note in wl.notes[:20]:
        print(f"{wl.name} FAILED: {note}")
    if trace:
        for k in ("trace.reconcile_err", "trace.overhead_frac"):
            print(f"{wl.name} {k} = {metrics[k]['value']:.4f}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E}
    print(f"{wl.name} run wall = {time.perf_counter() - T0:.1f} s")
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
