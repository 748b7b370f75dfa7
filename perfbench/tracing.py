"""Outside-in tracing: in-memory spans around the engine's public calls.

Spans are recorded by the benchmark, never by the engine: `install` swaps
the public functions for timing wrappers at runtime (every module that
imported the original gets the wrapper) and restores them afterwards.
Each span can carry a phase label that is set as the Spark job
description while the span is open, so the traced run's event log folds
into per-phase executor metrics (`fold_event_log`). The per-table apply
threads of `apply_entity_changes` are covered because the `apply_changes`
wrapper runs inside them.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

PHASE_PREFIX = "qwatch-bench:"
# Spans opened on a thread with no open span of its own hang under the
# latest open span of one of these, because these are the calls that hand
# work to other threads (per-table apply threads, the foreachBatch thread).
FANOUT = ("entities.apply_entity_changes", "streaming.run_entity_stream")

# (module, attribute, span name, phase label); "Class.method" patches a method.
TARGETS = (
    ("qwatch_spark.operators.apply", "replay_feed", "apply.replay_feed", "decode"),
    ("qwatch_spark.operators.apply", "apply_changes", "apply.apply_changes", "write"),
    ("qwatch_spark.operators.entities", "apply_entity_changes",
     "entities.apply_entity_changes", None),
    ("qwatch_spark.streaming.runner", "run_entity_stream",
     "streaming.run_entity_stream", "stream"),
    ("qwatch_spark.plans.snapshot_table", "SnapshotTable.commit_prewritten_delta",
     "snapshot.commit_swap", "commit"),
    ("qwatch_spark.plans.snapshot_table", "SnapshotTable.commit_epoch",
     "snapshot.commit_swap", "commit"),
    ("qwatch_spark.plans.snapshot_table", "SnapshotTable.compact",
     "snapshot.compact", "compact"),
    ("qwatch_spark.operators.dedup_text", "dedup_keep_canonical",
     "dedup_text.dedup_keep_canonical", "cc"),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """Span recorder. With `sc` set, a span's phase becomes the Spark job
    description of the jobs its thread launches while it is open."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._open: dict[int, Span] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                fan = [s for s in self._open.values() if s.name in FANOUT]
                parent = max(fan, key=lambda s: s.start).sid if fan else None
            sp = Span(len(self.spans), name, parent, time.perf_counter())
            self.spans.append(sp)
            self._open[sp.sid] = sp
        prev = None
        if phase and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(PHASE_PREFIX + phase)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self._open.pop(sp.sid, None)
            if phase and self.sc is not None:
                self.sc.setJobDescription(prev)

    def wrap(self, fn, name: str, phase: str | None):
        def traced(*args, **kwargs):
            with self.span(name, phase):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self, targets=TARGETS):
        """Patch every target; returns a function that undoes the patches.
        A target missing from the engine raises, so a rename cannot drop a
        span (and zero its per-layer figures) without failing the run."""
        undo = []
        for mod_name, attr, name, phase in targets:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name, None)
                orig = getattr(cls, meth, None) if cls is not None else None
                if orig is None:
                    raise LookupError(f"trace target {mod_name}.{attr} not found")
                setattr(cls, meth, self.wrap(orig, name, phase))
                undo.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr, None)
            if orig is None:
                raise LookupError(f"trace target {mod_name}.{attr} not found")
            wrapped = self.wrap(orig, name, phase)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith("qwatch_spark") and (
                    getattr(m, attr, None) is orig
                ):
                    setattr(m, attr, wrapped)
                    undo.append((m, attr, orig))

        def restore():
            for owner, a, o in reversed(undo):
                setattr(owner, a, o)

        return restore

    def span_cost_s(self, n: int = 200) -> float:
        """Measured cost of one labelled span (enter + exit)."""
        probe = Tracer(self.sc)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", "probe"):
                pass
        return (time.perf_counter() - t0) / n


def self_times(spans) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its children cover (children that overlap each other, as
    parallel threads do, are counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        ivs = sorted(
            (max(c.start, s.start), min(c.end if c.end is not None else end, end))
            for c in kids.get(s.sid, [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (end - s.start) - covered
    return out


def by_name(spans) -> dict[str, float]:
    """Summed span duration per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.dur
    return out


def progress_listener(sink: list):
    """A StreamingQueryListener that appends each progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs or {}),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


SPARK_METRICS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")


def fold_event_log(log_dir: str, lo_ms: float, hi_ms: float,
                   default_phase: str) -> dict[str, dict[str, float]]:
    """Per-phase executor totals for the jobs submitted in [lo_ms, hi_ms].
    A job's phase is its description minus PHASE_PREFIX; jobs without one
    (Spark's own streaming jobs, unlabelled probes) get `default_phase`."""
    stage_phase: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    # Spark 4 writes a directory per application (events_N_* files plus an
    # appstatus marker); older layouts write one file per application
    paths = sorted(
        p for p in glob.glob(f"{log_dir}/**", recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    if not lo_ms <= t <= hi_ms:
                        continue
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    phase = (
                        desc[len(PHASE_PREFIX):]
                        if desc.startswith(PHASE_PREFIX)
                        else default_phase
                    )
                    acc = out.setdefault(phase, dict.fromkeys(SPARK_METRICS, 0.0))
                    acc["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase.setdefault(sid, phase)
                elif kind == "SparkListenerTaskEnd":
                    phase = stage_phase.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if phase is None or not m:
                        continue
                    acc = out[phase]
                    acc["tasks"] += 1
                    acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
