"""The four benchmark workloads.

Each workload generates its inputs before any timing (`make_inputs`),
sets up (`setup`: table DDL plus a warm-up sized like one timed batch),
runs its timed loop (`run`), checks every output against a reference
computed off the clock (`verify`) and reports its figures (`report`).
The engine is driven only through its public calls; spans around those
calls come from `tracing.Tracer`, whose wrappers are installed only in the
traced run.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import checks, gen

N_BUCKETS = 8


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, seconds: float):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.base = gen.seq_base(seed)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layers: dict[str, float] = {}
        self.apply_stats: list = []  # ApplyStats of the timed window

    def units(self) -> int:
        """How many units of work the timed window did."""
        raise NotImplementedError

    def events(self) -> int:
        """How many input events (near_dup: documents) the window processed."""
        raise NotImplementedError

    def finish(self, spark) -> None:
        """Off-clock figures taken after `verify`."""

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.notes.append(why)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)


# ---------------------------------------------------------------- backfill


class Backfill(Workload):
    """Closed-loop batch `replay_feed` of a web-page feed in a few large
    epochs through the default rule chain, on a fresh table per replay."""

    name = "backfill"
    EVENTS, EPOCHS, WARM_EVENTS = 200_000, 2, 40_000
    N_DOMAINS, PAGES = 2000, 5000

    def cfg(self):
        from qwatch_spark.config import PipelineConfig

        return PipelineConfig(n_buckets=N_BUCKETS, write_mode="auto")

    def make_inputs(self) -> None:
        per = self.EVENTS // self.EPOCHS
        seq = np.arange(self.base, self.base + self.EVENTS, dtype=np.int64)
        self.cols = gen.write_feed(self.path("feed"), seq, self.N_DOMAINS, self.PAGES,
                                   files=8, epoch_of=(seq - self.base) // per)
        state: dict = {}
        gen.apply_events(state, self.cols, range(len(seq)))
        self.ref = gen.state_digest(state)
        # the warm-up replays two epochs, so both apply branches (COW epoch 0,
        # MERGE epoch 1) are warm before timing; a per-epoch fixed cost
        # dominates an epoch's wall, so smaller warm epochs suffice. The
        # held-out epoch feeds the traced run's prefix forcing.
        nxt = self.base + self.EVENTS
        s = np.arange(nxt, nxt + self.WARM_EVENTS, dtype=np.int64)
        gen.write_feed(self.path("warm"), s, self.N_DOMAINS, self.PAGES, files=8,
                       epoch_of=(s - nxt) // (self.WARM_EVENTS // self.EPOCHS))
        nxt += self.WARM_EVENTS
        gen.write_feed(self.path("held"), np.arange(nxt, nxt + per, dtype=np.int64),
                       self.N_DOMAINS, self.PAGES, files=4)

    def setup(self, spark, rep: int) -> None:
        from qwatch_spark.operators.apply import replay_feed
        from qwatch_spark.plans.snapshot_table import SnapshotTable
        from qwatch_spark.sources.feed import read_feed

        warm = SnapshotTable.create(self.path(f"warm_t{rep}"), n_buckets=N_BUCKETS,
                                    overwrite=True)
        replay_feed(spark, read_feed(spark, self.path("warm")), warm, self.cfg())
        self.tables = [
            SnapshotTable.create(self.path(f"t{i}"), n_buckets=N_BUCKETS, overwrite=True)
            for i in range(4)
        ]

    def run(self, spark, tr) -> None:
        from qwatch_spark.operators.apply import replay_feed
        from qwatch_spark.sources.feed import read_feed

        cfg = self.cfg()
        self.replay_s, self.epoch_s, self.stats = [], [], []
        t_end = time.perf_counter() + self.seconds
        for table in self.tables:
            t0 = time.perf_counter()
            stats = replay_feed(spark, read_feed(spark, self.path("feed")), table, cfg)
            self.replay_s.append(time.perf_counter() - t0)
            self.epoch_s += [s.wall_ms / 1e3 for s in stats]
            self.stats.append(stats)
            self.apply_stats += stats
            # stop at the replay boundary nearest the window's end
            if time.perf_counter() + checks.median(self.replay_s) / 2 > t_end:
                break

    def units(self) -> int:
        return len(self.replay_s)

    def events(self) -> int:
        return self.EVENTS * len(self.replay_s)

    def verify(self, spark) -> None:
        from qwatch_spark.functions.text import extract_text_bytes

        for table in self.tables[: len(self.replay_s)]:
            self.attempted += 1
            got = checks.df_digest(table.read(spark))
            self.fail(got != self.ref, f"replay digest {got} != reference {self.ref}")
        # the digest covers (url, warc_ts, lang); spot-check the HTML->text
        # projection against the engine's own scalar function
        sample = self.tables[0].read(spark).limit(50).collect()
        self.attempted += len(sample)
        bad = [r["url"] for r in sample if r["text"] != extract_text_bytes(r["html"])]
        self.fail(len(bad), f"text projection differs for {bad[:3]}")

    def report(self) -> tuple[float, float, dict]:
        """events_per_s: feed events / replay wall, median over replays.
        latency_p50_s: median wall of one epoch (its events become
        visible when it commits)."""
        eps = checks.median([self.EVENTS / s for s in self.replay_s])
        return eps, checks.median(self.epoch_s), {"replays": (len(self.replay_s), "count"),
                                                  "epochs": (len(self.epoch_s), "count")}

    def trace_layers(self, spark, tr) -> None:
        """Lazy layers by prefix forcing of the held-out epoch, then the
        engine's own per-epoch phase split and the written files."""
        from qwatch_spark.operators import apply as ap
        from qwatch_spark.operators.evolution import resolve_schema
        from qwatch_spark.operators.rules import apply_rules
        from qwatch_spark.plans.snapshot_table import SnapshotTable
        from qwatch_spark.sources.feed import read_feed

        cfg = self.cfg()
        table = self.tables[0]
        feed = read_feed(spark, self.path("held")).drop("epoch_hint")
        batch, payload = resolve_schema(feed, table.payload_schema, cfg.rename_map)
        gated = apply_rules(batch, cfg, kind="gate")
        cols = [f.name for f in payload.fields]
        pruned = gated.select(*dict.fromkeys(cols + ["op", "seq"]))
        k = min(N_BUCKETS, max(8, spark.sparkContext.defaultParallelism * 3))
        deduped = ap._dedup_to_buckets(pruned, table.key_col, cfg, N_BUCKETS, k)
        projected = apply_rules(deduped, cfg, kind="project")
        prefixes = [("decode", feed), ("gate", gated), ("dedup", deduped),
                    ("project", projected)]
        cum, rows = {}, {}
        for phase, df in prefixes:
            with tr.span(f"prefix.{phase}", phase) as sp:
                rows[phase] = _force_count(df)
            cum[phase] = sp.dur
        L = self.layers
        L["sources.decode_s"] = cum["decode"]
        L["rules.gate_s"] = max(0.0, cum["gate"] - cum["decode"])
        L["rules.gate_keep_ratio"] = rows["gate"] / max(rows["decode"], 1)
        L["apply.dedup_s"] = max(0.0, cum["dedup"] - cum["gate"])
        L["apply.dedup_keep_ratio"] = rows["dedup"] / max(rows["gate"], 1)
        L["rules.project_s"] = max(0.0, cum["project"] - cum["dedup"])
        L["rules.project_rows"] = rows["project"]
        n_files, n_bytes = checks.dir_bytes(os.path.join(table.path, "data"))
        L["apply.files_written"] = n_files
        L["apply.bytes_written"] = n_bytes
        L["snapshot.delta_chain_max"] = _delta_chain_max(SnapshotTable(table.path))


def _force_count(df) -> int:
    """Run the whole plan into the noop sink; returns its row count."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["n"])


def _delta_chain_max(table) -> int:
    """Longest per-bucket delta chain in the table's manifest."""
    return max((len(e["deltas"]) for _b, e in table._entries(None)), default=0)


# -------------------------------------------------------------- read_write


class ReadWrite(Workload):
    """One closed-loop client: small gate-only epochs via `apply_changes`
    (deltas pile up until compaction fires), each followed by a fixed read
    set: point lookups, the change feed since the previous version, and a
    periodic full scan."""

    name = "read_write"
    PRELOAD, EPOCH_EVENTS, MAX_EPOCHS = 10_000, 2_000, 16
    N_DOMAINS, PAGES = 200, 500
    KEYS_PER_EPOCH, SCAN_EVERY = 6, 2
    # every bucket compacts on its second delta, so compaction fires every
    # other epoch and the timed window always holds whole write cycles
    COMPACT_EVERY = 1
    # set-up applies one whole cycle after the preload, so the first
    # compaction is not timed cold
    WARM_EPOCHS = COMPACT_EVERY + 1
    MIN_CYCLES = 2

    def cfg(self):
        from qwatch_spark.config import PipelineConfig

        return PipelineConfig(n_buckets=N_BUCKETS, write_mode="auto",
                              rules=("valid_url", "lang_gate"),
                              compact_every=self.COMPACT_EVERY)

    def make_inputs(self) -> None:
        n = self.PRELOAD + self.EPOCH_EVENTS * self.MAX_EPOCHS
        seq = np.arange(self.base, self.base + n, dtype=np.int64)
        epoch = np.where(seq - self.base < self.PRELOAD, 0,
                         1 + (seq - self.base - self.PRELOAD) // self.EPOCH_EVENTS)
        cols = gen.feed_columns(seq, self.N_DOMAINS, self.PAGES)
        self.feed_dirs = []
        for e in range(self.MAX_EPOCHS + 1):
            idx = np.flatnonzero(epoch == e)
            d = self.path("feed", f"e{e}")
            gen.write_feed(d, seq[idx], self.N_DOMAINS, self.PAGES)
            self.feed_dirs.append(d)
        # reference answers for every epoch, computed before any timing
        rng = np.random.default_rng(self.seed)
        state: dict = {}
        gen.apply_events(state, cols, np.flatnonzero(epoch == 0))
        self.expect = [None]
        for e in range(1, self.MAX_EPOCHS + 1):
            idx = np.flatnonzero(epoch == e)
            changed = gen.apply_events(state, cols, idx)
            urls = list(cols["url"][rng.choice(idx, self.KEYS_PER_EPOCH - 2, replace=False)])
            urls += list(rng.choice(sorted(state), 2, replace=False))
            keys = {u: (state[u][1] if u in state and not state[u][2] else None)
                    for u in urls}
            chg = {(u, state[u][1], state[u][2]) for u in changed}
            dig = gen.state_digest(state) if e % self.SCAN_EVERY == 0 else None
            self.expect.append((keys, chg, dig))

    def setup(self, spark, rep: int) -> None:
        from qwatch_spark.operators.apply import apply_changes
        from qwatch_spark.plans.snapshot_table import SnapshotTable
        from qwatch_spark.sources.feed import read_feed

        self.table = SnapshotTable.create(self.path(f"table{rep}"), n_buckets=N_BUCKETS,
                                          overwrite=True)
        for e in range(self.WARM_EPOCHS + 1):
            v0 = self.table.version
            apply_changes(spark, read_feed(spark, self.feed_dirs[e]), self.table, e,
                          self.cfg())
        url = self.table.read(spark).select("url").first()["url"]
        self.table.read_key(spark, url).collect()
        self.table.read_changes(spark, v0).collect()
        checks.df_digest(self.table.read(spark))

    def run(self, spark, tr) -> None:
        from qwatch_spark.operators.apply import apply_changes
        from qwatch_spark.sources.feed import read_feed

        cfg, table = self.cfg(), self.table
        self.apply_s, self.key_s, self.chg_s, self.scan_s = [], [], [], []
        self.cycle_s = []
        self.got = []
        self.files_per_key = []
        t_end = time.perf_counter() + self.seconds
        for e in range(self.WARM_EPOCHS + 1, self.MAX_EPOCHS + 1):
            v0 = table.version
            t0 = time.perf_counter()
            st = apply_changes(spark, read_feed(spark, self.feed_dirs[e]), table, e, cfg)
            self.apply_s.append(time.perf_counter() - t0)
            self.apply_stats.append(st)
            keys, _chg, dig = self.expect[e]
            got_keys = {}
            for u in keys:
                with tr.span("snapshot.read_key", "read") as sp:
                    df = table.read_key(spark, u)
                    rows = df.select("seq").collect()
                self.key_s.append(sp.dur)
                got_keys[u] = rows
                if tr.sc is not None:
                    self.files_per_key.append(len(df.inputFiles()))
            with tr.span("snapshot.read_changes", "read") as sp:
                chg_rows = table.read_changes(spark, v0).select(
                    "url", "seq", "is_deleted").collect()
            self.chg_s.append(sp.dur)
            got_dig = None
            if dig is not None:
                with tr.span("snapshot.scan", "read") as sp:
                    got_dig = checks.df_digest(table.read(spark))
                self.scan_s.append(sp.dur)
            self.cycle_s.append(time.perf_counter() - t0)
            self.got.append((e, got_keys, chg_rows, got_dig))
            # stop at the whole-cycle boundary nearest the window's end, after
            # at least MIN_CYCLES, so every run holds the same kind of window
            cycle = self.COMPACT_EVERY + 1
            half = cycle * checks.median(self.cycle_s) / 2
            if (e % cycle == 0 and len(self.apply_s) >= self.MIN_CYCLES * cycle
                    and time.perf_counter() + half > t_end):
                break

    def units(self) -> int:
        return len(self.apply_s)

    def events(self) -> int:
        return self.EPOCH_EVENTS * len(self.apply_s)

    def verify(self, spark) -> None:
        for e, got_keys, chg_rows, got_dig in self.got:
            keys, chg, dig = self.expect[e]
            for u, rows in got_keys.items():
                self.attempted += 1
                want = [] if keys[u] is None else [keys[u]]
                self.fail([r["seq"] for r in rows] != want,
                          f"epoch {e} read_key({u}) = {rows}, want {want}")
            self.attempted += 1
            got = {(r["url"], r["seq"], r["is_deleted"]) for r in chg_rows}
            self.fail(got != chg, f"epoch {e} read_changes differs by {len(got ^ chg)} rows")
            if dig is not None:
                self.attempted += 1
                self.fail(got_dig != dig, f"epoch {e} scan digest {got_dig} != {dig}")

    def live_rows(self, spark) -> int:
        return self.table.read(spark).count()

    def report(self) -> tuple[float, float, dict]:
        """events_per_s: epoch events / (apply + read set) wall, over the
        window, so slower reads lower it as much as slower commits.
        latency_p50_s: median `read_key` point lookup."""
        eps = self.EPOCH_EVENTS * len(self.apply_s) / sum(self.cycle_s)
        human = {
            "apply_p50_s": (checks.median(self.apply_s), "s"),
            "write_s": (sum(self.apply_s), "s"),
            "read_key_p50_s": (checks.median(self.key_s), "s"),
            "read_key_p90_s": (checks.pctl(self.key_s, 0.9), "s"),
            "changes_p50_s": (checks.median(self.chg_s), "s"),
            "scan_s": (checks.median(self.scan_s) if self.scan_s else None, "s"),
            "bytes_per_live_row": (self.bytes_per_live_row, "B"),
            "epochs": (len(self.apply_s), "count"),
            "read_keys": (len(self.key_s), "count"),
        }
        return eps, checks.median(self.key_s), human

    def finish(self, spark) -> None:
        _f, size = checks.dir_bytes(os.path.join(self.table.path, "data"))
        self.bytes_per_live_row = size / max(self.live_rows(spark), 1)

    def trace_layers(self, spark, tr) -> None:
        L = self.layers
        L["snapshot.delta_chain_max"] = _delta_chain_max(self.table)
        L["snapshot.files_per_read_key"] = (
            checks.median(self.files_per_key) if self.files_per_key else 0.0)
        n_files, n_bytes = checks.dir_bytes(os.path.join(self.table.path, "data"))
        L["apply.files_written"] = n_files
        L["apply.bytes_written"] = n_bytes


# ----------------------------------------------------------- entity_stream


class EntityStream(Workload):
    """Open loop: one generator thread publishes pre-generated page+domain
    feed files on a fixed schedule (below the sustainable rate) while
    `run_entity_stream` tails the directory with its default trigger.

    Files go out in bursts, one burst every BURST_EVERY_S, longer than a
    trigger takes here, so each burst is one micro-batch. With files spread
    evenly, how many batches a run cut its input into followed the host's
    speed, and per-batch fixed cost and the compactions that landed in the
    window moved every figure with it."""

    name = "entity_stream"
    FILES_PER_BURST, BURST_EVERY_S, EVENTS_PER_FILE = 12, 4.0, 1000
    N_DOMAINS, PAGES = 2000, 5000
    LAG_LIMIT_S = 20.0
    # each table compacts on its fourth delta, so one compaction per table
    # falls in every run of five or more batches
    COMPACT_EVERY = 4

    def cfg(self):
        from qwatch_spark.config import PipelineConfig

        return PipelineConfig(n_buckets=N_BUCKETS, write_mode="auto", rules=(),
                              compact_every=self.COMPACT_EVERY)

    def _stage(self, d: str, first_seq: int, n_files: int) -> list[str]:
        """Write `n_files` files under `_`-prefixed names (the file source
        ignores those) so publishing is one atomic rename each."""
        import pyarrow.parquet as pq

        os.makedirs(d, exist_ok=True)
        names = []
        for i in range(n_files):
            lo = first_seq + i * self.EVENTS_PER_FILE
            seq = np.arange(lo, lo + self.EVENTS_PER_FILE, dtype=np.int64)
            name = f"f-{i:05d}.parquet"
            pq.write_table(gen.entity_table(seq, self.N_DOMAINS, self.PAGES),
                           os.path.join(d, "_" + name))
            names.append(name)
        return names

    def make_inputs(self) -> None:
        bursts = max(1, int(self.seconds / self.BURST_EVERY_S))
        self.n_files = bursts * self.FILES_PER_BURST
        self.files = self._stage(self.path("feed"), self.base, self.n_files)
        self.warm_first = self.base + self.n_files * self.EVENTS_PER_FILE

    def setup(self, spark, rep: int) -> None:
        from qwatch_spark.queries import entity_graph_specs
        from qwatch_spark.streaming.runner import run_entity_stream

        self.specs, self.links = entity_graph_specs()
        d = self.path(f"warm{rep}")
        shutil.rmtree(d, ignore_errors=True)
        for name in self._stage(f"{d}/feed", self.warm_first, 4):
            os.rename(f"{d}/feed/_{name}", f"{d}/feed/{name}")
        run_entity_stream(spark, f"{d}/feed", f"{d}/tables", f"{d}/ckpt", self.specs,
                          self.links, self.cfg())

    def _publish(self, t0: float) -> None:
        feed = self.path("feed")
        self.due, self.late = [], []
        for i, name in enumerate(self.files):
            due = t0 + (i // self.FILES_PER_BURST) * self.BURST_EVERY_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(feed, "_" + name), os.path.join(feed, name))
            self.due.append(due)
            self.late.append(max(0.0, time.time() - due))

    def _committed(self, mapping: dict) -> bool:
        from qwatch_spark.plans.snapshot_table import SnapshotTable

        if len(mapping) < len(self.files):
            return False
        batches = {b for bs in mapping.values() for b in bs}
        tables = [SnapshotTable(self.path("tables", n)) for n in self.table_names]
        return all(t.has_epoch(b) for t in tables for b in batches)

    def run(self, spark, tr) -> None:
        from qwatch_spark.streaming.runner import run_entity_stream

        from perfbench.tracing import progress_listener

        self.table_names = [s.name for s in self.specs] + [lk.name for lk in self.links]
        self.progress: list = []
        listener = progress_listener(self.progress)
        spark.streams.addListener(listener)
        errors: list = []

        def query():
            try:
                self.stats = run_entity_stream(
                    spark, self.path("feed"), self.path("tables"), self.path("ckpt"),
                    self.specs, self.links, self.cfg(), available_now=False)
            except Exception as e:  # noqa: BLE001 - reported as a failed run
                errors.append(e)

        th = threading.Thread(target=query, name="entity-stream")
        th.start()
        while not spark.streams.active and th.is_alive():
            time.sleep(0.05)
        t0 = time.time() + 0.5
        self.t_start = time.perf_counter()
        gen_t = threading.Thread(target=self._publish, args=(t0,), name="generator")
        gen_t.start()
        gen_t.join()
        deadline = self.due[-1] + self.LAG_LIMIT_S
        src = self.path("ckpt", "sources", "0")
        while time.time() < deadline and th.is_alive():
            if os.path.isdir(src) and self._committed(checks.file_batches(src)):
                break
            time.sleep(0.1)
        last = -1
        for q in spark.streams.active:
            # stopping mid-trigger interrupts the batch's jobs; wait for the
            # trigger in flight to finish first
            idle_by = time.time() + 10
            while q.status["isTriggerActive"] and time.time() < idle_by:
                time.sleep(0.05)
            last = max(last, (q.lastProgress or {}).get("batchId", -1))
            q.stop()
        th.join(timeout=60)
        # listener events arrive asynchronously; wait for the last batch's
        heard_by = time.time() + 10
        while (max((p["batch"] for p in self.progress), default=-1) < last
               and time.time() < heard_by):
            time.sleep(0.05)
        self.wall_s = time.perf_counter() - self.t_start
        spark.streams.removeListener(listener)
        self.attempted += 1
        self.fail(bool(errors), f"stream query failed: {errors[:1]!r}")
        self.apply_stats = [a for ep in getattr(self, "stats", []) for a in ep.values()]

    def units(self) -> int:
        return len(self.progress)

    def events(self) -> int:
        return self.EVENTS_PER_FILE * len(self.files)

    def verify(self, spark) -> None:
        mapping = checks.file_batches(self.path("ckpt", "sources", "0"))
        commit = {}
        for n in self.table_names:
            from qwatch_spark.plans.snapshot_table import SnapshotTable

            log = SnapshotTable(self.path("tables", n)).read_commit_log(spark)
            rows = log.select("epoch_id", F.unix_micros(
                F.col("committed_at").cast("timestamp")).alias("us")).collect()
            per: dict = {}
            for r in rows:
                per.setdefault(int(r["epoch_id"]), []).append(r["us"] / 1e6)
            dup = [e for e, v in per.items() if len(v) != 1]
            self.attempted += 1
            self.fail(bool(dup), f"{n}: epochs {dup[:5]} committed more than once")
            commit[n] = {e: v[0] for e, v in per.items()}
        self.lag = []
        for name, due in zip(self.files, self.due):
            self.attempted += 1
            bs = mapping.get(name, set())
            if len(bs) != 1:
                self.fail(1, f"{name} in batches {sorted(bs)}")
                continue
            b = bs.pop()
            done = [commit[n].get(b) for n in self.table_names]
            if None in done:
                self.fail(1, f"{name}: batch {b} not committed in every table")
                continue
            lag = max(done) - due
            self.fail(lag > self.LAG_LIMIT_S, f"{name}: lag {lag:.1f}s over the limit")
            self.lag.append(lag)

    def _busy_s(self) -> float:
        return sum(p["ms"].get("triggerExecution", 0) for p in self.progress) / 1e3

    def report(self) -> tuple[float, float, dict]:
        """events_per_s: committed events / summed trigger time. Below the
        sustainable rate the query is busy most of the time, so this stays
        near the offered rate; it drops when a trigger sits idle-free and
        still falls behind. latency_p50_s: median per-file lag, from the
        file's due publish time to its last table commit."""
        eps = self.EVENTS_PER_FILE * len(self.lag) / max(self._busy_s(), 1e-9)
        human = {
            "lag_p50_s": (checks.median(self.lag), "s"),
            "lag_p90_s": (checks.pctl(self.lag, 0.9), "s"),
            "offered_events_per_s": (
                self.FILES_PER_BURST * self.EVENTS_PER_FILE / self.BURST_EVERY_S, "1/s"),
            "batches": (len(self.progress), "count"),
            "files": (len(self.lag), "count"),
        }
        return eps, checks.median(self.lag), human

    def trace_layers(self, spark, tr) -> None:
        """Spark's trigger phases per batch, from the listener's progress."""
        L, prog = self.layers, self.progress
        n = max(len(prog), 1)
        ms = lambda k: sum(p["ms"].get(k, 0) for p in prog) / 1e3 / n  # noqa: E731
        L["streaming.trigger_s"] = ms("triggerExecution")
        L["streaming.add_batch_s"] = ms("addBatch")
        L["streaming.query_planning_s"] = ms("queryPlanning")
        L["streaming.wal_commit_s"] = ms("walCommit")
        L["streaming.latest_offset_s"] = ms("latestOffset")
        L["streaming.commit_offsets_s"] = ms("commitOffsets")
        L["streaming.batches"] = len(prog)
        L["streaming.rows_per_batch"] = (
            sum(p["rows"] for p in prog) / len(prog) if prog else 0.0)
        epochs = [s for s in tr.spans if s.name == "entities.apply_entity_changes"]
        L["streaming.overhead_s"] = L["streaming.trigger_s"] - sum(s.dur for s in epochs) / n
        L["entities.epoch_s"] = checks.median([s.dur for s in epochs]) if epochs else 0.0
        walls = [sum(a.wall_ms for a in ep.values()) / 1e3 for ep in self.stats]
        L["entities.overlap"] = sum(walls) / max(sum(s.dur for s in epochs), 1e-9)
        L["gen.late_max_s"] = max(self.late)
        from qwatch_spark.plans.snapshot_table import SnapshotTable

        L["snapshot.delta_chain_max"] = max(
            _delta_chain_max(SnapshotTable(self.path("tables", n)))
            for n in self.table_names)
        n_files = n_bytes = 0
        for n in self.table_names:
            f, b = checks.dir_bytes(self.path("tables", n, "data"))
            n_files, n_bytes = n_files + f, n_bytes + b
        L["apply.files_written"] = n_files
        L["apply.bytes_written"] = n_bytes


# ---------------------------------------------------------------- near_dup


class NearDup(Workload):
    """`near_dup_pairs` -> `dedup_keep_canonical` on a sparse realistic-
    vocabulary corpus (bypasses the block-pair path) and on a dense
    near-dup block (exercises it), as one pass, repeated."""

    name = "near_dup"
    # the dense block must exceed dedup_text's block-pair threshold (256)
    SPARSE_DOCS, DOC_LEN, N_DUPS, DENSE_DOCS = 800, 60, 20, 260

    def make_inputs(self) -> None:
        self.sparse, self.exact, self.near = gen.sparse_corpus(
            self.seed, self.SPARSE_DOCS, self.DOC_LEN, self.N_DUPS)
        first = self.SPARSE_DOCS + self.N_DUPS
        self.dense = gen.dense_block(self.seed, first, self.DENSE_DOCS, self.DOC_LEN)
        self.dense_ids = {d for d, _t in self.dense}

    def _docs(self, spark, rows):
        return (spark.createDataFrame(rows, "doc_id int, text string")
                .repartition(spark.sparkContext.defaultParallelism * 2)
                .localCheckpoint())

    def _pass(self, spark, corpora, tr) -> list:
        from qwatch_spark.operators.dedup_text import dedup_keep_canonical, near_dup_pairs

        out = []
        for docs in corpora:
            with tr.span("dedup_text.near_dup_pairs", "lsh") as sp_pairs:
                pdf = near_dup_pairs(docs).select("doc_a", "doc_b").localCheckpoint()
            pairs = pdf.collect()
            with tr.span("dedup_text.canonical", None) as sp_cc:
                kept = dedup_keep_canonical(
                    docs, pdf, src_col="doc_a", dst_col="doc_b",
                    work_dir=self.path("cc")).select("doc_id").collect()
            out.append(({(r["doc_a"], r["doc_b"]) for r in pairs},
                        {r["doc_id"] for r in kept}, sp_pairs.dur, sp_cc.dur))
        return out

    def setup(self, spark, rep: int) -> None:
        from perfbench.tracing import Tracer

        warm_rows, _e, _n = gen.sparse_corpus(self.seed + 7919, self.SPARSE_DOCS,
                                              self.DOC_LEN, self.N_DUPS)
        dense = gen.dense_block(self.seed + 7919, len(warm_rows), self.DENSE_DOCS,
                                self.DOC_LEN)
        self._pass(spark, [self._docs(spark, warm_rows), self._docs(spark, dense)],
                   Tracer())
        self.corpora = [self._docs(spark, self.sparse), self._docs(spark, self.dense)]

    def run(self, spark, tr) -> None:
        self.pass_s, self.results = [], []
        t_end = time.perf_counter() + self.seconds
        while True:
            t0 = time.perf_counter()
            self.results.append(self._pass(spark, self.corpora, tr))
            self.pass_s.append(time.perf_counter() - t0)
            if time.perf_counter() + checks.median(self.pass_s) / 2 > t_end:
                break

    def units(self) -> int:
        return len(self.pass_s)

    def events(self) -> int:
        return (len(self.sparse) + len(self.dense)) * len(self.pass_s)

    def verify(self, spark) -> None:
        for (pairs, kept, _p, _c), (dpairs, dkept, _dp, _dc) in self.results:
            self.attempted += 3
            missing = self.exact - pairs
            self.fail(bool(missing), f"planted pairs not found: {sorted(missing)[:3]}")
            self.fail(bool({b for _a, b in self.exact} & kept),
                      "a planted duplicate survived dedup_keep_canonical")
            self.fail(len(dkept) != 1, f"dense block kept {len(dkept)} docs, want 1")

    def report(self) -> tuple[float, float, dict]:
        """events_per_s: documents / pass wall; latency_p50_s: pass wall
        (wall_s); both medians over passes."""
        wall = checks.median(self.pass_s)
        docs = len(self.sparse) + len(self.dense)
        return docs / wall, wall, {"wall_s": (wall, "s"), "passes": (len(self.pass_s), "count")}

    def trace_layers(self, spark, tr) -> None:
        L = self.layers
        n = len(self.results)
        L["dedup_text.pairs_s"] = sum(p + dp for (_a, _b, p, _c), (_d, _e, dp, _f)
                                      in self.results) / n
        L["dedup_text.canonical_s"] = sum(c + dc for (_a, _b, _p, c), (_d, _e, _f, dc)
                                          in self.results) / n
        (pairs, _k, _p, _c), (dpairs, _dk, _dp, _dc) = self.results[-1]
        L["dedup_text.candidate_pairs"] = len(pairs) + len(dpairs)
        true = len(pairs & (self.exact | self.near)) + len(dpairs)
        L["dedup_text.precision"] = true / max(len(pairs) + len(dpairs), 1)
        L["dedup_text.recall_near"] = len(pairs & self.near) / max(len(self.near), 1)


WORKLOADS = {w.name: w for w in (Backfill, EntityStream, ReadWrite, NearDup)}
