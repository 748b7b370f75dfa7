"""Measurement and correctness helpers shared by the workloads."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading


def pctl(values, q: float, min_beyond: int = 10):
    """Nearest-rank q-quantile, or None unless at least `min_beyond`
    samples rank after it (a percentile is reported only where ten
    samples lie beyond it)."""
    s = sorted(values)
    if not s:
        return None
    idx = max(0, math.ceil(q * len(s)) - 1)
    return s[idx] if len(s) - (idx + 1) >= min_beyond else None


def median(values) -> float:
    return float(statistics.median(values))


def row_hash_col():
    """Spark twin of `gen.row_hash`: first 32 bits of md5(url|ts_us|lang)."""
    from pyspark.sql import functions as F

    key = F.concat_ws("|", "url", F.unix_micros("warc_ts").cast("string"), "lang")
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def df_digest(df) -> tuple[int, int]:
    """Order-free digest (count, sum of row hashes) of a table read."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.sum(row_hash_col()).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def file_batches(source_log_dir: str) -> dict[str, set[int]]:
    """File name -> batch ids, from a file-stream source's offset log.

    The log holds one file per batch ("N") and, every compact interval, a
    "N.compact" file that repeats all earlier entries; both carry each
    entry's batchId, so both are read. Temporary files start with "."."""
    out: dict[str, set[int]] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log format version
            if not line.strip():
                continue
            e = json.loads(line)
            out.setdefault(os.path.basename(e["path"]), set()).add(int(e["batchId"]))
    return out


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the `suffix` files under `path`."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of `root` and all its descendants.
    PSS splits pages shared after fork (the Python worker daemon and its
    workers) between the sharers, so nothing is counted twice."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) that `root` and its descendants have
    used so far, including exited descendants already reaped (their time
    sits in their parent's cutime/cstime). Time the hypervisor stole from
    this machine is not in it, so a busy neighbour moves it far less than
    it moves wall time."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory (summed PSS) of this process tree: driver,
    JVM and Python workers, sampled on a daemon thread until `stop()`."""

    def __init__(self, interval_s: float = 1.0):
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
        return self.peak / 2**20
