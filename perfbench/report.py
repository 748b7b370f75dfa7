"""Run every workload and print every named metric; with --sets 2, an A/A check.

    python3 perfbench/report.py                      # one run per workload
    python3 perfbench/report.py --runs 5 --sets 2    # A/A: two sets of five
    python3 perfbench/report.py --workloads backfill,entity_stream,read_write,near_dup

Run from the repository root. The workloads default to those of
BENCHMARK.json; the third form adds the two that run only by hand, so
every named figure is printed. Each run is `perfbench/run.py` in its own
process, seeds counting up from --first-seed (the second set continues
where the first stopped). For every workload and every figure a run prints
(the end-to-end metrics of BENCHMARK.json and the workload's own named
figures) it prints each set's median and quartiles, the spread
(quartile distance / median) and, with two sets, the shift of the second
median against the first. A shift or spread beyond the metric's bound is
marked. Exits 1 when any run fails or reports a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^(\w+) (\S+) = (\S+) (\S+)$")


def parse_run(stdout: str, workload: str) -> tuple[dict, dict | None]:
    """(name -> (value, unit)) from the run's named lines, and its JSON."""
    named = {}
    for line in stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(1) == workload:
            try:
                named[m.group(2)] = (float(m.group(3)), m.group(4))
            except ValueError:
                pass
    last = stdout.strip().splitlines()[-1] if stdout.strip() else ""
    try:
        result = json.loads(last)
    except ValueError:
        result = None
    return named, result


def summary(values: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3); one value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    ok = True
    for wl in args.workloads.split(","):
        sets: list[dict[str, list[float]]] = []
        units: dict[str, str] = {}
        seed = args.first_seed
        for _ in range(args.sets):
            got: dict[str, list[float]] = {}
            for _ in range(args.runs):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                       "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
                seed += 1
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                named, result = parse_run(p.stdout, wl)
                good = p.returncode == 0 and result is not None and result["correct"]
                ok = ok and good
                print(f"{wl} seed {seed - 1}: exit {p.returncode}, "
                      f"correct = {bool(result and result['correct'])}", flush=True)
                if not good:
                    print(p.stderr[-2000:], file=sys.stderr)
                    continue
                for k, (v, u) in named.items():
                    got.setdefault(k, []).append(v)
                    units[k] = u
            sets.append(got)
        print(f"\n{wl}: median [q1, q3] spread per set" +
              ("; shift = second median vs first" if args.sets == 2 else ""))
        for k in sets[0]:
            cols, meds = [], []
            for got in sets:
                if not got.get(k):
                    continue
                med, q1, q3 = summary(got[k])
                meds.append(med)
                spread = (q3 - q1) / med if med else 0.0
                flag = " !" if k in bounds and k != "setup_s" and spread > bounds[k] else ""
                cols.append(f"{med:.6g} [{q1:.6g}, {q3:.6g}] {spread:.3f}{flag}")
            line = f"  {k} ({units[k]}): " + " | ".join(cols)
            if len(meds) == 2 and meds[0]:
                shift = (meds[1] - meds[0]) / meds[0]
                within = k not in bounds or abs(shift) <= bounds[k]
                line += f" | shift {shift:+.3f}" + ("" if within else " OUTSIDE BOUND")
            print(line)
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
