"""Steadiness check: is every end-to-end metric steady enough for its bound?

    python3 perfbench/steadiness.py --runs 10 --sets 2
    python3 perfbench/steadiness.py --workloads mpes_run --runs 5 --sets 1

Runs each workload ``--sets`` times ``--runs`` times through run.py, each
run with its own seed, and prints for every metric and set the median, the
quartiles (statistics.quantiles, n=4) and the spread, which is the
inter-quartile distance as a share of the median. A metric is steady when
its spread stays under a third of its bound in BENCHMARK.json and, across
sets, when no set's median is worse than the first set's by more than the
bound. setup_s is held only to the second rule: it includes the cold
first iteration and the session start, whose run-to-run spread is the
host's, and the benchmark's acceptance gates it on median drift alone.
Also prints each run's wall time, so the whole benchmark's duration can be
budgeted, and the host's CPU steal over each run's measured window, so
that an unsteady set can be traced to the host.

Run from the root of the checkout; exits 1 when any run fails or any
metric is not steady.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from harness import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED_BASE = 1000


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict | None, float, float | None]:
    """One untraced run: its result line, its wall time, and the host's CPU
    steal (percent) over its measured window."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=200, check=False)
    except subprocess.TimeoutExpired:
        return None, time.perf_counter() - t0, None
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None, wall, None
    record = next(json.loads(ln[len("# record "):]) for ln in lines
                  if ln.startswith("# record "))
    return json.loads(lines[-1]), wall, record["health_measured"]["steal_pct"]


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    if first == 0:
        return 0.0
    change = (later - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args(argv)

    metrics = {m["name"]: m for m in spec["end_to_end"]}
    steady = True
    for wi, workload in enumerate(args.workloads):
        sets = []
        for s in range(args.sets):
            values: dict[str, list[float]] = {n: [] for n in metrics}
            walls, steals, failed = [], [], 0
            for r in range(args.runs):
                seed = SEED_BASE + 1000 * wi + 100 * s + r
                result, wall, steal = one_run(workload, seed, args.seconds)
                walls.append(round(wall, 1))
                steals.append(steal)
                if result is None or not result["correct"]:
                    failed += 1
                    continue
                for n in metrics:
                    values[n].append(result["metrics"][n]["value"])
            sets.append(values)
            print(f"{workload} set {s}: run walls {walls} s, failed runs {failed}")
            print(f"{workload} set {s}: CPU steal % while measuring {steals}", flush=True)
            steady &= failed == 0
        print(f"{'metric':16s} {'set':>3s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s} {'vs set 0':>8s}")
        for n, m in metrics.items():
            base = None
            for s, values in enumerate(sets):
                vals = values[n]
                if not vals:
                    continue
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else 0.0
                base = med if base is None else base
                drift = worse_by(base, med, m["better"])
                ok = (n == "setup_s" or spread < m["bound"] / 3) and drift <= m["bound"]
                steady &= ok
                print(f"{n:16s} {s:3d} {q1:12.5g} {med:12.5g} {q3:12.5g} "
                      f"{spread:7.3f} {m['bound']:6.2f} {drift:8.3f}{'' if ok else '  <-- unsteady'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
