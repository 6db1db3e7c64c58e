"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload rebin_cached --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run sizes Spark to the host
(local[nproc], a driver heap of a quarter of physical memory, at most 2g),
keeps every file it writes under ``.perfbench_work/`` in the checkout,
synthesizes the workload's inputs from the seed, starts the session,
prepares the engine-side inputs, discards warm-up iterations and then
measures iterations for ``--seconds``. Every iteration's outputs are
checked.

With ``--trace 0`` it reports the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` it alternates untraced and traced iterations, runs the
workload's per-layer extras, and reports the per-layer metrics. The last
line of standard output is the result as one JSON object. Without the
engine package next to this directory the run exits with code 2 and
prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# every run ends well inside the 180 s a run may take
DEADLINE_S = 170
MIN_ITERATIONS = 3


class Deadline(BaseException):
    """Raised by the alarm; a BaseException so that no ``except Exception``
    on the way, in the engine or here, can swallow it."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def configure_environment(work: str) -> dict:
    """Size Spark to this host and keep every scratch file in the checkout.
    Must run before pyspark starts the JVM."""
    from harness import mem_total_bytes

    nproc = len(os.sched_getaffinity(0))
    heap = f"{max(1, min(2, mem_total_bytes() // 2**30 // 4))}g"
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "scratch", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    return {"nproc": nproc, "heap": heap}


class Tally:
    """Operations attempted and failed, with the first reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, op: str, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 10:
                self.reasons.append(f"{op}: {why}")


def attempt(wl, tr, tally: Tally):
    """One timed iteration, then its checks (untimed). Returns
    (seconds, outcome), or None when the iteration raised."""
    t0 = time.perf_counter()
    try:
        with tr.span("iteration", "workload"):
            outcome = wl.iteration(tr)
    except Exception:  # an engine failure counts against error_rate
        traceback.print_exc()
        for op in wl.ops:
            tally.record(op, False, "iteration raised")
        return None
    dt = time.perf_counter() - t0
    try:
        results = wl.check(outcome)
    except Exception:
        traceback.print_exc()
        results = [(op, False, "check raised") for op in wl.ops]
    for op, ok, why in results:
        tally.record(op, bool(ok), why)
    return dt, outcome


def start_session(tr, name: str, nproc: int):
    from sed_binning_spark import get_spark

    t0 = time.perf_counter()
    with tr.span("session.get_spark", "session"):
        spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{nproc}]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def kill_session() -> None:
    """Kill the JVM outright; its Python workers exit when it is gone."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    proc.kill()
    proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def layer_metrics(wl, tr, session_s: float, untraced: list[float], traced: list[float],
                  counters: list[dict]) -> dict:
    from harness import median

    m = {"session.get_spark_s": session_s}
    for call, phases in wl.bin_calls.items():
        notes = tr.notes.get(call, [])
        m[f"binning.{call}.s"] = median(tr.durations(f"binning.{call}"))
        m[f"binning.{call}.driver_route"] = float(
            bool(notes) and notes[-1].get("strategy") == "driver")
        for phase in phases:
            m[f"binning.{call}.{phase}"] = median([n.get(phase, 0.0) for n in notes])
        m[f"binning.{call}.occupancy"] = median([n["occupancy"] for n in notes])
    written, write_s = 0, 0.0
    for span, metric in (("io.to_h5", "io.to_h5_s"), ("io.to_nexus", "io.to_nexus_s"),
                         ("io.to_tiff", "io.to_tiff_s")):
        durations = tr.durations(span)
        m[metric] = median(durations)
        if durations:
            written += os.path.getsize(wl.io_files[span])
            write_s += m[metric]
    m["io.write_mb_per_s"] = written / 1e6 / write_s if write_s else 0.0
    m.update(wl.layer_metrics(tr))
    for key in ("jobs", "tasks", "shuffle_write_bytes"):
        m[f"spark.{key}"] = median([float(c[key]) for c in counters])
    m["trace.overhead_s"] = median(traced) - median(untraced)
    per_cycle = [v for k, v in tr.self_times().items() if k.startswith("cycle-")]
    for layer in sorted({layer for c in per_cycle for layer in c}):
        m[f"trace.self_s.{layer}"] = median([c.get(layer, 0.0) for c in per_cycle])
    return m


def run(args, env: dict, work: str) -> tuple[dict, Tally, dict]:
    from harness import NullTracer, Tracer, cpu_times, health_delta, host_facts
    from workloads import WORKLOADS

    tr = Tracer() if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](args.seed, work, env["nproc"])
    wl.synthesize()

    cpu_run0 = cpu_times()
    tr.iteration = "setup"
    spark, session_s = start_session(tr, wl.name, env["nproc"])
    try:
        facts = host_facts(args.seed, env["heap"], spark)
        facts["spark_driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
        metrics, tally, record = measure(args, wl, spark, session_s, tr)
        if args.trace:
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tr.dump(os.path.join(WORK_ROOT, "traces",
                                 f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
    except BaseException:
        kill_session()
        raise
    stop_session(spark)
    record["health_run"] = health_delta(cpu_run0, cpu_times())
    record.update(facts)
    return metrics, tally, record


def measure(args, wl, spark, session_s: float, tr) -> tuple[dict, Tally, dict]:
    """Set-up after the session start, warm-up, then the measured window."""
    from harness import NullTracer, SparkCounters, cpu_times, health_delta, median, peak_rss_mb

    untraced_tr = NullTracer()
    t0 = time.perf_counter()
    wl.prepare(spark)
    prep_s = time.perf_counter() - t0
    wl.expectations()
    tally = Tally()
    warm = []
    for _ in range(wl.warmups):
        t0 = time.perf_counter()
        attempt(wl, untraced_tr, tally)
        warm.append(time.perf_counter() - t0)
    setup_s = session_s + prep_s + sum(warm)

    cpu0 = cpu_times()
    t_end = time.perf_counter() + args.seconds
    untraced, traced, firsts, counters = [], [], [], []
    items = 0
    cycle = 0
    spark_counters = SparkCounters(spark) if args.trace else None
    min_attempts = 1 if args.trace else MIN_ITERATIONS
    attempts = 0
    while attempts < min_attempts or time.perf_counter() < t_end:
        attempts += 1
        got = attempt(wl, untraced_tr, tally)
        if got is not None:
            untraced.append(got[0])
            firsts.append(got[1]["first_result_s"])
            items = got[1]["items"]
        if args.trace:
            tr.iteration = f"cycle-{cycle}"
            counts: dict = {}
            with spark_counters.group(f"perfbench-cycle-{cycle}", counts):
                got = attempt(wl, tr, tally)
            if got is not None:
                traced.append(got[0])
                counters.append(counts)
            with tr.span("extras", "workload"):
                for op, ok, why in wl.trace_extras(tr):
                    tally.record(op, bool(ok), why)
            cycle += 1
    health = health_delta(cpu0, cpu_times())
    if not untraced or (args.trace and not traced):
        raise RuntimeError("no iteration completed: " + "; ".join(tally.reasons))

    iter_s = median(untraced)
    rss = {"driver": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid())}
    metrics = {
        "setup_s": setup_s,
        "iter_s": iter_s,
        "items_per_s": items / iter_s,
        "first_result_s": median(firsts),
        "peak_rss_mb": rss["driver"] + rss["jvm"],
        "error_rate": tally.failed / max(1, tally.attempted),
    }
    if args.trace:
        metrics.update(layer_metrics(wl, tr, session_s, untraced, traced, counters))
    record = {
        "health_measured": health, "session_s": session_s, "prep_s": prep_s,
        "warmup_s": warm, "iterations_s": untraced, "traced_iterations_s": traced,
        "items_per_iteration": items, "peak_rss_mb_by_process": rss,
        "failures": tally.reasons,
    }
    return metrics, tally, record


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sed_binning_spark", "__init__.py")):
        print(f"perfbench: no sed_binning_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    # the engine reads its deployment settings when it is imported, so the
    # environment is configured before the first import of the package
    env = configure_environment(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        metrics, tally, record = run(args, env, work)
    except (Exception, Deadline):
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}
    missing = [n for n in wanted if n not in metrics and section == "end_to_end"]
    if missing:
        print(f"perfbench: workload produced no {missing}", file=sys.stderr)
        return 1
    record = {"workload": args.workload, "trace": args.trace, **record,
              "metrics": metrics}
    print("# record " + json.dumps(record))
    shown = dict(wanted)
    if not args.trace:
        shown.update(first_result_s="s", peak_rss_mb="MB", error_rate="ratio")
    for name, unit in shown.items():
        print(f"{name:48s} {metrics.get(name, 0.0):>16.6g} {unit}")
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                    for n, u in wanted.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
