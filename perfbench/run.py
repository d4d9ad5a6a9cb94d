#!/usr/bin/env python3
"""Repository benchmark: end-to-end and per-layer numbers for one workload.

Run from the repository root:

    python3 perfbench/run.py --workload roster_sf01 --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced pass (see ``perfbench/README.md``). Every output is
checked; the last stdout line is the JSON summary
``{"correct", "attempted", "failed", "metrics"}``. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in the current directory and
removed at exit; Spark's local directories and temporary files go there too.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "cicevse2024_tfm_datapipeline_spark"
JVM_HEAP = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "call_p50_s": "s",
    "call_p90_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of one process (its own threads only)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (all CPUs together). A shared host shows its contention here."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def configure_env(root: str, work: str) -> None:
    """Local session on every core; all temporary files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_SHUFFLE_PARTITIONS": cpus,
            "SPARK_DRIVER_MEMORY": JVM_HEAP,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            # no hsperfdata file: the JVM would write it under /tmp whatever java.io.tmpdir says
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        }
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def execute(call, spark, plan, queries, tracer=None):
    """One call, as a user makes it: build, then the action."""
    if tracer is None:
        out = workloads.build(call, spark, plan, queries)
        return out.count() if call.kind in ("query", "stream") else out
    return tracer.traced_call(call, spark, plan, queries)


def run_pass(spark, calls, plan, queries, tracer=None):
    latencies: list[tuple[str, float]] = []
    failures: list[str] = []
    t_pass = time.perf_counter()
    for call in calls:
        t0 = time.perf_counter()
        try:
            result = execute(call, spark, plan, queries, tracer)
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
            latencies.append((call.name, time.perf_counter() - t0))
            failures.append(f"{call.name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        latencies.append((call.name, time.perf_counter() - t0))
        problem = workloads.check(call, result)
        if problem is not None:
            failures.append(f"{call.name}: {problem}")
    return time.perf_counter() - t_pass, latencies, failures


def timed_passes(spark, plan, queries, jvm: int, seconds: float):
    """Whole passes until ``seconds`` have passed (at least one), with the
    CPU time the Python process and the JVM spent in each."""
    walls, cpus, latencies, failures = [], [], [], []
    t_run = time.perf_counter()
    while not walls or time.perf_counter() - t_run < seconds:
        cpu0 = cpu_s("self") + cpu_s(jvm)
        wall, lat, fail = run_pass(spark, plan.calls, plan, queries)
        cpus.append(cpu_s("self") + cpu_s(jvm) - cpu0)
        walls.append(wall)
        latencies += lat
        failures += fail
    return walls, cpus, latencies, failures


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, PACKAGE)) and os.path.isfile(os.path.join(root, "bench.py"))):
        print(f"perfbench: {PACKAGE}/ and bench.py not found in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str) -> int:
    configure_env(root, work)
    sys.path.insert(0, root)
    import bench

    missing = set(workloads.ROSTER) - set(bench.HEADLINE)
    if missing:
        raise RuntimeError(f"roster queries not in bench.HEADLINE: {sorted(missing)}")

    t0 = time.perf_counter()
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    queries = load_all()
    load_all_s = time.perf_counter() - t0
    plan = workloads.prepare(args.workload, work, args.seed, queries, time.perf_counter)
    reset_peak_rss()  # the Python peak should not be the input generator's

    t0 = time.perf_counter()
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        _, warm_latencies, warm_failures = run_pass(spark, plan.warmup, plan, queries)
        setup_s = process_age_s() - plan.fixture_s - plan.oracle_s

        jvm = spark.sparkContext._gateway.proc.pid
        steal0 = steal_s()
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.start()
            try:
                wall, latencies, failures = run_pass(spark, plan.calls, plan, queries, tracer)
                tracer.add_session_state()
            finally:
                tracer.stop()
            metrics = tracer.layer_metrics(wall, get_spark_s, load_all_s)
            walls = [wall]
        else:
            walls, cpus, latencies, failures = timed_passes(spark, plan, queries, jvm, args.seconds)
            metrics = None
        stolen = steal_s() - steal0
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm)
    finally:
        stop_spark(spark)

    failures += [f"warm-up {f}" for f in warm_failures]
    times = [s for _, s in latencies]
    rows_per_pass = sum(c.input_rows for c in plan.calls)
    wall_s = stats.median(walls)
    if metrics is None:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "call_p50_s": stats.median(times),
            "call_p90_s": stats.percentile(times, 0.9),
            "rows_per_s": rows_per_pass / wall_s,
            "cpu_s": stats.median(cpus),
            "peak_rss_mb": rss_mb,
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END_UNITS.items()}
    high = stats.high_percentile(times)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(walls),
        "calls": len(times),
        "highest_percentile_with_10_beyond": high[0] if high else None,
        "fixture_s": round(plan.fixture_s, 3),
        "oracle_s": round(plan.oracle_s, 3),
        "input_rows_per_pass": rows_per_pass,
        "host_steal_s": round(stolen, 2),
        "latencies_s": [[name, round(s, 3)] for name, s in latencies],
        "failures": failures,
    }
    print(json.dumps(info), flush=True)
    attempted = len(times) + len(warm_latencies)  # timed and warm-up calls, all checked
    print(stats.summary_line(not failures, attempted, len(failures), metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
