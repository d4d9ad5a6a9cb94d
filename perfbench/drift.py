#!/usr/bin/env python3
"""Within-session drift: many passes of the roster in one session.

    python3 perfbench/drift.py --seed 1 --passes 6 [--cleanup]

Prints one JSON line per pass: its wall time, the CPU time the hypervisor
took from this machine during it (steal, summed over CPUs), and what the
session holds after it (cached RDDs and their size, temporary views). With
``--cleanup`` each pass is preceded by Python and JVM garbage collection and
the removal of the session's temporary views. Then prints the least-squares
slope of pass time over pass index. A slope that follows the steal points
at the host; one that follows the session state and vanishes with
``--cleanup`` points at accumulation in the session.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def slope(ys: list[float]) -> float:
    n = len(ys)
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((x - mx) * (y - my) for x, y in enumerate(ys)) / sum((x - mx) ** 2 for x in range(n))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=6)
    ap.add_argument("--cleanup", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"drift-{os.getpid()}")
    run.configure_env(root, work)
    sys.path.insert(0, root)
    try:
        from cicevse2024_tfm_datapipeline_spark.plans import load_all
        from cicevse2024_tfm_datapipeline_spark.session import get_spark

        queries = load_all()
        plan = workloads.prepare("roster_sf01", work, args.seed, queries, time.perf_counter)
        spark = get_spark("perfbench-drift")
        try:
            run.run_pass(spark, plan.warmup, plan, queries)
            walls = []
            for i in range(args.passes):
                if args.cleanup:
                    for t in spark.catalog.listTables():
                        if t.isTemporary:
                            spark.catalog.dropTempView(t.name)
                    gc.collect()
                    spark.sparkContext._jvm.System.gc()
                steal0 = run.steal_s()
                wall, _, failures = run.run_pass(spark, plan.calls, plan, queries)
                stolen = run.steal_s() - steal0
                infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                walls.append(wall)
                print(json.dumps({
                    "pass": i,
                    "wall_s": round(wall, 3),
                    "steal_s": round(stolen, 2),
                    "cached_rdds": len(infos),
                    "cached_mb": round(sum(r.memSize() + r.diskSize() for r in infos) / 2**20, 2),
                    "temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
                    "failures": failures,
                }), flush=True)
            print(json.dumps({"slope_s_per_pass": round(slope(walls), 4), "cleanup": args.cleanup}))
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
