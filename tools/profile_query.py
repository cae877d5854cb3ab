#!/usr/bin/env python
"""Isolated per-query timing and profiling: fresh JVM, sf0.001 warmup,
n timed runs (default 3), each split into plan-build and execution time
with the Spark jobs/stages/tasks it scheduled.

Usage:
    python tools/profile_query.py QUERY [QUERY ...] [--runs N] [--sf DIR]

For each query: builds the DataFrame (timed), executes via the noop sink
(timed, per run), and reports the job/stage/task counts the execution
scheduled (from the status tracker delta), then `NAME MIN: <s>`, the
fastest run's build+exec. Jobs scheduled per run is the fixed per-query
overhead multiplier on a loaded host; build time is driver-side
Catalyst + Python work the bench's timed region also pays.

This is the adjudication companion to tools/bench_compare.py: in-suite
readings include residency and noise-phase effects, so a regression
claim needs an isolated MIN above the bar, not an in-suite sample.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from lenses_topology_example_spark import catalog  # noqa: E402
from lenses_topology_example_spark.session import (  # noqa: E402
    default_heap,
    get_spark,
)


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    spark = get_spark("profile", driver_memory=default_heap(sf_dir))
    sc = spark.sparkContext
    tracker = sc.statusTracker
    qs = catalog.queries()
    warm_dir = sf_dir.replace("sf0.1", "sf0.001")
    for name in names:
        if os.path.isdir(warm_dir) and warm_dir != sf_dir:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        times = []
        for r in range(runs):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t_build = time.perf_counter() - t0
            jobs_before = set(tracker().getJobIdsForGroup(None) or [])
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - t1
            jobs_after = set(tracker().getJobIdsForGroup(None) or [])
            new_jobs = jobs_after - jobs_before
            n_stages = 0
            n_tasks = 0
            for j in new_jobs:
                ji = tracker().getJobInfo(j)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker().getStageInfo(sid)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            print(
                f"{name} run{r}: build={t_build:.3f}s exec={t_exec:.3f}s "
                f"jobs={len(new_jobs)} stages={n_stages} tasks={n_tasks}",
                flush=True,
            )
            times.append(t_build + t_exec)
        print(f"{name} MIN: {min(times):.2f}s", flush=True)


if __name__ == "__main__":
    main()
