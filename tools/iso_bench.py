#!/usr/bin/env python
"""Isolated per-query timing: fresh JVM, sf0.001 warmup, n timed runs.

Usage:
    python tools/iso_bench.py QUERY [QUERY ...] [--runs N] [--sf DIR]

The adjudication companion to tools/bench_compare.py: in-suite
readings on this host include residency and noise-phase effects, so a
regression claim requires an isolated minimum above the bar, not an
in-suite sample. Prints one line per run plus the minimum."""

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
    # same default + env override as bench.py, so an adjudication rerun
    # times the SAME dataset as the flagged in-suite reading
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1
    warm_dir = sf_dir.replace("sf0.1", "sf0.001")
    warm = warm_dir != sf_dir and os.path.isdir(warm_dir)
    spark = get_spark("iso-bench", driver_memory=default_heap(sf_dir))
    qs = catalog.queries()
    for name in names:
        if warm:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        best = None
        for r in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            print(f"{name} run{r}: {dt:.2f}s", flush=True)
        print(f"{name} MIN: {best:.2f}s", flush=True)


if __name__ == "__main__":
    main()
