#!/usr/bin/env python
"""Capture .explain("formatted") for catalog queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py --tag TAG [--suffix before] QUERY [QUERY ...]

Writes plans/<tag>/<query>_<suffix>.txt. ``--tag`` is required: the
tool never picks a plans/ directory on its own.
"""

from __future__ import annotations

import os
import sys

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
    tag, suffix = None, "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    warm = False
    i = 0
    while i < len(args):
        if args[i] == "--tag":
            tag = args[i + 1]; i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]; i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--warm":
            # steady-state capture: execute the query once (noop sink)
            # so session memos materialize, then rebuild and capture —
            # the plan the suite/anchor timings actually measure after
            # the first execution
            warm = True; i += 1
        else:
            names.append(args[i]); i += 1
    if tag is None:
        raise SystemExit("--tag TAG is required (writes plans/<tag>/)")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans", driver_memory=default_heap(sf_dir))
    qs = catalog.queries()
    for name in names:
        if warm:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)",
              flush=True)


if __name__ == "__main__":
    main()
