#!/usr/bin/env python
"""Engine-side fingerprint parity for ROW-SHAPED catalog entries at
big slices — the cheap complement to tools/driver_sim.py's full row
canon (round 13: the replica's pure-Python canon costs ~10 min per
15 M-row output, which priced the 6 projection-shaped entries out of
the sf10 audit).

For each entry, BOTH engines aggregate their own result to one tiny
fingerprint row — no row transfer, no Python canon:

  n_rows                       COUNT(*)
  per numeric column           exact DECIMAL(38,6) sum (dsum shape,
                               compared as Decimal — no double cast,
                               so no 2^53 exposure in the audit itself)
  per string/bool column       COUNT(DISTINCT)
  per timestamp column         COUNT(DISTINCT)

This catches row loss/duplication and any value drift that moves a
sum or a distinct count. It is deliberately WEAKER than the driver
hash (a compensating pair of value errors could cancel in a sum) —
use it only where the full canon is cost-prohibitive and the entries
are projection-shaped (no aggregation, so no magnitude-dependent
cross-engine class can arise; their full-hash parity stands at the
smaller SFs).

Usage:
    SPARK_GRAFT_DRIVER_SF_DIR=/tmp/spark_graft_sf10 \
        python tools/row_audit.py big_orders date_fns2 ...
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = os.environ.get("SPARK_GRAFT_DRIVER_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    from pyspark.sql import SparkSession, functions as F

    from lenses_topology_example_spark import catalog
    from lenses_topology_example_spark.session import default_heap

    names = sys.argv[1:]
    if not names:
        raise SystemExit("pass entry names")

    # audit tool, not the driver replica: as big a heap as the host can
    # spare (the countDistinct shuffles over 15M+-row results need it
    # at sf10)
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("row-audit")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_SIM_DRIVER_MEM") or default_heap(SF),
        )
        .getOrCreate()
    )
    qs, osql = catalog.queries(), catalog.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    bad = []
    for name in names:
        df = qs[name](spark, SF)
        num, cat_cols = [], []
        for f in df.schema.fields:
            ts = f.dataType.simpleString()
            if ts in ("double", "float", "int", "bigint", "smallint") or ts.startswith("decimal"):
                num.append(f.name)
            else:
                cat_cols.append(f.name)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        aggs += [
            F.sum(F.col(c).cast("decimal(38,6)")).alias(f"s_{c}")
            for c in num
        ]
        aggs += [F.countDistinct(F.col(c)).alias(f"d_{c}") for c in cat_cols]
        srow = df.agg(*aggs).collect()[0].asDict()

        sel = ["COUNT(*) AS n_rows"]
        sel += [
            f'SUM(CAST("{c}" AS DECIMAL(38,6))) AS s_{c}' for c in num
        ]
        sel += [f'COUNT(DISTINCT "{c}") AS d_{c}' for c in cat_cols]
        orow = con.sql(
            f"SELECT {', '.join(sel)} FROM ({osql[name]})"
        ).fetchone()
        ocols = ["n_rows"] + [f"s_{c}" for c in num] + [f"d_{c}" for c in cat_cols]
        orow = dict(zip(ocols, orow))

        diffs = []
        for k in ocols:
            a, b = srow.get(k), orow.get(k)
            if isinstance(a, Decimal) or isinstance(b, Decimal):
                eq = (a is None and b is None) or (
                    a is not None and b is not None and Decimal(a) == Decimal(b)
                )
            else:
                eq = a == b
            if not eq:
                diffs.append((k, a, b))
        print(
            f"{name} {'FP-MATCH' if not diffs else 'FP-MISMATCH ' + str(diffs[:3])}",
            flush=True,
        )
        if diffs:
            bad.append(name)
    print(f"DONE {len(names)} entries, BAD: {bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
