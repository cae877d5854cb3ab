#!/usr/bin/env python
"""Empty-input robustness sweep: run EVERY oracle-paired catalog query
against an empty (schema-identical) copy of the tables and compare
Spark vs DuckDB, exactly like the driver's correctness gate.

Usage:
    python tools/empty_sweep.py

Empty partitions, replayed no-data triggers, and zero-match filters
are routine at 100 TB; this sweep catches the two failure classes they
produce: ANSI crashes (DIVIDE_BY_ZERO on a 0-count denominator) and
NULL-semantics divergence (SUM over empty is NULL — an uncoalesced
counter makes booleans/ints NULL on one engine only). The round-8 run
found and fixed one crash (erasure_plan) and three NULL divergences
(constraint_audit, k_anonymity, embed_threshold_sweep).

KNOWN_DIVERGENT: Spark emits ZERO rows for ROLLUP/CUBE/GROUPING SETS
over empty input (the grand-total grouping set produces nothing),
DuckDB emits the grand-total row per the SQL standard — an engine
behavior, not an operator bug; pinned by
tests/test_empty_inputs.py::test_rollup_empty_divergence_is_stable.

Takes ~6-8 min (one Spark job per query); run per-round, not in the
pytest suite (tests/test_empty_inputs.py covers the fixed entries)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    ),
)

KNOWN_DIVERGENT = {"rollup_sales", "cube_sales", "grouping_sets"}


def build_empty_dataset(dst: str, schema_src: str) -> None:
    import pyarrow.parquet as pq

    from lenses_topology_example_spark.tables import TABLES

    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        src = pq.read_table(f"{schema_src}/{t}.parquet")
        pq.write_table(src.schema.empty_table(), f"{dst}/{t}.parquet")


def main() -> int:
    from lenses_topology_example_spark import catalog
    from lenses_topology_example_spark.session import default_heap, get_spark
    from oracle import compare

    schema_src = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    dst = "/tmp/spark_graft_empty"
    build_empty_dataset(dst, schema_src)

    spark = get_spark("empty-sweep", driver_memory=default_heap(schema_src))
    qs, sqls = catalog.queries(), catalog.oracle_sql()
    err, mismatch, expected, ok = [], [], [], 0
    for name in sorted(sqls):
        try:
            compare(qs[name](spark, dst), sqls[name], dst)
            ok += 1
        except AssertionError as e:
            if name in KNOWN_DIVERGENT:
                expected.append(name)
            else:
                mismatch.append((name, str(e)[:200]))
        except Exception as e:  # noqa: BLE001 — report, don't die
            err.append((name, f"{type(e).__name__}: {str(e)[:200]}"))
    print(
        f"OK {ok} / KNOWN-DIVERGENT {len(expected)} / "
        f"MISMATCH {len(mismatch)} / ERROR {len(err)}"
    )
    for n, m in mismatch:
        print("MISMATCH", n, m)
    for n, m in err:
        print("ERROR", n, m)
    return 1 if (mismatch or err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
