"""Standing repeated-subplan gate (r15 VERDICT ask #2): the manual
catalog-wide scan that found round 15's three real 1.5-3.3x plan
defects (dedup_tfidf_cosine, copurchase_triangles, basket_lift — a
frame consumed 3+ times gets ZERO exchange reuse in Spark unless it is
memo-persisted) now runs on every pytest invocation, so a future memo
regression fails a test instead of costing a round.

Rule of record (BASELINE.md round-15 "plan audit closure"): an entry
is a REPEATED-SUBPLAN suspect when its optimized logical plan
references the SAME base table >= 4 times with no InMemoryRelation
anywhere in the plan AND its in-suite cost exceeds 0.8 s (sf0.1
anchor, bench_anchors.json) — below that, re-deriving a cheap frame
beats paying a persist. Counting is per-table, not total: a 5-way
multi-table join touches 5 relations once each and is fine; lineitem
appearing 12 times in one plan (copurchase_triangles pre-fix) is the
defect. The fix is a memo: build the shared frame once through
memo.cached; bench.py then times that build as its own row.
"""

from __future__ import annotations

import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Optimized-plan base relations keep the FULL table schema (pruning
# happens at the physical scan), so the first column name identifies
# the table.
_FIRST_COL_TO_TABLE = {
    "r_regionkey": "region",
    "n_nationkey": "nation",
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

COST_FLOOR_SEC = 0.8  # sf0.1 in-suite anchor below which re-derivation wins
REF_THRESHOLD = 4  # same-table references that demand a memo


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _table_ref_counts(opt_plan: str) -> dict[str, int]:
    """Base-parquet references per table in an optimized plan string.
    InMemoryRelation nodes do NOT print their cached child plan, so a
    memoized frame's upstream scans are correctly not counted."""
    counts: dict[str, int] = {}
    for m in re.finditer(r"(?<!InMemory)Relation \[(\w+)#", opt_plan):
        table = _FIRST_COL_TO_TABLE.get(m.group(1), m.group(1))
        counts[table] = counts.get(table, 0) + 1
    return counts


def test_no_unmemoized_repeated_subplans(catalog_dfs):
    anchors = json.load(open(os.path.join(ROOT, "bench_anchors.json")))[
        "anchors"
    ]
    suspects = []
    for name, df in catalog_dfs.items():
        if anchors.get(name, 0.0) <= COST_FLOOR_SEC:
            continue  # cheap: re-derivation is the right call
        opt = _optimized(df)
        if "InMemoryRelation" in opt:
            continue  # memoized (the fix class) — exchange reuse exists
        counts = _table_ref_counts(opt)
        worst = max(counts.values(), default=0)
        if worst >= REF_THRESHOLD:
            table = max(counts, key=counts.get)
            suspects.append((name, table, worst, anchors.get(name)))
    assert not suspects, (
        "repeated-subplan suspects (same base table scanned >= "
        f"{REF_THRESHOLD}x, no memo, in-suite cost > {COST_FLOOR_SEC}s "
        "— build the shared frame once via memo.cached(..., lambda: "
        f"frame.persist()) and re-anchor): {suspects}"
    )
