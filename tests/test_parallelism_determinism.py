"""The repo's central determinism claim — decimal-disciplined sums,
round-tripped ratios, and tie-broken orders are IDENTICAL at any
parallelism — tested directly: repartition every input to different
partition counts (changing partial-aggregation accumulation order) and
require bit-identical results.

The single-row-group testdata means scan splits never vary locally, so
the lever is an input-side repartition injected through each operator
module's load_table binding (modules import the symbol, so the patch is
per-module)."""

from __future__ import annotations

import math

import pytest

from lenses_topology_example_spark import memo, tables
from lenses_topology_example_spark.operators import dedup, similarity


def _canon_rows(df):
    rows = []
    for r in df.collect():
        vals = []
        for c in sorted(df.columns):
            v = r[c]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append((type(v).__name__, v))
        rows.append(tuple(vals))
    return sorted(rows, key=repr)


def _run_with_parts(spark, sf_dir, module, fn_name, n_parts):
    """Run module.fn with its input binding wrapped to repartition(n_parts).

    Modules that scan tables directly are patched through their
    load_table import. embed_stats consumers read through the shared,
    memo-persisted similarity.emb_base frame (round 17), so the
    repartition is injected AFTER that frame instead — same lever
    (partial-aggregation accumulation order downstream of the input),
    and it sidesteps the memo, which would otherwise serve the first
    run's partitioning to every later run.

    Every session memo for this (app, sf_dir) is dropped first, so each
    repartitioned run REBUILDS the memoized frames under the injected
    partitioning (otherwise the base run populates pagerank_frac /
    emb_base / containment_pairs, later runs consume the cached frame,
    and the test passes vacuously)."""
    memo.drop(spark, sf_dir)
    patches = []  # (obj, attr, original) to restore

    def _patch(obj, attr, repl):
        patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, repl)

    if hasattr(module, "load_table"):

        def repartitioned(s, d, t):
            df = tables.load_table(s, d, t)
            return df.repartition(n_parts) if n_parts else df

        _patch(module, "load_table", repartitioned)

    # emb_base consumers (embed_stats via module attribute, sketches via
    # a call-time `from .similarity import emb_base`): inject AFTER the
    # memoized frame — the memo is also evicted above, so both the memo
    # build and the downstream aggregation see the partitioning lever.
    orig_emb_base = similarity.emb_base

    def repartitioned_base(s, d):
        df = orig_emb_base(s, d)
        return df.repartition(n_parts) if n_parts else df

    _patch(similarity, "emb_base", repartitioned_base)
    if hasattr(module, "emb_base"):
        _patch(module, "emb_base", repartitioned_base)

    # _parallel_scan would re-repartition an injected 1-partition frame
    # back to defaultParallelism (r17 ADVICE) — make it a pass-through
    # so the 1-partition leg actually runs at 1 partition.
    _patch(dedup, "_parallel_scan", lambda s, df: df)

    try:
        return _canon_rows(getattr(module, fn_name)(spark, sf_dir))
    finally:
        for obj, attr, orig in reversed(patches):
            setattr(obj, attr, orig)
        # memos built under the injected partitioning must not leak
        # into later runs/tests
        memo.drop(spark, sf_dir)


# (module path, query fn) — the accumulation-order-sensitive classes:
# decimal sums over doubles, round-tripped ratios/logs, exact moments,
# per-edge-rounded fixed-iteration propagation, centroid means.
_CASES = [
    ("lenses_topology_example_spark.operators.relational", "q_agg_revenue"),
    ("lenses_topology_example_spark.operators.text", "q_lm_score"),
    ("lenses_topology_example_spark.operators.sketches", "q_corr_text_embedding"),
    ("lenses_topology_example_spark.operators.dedup", "q_source_pagerank"),
    ("lenses_topology_example_spark.operators.embed_stats", "q_kmeans_refine"),
    ("lenses_topology_example_spark.operators.windows", "q_interarrival_stats"),
    # round 9: scalar-threshold shapes — a decimal-exact sum feeds a
    # double-divide average whose 1.2x/1.25x comparison must admit the
    # SAME boundary rows at any accumulation order
    ("lenses_topology_example_spark.operators.relational3", "q_important_parts"),
    ("lenses_topology_example_spark.operators.relational3", "q_shipping_priority"),
]


@pytest.mark.parametrize("modpath,fn", _CASES)
def test_bit_identical_across_partitionings(spark, sf_dir, modpath, fn):
    import importlib

    module = importlib.import_module(modpath)
    base = _run_with_parts(spark, sf_dir, module, fn, None)
    one = _run_with_parts(spark, sf_dir, module, fn, 1)
    seven = _run_with_parts(spark, sf_dir, module, fn, 7)
    assert base == one, f"{fn}: 1-partition run diverged"
    assert base == seven, f"{fn}: 7-partition run diverged"
