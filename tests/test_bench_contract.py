"""bench.py's headline lists are data, not code — pin their contract
against the catalog so a rename/removal surfaces at test time, not as
a KeyError mid-bench (or worse, mid-round in the driver's BENCH run)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench
from lenses_topology_example_spark.catalog import _CATALOG


def test_headline_names_exist_in_catalog():
    missing = [n for n in bench.HEADLINE if n not in _CATALOG]
    assert not missing, f"HEADLINE names not in catalog: {missing}"


def test_headline_has_no_duplicates():
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_core_tier_is_a_prefix_of_full():
    assert bench.HEADLINE_CORE == bench.HEADLINE[: len(bench.HEADLINE_CORE)]
    assert 30 <= len(bench.HEADLINE_CORE) < len(bench.HEADLINE)


def test_anchors_cover_headline():
    """Every headline query has an anchor (bench_compare's NO-ANCHOR
    path is for mid-round additions only — close the gap each round)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    anchors = json.load(open(os.path.join(root, "bench_anchors.json")))[
        "anchors"
    ]
    missing = [n for n in bench.HEADLINE if n not in anchors]
    assert not missing, f"headline entries without anchors: {missing}"


def test_headline_covers_catalog():
    """Round-12 gate (r11 VERDICT ask #4): every catalog entry is
    benched and anchored — an un-timed entry is a blind spot where a
    plan regression stays invisible to bench_compare. HEADLINE is
    allowed to exceed the catalog only never to miss part of it."""
    missing = [n for n in _CATALOG if n not in set(bench.HEADLINE)]
    assert not missing, f"catalog entries outside the bench gate: {missing}"


def test_timed_loop_times_memo_builds_in_own_rows(spark, fresh_sf_dir):
    """Two consumers of the shared token table: its build (and the
    documents load under it) is timed once, as `memo:<key>` rows placed
    before the first consumer, the second consumer's row carries no
    build, and the rows add up to the loop's wall time."""
    from lenses_topology_example_spark import memo
    from lenses_topology_example_spark.catalog import queries
    from lenses_topology_example_spark.conf import ensure_runtime_confs

    ensure_runtime_confs(spark)
    first, second = "pmi_collocations", "corpus_drift"
    with memo.recording() as builds:
        rows, wall = bench.timed_loop(
            spark, queries(), [first, second], fresh_sf_dir
        )
    keys = list(rows)
    built = [f"memo:{k}" for k, _, _ in builds]
    assert "memo:tokens" in built
    assert len(built) == len(set(built)), f"a memo was built twice: {built}"
    assert keys == built + [first, second]
    assert abs(sum(rows.values()) - wall) <= 0.05 * wall
