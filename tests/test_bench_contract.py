"""bench.py and tools/bench_compare.py contracts: every catalog entry is
anchored, memo builds are timed in their own rows, and the adjudication
tool reads the run bench.py just wrote."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench
from lenses_topology_example_spark import catalog
from tools import bench_compare


def test_anchors_cover_catalog():
    """Every catalog entry has an anchor (bench_compare's NO-ANCHOR
    path is for mid-round additions only — close the gap each round)."""
    anchors = json.load(open(os.path.join(ROOT, "bench_anchors.json")))[
        "anchors"
    ]
    missing = [n for n in catalog.queries() if n not in anchors]
    assert not missing, f"catalog entries without anchors: {missing}"


def test_bench_compare_defaults_to_latest_run(monkeypatch, capsys):
    """With no argument, bench_compare judges the map the last
    `python bench.py` wrote, not an older committed sample."""
    monkeypatch.setattr(sys, "argv", ["bench_compare.py"])
    bench_compare.main()
    first = capsys.readouterr().out.splitlines()[0]
    assert first == "sample of record: bench_full_latest.json"


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
