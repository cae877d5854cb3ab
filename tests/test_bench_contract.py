"""bench.py and tools/bench_compare.py contracts: every catalog entry is
anchored, memo builds are timed in their own rows, a named run keeps
each entry's fastest run without touching the full-run record, and the
adjudication tool reads the run bench.py just wrote or compares two."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench
from lenses_topology_example_spark import catalog
from lenses_topology_example_spark.session import DEFAULT_SF_DIR
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


def test_warm_dir_is_the_smallest_slice_beside_the_default():
    """Every target warms up at the sf0.001 slice beside the default,
    whatever its path says; only that slice itself skips the warm-up."""
    home = os.path.dirname(DEFAULT_SF_DIR)
    warm = os.path.join(home, "sf0.001")
    for target in (f"{home}/sf0.1", f"{home}/sf0.01", "/tmp/r18_sf1"):
        assert bench.warm_dir(target) == warm, target
    assert bench.warm_dir(warm) is None
    assert bench.warm_dir(warm + "/") is None


def test_named_run_keeps_min_rows_and_the_full_record(
    spark, fresh_sf_dir, capsys
):
    """A named run with runs=2: memo rows come first and are built once,
    each entry row is no slower than any of its runs, the per-run lines
    carry the job-group counts, and no bench_full_*.json is rewritten."""
    from lenses_topology_example_spark import memo
    from lenses_topology_example_spark.catalog import queries
    from lenses_topology_example_spark.conf import ensure_runtime_confs

    ensure_runtime_confs(spark)
    record = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(ROOT, "bench_full_*.json"))
    }
    first, second = "pmi_collocations", "corpus_drift"
    with memo.recording() as builds:
        full = bench.measure(
            spark, queries(), [first, second], fresh_sf_dir, runs=2
        )
    lines = capsys.readouterr().out.splitlines()

    built = [f"memo:{k}" for k, _, _ in builds]
    assert "memo:tokens" in built
    assert len(built) == len(set(built)), f"a memo was built twice: {built}"
    assert list(full["queries"]) == built + [first, second]

    runs: dict[str, list[float]] = {}
    for line in lines:
        m = re.fullmatch(
            r"(\w+) run(\d): build=([\d.]+)s exec=([\d.]+)s "
            r"jobs=(\d+) stages=(\d+) tasks=(\d+)",
            line,
        )
        if m:
            assert int(m[5]) >= 1 and int(m[7]) >= 1, line
            runs.setdefault(m[1], []).append(float(m[3]) + float(m[4]))
    assert {n: len(t) for n, t in runs.items()} == {first: 2, second: 2}
    for name, times in runs.items():
        # 1.5 ms: the printed parts and the row are each rounded to 1 ms
        assert all(full["queries"][name] <= t + 0.0015 for t in times), name

    last = json.loads(lines[-1])
    assert (full["tier"], last["tier"]) == ("named", "named")
    assert last["full_map"] == "bench_named_latest.json"
    with open(os.path.join(ROOT, "bench_named_latest.json")) as f:
        assert json.load(f)["queries"] == full["queries"]
    assert {p: os.stat(p).st_mtime_ns for p in record} == record


def test_bench_compare_pair_flags_above_one_and_a_half_steps(
    tmp_path, monkeypatch, capsys
):
    """Two maps at --step-factor 10: ratio 20 is flagged, ratio 9 is
    not, memo rows never are, and the exit code is 1."""
    maps = {
        "a.json": {"sf": 0.01, "queries": {"memo:tokens": 0.1, "linear": 1.0, "steep": 0.5}},
        "b.json": {"sf": 0.1, "queries": {"memo:tokens": 9.0, "linear": 9.0, "steep": 10.0}},
    }
    for name, m in maps.items():
        (tmp_path / name).write_text(json.dumps(m))
    monkeypatch.setattr(
        sys, "argv",
        ["bench_compare.py", str(tmp_path / "a.json"),
         str(tmp_path / "b.json"), "--step-factor", "10"],
    )
    assert bench_compare.main() == 1
    out = capsys.readouterr().out.splitlines()
    flagged = [ln.split(":")[0] for ln in out if "SUPER-LINEAR" in ln]
    assert flagged == ["steep"]
    assert any(ln.startswith("linear: 1.00s -> 9.00s") for ln in out)
    assert any(ln.startswith("BUILD memo:tokens") for ln in out)
