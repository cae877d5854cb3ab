"""Tests of the benchmark itself: metric names and units, the tracer's
self-time arithmetic, the catalog sample, and a shortened smoke run of
each workload on the sf0.001 fixtures.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, ROOT)

from layers import names, unit_of  # noqa: E402
from run import E2E_UNITS, WORKLOADS  # noqa: E402
from spans import Tracer  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_metric_with_its_unit():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        (n, unit_of(n)) for n in names()
    ]
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    root = tr.add("root", "a", 0.0, 10.0)
    tr.add("c1", "b", 1.0, 3.0, root)
    tr.add("c2", "b", 2.0, 5.0, root)  # overlaps c1
    tr.add("c3", "b", 8.0, 12.0, root)  # runs past the parent's end
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(10.0 - 4.0 - 2.0)


def test_span_self_times_add_up_to_their_parents():
    tr = Tracer(True)
    with tr.span("entry", "entry"):
        with tr.span("build", "operators"):
            with tr.span("load", "tables"):
                pass
        with tr.span("collect", "spark.exec"):
            pass
    _assert_tree_adds_up(tr.spans, tr.self_times())


def _assert_tree_adds_up(spans: list[dict], selfs: dict) -> None:
    """For sequential (non-overlapping) children, a span's duration is its
    self time plus its children's durations."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        inside = sum(
            min(c["end"], s["end"]) - max(c["start"], s["start"])
            for c in kids.get(s["id"], ())
        )
        assert selfs[s["id"]] >= -1e-9
        assert selfs[s["id"]] + inside == pytest.approx(s["end"] - s["start"], abs=1e-6)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", "y"):
        pass
    assert tr.add("x", "y", 0.0, 1.0) is None
    assert tr.spans == []


@pytest.mark.parametrize("seconds", [10, 25, 60])
def test_catalog_sample_follows_each_modules_share(seconds):
    from collections import Counter

    from lenses_topology_example_spark.catalog import queries
    from wl_batch import builder_module, catalog_set

    everything = Counter(builder_module(n) for n in queries())
    sample = catalog_set(seconds)
    assert len(set(sample)) == len(sample)
    got = Counter(builder_module(n) for n in sample)
    for mod, n in everything.items():
        assert abs(got[mod] - len(sample) * n / len(queries())) < 1


def _run(workload: str, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _check_result(result: dict, expected: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0  # error_rate == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"])


@pytest.mark.parametrize("workload,seconds", [("catalog", 3), ("scale", 3), ("stream", 8)])
def test_traced_smoke_run(workload, seconds):
    report, result = _run(workload, seconds, trace=1)
    _check_result(result, {n: unit_of(n) for n in names()})
    assert set(report["end_to_end"]) == set(E2E_UNITS)
    with open(os.path.join(ROOT, report["trace_file"])) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    _assert_tree_adds_up(spans, {s["id"]: s["self"] for s in spans})


def test_untraced_smoke_run_reports_the_end_to_end_metrics():
    report, result = _run("catalog", 3, trace=0)
    _check_result(result, E2E_UNITS)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for key in ("host_start", "host_end"):
        assert set(report[key]) == {"nproc", "mem_available_mb", "load_1m", "steal_pct"}
