#!/usr/bin/env python
"""Benchmark harness: times catalog entries through the noop sink at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], after an untimed warm-up of the same entries
at the sf0.001 slice (warm_dir()).
Driver heap: $SPARK_GRAFT_DRIVER_MEM (default: half of MemAvailable,
capped at 32g at sf<=0.5 and 64g above — see session.default_heap()).

Usage:
    python bench.py [--runs N]                   # every catalog entry, tier "full"
    python bench.py NAME [NAME ...] [--runs N]   # named entries, tier "named"

Output contract:
  * an EARLY line `{"metric": "suite_seconds_full_map", ...}` with the
    complete map of rows, also persisted to a file;
  * the LAST line is compact and always fits a log tail:
    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {<top-10 slowest>: sec}, "n_queries": K,
     "tier": T, "full_map": F, "sf": S, "load_gate": {...}}

A plain run has tier "full" and writes bench_full_latest.json and
bench_full_c{cpus}.json next to this script. A named run has tier
"named", writes bench_named_latest.json only, and before the two lines
prints `NAME runR: build=… exec=… jobs= stages= tasks=` per entry and
run, the counts taken from the entry's job group.

Rows: each entry is timed `--runs` times (default 1) and its row is the
MIN over the runs. Memo builds (memo.py) are timed as their own
`memo:<key>` rows, from the run that builds them, not inside the entry
that first needs them (timed_loop()). "value" is the sum of the rows.

Each query is forced through the noop sink (full plan execution, zero
result-materialization overhead on the driver) — the number measures the
engine, not toPandas().

Expected log noise: Spark prints `WindowExec: No Partition Defined ...
may cause serious performance degradation` for every unpartitioned
window. The surviving ones are DELIBERATE and tiny — they run over
already-aggregated or SF-invariant frames, never the raw corpus:
lm_score's global token total (|V| rows), corpus_mix's global-share
denominator (#sources x #langs rows), zipf_fit's rank over the 200-row
head, top_supplier's max over the |suppliers| aggregate,
join_skew_stats' cumulative count over the |distinct df| histogram,
order_backlog's running sum over the |days| frame,
source_concentration's rank over |sources| rows, and theta_join_parts'
two cumulative-sum windows over the ~120k-cell part-price cent grid
(bounded by the price range, not the row count). The lm_score and
corpus_mix shapes are pinned window-above-aggregate by
tests/test_plans.py. Do not re-investigate these warnings; a NEW one
means a corpus-scale window crept in (cms_token_freq's top-N was one,
now a window-free TakeOrderedAndProject).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lenses_topology_example_spark import catalog, memo
from lenses_topology_example_spark.session import (
    DEFAULT_SF_DIR,
    cpu_count,
    default_heap,
    get_spark,
)


def _read_load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _steal_pct(interval: float = 1.0) -> float:
    """1-second hypervisor steal-time sample (r18): this sandbox is a
    VM whose 'stall phases' are CPU steal by neighbors (measured 3%+
    at an idle prompt, with multi-second per-task stalls mid-phase) —
    invisible to loadavg, so the load gate alone cannot certify a
    quiet sample. Recorded in the gate dict purely as adjudication
    evidence; it does not gate (steal can start mid-run anyway)."""

    def read() -> tuple[int, int]:
        try:
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
            return sum(vals), vals[7] if len(vals) > 7 else 0
        except (OSError, ValueError, IndexError):
            return 0, 0

    t0, s0 = read()
    time.sleep(interval)
    t1, s1 = read()
    dt = t1 - t0
    return round(100.0 * (s1 - s0) / dt, 2) if dt > 0 else -1.0


def _load_gate() -> dict:
    """Quiet-sample-by-construction (r12 VERDICT ask #5): the committed
    bench record was repeatedly a noisy sample (BENCH_r12 293 s vs the
    same-day quiet 231.6 s — start-of-run host contention), burning an
    adjudication cycle every round. Gate on /proc/loadavg before
    starting the JVM: spin-wait (10 s steps) until the 1-min load drops
    under the threshold or the wait budget runs out, and record what
    happened in the output JSON so the sample's quietness is part of
    the record. Tunables: SPARK_GRAFT_LOAD_GATE (threshold, default
    cores / 8 — 4.0 on a 32-core host, and below the core count on
    any host), _LOAD_WAIT_SEC (budget, default 600), _LOAD_GATE=0
    disables."""
    thr = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", cpu_count() / 8))
    budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "600"))
    start = _read_load1()
    waited = 0.0
    if thr > 0 and start >= 0:
        while _read_load1() > thr and waited < budget:
            time.sleep(10)
            waited += 10
    final = _read_load1()
    gate = {
        "threshold": thr,
        "load_at_invoke": start,
        "load_at_start": final,
        "waited_sec": waited,
        "quiet": bool(thr <= 0 or (0 <= final <= thr)),
        "steal_pct_at_start": _steal_pct(),
    }
    print(json.dumps({"metric": "load_gate", **gate}), flush=True)
    return gate


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_dir(sf_dir: str) -> str | None:
    """The JIT warm-up slice for a run at ``sf_dir``: the sf0.001 slice
    next to DEFAULT_SF_DIR, or None when ``sf_dir`` is that slice."""
    warm = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    return None if os.path.realpath(sf_dir) == os.path.realpath(warm) else warm


def _job_counts(sc, group: str, before: set) -> str:
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group)) - before
    stages = [
        si
        for j in jobs
        if (ji := tracker.getJobInfo(j)) is not None
        for sid in ji.stageIds
        if (si := tracker.getStageInfo(sid)) is not None
    ]
    tasks = sum(si.numTasks for si in stages)
    return f"jobs={len(jobs)} stages={len(stages)} tasks={tasks}"


def timed_loop(
    spark, qs, names, sf_dir, run: int | None = None
) -> tuple[dict[str, float], float]:
    """Run each entry in ``names`` through the noop sink; return the
    per-row seconds and the loop's wall time.

    A memo build triggered while an entry is constructed gets its own
    ``memo:<key>`` row, placed before the entry's row: its self time
    (memo.py) plus the noop write that materializes a cached frame
    (loader frames hold no data, so they are not written). The entry's
    row is its build (construction less the memo self times) plus its
    execution, so every row carries only its own work and the rows sum
    to the loop's wall time, less the per-entry bookkeeping.

    Each entry's jobs run in the job group ``name``. With ``run`` set,
    one line ``NAME run<run>: build= exec= jobs= stages= tasks=`` is
    printed per entry, the counts being the execution's jobs."""
    sc = spark.sparkContext
    rows: dict[str, float] = {}
    t_loop = time.perf_counter()
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        with memo.recording() as builds:
            df = qs[name](spark, sf_dir)
        build_s = time.perf_counter() - t0 - sum(s for _, _, s in builds)
        for key, frame, self_s in builds:
            t1 = time.perf_counter()
            if frame.is_cached:
                _noop(frame)
            rows[f"memo:{key}"] = self_s + time.perf_counter() - t1
        if run is not None:
            before = set(sc.statusTracker().getJobIdsForGroup(name))
        t1 = time.perf_counter()
        _noop(df)
        exec_s = time.perf_counter() - t1
        rows[name] = build_s + exec_s
        if run is not None:
            print(
                f"{name} run{run}: build={build_s:.3f}s exec={exec_s:.3f}s "
                + _job_counts(sc, name, before),
                flush=True,
            )
    sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t_loop
    return {k: round(v, 3) for k, v in rows.items()}, round(wall, 3)


def measure(spark, qs, names, sf_dir, runs=1, gate=None) -> dict:
    """Time ``names`` (every catalog entry when empty) ``runs`` times at
    ``sf_dir``, then print and persist the map (module docstring)."""
    tier = "named" if names else "full"
    names = list(names) or list(qs)
    per_run = [
        timed_loop(spark, qs, names, sf_dir, r if tier == "named" else None)[0]
        for r in range(runs)
    ]
    # memo rows exist only in the run that built them
    timings = {
        k: min(rows.get(k, v) for rows in per_run)
        for k, v in per_run[0].items()
    }
    total = round(sum(timings.values()), 3)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    gate = dict(gate or {}, steal_pct_at_end=_steal_pct())
    full = {
        "metric": "suite_seconds_full_map",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(names),
        "tier": tier,
        "sf": sf,
        "load_gate": gate,
    }
    # The full map goes out EARLY and to a file: a map on the last line
    # once overflowed a log tail-capture buffer. A full run also keeps a
    # per-core-count copy, so a run on another host cannot clobber that
    # host's map; a named run never replaces the record of a full run.
    print(json.dumps(full))
    cpus = cpu_count()
    files = (
        ["bench_named_latest.json"]
        if tier == "named"
        else ["bench_full_latest.json", f"bench_full_c{cpus}.json"]
    )
    try:
        for fname in files:
            with open(os.path.join(HERE, fname), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout copy above still has it

    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in top10.items()},
                "n_queries": len(names),
                "tier": tier,
                "full_map": files[-1],
                "sf": sf,
                "load_gate": gate,
            }
        )
    )
    return full


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Time catalog entries through the noop sink."
    )
    ap.add_argument(
        "names", nargs="*", metavar="NAME",
        help="entries to time (default: the whole catalog)",
    )
    ap.add_argument(
        "--runs", type=int, default=1,
        help="timed runs per entry; each row is the MIN (default 1)",
    )
    args = ap.parse_args()
    qs = catalog.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown or args.runs < 1:
        ap.error(f"unknown entries {unknown}" if unknown else "--runs < 1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    warm = warm_dir(sf_dir)
    for d in filter(None, (sf_dir, warm)):
        if not os.path.isdir(d):
            raise SystemExit(f"bench.py: no slice at {d}")
    gate = _load_gate()
    # Heap sized to the measured working set: an unsized 90g
    # max heap let G1 grow/shrink committed memory all run (74.5 CPU-s
    # of kernel time inside GC pauses, 169 humongous-triggered cycles).
    # session.py pins -Xms and pre-touches so commit/first-touch faults
    # land in untimed startup; default_heap() keeps that pin inside the
    # host's free memory. Override with SPARK_GRAFT_DRIVER_MEM.
    spark = get_spark(
        "bench",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_heap(sf_dir),
    )

    # Steady-state warmup (JMH-style): run the timed entries once at the
    # smallest SF so every expression/codegen/shuffle path is JIT'd, then
    # time at the target SF. Cold-JVM first-touch costs (~1.5 s/query
    # measured) are session amortization, not operator throughput. The
    # warmup's memo entries are released after it: the timed loop builds
    # (and times) its own at the target SF.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if warm:
        for name in args.names or qs:
            _noop(qs[name](spark, warm))
        memo.drop(spark, warm)

    measure(spark, qs, args.names, sf_dir, args.runs, gate)


if __name__ == "__main__":
    main()
