#!/usr/bin/env python
"""Benchmark harness: runs every catalog entry, in catalog order, at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].
Driver heap: $SPARK_GRAFT_DRIVER_MEM (default: half of MemAvailable,
capped at 32g at sf<=0.5 and 64g above — see session.default_heap()).

Output contract (round-8 revision — BENCH_r07 came back unparseable
because the 103-query map on the final line overflowed the driver's
tail-capture buffer):
  * an EARLY line `{"metric": "suite_seconds_full_map", ...}` with the
    complete per-query map, also persisted to ./bench_full_latest.json;
  * the LAST line is compact and always fits:
    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {<top-10 slowest>: sec}, "n_queries": K,
     "tier": "full", "full_map": "bench_full_c{cpus}.json", "sf": 0.1}

Each query is forced through the noop sink (full plan execution, zero
result-materialization overhead on the driver) — the number measures the
engine, not toPandas().

Memo builds (memo.py) are timed as their own `memo:<key>` rows, not
inside the entry that first needs them (see timed_loop()).

Expected log noise: Spark prints `WindowExec: No Partition Defined ...
may cause serious performance degradation` for every unpartitioned
window. The surviving ones are DELIBERATE and tiny — they run over
ALREADY-AGGREGATED frames, never the raw corpus: lm_score's global token
total (|V| rows, text.py q_lm_score) and corpus_mix's global-share
denominator (#sources x #langs rows, text.py q_corpus_mix); both shapes
are pinned window-above-aggregate by tests/test_plans.py. Round-7 adds
more of the same deliberate tiny-frame class: zipf_fit's rank over the
200-row head, top_supplier's max over the |suppliers| aggregate,
join_skew_stats' cumulative count over the |distinct df| histogram,
order_backlog's running sum over the |days| frame, and
source_concentration's rank over |sources| rows. Round-13 adds
theta_join_parts' TWO cumulative-sum windows over the ~120k-cell
SF-INVARIANT part-price cent grid (the CDF rewrite that replaced the
measured-quadratic BNL join — bounded by the price RANGE, not the row
count). Do not
re-investigate these warnings; a NEW one appearing here means a
corpus-scale window crept in (cms_token_freq's top-N was exactly that
bug in round 4 — now TakeOrderedAndProject, plan-pinned window-free).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


def timed_loop(spark, qs, names, sf_dir) -> tuple[dict[str, float], float]:
    """Run each entry in ``names`` through the noop sink; return the
    per-row seconds and the loop's wall time.

    A memo build triggered while an entry is constructed gets its own
    ``memo:<key>`` row, placed before the entry's row: its self time
    (memo.py) plus the noop write that materializes a cached frame
    (loader frames hold no data, so they are not written). The entry's
    row is its wall time minus those rows, so every row carries only
    its own work and the rows sum to the loop's wall time."""
    rows: dict[str, float] = {}
    t_loop = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        with memo.recording() as builds:
            df = qs[name](spark, sf_dir)
        built = 0.0
        for key, frame, self_s in builds:
            t1 = time.perf_counter()
            if frame.is_cached:
                _noop(frame)
            rows[f"memo:{key}"] = self_s + time.perf_counter() - t1
            built += rows[f"memo:{key}"]
        _noop(df)
        rows[name] = time.perf_counter() - t0 - built
    wall = time.perf_counter() - t_loop
    return {k: round(v, 3) for k, v in rows.items()}, round(wall, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
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

    qs = catalog.queries()
    names = list(qs)

    # Steady-state warmup (JMH-style): run the whole suite once at the
    # smallest SF so every expression/codegen/shuffle path is JIT'd, then
    # time at the target SF. Cold-JVM first-touch costs (~1.5 s/query
    # measured) are session amortization, not operator throughput. The
    # warmup's memo entries are released after it: the timed loop builds
    # (and times) its own at the target SF.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = sf_dir.replace("sf0.1", "sf0.001")
    if warm_dir != sf_dir and os.path.isdir(warm_dir):
        for name in names:
            _noop(qs[name](spark, warm_dir))
        memo.drop(spark, warm_dir)

    timings, total = timed_loop(spark, qs, names, sf_dir)

    # Full per-query map: emitted EARLY (not last) and persisted next to
    # this script — BENCH_r07 came back `"parsed": null` because the
    # 103-entry map on the final line overflowed the driver's
    # tail-capture buffer, so the tail started mid-line (r7 verdict
    # ask #2). The LAST line below is bounded (top-10 slowest only) and
    # always fits.
    gate["steal_pct_at_end"] = _steal_pct()
    full = {
        "metric": "suite_seconds_full_map",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(names),
        "tier": "full",
        "sf": sf,
        "load_gate": gate,
    }
    print(json.dumps(full))
    cpus = cpu_count()
    try:
        # Every run also persists a per-core-count copy
        # (bench_full_c{cpus}.json), so a low-core scaling run cannot
        # clobber another host's adjudication map.
        here = os.path.dirname(os.path.abspath(__file__))
        for fname in ("bench_full_latest.json", f"bench_full_c{cpus}.json"):
            with open(os.path.join(here, fname), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout copy above still has it

    top10 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in top10.items()},
                "n_queries": len(names),
                "tier": "full",
                "full_map": f"bench_full_c{cpus}.json",
                "sf": sf,
                "load_gate": gate,
            }
        )
    )


if __name__ == "__main__":
    main()
