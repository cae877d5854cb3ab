"""The ``catalog`` and ``scale`` workloads: catalog entries built and
collected one after another by a single caller (a closed loop), each
checked against its DuckDB oracle twin outside the timed span."""

from __future__ import annotations

import math
import random
import statistics
import time

# Entries whose cost grows with the data, run on the scale slice: the
# payments flagship, TPC-H join/aggregate shapes, text, a window and an
# Arrow (Python worker) entry.
SCALE_ENTRIES = (
    "payments_pipeline", "fx_convert", "agg_revenue", "volume_shipping",
    "tfidf", "window_running", "asset_png_meta",
)
# Planned seconds per catalog entry at sf0.01 on 4 vCPUs; sizes the
# catalog set from --seconds (the set depends on --seconds only, never
# on measured speed, so two commits run the same entries).
CATALOG_ENTRY_BUDGET_S = 0.35
# Untimed warm-up of the catalog workload at sf0.001 (a join and
# aggregate, a window, text and an Arrow entry): without it, whichever
# entries the seed puts first pay the cold JIT and Python-worker start,
# several times their warm cost.
CATALOG_WARM = ("agg_revenue", "window_running", "wordcount", "asset_png_meta")
# Physical operators that run Python workers.
PYTHON_NODES = ("InPandas", "EvalPython", "InArrow", "PythonUDTF")


def builder_module(name: str) -> str:
    from lenses_topology_example_spark.catalog import _CATALOG

    return _CATALOG[name][0].__module__.rsplit(".", 1)[-1]


def catalog_set(seconds: float) -> list[str]:
    """A fixed sample of the catalog, stratified by builder module in
    proportion to each module's share of the catalog (largest remainder),
    sized from ``seconds``. Within a module, entries are picked in a
    fixed shuffled order, so the set never depends on --seed."""
    from lenses_topology_example_spark.catalog import queries

    by_mod: dict[str, list[str]] = {}
    for name in sorted(queries()):
        by_mod.setdefault(builder_module(name), []).append(name)
    total = sum(len(v) for v in by_mod.values())
    want = min(total, max(1, round(seconds / CATALOG_ENTRY_BUDGET_S)))
    quota = {m: want * len(v) / total for m, v in by_mod.items()}
    take = {m: math.floor(q) for m, q in quota.items()}
    for m in sorted(quota, key=lambda m: (take[m] - quota[m], m))[: want - sum(take.values())]:
        take[m] += 1
    out: list[str] = []
    for mod in sorted(by_mod):
        names = by_mod[mod]
        random.Random(0).shuffle(names)
        out += names[: take[mod]]
    return out


def hd_quantile(xs: list[float], q: float, grid: int = 20_000) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all order statistics. With a few dozen heavy-tailed
    samples it moves far less from run to run than one order statistic."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = ((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
               - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)))
    w = np.bincount(np.minimum((t * n).astype(int), n - 1),
                    weights=np.exp(log_pdf), minlength=n)
    return float((w / w.sum() * x).sum())


def _storage(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes held in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return (
        sc._jsc.getPersistentRDDs().size(),
        sum(i.memSize() + i.diskSize() for i in infos),
    )


def run_batch(ctx, names: list[str], sf_dir: str) -> dict:
    """Run ``names`` once each in seeded order; return metrics and checks."""
    from lenses_topology_example_spark.catalog import oracle_sql, queries
    from lenses_topology_example_spark.plans.topology import topology_of

    from inputs import input_tables

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    qs, osql = queries(), oracle_sql()
    order = list(names)
    random.Random(ctx.seed).shuffle(order)
    rows_of = ctx.table_rows(sf_dir)

    entry_s: dict[str, float] = {}
    input_rows = 0
    check_s = 0.0  # untimed oracle comparisons
    failed: list[str] = []
    layer = {
        "build": {}, "plan_s": 0.0, "exec_s": 0.0, "memo_builds": 0,
        "memo_build_entry_s": 0.0, "python": [], "topology_ms": [],
        "topology_nodes": 0,
    }
    for name in order:
        if ctx.trace:
            sc.setJobGroup(name, name)
            before = _storage(sc)
        try:
            with tr.span(name, "entry"):
                t0 = time.perf_counter()
                with tr.span("build", "operators", entry=name):
                    df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                if ctx.trace:
                    with tr.span("plan", "spark.plan", entry=name):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    t2 = time.perf_counter()
                with tr.span("collect", "spark.exec", entry=name):
                    pdf = df.toPandas()
                t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed entry is counted, not fatal
            failed.append(name)
            ctx.log(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        entry_s[name] = t3 - t0
        # --- outside the timed span ---
        input_rows += sum(rows_of[t] for t in input_tables(df) if t in rows_of)
        tc = time.perf_counter()
        if name in osql and not ctx.oracle.matches(sf_dir, osql[name], pdf):
            failed.append(name)
            ctx.log(f"{name}: output differs from its DuckDB oracle")
        check_s += time.perf_counter() - tc
        if ctx.trace:
            mod = builder_module(name)
            layer["build"][mod] = layer["build"].get(mod, 0.0) + (t1 - t0)
            layer["plan_s"] += t2 - t1
            layer["exec_s"] += t3 - t2
            after = _storage(sc)
            if after[0] > before[0]:
                layer["memo_builds"] += after[0] - before[0]
                layer["memo_build_entry_s"] += t3 - t0
            if any(p in plan for p in PYTHON_NODES):
                layer["python"].append((name, t3 - t2))
            if name != "sink_parquet":  # plan-only consumers skip it, as tests/test_topology.py does
                ta = time.perf_counter()
                with tr.span("topology_of", "topology", entry=name):
                    layer["topology_nodes"] += len(topology_of(df, name)["nodes"])
                layer["topology_ms"].append(1e3 * (time.perf_counter() - ta))
    if ctx.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
        layer["memo_cached_bytes"] = _storage(sc)[1]
    times = list(entry_s.values())
    wall = sum(times)
    return {
        "attempted": len(order),
        "failed": len(failed),
        "failed_names": failed,
        "metrics": {
            "latency_mean_ms": 1e3 * statistics.fmean(times),
            "latency_p75_ms": 1e3 * hd_quantile(times, 0.75),
            "rows_per_s": input_rows / wall,
        },
        "report": {
            "entries": len(order), "timed_wall_s": wall,
            "latency_p50_ms": 1e3 * statistics.median(times),
            "input_rows": input_rows, "check_s": check_s, "entry_s": entry_s,
        },
        "layer": layer,
    }
