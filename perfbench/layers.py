"""Per-layer metrics of a traced run.

Every traced run reports every per-layer metric; a layer the workload
does not reach reads 0. Which end-to-end metric each one should move is
written down in BENCHMARK.json's companion notes (CHANGES.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

BUILDER_MODULES = (
    "analytics", "dedup", "embed_stats", "governance", "multimodal",
    "payments", "quality", "relational", "relational2", "relational3",
    "retrieval", "similarity", "sinks", "sketches", "skew", "text",
    "windows", "wordcount", "generator",
)
STREAM_PHASES = {
    "trigger_ms_p50": "triggerExecution", "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning", "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets", "latest_offset_ms_p50": "latestOffset",
    "get_batch_ms_p50": "getBatch",
}
OVERHEAD_OF = ("latency_mean_ms", "latency_p75_ms", "rows_per_s")


def names() -> list[str]:
    """Every per-layer metric name, in report order."""
    from wl_stream import LADDER

    out = ["session.launch_s", "session.first_job_s",
           "tables.load_calls", "tables.load_s", "build_s"]
    out += [f"build.{m}_s" for m in BUILDER_MODULES]
    out += ["spark.plan_s", "spark.stages", "spark.tasks",
            "spark.exec_ms_per_stage", "spark.busy_cores",
            "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
            "spark.input_bytes", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.spill_bytes",
            "spark.task_failures",
            "memo.builds", "memo.build_entry_s", "memo.cached_bytes",
            "python.entries", "python.exec_s", "python.executor_run_s",
            "python.executor_cpu_s"]
    for q in ("pay", "wc"):
        out += [f"{q}.batches", f"{q}.rows"]
        out += [f"{q}.{k}" for k in STREAM_PHASES]
        out += [f"{q}.latency_p50_ms", f"{q}.latency_p90_ms"]
    out += [f"pay.lag_s.{r}" for r in LADDER]
    out += ["pay.sink_bytes_per_row", "pay.sink_files_per_batch",
            "pay.sustained_rows_per_s", "pay.c1_sustained_rows_per_s",
            "pay.c1_capacity_rows_per_s",
            "wc.state_rows_total", "wc.state_memory_bytes",
            "wc.state_commit_ms_p50", "wc.rows_updated",
            "topology.of_ms", "topology.nodes", "topology.samples_published"]
    out += [f"trace.overhead.{k}" for k in OVERHEAD_OF]
    return out


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name.startswith("spark.busy_cores"):
        return "cores"
    if name.startswith("trace.overhead."):
        return "%"
    for suffix, unit in (("_rows_per_s", "rows/s"), ("_ms_p50", "ms"),
                         ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_per_row", "bytes/row"), ("_per_batch", "files/batch"),
                         ("_per_stage", "ms")):
        if last.endswith(suffix) or name.endswith(suffix):
            return unit
    if name.startswith("pay.lag_s."):
        return "s"
    return "count"


def instrument_tables(ctx) -> dict:
    """Wrap ``tables.load_table`` wherever the program imported it, so
    each call is a span of the ``tables`` layer. Traced runs only."""
    from lenses_topology_example_spark import tables

    orig = tables.load_table
    stats = {"calls": 0, "s": 0.0}

    def load_table(spark, sf_dir, name):
        t0 = time.perf_counter()
        with ctx.tracer.span(f"load_table:{name}", "tables"):
            try:
                return orig(spark, sf_dir, name)
            finally:
                stats["calls"] += 1
                stats["s"] += time.perf_counter() - t0

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("lenses_topology_example_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table
    return stats


def _stage_totals(groups: dict, keep) -> dict:
    from spans import STAGE_FIELDS

    tot = {k: 0 for k in STAGE_FIELDS} | {"stages": 0}
    for g, agg in groups.items():
        if keep(g):
            for k in tot:
                tot[k] += agg[k]
    return tot


def _stream_layer(out: dict, result: dict) -> None:
    run, rep = result["run"], result["report"]
    for q, prog in (("pay", run.pay_progress), ("wc", run.wc_progress)):
        out[f"{q}.batches"] = len(prog)
        out[f"{q}.rows"] = sum(p["numInputRows"] for p in prog)
        for k, phase in STREAM_PHASES.items():
            vals = [p["durationMs"].get(phase, 0) for p in prog]
            out[f"{q}.{k}"] = float(statistics.median(vals)) if vals else 0.0
        out[f"{q}.latency_p50_ms"] = rep[f"{q}_latency_p50_ms"]
        out[f"{q}.latency_p90_ms"] = rep[f"{q}_latency_p90_ms"]
    for rate, step in rep["ladder"].items():
        out[f"pay.lag_s.{rate}"] = step["lag_s"]
    out["pay.sink_bytes_per_row"] = run.sink_bytes / max(out["pay.rows"], 1)
    out["pay.sink_files_per_batch"] = run.sink_files / max(out["pay.batches"], 1)
    out["pay.sustained_rows_per_s"] = rep["sustained_step_rows_per_s"]
    out["pay.c1_sustained_rows_per_s"] = result["c1"]["sustained_step_rows_per_s"]
    out["pay.c1_capacity_rows_per_s"] = result["c1"]["capacity_rows_per_s"]
    states = [p["stateOperators"][0] for p in run.wc_progress if p["stateOperators"]]
    if states:
        out["wc.state_rows_total"] = states[-1]["numRowsTotal"]
        out["wc.state_memory_bytes"] = states[-1]["memoryUsedBytes"]
        out["wc.state_commit_ms_p50"] = float(statistics.median(s["commitTimeMs"] for s in states))
        out["wc.rows_updated"] = sum(s["numRowsUpdated"] for s in states)
    out["topology.samples_published"] = len(run.samples)


def per_layer(ctx, result: dict, session: dict, cache: str, config: str) -> dict:
    from spans import stage_metrics_by_group

    out = dict.fromkeys(names(), 0)
    out["session.launch_s"] = session["launch_s"]
    out["session.first_job_s"] = session["first_job_s"]
    stats = getattr(ctx, "table_stats", {"calls": 0, "s": 0.0})
    out["tables.load_calls"] = stats["calls"]
    out["tables.load_s"] = stats["s"]

    groups = stage_metrics_by_group(ctx.spark)
    lay = result.get("layer", {})
    if "run" in result:  # stream: every job belongs to the streams
        tot = _stage_totals(groups, lambda g: True)
        exec_s = sum(p["durationMs"]["triggerExecution"] for p in
                     result["run"].pay_progress + result["run"].wc_progress) / 1e3
        _stream_layer(out, result)
    else:
        entries = set(result["report"]["entry_s"])
        tot = _stage_totals(groups, lambda g: g in entries)
        exec_s = lay["exec_s"]
        out["build_s"] = sum(lay["build"].values())
        for mod, t in lay["build"].items():
            out[f"build.{mod}_s"] = t
        out["spark.plan_s"] = lay["plan_s"]
        out["memo.builds"] = lay["memo_builds"]
        out["memo.build_entry_s"] = lay["memo_build_entry_s"]
        out["memo.cached_bytes"] = lay["memo_cached_bytes"]
        py = dict(lay["python"])
        pyt = _stage_totals(groups, lambda g: g in py)
        out["python.entries"] = len(py)
        out["python.exec_s"] = sum(py.values())
        out["python.executor_run_s"] = pyt["executorRunTime"] / 1e3
        out["python.executor_cpu_s"] = pyt["executorCpuTime"] / 1e9
    if lay.get("topology_ms"):
        out["topology.of_ms"] = statistics.median(lay["topology_ms"])
        out["topology.nodes"] = lay["topology_nodes"]
    out["spark.stages"] = tot["stages"]
    out["spark.tasks"] = tot["numTasks"]
    out["spark.exec_ms_per_stage"] = 1e3 * exec_s / max(tot["stages"], 1)
    out["spark.executor_run_s"] = tot["executorRunTime"] / 1e3
    out["spark.executor_cpu_s"] = tot["executorCpuTime"] / 1e9
    out["spark.busy_cores"] = out["spark.executor_run_s"] / exec_s if exec_s else 0.0
    out["spark.gc_s"] = tot["jvmGcTime"] / 1e3
    out["spark.input_bytes"] = tot["inputBytes"]
    out["spark.shuffle_read_bytes"] = tot["shuffleReadBytes"]
    out["spark.shuffle_write_bytes"] = tot["shuffleWriteBytes"]
    out["spark.spill_bytes"] = tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]
    out["spark.task_failures"] = tot["numFailedTasks"]

    # tracing overhead: traced figures against the median of the latest
    # untraced runs with the same settings in this checkout (0 when none)
    try:
        with open(os.path.join(cache, "untraced.json")) as f:
            runs = json.load(f).get(config, [])
    except (OSError, ValueError):
        runs = []
    base = {k: statistics.median(r[k] for r in runs) for k in OVERHEAD_OF} if runs else {}
    for k in OVERHEAD_OF:
        if base.get(k):
            # positive = the traced run did worse
            sign = -1.0 if k == "rows_per_s" else 1.0
            out[f"trace.overhead.{k}"] = sign * 100.0 * (result["metrics"][k] - base[k]) / base[k]
    return out
