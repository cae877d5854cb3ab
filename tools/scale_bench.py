#!/usr/bin/env python
"""Per-query SCALING measurement: sf1.0 / sf0.1 wall-clock ratios
(r12 VERDICT ask #2 — convert the 100x-scale judgment from plan-read
to measured).

Usage:
    python tools/scale_bench.py [--top N] [--out FILE] [--timeout S]
                                [--big DIR] [name ...]

--big overrides the scaled-slice directory (default $SPARK_GRAFT_SF1_DIR
or /tmp/spark_graft_sf1) — pass tools/make_docs10.py output to measure
the doc/event/embedding tier instead of the TPC-H tier. --timeout S
(default: none) caps each single measurement: on expiry the in-flight
Spark jobs are cancelled and the entry records {"timeout": true} with
the elapsed floor — an entry that blows a 60 s cap from a sub-second
sf0.1 reading is a >=100x ratio however long it would have run, so the
cap IS the measurement for quadratic-output entries.

Runs the top-N queries by committed sf0.1 cost (bench_full_latest.json)
once at sf0.1 and once at the sf1.0 slice (tools/make_sf1.py output,
regenerated if absent), in ONE warmed JVM, through the noop sink — the
same measurement discipline as bench.py. Emits a JSON record with
per-query {sf01, sf1, ratio, scaled_input} where scaled_input=False
marks queries whose ENTIRE input is the unscaled events/documents/
embeddings tables (make_sf1 replicates only the TPC-H relations — a
~1x ratio there is the expected no-op, not evidence of scaling).

Super-linear flag line: ratio > 1.5x the step factor on a
scaled-input query means the plan has a worse-than-linear term —
adjudicate in BASELINE.md (the empirical scale-killer detector). The
step factor defaults to 10 (flag bar 15, the historical sf0.1->sf1.0
contract); pass --step-factor 100 for the 100x slices (docs100,
events100, docslong) so the bar is 150, not 15 — a 60x reading on a
100x byte step is SUB-linear and must not be recorded as a flag.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SCALED_TABLES = ("lineitem", "orders", "customer", "part", "supplier")


def main() -> int:
    from lenses_topology_example_spark import catalog
    from lenses_topology_example_spark.session import default_heap, get_spark

    args = sys.argv[1:]
    top_n = 60
    out_path = None
    timeout_s = None
    big_dir = SF1
    if "--top" in args:
        i = args.index("--top")
        top_n = int(args[i + 1])
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    if "--timeout" in args:
        i = args.index("--timeout")
        timeout_s = float(args[i + 1])
        del args[i : i + 2]
    if "--big" in args:
        i = args.index("--big")
        big_dir = args[i + 1]
        del args[i : i + 2]
    step = 10.0
    if "--step-factor" in args:
        i = args.index("--step-factor")
        step = float(args[i + 1])
        del args[i : i + 2]
    flag_bar = 1.5 * step
    scaled_tables = SCALED_TABLES
    if "--scaled-tables" in args:
        # which tables the --big slice actually replicates (e.g.
        # "documents,embeddings" for make_docs10 --doc-only output) —
        # without this the scaled_input marker silently keeps the
        # TPC-H default and labels doc-tier entries "inputs unscaled"
        i = args.index("--scaled-tables")
        scaled_tables = tuple(args[i + 1].split(","))
        del args[i : i + 2]

    if not os.path.isdir(big_dir):
        if big_dir != SF1:
            raise SystemExit(f"--big dir {big_dir} does not exist")
        print(f"regenerating {SF1} via tools/make_sf1.py", flush=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "make_sf1.py"), SF1],
            check=True,
        )

    qs = catalog.queries()
    if args:
        names = args
    else:
        full = json.load(open(os.path.join(ROOT, "bench_full_latest.json")))
        ranked = sorted(full["queries"].items(), key=lambda kv: -kv[1])
        names = [n for n, _ in ranked[:top_n]]
    # sink_parquet writes on build — harmless here (scratch dir) but its
    # timing would measure the write twice; keep it if explicitly named.
    spark = get_spark("scale-bench", driver_memory=default_heap(big_dir))
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    def run_capped(name: str, sf_dir: str) -> tuple[float, bool]:
        """run() under the --timeout cap: on expiry cancel the in-flight
        jobs (noop write aborts with a cancellation error) and report
        (elapsed_floor, timed_out=True)."""
        if timeout_s is None:
            return run(name, sf_dir), False
        import threading

        done = threading.Event()

        def watchdog():
            if not done.wait(timeout_s):
                spark.sparkContext.cancelJobGroup(f"scale-{name}")

        w = threading.Thread(target=watchdog, daemon=True)
        spark.sparkContext.setJobGroup(
            f"scale-{name}", f"scale_bench {name}", interruptOnCancel=True
        )
        w.start()
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 3), False
        except Exception:  # noqa: BLE001 — cancellation lands here
            elapsed = round(time.perf_counter() - t0, 3)
            if elapsed >= timeout_s:
                return elapsed, True
            raise
        finally:
            done.set()
            spark.sparkContext.setJobGroup("", "")

    # codegen/JIT warmup at the smallest SF
    warm = "/root/testdata/sf0.001"
    for name in names:
        try:
            run(name, warm)
        except Exception as e:  # noqa: BLE001
            print(f"WARM-FAIL {name}: {e}", flush=True)

    results: dict[str, dict] = {}
    for name in names:
        df = qs[name](spark, SF01)
        files = " ".join(df.inputFiles())
        scaled = any(f"/{t}.parquet" in files for t in scaled_tables)
        t01 = run(name, SF01)
        t1, timed_out = run_capped(name, big_dir)
        ratio = round(t1 / t01, 2) if t01 > 0 else float("inf")
        results[name] = {
            "sf01": t01,
            "sf1": t1,
            "ratio": ratio,
            "scaled_input": scaled,
            "timeout": timed_out,
        }
        flag = ""
        if timed_out:
            flag = f"  <<< TIMEOUT at {timeout_s}s (ratio is a floor)"
        elif scaled and ratio > flag_bar:
            flag = "  <<< SUPER-LINEAR (adjudicate)"
        print(
            f"{name}: {t01:.2f}s -> {t1:.2f}s  ratio {ratio}"
            f"{' (inputs unscaled)' if not scaled else ''}{flag}",
            flush=True,
        )

    flagged = [
        n
        for n, r in results.items()
        if r["timeout"] or (r["scaled_input"] and r["ratio"] > flag_bar)
    ]
    record = {
        "metric": "sf1_over_sf01_ratio",
        "sf1_dir": big_dir,
        "n_queries": len(results),
        "queries": results,
        "super_linear": flagged,
    }
    print(json.dumps({k: v for k, v in record.items() if k != "queries"}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
