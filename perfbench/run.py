"""Benchmark of the spark-graft engine: ``catalog``, ``scale`` and
``stream`` workloads, timed from outside through the program's public
functions. BENCHMARK.json lists the ones a change is judged by.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json, with ``--trace 1`` the per-layer ones. The line before it
is a JSON report (host record at start and end, inputs, per-entry times).
Everything the run writes stays under ``.bench_cache/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
WORKLOADS = ("catalog", "scale", "stream")
E2E_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "latency_mean_ms": "ms",
    "latency_p75_ms": "ms", "rows_per_s": "rows/s",
}


def _process_start_epoch() -> float:
    """Wall-clock time at which this process was launched."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload needs: the session, the tracer, inputs, the seed."""

    def __init__(self, args, run_dir: str) -> None:
        from inputs import OracleCache
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = Tracer(self.trace)
        self.oracle = OracleCache(CACHE)
        self.spark = None
        self._rows: dict[str, dict] = {}
        self.setup_end: float | None = None

    def table_rows(self, sf_dir: str) -> dict[str, int]:
        from inputs import table_rows

        if sf_dir not in self._rows:
            self._rows[sf_dir] = table_rows(sf_dir)
        return self._rows[sf_dir]

    def setup_done(self) -> None:
        self.setup_end = time.time()

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _launch(ctx: Context, heap: str) -> dict:
    """Start the session and run one trivial job; return their times."""
    from lenses_topology_example_spark.session import get_spark

    tmp = os.path.join(ctx.run_dir, "tmp")
    conf = {
        # a fixed-size heap (not pre-touched): peak RSS then follows the
        # pages the run touches, not the JVM's heap-resizing decisions
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        conf |= {
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            # above the workloads' counts: the default of 1,000 stages
            # silently drops the oldest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.ui.retainedExecutions": "100000",
        }
    with ctx.tracer.span("get_spark", "session"):
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench", driver_memory=heap, extra_conf=conf)
        t1 = time.perf_counter()
    with ctx.tracer.span("first_job", "session"):
        ctx.spark.range(1).count()
    t2 = time.perf_counter()
    return {"launch_s": t1 - t0, "first_job_s": t2 - t1}


def _shutdown(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    from host import descendants

    gw = SparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    pids = [jvm_pid] + descendants(jvm_pid)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _run(args) -> dict:
    import host

    proc_start = _process_start_epoch()
    host_start = host.host_record()
    launch_env = host.size_launch(1 if args.ladder_only else None)
    heap = launch_env.pop("heap")
    os.environ.update(launch_env)

    _remove_stale_run_dirs()
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp", "spark")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    import lenses_topology_example_spark.catalog  # noqa: F401 - program import is set-up

    ctx = Context(args, run_dir)
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": ctx.trace, "host_start": host_start, "launch": launch_env | {"heap": heap}}
    # one-off input preparation (cached per checkout) is not set-up
    t_prep = time.time()
    sf_dir = _prepare(ctx, args, report)
    prep_s = time.time() - t_prep
    report["prep_s"] = prep_s

    watch = host.StderrWatch()
    try:
        session = _launch(ctx, heap)
        from host import RssSampler

        jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = RssSampler(jvm_pid).start()
        if ctx.trace:
            from layers import instrument_tables

            ctx.table_stats = instrument_tables(ctx)
        if args.ladder_only:
            from wl_stream import ladder_only

            result = ladder_only(ctx, args.seconds)
            rss.stop()
        else:
            result = _workload(ctx, args, sf_dir, session)
            peak = rss.stop()
            setup_s = ctx.setup_end - proc_start - prep_s
            metrics = {"setup_s": setup_s, "peak_rss_mb": peak.pop("total"), **result["metrics"]}
            report["rss_mb"] = peak
        if ctx.trace:
            from layers import per_layer

            layer_metrics = per_layer(ctx, result, session, CACHE, _config_key(args))
    finally:
        if ctx.spark is not None:
            _shutdown(ctx.spark)
        ctx.oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        watch.close()
    # an exception that killed a streaming thread is a failed operation
    result["failed"] += len(watch.lines)
    result["failed_names"] += watch.lines
    if args.ladder_only:
        return {"ladder_only": result}
    report |= {"host_end": host.host_record(), "session": session,
               "end_to_end": metrics, **result["report"],
               "failed_names": result["failed_names"]}
    if ctx.trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        path = os.path.join(CACHE, "traces", f"{args.workload}-{args.seed}.jsonl")
        ctx.tracer.dump(path)
        report["trace_file"] = os.path.relpath(path, ROOT)
    else:
        _remember_untraced(_config_key(args), metrics)
    from layers import unit_of

    out_metrics = layer_metrics if ctx.trace else metrics
    unit = unit_of if ctx.trace else E2E_UNITS.__getitem__
    return {
        "report": report,
        "result": {
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {
                k: {"value": v, "unit": unit(k)} for k, v in out_metrics.items()
            },
        },
    }


def _remove_stale_run_dirs() -> None:
    """Scratch of runs whose process is gone (killed before clean-up)."""
    if not os.path.isdir(CACHE):
        return
    for d in os.listdir(CACHE):
        pid = d.removeprefix("run-")
        if d.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def _config_key(args) -> str:
    return f"{args.workload}:{args.seconds:g}:{int(args.smoke)}"


UNTRACED_KEPT = 10


def _remember_untraced(key: str, metrics: dict) -> None:
    """Keep the latest untraced end-to-end figures per setting, so a
    traced run can report its overhead against their median."""
    path = os.path.join(CACHE, "untraced.json")
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    seen[key] = (seen.get(key, []) + [metrics])[-UNTRACED_KEPT:]
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f)
    os.replace(path + ".tmp", path)


def _prepare(ctx: Context, args, report: dict) -> str | None:
    import inputs

    if args.workload == "catalog":
        sf_dir = inputs.fixture_dir("0.001" if args.smoke else "0.01")
    elif args.workload == "scale":
        sf_dir = inputs.fixture_dir("0.001") if args.smoke else inputs.scale_dir(CACHE)
        report["scale_rows"] = ctx.table_rows(sf_dir)
    else:
        return None
    from wl_batch import SCALE_ENTRIES, catalog_set
    from lenses_topology_example_spark.catalog import oracle_sql

    names = catalog_set(args.seconds) if args.workload == "catalog" else list(SCALE_ENTRIES)
    ctx.entries = names
    osql = oracle_sql()
    for n in names:  # fills the oracle cache on a checkout's first run
        if n in osql:
            ctx.oracle.ensure(sf_dir, osql[n])
    return sf_dir


def _workload(ctx: Context, args, sf_dir: str | None, session: dict) -> dict:
    from wl_batch import SCALE_ENTRIES, run_batch

    if args.workload == "stream":
        from wl_stream import run_stream

        result = run_stream(ctx)
        if ctx.trace:
            c1 = result["c1"] = _c1_ladder(args)
            result["attempted"] += c1["attempted"]
            result["failed"] += c1["failed"]
            result["failed_names"] += [f"local[1] ladder: {e}" for e in c1["failed_names"]]
        return result
    # untimed warm pass at sf0.001, charged to set-up
    import inputs
    from lenses_topology_example_spark.catalog import queries

    from wl_batch import CATALOG_WARM

    qs = queries()
    with ctx.tracer.span("warm_pass", "setup"):
        for n in SCALE_ENTRIES if args.workload == "scale" else CATALOG_WARM:
            qs[n](ctx.spark, inputs.fixture_dir("0.001")).toPandas()
    ctx.setup_done()
    return run_batch(ctx, ctx.entries, sf_dir)


def _c1_ladder(args) -> dict:
    """The payments ladder rerun on ``local[1]`` in a child process, as
    the single-threaded baseline."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "stream",
           "--seed", str(args.seed), "--seconds", str(args.seconds / 2),
           "--trace", "0", "--ladder-only"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, cwd=ROOT)
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        return {"attempted": 1, "failed": 1, "failed_names": ["exited with an error"],
                "sustained_step_rows_per_s": 0, "capacity_rows_per_s": 0}
    return json.loads(out.stdout.strip().splitlines()[-1])["ladder_only"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run the batch workloads on the sf0.001 fixtures")
    ap.add_argument("--ladder-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lenses_topology_example_spark", "catalog.py")):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    # SIGTERM unwinds like an exception, so the session, the JVM and the
    # workers are still stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = _run(args)
    if "ladder_only" in out:
        print(json.dumps(out))
        return 0
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"], allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
