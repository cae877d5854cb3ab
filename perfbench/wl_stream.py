"""The ``stream`` workload: the paper's topology as an open loop.

Phase 1 runs the payments fan-out (stateless, two parquet sinks) beside
the word count (stateful, update mode) in one session, each fed by a
rate source whose ``timestamp`` is the event creation time, while a
``MetricsPublisher`` samples the payments query every 2 s. Phase 2 runs
payments alone up a fixed rate ladder.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import datetime

PAY_BASE_RATE = 2_000  # rows/s in phase 1
WC_LINES_RATE = 500  # lines/s in phase 1
WC_WORDS_PER_LINE = 8
WC_VOCAB = 1_000_000  # Zipf ranks 1..WC_VOCAB
# rows/s in phase 2. The top step stays well under the 4-core capacity
# (~390k rows/s here, ~290k in the host's slow spells): stopping a
# saturated fan-out query kills its stream thread (see _stop), and the
# benchmark workloads must not fail operations. The traced run's local[1]
# ladder saturates at the top step and does report that failure.
LADDER = (100_000, 200_000)
STEP_WEIGHT = (1, 3)  # shares of the ladder time; the top step gets more batches
PHASE1_SHARE = 0.6  # of --seconds; the ladder gets the rest
SETTLE_S = 5.0  # after the first commits: lets the JIT warm before latency is sampled
# A ladder step runs for its share of the ladder time and until this many
# batches have committed after its first (start-up) batch, so a slow
# host or a single core still sees the backlog trend; past the timeout
# the step is a failed operation.
MIN_STEP_BATCHES = 3
STEP_TIMEOUT_S = 30.0
FIRST_COMMIT_TIMEOUT_S = 90.0
LAG_GROWTH_LIMIT = 0.1  # s of backlog per s: above it the step is not sustained
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")
PHASE_LAYER = {"queryPlanning": "spark.plan", "addBatch": "spark.exec"}


def wc_lines(df, seed: int):
    """Map rate-source rows to lines of WC_WORDS_PER_LINE words drawn
    from a Zipf(1) vocabulary whose spellings the seed picks."""
    from pyspark.sql import functions as F

    v = F.col("value")
    words = []
    for j in range(WC_WORDS_PER_LINE):
        u = F.pmod(F.xxhash64(v, F.lit(j), F.lit(seed)), F.lit(1 << 31)) / F.lit(float(1 << 31))
        rank = F.floor(F.pow(F.lit(float(WC_VOCAB)), u)).cast("long")
        words.append(F.concat(F.lit("w"), F.hex(F.xxhash64(F.lit(seed), rank))))
    return df.select(F.concat_ws(" ", *words).alias("value"), "timestamp")


def _completion(p: dict) -> float:
    """Epoch seconds at which the micro-batch of progress ``p`` ended."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _batches(query) -> list[dict]:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _weighted_quantile(samples: list[tuple[float, float]], q: float) -> float:
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0.0
    for x, w in samples:
        acc += w
        if acc >= q * total:
            return x
    return samples[-1][0]


def _stop(query, errors: list[str], wait_s: float = 5.0) -> None:
    """Stop ``query`` between micro-batches: interrupting a running
    foreachBatch batch can kill the stream thread, so wait (up to
    ``wait_s``) for the trigger to go idle first."""
    deadline = time.time() + wait_s
    while query.isActive and query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.01)
    try:
        query.stop()
    except Exception as e:  # noqa: BLE001 - counted toward failed, never dropped
        errors.append(f"{query.name} stop: {type(e).__name__}: {str(e)[:300]}")
    exc = query.exception()
    if exc is not None:
        errors.append(f"{query.name}: {str(exc)[:300]}")


def _trace_progress(tr, query_name: str, progress: list[dict], clock_offset: float) -> None:
    """Turn progress events into spans: one per micro-batch, with its
    phases laid out in execution order as children."""
    for p in progress:
        end = _completion(p) - clock_offset
        start = end - p["durationMs"]["triggerExecution"] / 1e3
        parent = tr.add(f"{query_name}.batch", "streaming", start, end,
                        batch=p["batchId"])
        t = start
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1e3
            if d > 0:
                tr.add(ph, PHASE_LAYER.get(ph, "streaming"), t, min(t + d, end), parent)
                t = min(t + d, end)


class StreamRun:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.root = os.path.join(ctx.run_dir, "stream")
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.layer = {"topology_ms": [], "topology_nodes": 0}
        self.ladder_progress: list[dict] = []

    def _paths(self, tag: str) -> tuple[str, str, str]:
        d = os.path.join(self.root, tag)
        shutil.rmtree(d, ignore_errors=True)
        return (f"{d}/converted", f"{d}/suspicious", f"{d}/ckpt")

    def start_payments(self, rate: int, tag: str):
        from lenses_topology_example_spark.streaming.pipelines import (
            rate_payments_stream, start_payments_fanout,
        )

        spark = self.ctx.spark
        conv, susp, ckpt = self._paths(tag)
        q = start_payments_fanout(
            rate_payments_stream(spark, rows_per_second=rate), spark, conv, susp, ckpt,
        )
        if self.ctx.trace and tag == "phase1":
            from lenses_topology_example_spark.datamodel import currency_rates_df
            from lenses_topology_example_spark.streaming.pipelines import convert_payments

            self._topology(convert_payments(
                rate_payments_stream(spark, rows_per_second=rate),
                currency_rates_df(spark)), "payments")
        return q, conv, susp

    def start_wordcount(self):
        from pyspark.sql import functions as F

        from lenses_topology_example_spark.streaming.pipelines import streaming_wordcount

        spark = self.ctx.spark
        src = spark.readStream.format("rate").option("rowsPerSecond", str(WC_LINES_RATE)).load()
        # creation times as epoch microseconds: progress reports render
        # observed timestamps in whole seconds
        us = F.unix_micros("timestamp")
        lines = wc_lines(src, self.ctx.seed).observe(
            "wc_in", F.min(us).alias("min_us"), F.max(us).alias("max_us"),
            F.count(F.lit(1)).alias("n"),
        )
        counts = streaming_wordcount(lines)
        if self.ctx.trace:
            self._topology(counts, "wordcount")
        ckpt = self._paths("wc")[2]
        return (
            counts.writeStream.outputMode("update").format("memory")
            .queryName("wc_state").option("checkpointLocation", ckpt).start()
        )

    def _topology(self, df, name: str) -> None:
        from lenses_topology_example_spark.plans.topology import topology_of

        t0 = time.perf_counter()
        with self.ctx.tracer.span("topology_of", "topology", entry=name):
            nodes = len(topology_of(df, name)["nodes"])
        self.layer["topology_ms"].append(1e3 * (time.perf_counter() - t0))
        self.layer["topology_nodes"] += nodes

    # ---- phase 1 ---------------------------------------------------------

    def phase1(self, seconds: float, setup_done) -> None:
        from lenses_topology_example_spark.plans.topology import MetricsPublisher

        pay, conv, susp = self.start_payments(PAY_BASE_RATE, "phase1")
        wc = self.start_wordcount()
        samples: list[dict] = []
        pub = MetricsPublisher(pay, samples.append)
        try:
            deadline = time.time() + FIRST_COMMIT_TIMEOUT_S
            while not _batches(pay) or not _batches(wc):
                if not (pay.isActive and wc.isActive) or time.time() > deadline:
                    raise RuntimeError("a stream query ended or stalled before its first commit")
                time.sleep(0.05)
            setup_done()
            pub.start()
            time.sleep(SETTLE_S)
            t0 = self.phase1_start = time.time()
            time.sleep(seconds)
            self.phase1_s = time.time() - t0
        finally:
            pub.stop()
            _stop(pay, self.errors)
            _stop(wc, self.errors)
        self.pay_progress, self.wc_progress = _batches(pay), _batches(wc)
        self.samples = samples
        self.pay_paths = (conv, susp)

    # ---- phase 2 ---------------------------------------------------------

    def ladder(self, seconds: float) -> dict:
        """Run each ladder step for its share of ``seconds``; return per
        step the backlog growth, final lag and processing capacity."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        out = {}
        for rate, weight in zip(LADDER, STEP_WEIGHT):
            q, conv, _ = self.start_payments(rate, f"ladder{rate}")
            t0 = time.time()
            planned = seconds * weight / sum(STEP_WEIGHT)
            try:
                while q.isActive and time.time() - t0 < STEP_TIMEOUT_S and (
                        time.time() - t0 < planned
                        or len(_batches(q)) < 1 + MIN_STEP_BATCHES):
                    time.sleep(0.05)
            finally:
                _stop(q, self.errors)
            prog = _batches(q)
            newest = {
                r["batch_id"]: r["newest"] / 1e6
                for r in spark.read.parquet(conv).groupBy("batch_id")
                .agg(F.max(F.unix_micros("ts")).alias("newest")).collect()
            } if prog else {}
            pts = [(_completion(p), _completion(p) - newest[p["batchId"]])
                   for p in prog if p["batchId"] in newest]
            if len(pts) >= 2:
                xs, ys = zip(*pts)
                slope = statistics.linear_regression(xs, ys).slope
            else:  # the step timed out before the backlog could be seen
                slope = None
                self.errors.append(f"ladder step {rate} rows/s committed {len(pts)} batches")
            rows = sum(p["numInputRows"] for p in prog[1:])
            busy = sum(p["durationMs"]["triggerExecution"] for p in prog[1:]) / 1e3
            out[rate] = {
                "batches": len(prog), "lag_growth": slope,
                "lag_s": pts[-1][1] if pts else 0.0,
                "capacity_rows_per_s": rows / busy if busy else 0.0,
                "sustained": slope is not None and slope <= LAG_GROWTH_LIMIT,
            }
            self.ladder_progress += prog
            shutil.rmtree(os.path.dirname(conv), ignore_errors=True)
        return out

    # ---- checks ------------------------------------------------------------

    def check_payments(self) -> list[tuple[float, float]]:
        """Exactly-once and fan-out checks; returns (latency s, weight)."""
        from pyspark.sql import functions as F

        from lenses_topology_example_spark.datamodel import SUSPICIOUS_THRESHOLD

        spark = self.ctx.spark
        conv_path, susp_path = self.pay_paths
        n = sum(p["numInputRows"] for p in self.pay_progress)
        conv = spark.read.parquet(conv_path)
        got = conv.agg(
            F.count(F.lit(1)).alias("rows"), F.countDistinct("payment_id").alias("ids"),
            F.min("payment_id").alias("lo"), F.max("payment_id").alias("hi"),
        ).first()
        self.checks["pay_exactly_once"] = (
            got["rows"] == n == got["ids"] and got["lo"] == 0 and got["hi"] == n - 1
        )
        susp = spark.read.parquet(susp_path)
        want = conv.filter(F.col("amount_xchg") < F.lit(float(SUSPICIOUS_THRESHOLD)))
        self.checks["pay_suspicious_is_filtered_converted"] = (
            susp.exceptAll(want).isEmpty() and want.exceptAll(susp).isEmpty()
        )
        done = {p["batchId"]: _completion(p) for p in self.pay_progress
                if _completion(p) > self.phase1_start}
        pdf = conv.select("batch_id", F.unix_micros("ts").alias("ts")).toPandas()
        pdf = pdf[pdf["batch_id"].isin(list(done))]
        lat = pdf["batch_id"].map(done) - pdf["ts"] / 1e6
        w = 1.0 / max(len(lat), 1)
        # sink shape, for the per-layer report
        files = [os.path.join(d, f) for p in (conv_path, susp_path)
                 for d, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")]
        self.sink_bytes = sum(os.path.getsize(f) for f in files)
        self.sink_files = len(files)
        return [(x, w) for x in lat.tolist()]

    def check_wordcount(self) -> list[tuple[float, float]]:
        from lenses_topology_example_spark.streaming.pipelines import streaming_wordcount

        spark = self.ctx.spark
        n = sum(p["numInputRows"] for p in self.wc_progress)
        state = dict(spark.sql(
            "SELECT word, max(count) AS c FROM wc_state GROUP BY word").collect())
        batch_lines = wc_lines(
            spark.range(n).withColumnRenamed("id", "value")
            .selectExpr("value", "current_timestamp() AS timestamp"), self.ctx.seed)
        want = dict(streaming_wordcount(batch_lines).collect())
        self.checks["wc_state_equals_batch_count"] = state == want
        # rows of one rate-source batch have creation times spread evenly
        # between the batch's oldest and newest row
        samples = []
        timed = [p for p in self.wc_progress if _completion(p) > self.phase1_start]
        total = sum(p["numInputRows"] for p in timed)
        for p in timed:
            m = p["observedMetrics"]["wc_in"]
            lo, hi = int(m["min_us"]) / 1e6, int(m["max_us"]) / 1e6
            k = min(int(m["n"]), 50)
            end = _completion(p)
            for i in range(k):
                ts = lo + (hi - lo) * (i + 0.5) / k
                samples.append((end - ts, int(m["n"]) / k / max(total, 1)))
        return samples


def _top_step(steps: dict) -> tuple[int, dict]:
    """The highest sustained ladder step (the lowest when none is)."""
    sustained = [r for r in LADDER if steps[r]["sustained"]]
    rate = max(sustained) if sustained else LADDER[0]
    return (rate if sustained else 0), steps[rate]


def ladder_only(ctx, seconds: float) -> dict:
    """Phase 2 alone: the single-threaded baseline of the traced run."""
    run = StreamRun(ctx)
    steps = run.ladder(seconds)
    sustained, top = _top_step(steps)
    return {
        "attempted": sum(s["batches"] for s in steps.values()),
        "failed": len(run.errors), "failed_names": run.errors,
        "sustained_step_rows_per_s": sustained,
        "capacity_rows_per_s": top["capacity_rows_per_s"],
        "ladder": {str(k): v for k, v in steps.items()},
    }


def run_stream(ctx) -> dict:
    run = StreamRun(ctx)
    tr = ctx.tracer
    p1 = ctx.seconds * PHASE1_SHARE
    with tr.span("phase1", "streaming"):
        run.phase1(p1, ctx.setup_done)
    with tr.span("ladder", "streaming"):
        steps = run.ladder(ctx.seconds - p1)
    pay_lat = run.check_payments()
    wc_lat = run.check_wordcount()
    run.checks["publisher_delivered_samples"] = len(run.samples) >= int(run.phase1_s / 2.0)
    sustained, top = _top_step(steps)
    # each query weighs half of the pooled latency sample
    pooled = [(x, w / 2) for x, w in pay_lat + wc_lat]
    if ctx.trace:
        offset = time.time() - time.perf_counter()
        _trace_progress(tr, "pay", run.pay_progress, offset)
        _trace_progress(tr, "wc", run.wc_progress, offset)
        _trace_progress(tr, "ladder", run.ladder_progress, offset)
    failed = sum(not ok for ok in run.checks.values()) + len(run.errors)
    for e in run.errors:
        ctx.log(e)
    for k, ok in run.checks.items():
        if not ok:
            ctx.log(f"check failed: {k}")
    batches = len(run.pay_progress) + len(run.wc_progress) + len(run.ladder_progress)
    return {
        "attempted": batches + len(run.checks),
        "failed": failed,
        "failed_names": [k for k, ok in run.checks.items() if not ok] + run.errors,
        "metrics": {
            "latency_mean_ms": 1e3 * sum(x * w for x, w in pooled) / sum(w for _, w in pooled),
            "latency_p75_ms": 1e3 * _weighted_quantile(pooled, 0.75),
            "rows_per_s": top["capacity_rows_per_s"],
        },
        "report": {
            "pay_batches": len(run.pay_progress), "wc_batches": len(run.wc_progress),
            "latency_p50_ms": 1e3 * _weighted_quantile(pooled, 0.50),
            "pay_latency_p50_ms": 1e3 * _weighted_quantile(pay_lat, 0.5),
            "pay_latency_p90_ms": 1e3 * _weighted_quantile(pay_lat, 0.9),
            "wc_latency_p50_ms": 1e3 * _weighted_quantile(wc_lat, 0.5),
            "wc_latency_p90_ms": 1e3 * _weighted_quantile(wc_lat, 0.9),
            "ladder": {str(k): v for k, v in steps.items()},
            "sustained_step_rows_per_s": sustained,
            "publisher_samples": len(run.samples), "checks": run.checks,
            "batches_ms_rows": {
                q: [(p["durationMs"]["triggerExecution"], p["numInputRows"]) for p in prog]
                for q, prog in (("pay", run.pay_progress), ("wc", run.wc_progress))
            },
        },
        "run": run,
        "layer": run.layer,
    }
