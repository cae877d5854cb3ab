"""Structured Streaming twins: batch-as-bounded-stream equivalence
(SURVEY.md §5) — the streaming plans must produce the batch answers."""

from __future__ import annotations

import contextlib
import io
import os
import re
from collections import Counter

import pytest

from pyspark.sql import functions as F

from lenses_topology_example_spark.datamodel import CORPUS_LINES, currency_rates_df
from lenses_topology_example_spark.sources.generator import gen_payments_df
from lenses_topology_example_spark.streaming.pipelines import (
    convert_payments,
    start_payments_fanout,
    start_wordcount_to_memory,
    streaming_dedup,
    streaming_join_payments_audit,
    streaming_running_count,
    streaming_wordcount,
    windowed_counts,
)


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))

    lines = spark.readStream.format("text").load(str(corpus))
    q = start_wordcount_to_memory(lines, "wc_stream_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["word"]: r["count"]
        for r in spark.sql("SELECT * FROM wc_stream_test").collect()
    }
    golden: Counter = Counter()
    for line in CORPUS_LINES:
        golden.update(t for t in re.split(r"\W+", line.lower()) if t)
    assert got == dict(golden)


def test_wordcount_sample_keeps_phases_and_state_size(spark, tmp_path):
    """A streaming metrics sample carries the micro-batch's phase times
    and the aggregate's state-store size, not just row counts."""
    from lenses_topology_example_spark.plans.topology import (
        PROGRESS_PHASES,
        progress_metrics,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))
    lines = spark.readStream.format("text").load(str(corpus))
    q = start_wordcount_to_memory(lines, "wc_sample_test")
    try:
        q.processAllAvailable()
        sample = progress_metrics(q)
    finally:
        q.stop()

    assert sample["numInputRows"] == len(CORPUS_LINES)
    assert set(sample["durationMs"]) == set(PROGRESS_PHASES)
    assert all(isinstance(v, int) and v >= 0 for v in sample["durationMs"].values())
    assert sample["durationMs"]["triggerExecution"] >= sample["durationMs"]["addBatch"]
    vocab = {t for line in CORPUS_LINES for t in re.split(r"\W+", line.lower()) if t}
    [state] = sample["stateOperators"]
    assert state["numRowsTotal"] == len(vocab)
    assert state["memoryUsedBytes"] > 0


def test_payments_fanout_dual_sink(spark, tmp_path):
    src = tmp_path / "payments_in"
    gen_payments_df(spark, n=2000).write.parquet(str(src))
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))

    conv_dir = str(tmp_path / "converted")
    susp_dir = str(tmp_path / "suspicious")
    q = start_payments_fanout(
        stream, spark, conv_dir, susp_dir, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        # the folded FX dimension broadcasts nothing: one job per sink,
        # both in the query's job group (the suspicious write's thread
        # inherits it)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 1
    assert len(jobs) == 2 * len(batches), jobs

    converted = spark.read.parquet(conv_dir)
    suspicious = spark.read.parquet(susp_dir)
    # all 5 generator currencies are known -> nothing dropped
    assert converted.count() == 2000
    n_susp_from_converted = converted.filter(F.col("amount_xchg") < 10000).count()
    assert suspicious.count() == n_susp_from_converted
    assert suspicious.filter(F.col("amount_xchg") >= 10000).count() == 0


def test_payments_fanout_failed_sink_fails_the_query(spark, tmp_path):
    """A failing suspicious write (raised on its own thread) ends the
    query with that error; the batch is never committed, so a restart
    replays it instead of leaving a silent partial batch."""
    src = tmp_path / "payments_in"
    gen_payments_df(spark, n=200).write.parquet(str(src))
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))
    susp_file = tmp_path / "suspicious"
    susp_file.write_text("a regular file, not a directory")
    ckpt = tmp_path / "ckpt"

    q = start_payments_fanout(
        stream, spark, str(tmp_path / "converted"), str(susp_file), str(ckpt)
    )
    try:
        with pytest.raises(Exception) as err:
            q.processAllAvailable()
    finally:
        q.stop()
    assert "suspicious" in str(err.value)
    assert q.exception() is not None
    assert not (ckpt / "commits").exists() or not os.listdir(ckpt / "commits")


def test_convert_payments_folds_the_dimension(spark, tmp_path):
    rates = currency_rates_df(spark)
    src = tmp_path / "payments_in"
    gen_payments_df(spark, n=100).write.parquet(str(src))
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        convert_payments(stream, rates).explain()
    assert "== Physical Plan ==" in buf.getvalue()
    assert "BroadcastExchange" not in buf.getvalue()
    assert "Join" not in buf.getvalue()

    unknown = spark.createDataFrame(
        [(10_000, "XXX", 5.0, None)],
        "payment_id long, currency string, amount double, ts timestamp",
    )
    payments = gen_payments_df(spark, n=500).unionByName(unknown)
    got = convert_payments(payments, rates)
    # the broadcast join convert_payments replaces
    want = payments.join(F.broadcast(rates), "currency", "inner").withColumn(
        "amount_xchg", F.col("amount") * F.col("rate")
    )
    assert got.columns == want.columns == [
        "currency", "payment_id", "amount", "ts", "rate", "amount_xchg",
    ]
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("currency") == "XXX").count() == 0
    assert got.count() == 500


def test_windowed_counts_watermarked(spark, tmp_path):
    src = tmp_path / "events_in"
    gen_payments_df(spark, n=1000).select(
        F.col("ts"), F.col("currency").alias("event_type")
    ).write.parquet(str(src))
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(
        str(src)
    )
    agg = windowed_counts(stream, ts_col="ts", window="1 minute", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT sum(n) AS total FROM win_stream_test").collect()
    assert out[0]["total"] == 1000


def test_streaming_running_count_stateful(spark, tmp_path):
    """applyInPandasWithState running count == batch wordcount after the
    last micro-batch (final state IS the KTable)."""
    corpus = tmp_path / "corpus_state"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))
    lines = spark.readStream.format("text").load(str(corpus))
    from lenses_topology_example_spark.operators.wordcount import tokens_col

    words = lines.select(F.explode(tokens_col(F.col("value"))).alias("word"))
    q = (
        streaming_running_count(words)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_count_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # last update per word = final running count
    got = {
        r["word"]: r["n"]
        for r in spark.sql(
            "SELECT word, max(n) AS n FROM running_count_test GROUP BY word"
        ).collect()
    }
    golden: Counter = Counter()
    for line in CORPUS_LINES:
        golden.update(t for t in re.split(r"\W+", line.lower()) if t)
    assert got == dict(golden)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dup_payments"
    base = gen_payments_df(spark, n=500)
    base.unionByName(base).write.parquet(str(src))  # every row twice
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))
    deduped = streaming_dedup(stream, ["payment_id"], ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT payment_id) AS d FROM dedup_stream_test"
    ).collect()[0]
    assert out["n"] == 500 and out["d"] == 500


def test_stream_stream_join(spark, tmp_path):
    pay_dir, audit_dir = tmp_path / "ss_pay", tmp_path / "ss_audit"
    payments = gen_payments_df(spark, n=400)
    payments.write.parquet(str(pay_dir))
    # audit record 1 minute after each payment
    payments.select(
        "payment_id", (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("audit_ts")
    ).write.parquet(str(audit_dir))
    p_stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(pay_dir))
    a_stream = spark.readStream.schema("payment_id long, audit_ts timestamp").parquet(
        str(audit_dir)
    )
    joined = streaming_join_payments_audit(p_stream, a_stream)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT count(*) AS n FROM ss_join_test").collect()[0]["n"] == 400


def test_streaming_throughput_beats_reference_floor(spark, tmp_path):
    """BASELINE.md floor: the reference offers 12.5 payments/s and ~128
    words/s. One micro-batch of 100k payments through the full fanout
    pipeline must beat the payments floor by >=100x (it beats it by
    ~1000x+; asserted loosely so the test never flakes on a loaded box)."""
    import time as _t

    src = tmp_path / "tp_payments"
    gen_payments_df(spark, n=100_000).write.parquet(str(src))
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))
    conv, susp = str(tmp_path / "tp_conv"), str(tmp_path / "tp_susp")
    t0 = _t.perf_counter()
    q = start_payments_fanout(stream, spark, conv, susp, str(tmp_path / "tp_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    elapsed = _t.perf_counter() - t0
    rate = 100_000 / elapsed
    assert rate > 12.5 * 100, f"only {rate:.0f} payments/s"


def test_foreach_consume_sink(spark, tmp_path):
    """S6 twin: per-record handler sees every record exactly once per
    batch (accumulator-counted, since handlers run in executors)."""
    from lenses_topology_example_spark.streaming.pipelines import start_foreach_sink

    src = tmp_path / "foreach_src"
    gen_payments_df(spark, n=300).write.parquet(str(src))
    stream = spark.readStream.schema(
        "payment_id long, currency string, amount double, ts timestamp"
    ).parquet(str(src))
    acc = spark.sparkContext.accumulator(0)

    def handle(row):
        acc.add(1)

    q = start_foreach_sink(stream, handle)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert acc.value == 300


def test_resize_stub_raises():
    from lenses_topology_example_spark.operators.multimodal import resize_image

    with pytest.raises(NotImplementedError):
        resize_image(b"abc", 4, 4)
    sw, sh, thumb = resize_image(b"abcdef", 4, 4, fake=True)
    assert len(thumb) == 16
    assert resize_image(b"abcdef", 4, 4, fake=True) == (sw, sh, thumb)


def test_streaming_asof_matches_batch(spark, tmp_path):
    """The as-of join core runs unchanged on a stream (stream-static
    broadcast join) and produces the batch answer."""
    from lenses_topology_example_spark.datamodel import currency_for
    from lenses_topology_example_spark.operators.windows import asof_rate_frame
    from lenses_topology_example_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    batch_events = load_table(spark, sf, "events").select(
        "event_id", currency_for(F.col("user_id")).alias("currency"), "ts"
    )
    src = tmp_path / "asof_src"
    batch_events.write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, currency string, ts timestamp"
    ).parquet(str(src))
    q = (
        asof_rate_frame(stream, spark)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_id"], r["asof_rate"])
        for r in spark.sql("SELECT * FROM asof_stream_test").collect()
    }
    want = {
        (r["event_id"], r["asof_rate"])
        for r in asof_rate_frame(batch_events, spark).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_curation(spark, tmp_path):
    """Streaming curation twin: content dups dropped (within watermark),
    sub-threshold docs filtered — matches the batch computation of the
    same screens on the same input."""
    from lenses_topology_example_spark.operators.text import quality_components
    from lenses_topology_example_spark.streaming.pipelines import (
        start_curation_stream,
    )

    src = tmp_path / "cur_docs"
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog of the meadow it is a fine day", "2024-01-01 00:00:00"),
            (2, "the quick brown fox and the lazy dog of the meadow it is a fine day", "2024-01-01 00:01:00"),  # dup of 1
            (3, "zzz qqq xxx", "2024-01-01 00:02:00"),  # low quality
            (4, "you and that it is a good day to test the pipeline in the field of data and more of it", "2024-01-01 00:03:00"),
        ],
        "doc_id long, text string, ts_s string",
    ).select("doc_id", "text", F.col("ts_s").cast("timestamp").alias("ts"))
    base.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        str(src)
    )
    out = str(tmp_path / "cur_out")
    q = start_curation_stream(stream, out, str(tmp_path / "cur_ckpt"), 0.5)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = spark.read.parquet(out)
    rows = kept.collect()
    kept_ids = sorted(r["doc_id"] for r in rows)
    # exactly one of the duplicate pair survives; low-quality doc 3 dropped
    assert len([i for i in kept_ids if i in (1, 2)]) == 1
    assert 3 not in kept_ids
    # every kept row meets the threshold per the batch expression
    batch_q = {
        r["doc_id"]: r["q"]
        for r in base.select(
            "doc_id", quality_components(F.col("text"))["quality"].alias("q")
        ).collect()
    }
    for r in rows:
        assert batch_q[r["doc_id"]] >= 0.5
        assert abs(r["quality"] - batch_q[r["doc_id"]]) < 1e-12


def test_wordcount_rocksdb_state_store(spark, tmp_path):
    """The documented large-keyspace switch must actually work: same
    wordcount, RocksDB-backed state store, same golden counts."""
    corpus = tmp_path / "corpus_rocks"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))
    lines = spark.readStream.format("text").load(str(corpus))
    from lenses_topology_example_spark.streaming.pipelines import streaming_wordcount

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)  # session conf, NOT a sink option
    try:
        q = (
            streaming_wordcount(lines)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("wc_rocksdb_test")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    got = {
        r["word"]: r["count"]
        for r in spark.sql("SELECT * FROM wc_rocksdb_test").collect()
    }
    golden: Counter = Counter()
    for line in CORPUS_LINES:
        golden.update(t for t in re.split(r"\W+", line.lower()) if t)
    assert got == dict(golden)
    # prove RocksDB actually backed the state: its checkpoints are zip
    # snapshots/changelogs, not the HDFS store's .delta files
    import glob

    state_files = glob.glob(str(tmp_path / "rocks_ckpt" / "state" / "**"), recursive=True)
    assert any(f.endswith((".zip", ".changelog")) for f in state_files), (
        "no RocksDB artifacts — provider not engaged"
    )


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop/restart from the checkpoint: the restarted query must resume
    at the committed offset — every input row lands in the sink exactly
    once across the two runs (the reference is at-least-once; exactly-
    once is our documented upgrade, SURVEY.md §3.3)."""
    src = tmp_path / "ckpt_src"
    src.mkdir()
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    gen_payments_df(spark, n=500).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(
            "payment_id long, currency string, amount double, ts timestamp"
        ).parquet(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    # second wave of input, new query instance, same checkpoint
    gen_payments_df(spark, n=500).withColumn(
        "payment_id", F.col("payment_id") + 1_000_000
    ).coalesce(1).write.mode("append").parquet(str(src))
    run_once()

    result = spark.read.parquet(out)
    assert result.count() == 1000, "rows duplicated or lost across restart"
    assert result.select("payment_id").distinct().count() == 1000


def _write_corpus_parts(corpus, parts) -> None:
    for i, part in enumerate(parts):
        (corpus / f"part{i}.txt").write_text("\n".join(part))


def _start_wordcount_updates(spark, corpus, ckpt, updates: dict):
    """Update-mode word count over ``corpus``, one file per micro-batch,
    checkpointed at ``ckpt``; every emitted (word, count) lands in
    ``updates`` (later batches overwrite earlier ones)."""
    lines = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .format("text")
        .load(str(corpus))
    )

    def collect(batch, _batch_id):
        updates.update((r["word"], r["count"]) for r in batch.collect())

    return (
        streaming_wordcount(lines)
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def test_wordcount_checkpoint_has_no_hadoop_sidecars(spark, tmp_path):
    """Checkpoint files on file:// go through the raw local FileContext
    (session.py): no ``.<name>.crc`` sidecar next to any offsets, commits
    or state file, while Spark's own ``<N>.delta.crc`` state checksums
    are still written."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _write_corpus_parts(corpus, [CORPUS_LINES[:8], CORPUS_LINES[8:]])
    ckpt = tmp_path / "wc_ckpt"
    q = _start_wordcount_updates(spark, corpus, ckpt, {})
    try:
        q.processAllAvailable()
        batches = {p["batchId"] for p in q.recentProgress if p["numInputRows"]}
    finally:
        q.stop()
    assert batches == {0, 1}

    files = [
        os.path.relpath(os.path.join(d, n), ckpt)
        for d, _, names in os.walk(ckpt)
        for n in names
    ]
    sidecars = [
        f for f in files
        if os.path.basename(f).startswith(".") and f.endswith(".crc")
    ]
    assert sidecars == []
    deltas = [f for f in files if re.fullmatch(r"state/0/\d+/\d+\.delta", f)]
    assert deltas
    assert all(f"{f}.crc" in files for f in deltas)


def test_wordcount_state_recovers_across_restart(spark, tmp_path):
    """Stop a stateful word count after 2 micro-batches, add a third
    file, restart on the same checkpoint: the counts the restarted query
    emits must be the batch word count over all three files — the state
    deltas written before the restart are read back."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    parts = [CORPUS_LINES[:5], CORPUS_LINES[5:10], CORPUS_LINES[10:]]
    _write_corpus_parts(corpus, parts[:2])
    ckpt = tmp_path / "wc_ckpt"

    first: dict = {}
    q = _start_wordcount_updates(spark, corpus, ckpt, first)
    try:
        q.processAllAvailable()
        batch_ids = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert batch_ids == [0, 1]

    (corpus / "part2.txt").write_text("\n".join(parts[2]))
    updated: dict = {}
    q = _start_wordcount_updates(spark, corpus, ckpt, updated)
    try:
        q.processAllAvailable()
        batch_ids = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert batch_ids == [2]

    golden = {
        r["word"]: r["count"]
        for r in streaming_wordcount(spark.read.text(str(corpus))).collect()
    }
    # the third file repeats words of the first two, so carried state shows
    assert set(updated) & set(first)
    assert updated == {w: golden[w] for w in updated}
    assert {**first, **updated} == golden


def test_decode_image_stub_raises():
    from lenses_topology_example_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")
    assert decode_image(b"abc", fake=True) == decode_image(b"abc", fake=True)


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Session-window stream == batch twin (batch-as-bounded-stream,
    SURVEY.md §5), RocksDB-backed merge-on-overlap state. A far-future
    sentinel row pushes the watermark past every real session so append
    mode emits (and GCs) them all; the sentinel user is excluded from
    the comparison."""
    from lenses_topology_example_spark.streaming.pipelines import session_counts

    rows = []
    base = "2024-01-15 10:{:02d}:00"
    # user 1: one 3-event session, then a 25-min gap within session,
    # then a >30-min gap starting a second session
    for m in (0, 10, 20):
        rows.append((1, base.format(m)))
    rows.append((1, "2024-01-15 11:30:00"))
    # user 2: single-event session
    rows.append((2, "2024-01-15 10:05:00"))
    # sentinel: far future, advances the watermark past everything real
    rows.append((99, "2024-02-01 00:00:00"))
    events = spark.createDataFrame(rows, "user_id long, raw string").select(
        "user_id", F.col("raw").cast("timestamp").alias("ts")
    )
    src = tmp_path / "sess_src"
    events.write.parquet(str(src))

    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_counts(spark.read.parquet(str(src))).collect()
        if r["user_id"] != 99
    }
    assert len(batch) == 3, "expected 3 real sessions in the batch twin"

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        str(src)
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        q = (
            session_counts(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_stream_test")
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_stream_test").collect()
        if r["user_id"] != 99
    }
    assert got == batch
    import glob

    state_files = glob.glob(
        str(tmp_path / "sess_ckpt" / "state" / "**"), recursive=True
    )
    assert any(f.endswith((".zip", ".changelog")) for f in state_files), (
        "no RocksDB artifacts — provider not engaged"
    )


def test_streaming_neardup_matches_batch_signatures(spark, tmp_path):
    """Streaming MinHash near-dup keeps exactly one doc per signature
    bucket (and every no-signature doc): the kept signature set must
    equal the batch signature-distinct set over the same bounded input."""
    from lenses_topology_example_spark.streaming.pipelines import streaming_neardup

    text_a = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, text_a, "2024-01-15 10:00:00"),
        (2, text_a, "2024-01-15 10:01:00"),          # exact near-dup of 1
        (3, "completely different content about spark shuffles and joins",
         "2024-01-15 10:02:00"),
        (4, "hi", "2024-01-15 10:03:00"),            # <3 tokens: no signature
        (5, "ok", "2024-01-15 10:04:00"),            # <3 tokens: no signature
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, raw string"
    ).select("doc_id", "text", F.col("raw").cast("timestamp").alias("ts"))
    src = tmp_path / "neardup_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        str(src)
    )
    q = (
        streaming_neardup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_stream_test")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    kept = spark.sql("SELECT * FROM neardup_stream_test").collect()
    kept_keys = {r["sig_key"] for r in kept}
    from lenses_topology_example_spark.streaming.pipelines import neardup_sig_key

    batch_keys = {
        r["sig_key"]
        for r in spark.read.parquet(str(src))
        .withColumn("sig_key", neardup_sig_key())
        .dropDuplicates(["sig_key"])
        .collect()
    }
    assert kept_keys == batch_keys
    # one survivor of the near-dup pair, doc 3, and both short docs
    kept_ids = sorted(r["doc_id"] for r in kept)
    assert len(kept_ids) == 4
    assert kept_ids[0] in (1, 2) and kept_ids[1:] == [3, 4, 5]


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stateless stream-static decontamination: the streamed per-doc
    (n_shingles, n_shared, contaminated) rows must equal (a) the same
    plan run in batch and (b) the batch operator q_decontaminate's
    counts for every contaminated doc."""
    from lenses_topology_example_spark.operators.dedup import q_decontaminate
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_decontaminate,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base, "en", "src0", len(base)),  # eval slice
        (1, base + " today", "en", "src1", len(base) + 6),  # contaminated
        (2, "completely different words about columnar scans and shuffles",
         "en", "src2", 60),  # clean
        (3, "hi there", "en", "src3", 8),  # <3 tokens: no shingles
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "decon"
    docs.write.parquet(f"{d}/documents.parquet")

    from lenses_topology_example_spark.operators.dedup import (
        shingles_col,
    )
    from lenses_topology_example_spark.operators.wordcount import tokens_col

    eval_sh = (
        docs.filter(F.col("source") == "src0")
        .select(
            F.explode(
                F.array_distinct(shingles_col(tokens_col(F.col("text"))))
            ).alias("shingle")
        )
        .distinct()
    )
    corpus = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    src = tmp_path / "decon_stream_src"
    corpus.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_decontaminate(stream, eval_sh)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("decon_stream_test")
        .option("checkpointLocation", str(tmp_path / "decon_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress is None or not q.status["isDataAvailable"]
    finally:
        q.stop()

    streamed = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"], r["contaminated"])
        for r in spark.sql("SELECT * FROM decon_stream_test").collect()
    }
    batch_same_plan = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"], r["contaminated"])
        for r in streaming_decontaminate(
            spark.read.parquet(str(src)), eval_sh
        ).collect()
    }
    assert streamed == batch_same_plan
    assert set(streamed) == {1, 2, 3}
    assert streamed[1][2] and not streamed[2][2] and not streamed[3][2]
    assert streamed[3][0] == 0  # no shingles at all

    # the batch OPERATOR agrees on every contaminated doc's counts
    batch_op = {
        r["doc_id"]: r["n_shared"]
        for r in q_decontaminate(spark, str(d)).collect()
    }
    assert batch_op == {
        doc: ns for doc, (_n, ns, c) in streamed.items() if c
    }


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """Stateless streaming PII screen: the streamed (counts, redacted)
    rows must equal the identical plan run in batch — shared
    pii_count_cols/pii_redact_col expressions, so any drift is a bug."""
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_pii_scrub,
    )

    rows = [
        (0, "reach me at jane.doe@corp.example.org or 555-013-2047"),
        (1, "server at 10.2.33.4 then 192.168.0.1 responded"),
        (2, "no sensitive content in this line at all"),
        (3, "a@b.io 111-222-3333 1.2.3.4 everything at once"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "pii_stream_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_pii_scrub(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("pii_stream_test")
        .option("checkpointLocation", str(tmp_path / "pii_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"], r["redacted"])
        for r in spark.sql("SELECT * FROM pii_stream_test").collect()
    }
    batch = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"], r["redacted"])
        for r in streaming_pii_scrub(docs).collect()
    }
    assert streamed == batch
    assert streamed[0] == (1, 1, 0, "reach me at <EMAIL> or <PHONE>")
    assert streamed[1] == (0, 0, 2, "server at <IP> then <IP> responded")
    assert streamed[2][:3] == (0, 0, 0)
    assert streamed[3] == (1, 1, 1, "<EMAIL> <PHONE> <IP> everything at once")


def test_streaming_cms_counters_match_batch(spark, tmp_path):
    """The streaming CMS counter table (update mode, fixed
    depth x width state) must converge to exactly the batch counter
    table over the same documents — cell-wise counter merge is what
    makes the sketch streamable at all."""
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_cms_counters,
    )

    rows = [(i, f"tok{i % 7} tok{(i * 3) % 5} common word") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "cms_stream_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_cms_counters(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cms_stream_test")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # update mode re-emits a cell on every change: keep the LAST emit
    # per (row, col) — the memory sink preserves batch order
    import collections

    streamed: dict[tuple[int, int], int] = collections.OrderedDict()
    for r in spark.sql("SELECT * FROM cms_stream_test").collect():
        streamed[(r["row"], r["col"])] = r["cnt"]
    # compare against the BATCH operator's counter helper, not the
    # streaming function on a batch frame — the parity claim is
    # stream == batch operator, not stream == itself
    from lenses_topology_example_spark.operators.sketches import cms_counters

    batch = {
        (r["row"], r["col"]): r["cnt"] for r in cms_counters(docs).collect()
    }
    assert dict(streamed) == batch
    # fixed-size state: never more cells than depth x width
    from lenses_topology_example_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    assert len(batch) <= CMS_DEPTH * CMS_WIDTH


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """foreachBatch incremental dedup: the per-batch classification
    against static base indexes must equal the batch operator
    q_dedup_incremental's statuses for the SAME corpus split — across
    multiple micro-batches (the incoming half is streamed one file per
    batch, so replay-safe per-batch output dirs are exercised too)."""
    import hashlib

    from lenses_topology_example_spark.operators.dedup import (
        minhash_signatures,
        q_dedup_incremental,
    )
    from lenses_topology_example_spark.streaming.pipelines import (
        start_incremental_dedup_stream,
    )

    def parity(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2

    base_ids = [i for i in range(60) if parity(i) == 0]
    inc_ids = [i for i in range(60) if parity(i) == 1]
    shared = "the quick brown fox jumps over the lazy dog near the river"
    near = shared + " tonight"
    unique = "unrelated columnar shuffle text with zero overlapping grams"
    rows = [
        (base_ids[0], shared, "en", "s", len(shared)),
        (base_ids[1], unique + " alpha beta gamma", "en", "s", 10),
        (inc_ids[0], shared, "en", "s", len(shared)),  # exact
        (inc_ids[1], near, "en", "s", len(near)),  # near_dup
        (inc_ids[2], "totally fresh words about adaptive query execution plans",
         "en", "s", 10),  # new
    ]
    d = tmp_path / "incdata"
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(f"{d}/documents.parquet")

    # batch-op ground truth on the same parity split
    want = {
        r["doc_id"]: r["status"]
        for r in q_dedup_incremental(spark, str(d)).collect()
    }
    assert want[inc_ids[0]] == "exact"
    assert want[inc_ids[1]] == "near_dup"
    assert want[inc_ids[2]] == "new"

    # static base indexes (what a prior batch run would have written)
    base = docs.filter(F.col("doc_id").isin(base_ids))
    base_digests = base.select(F.md5(F.col("text")).alias("h"))
    base_sigs = minhash_signatures(spark, str(d)).join(
        base.select("doc_id"), "doc_id", "left_semi"
    )

    # stream the incoming docs one file per micro-batch
    src = tmp_path / "inc_stream_src"
    inc_docs = docs.filter(F.col("doc_id").isin(inc_ids)).select(
        "doc_id", "text"
    )
    for i, r in enumerate(inc_docs.collect()):
        spark.createDataFrame(
            [(r["doc_id"], r["text"])], "doc_id long, text string"
        ).write.parquet(f"{src}/f{i}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = tmp_path / "inc_out"
    q = start_incremental_dedup_stream(
        stream,
        base_digests,
        base_sigs,
        str(out),
        str(tmp_path / "inc_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == want


def test_transform_with_state_running_count_matches_legacy(spark, tmp_path):
    """transformWithStateInPandas running count == the
    applyInPandasWithState twin == the batch golden counts. Gated: the
    processor API needs Spark >= 4.0 and the RocksDB state store."""
    from pyspark.sql import GroupedData

    if not hasattr(GroupedData, "transformWithStateInPandas"):
        pytest.skip("transformWithStateInPandas not available")
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "TWS driver worker needs google.protobuf (absent in this "
            "container) — see streaming_running_count_tws docstring"
        )
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_running_count_tws,
    )

    corpus = tmp_path / "corpus_tws"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))
    lines = spark.readStream.format("text").load(str(corpus))
    from lenses_topology_example_spark.operators.wordcount import tokens_col

    words = lines.select(F.explode(tokens_col(F.col("value"))).alias("word"))
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        q = (
            streaming_running_count_tws(words)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_count_test")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    got = {
        r["word"]: r["n"]
        for r in spark.sql(
            "SELECT word, max(n) AS n FROM tws_count_test GROUP BY word"
        ).collect()
    }
    golden: Counter = Counter()
    for line in CORPUS_LINES:
        golden.update(t for t in re.split(r"\W+", line.lower()) if t)
    assert got == dict(golden)


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """Stateless streaming curation gate (rule battery + hashed
    classifier): streamed rows over the real documents table must equal
    the identical plan run in batch, and the combined keep must be the
    conjunction of the two component gates."""
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_quality_gate,
    )
    from lenses_topology_example_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "gate_stream_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_quality_gate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gate_stream_test")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r["doc_id"]: (r["n_words"], r["keep_rules"], r["clf_score"], r["keep_clf"], r["keep"])
        for r in spark.sql("SELECT * FROM gate_stream_test").collect()
    }
    batch = {
        r["doc_id"]: (r["n_words"], r["keep_rules"], r["clf_score"], r["keep_clf"], r["keep"])
        for r in streaming_quality_gate(docs).collect()
    }
    assert streamed == batch
    assert len(streamed) == docs.count()
    for _doc, (_n, kr, _s, kc, k) in streamed.items():
        assert k == (kr and kc)
    # the gate discriminates on the real corpus
    kept = sum(1 for v in streamed.values() if v[4])
    assert 0 < kept < len(streamed)


def test_streaming_boilerplate_filter_matches_batch(spark, tmp_path):
    """Stateless stream-static boilerplate screen: streamed per-doc
    (n_lines, n_boiler) must equal (a) the identical plan run in batch
    and (b) the batch operator q_boilerplate_lines' counts for every
    segment-bearing doc, given the digest set the batch pass derives."""
    from lenses_topology_example_spark.operators.dedup import (
        BOILERPLATE_MIN_DF,
        LINE_SEG_TOKENS,
        q_boilerplate_lines,
        token_segments_col,
    )
    from lenses_topology_example_spark.operators.wordcount import tokens_col
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_boilerplate_filter,
    )

    nav = "home page about contact terms"  # the 5-token boilerplate line
    rows = [
        (0, nav + " alpha beta gamma delta epsilon", "en", "s0", 60),
        (1, nav + " zeta eta theta iota kappa", "en", "s1", 55),
        (2, nav + " unique words appear right here", "en", "s2", 58),
        (3, "an entirely original document body text", "en", "s3", 40),
        (4, "tiny", "en", "s4", 4),  # < one segment: zero lines
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = tmp_path / "boiler_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")

    segs = docs.select(
        "doc_id",
        F.explode(
            token_segments_col(tokens_col(F.col("text")), LINE_SEG_TOKENS)
        ).alias("seg"),
    ).select("doc_id", F.md5("seg").alias("h"))
    digests = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILERPLATE_MIN_DF)
        .select("h")
    )

    src = tmp_path / "boiler_src"
    docs.select("doc_id", "text").write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_boilerplate_filter(stream, digests)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("boiler_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        r["doc_id"]: (r["n_lines"], r["n_boiler"], r["keep"])
        for r in spark.sql("SELECT * FROM boiler_stream_test").collect()
    }

    # (a) identical plan, batch run
    batch_twin = {
        r["doc_id"]: (r["n_lines"], r["n_boiler"], r["keep"])
        for r in streaming_boilerplate_filter(
            docs.select("doc_id", "text"), digests
        ).collect()
    }
    assert streamed == batch_twin
    assert streamed[4] == (0, 0, True)
    assert all(not streamed[d][2] for d in (0, 1, 2)), "nav line flagged"

    # (b) the batch operator's report (segment-bearing docs only)
    batch_op = {
        r["doc_id"]: (r["n_lines"], r["n_boiler"])
        for r in q_boilerplate_lines(spark, str(sf)).collect()
    }
    for doc_id, (nl, nb) in batch_op.items():
        assert streamed[doc_id][:2] == (nl, nb)


def test_streaming_drift_monitor_matches_batch_operator(spark, tmp_path):
    """foreachBatch drift monitor: streaming the monitor's own batch
    slice against the base slice's static vocab must reproduce the
    batch operator q_corpus_drift row EXACTLY (same union vocabulary,
    same smoothing, same decimal ln round-trip)."""
    from lenses_topology_example_spark.functions.texthash import md5_hash64
    from lenses_topology_example_spark.operators.text import q_corpus_drift
    from lenses_topology_example_spark.operators.wordcount import tokens_col
    from lenses_topology_example_spark.streaming.pipelines import (
        start_drift_monitor_stream,
    )

    words = ("scan table join merge hash sort window batch stream value "
             "key row part filter group order query spark line data").split()
    rows = [
        (i, " ".join(words[(i * 3 + j) % len(words)] for j in range(12)),
         "en", f"s{i % 4}", 60)
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = tmp_path / "drift_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")

    parity = md5_hash64(F.col("doc_id").cast("string")) % 2
    base = docs.filter(parity == 0)
    batch_slice = docs.filter(parity == 1)
    base_vocab = base.select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).alias("c_base"))

    src = tmp_path / "drift_src"
    batch_slice.select("doc_id", "text").write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out = tmp_path / "drift_out"
    q = start_drift_monitor_stream(
        stream, base_vocab, str(out), str(tmp_path / "drift_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(f"{out}/batch_id=0").collect()
    assert len(got) == 1
    want = q_corpus_drift(spark, str(sf)).collect()
    assert len(want) == 1
    g, w = got[0], want[0]
    assert (g["n_base"], g["n_batch"], g["vocab"]) == (
        w["n_base"], w["n_batch"], w["vocab"],
    )
    assert g["kl_divergence"] == w["kl_divergence"]
    assert g["tv_distance"] == w["tv_distance"]


def test_streaming_chunker_matches_batch_operator(spark, tmp_path):
    """Stateless stream chunking must equal the batch q_doc_chunk rows
    exactly on the same documents."""
    from lenses_topology_example_spark.operators.text import q_doc_chunk
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_chunker,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(5 + 7 * i)),
         "en", f"s{i}", 60)
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = tmp_path / "chunk_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")

    src = tmp_path / "chunk_src"
    docs.select("doc_id", "text").write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        streaming_chunker(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chunk_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM chunk_stream_test").collect()
    )
    batch = sorted(
        tuple(r) for r in q_doc_chunk(spark, str(sf)).collect()
    )
    assert streamed == batch and len(batch) > 6


def test_streaming_rate_anomaly_matches_batch_operator(spark, tmp_path):
    """foreachBatch rate monitor: streaming the full events slice
    against a baseline derived from the batch operator's own moments
    must reproduce q_event_rate_anomaly's rows exactly."""
    from lenses_topology_example_spark.operators.windows import (
        q_event_rate_anomaly,
    )
    from lenses_topology_example_spark.streaming.pipelines import (
        start_rate_anomaly_stream,
    )
    import datetime as dt

    rows = []
    eid = 0
    for day in range(6):
        for et, base_n in (("view", 10), ("click", 4)):
            n = base_n + (7 if (day == 5 and et == "view") else day % 2)
            for _ in range(n):
                rows.append(
                    (eid, dt.datetime(2026, 3, 1 + day, 12, 0, 0), eid % 5,
                     et, 1.0, "{}")
                )
                eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = tmp_path / "anomaly_sf"
    sf.mkdir()
    events.write.parquet(f"{sf}/events.parquet")

    want = {
        (r["event_type"], r["day"]): (
            r["n_events"], r["z_score"], r["is_anomaly"]
        )
        for r in q_event_rate_anomaly(spark, str(sf)).collect()
    }
    assert any(v[2] for v in want.values()), "crafted spike must flag"

    # baseline = the batch op's own per-type moments
    cells = (
        events.groupBy(
            "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
        ).count()
    )
    stats = cells.groupBy("event_type").agg(
        (F.sum("count") / F.count(F.lit(1))).alias("mean"),
        F.sqrt(
            F.sum(F.col("count") * F.col("count")) / F.count(F.lit(1))
            - (F.sum("count") / F.count(F.lit(1)))
            * (F.sum("count") / F.count(F.lit(1)))
        ).alias("std"),
    )

    src = tmp_path / "anomaly_src"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).parquet(str(src))
    out = tmp_path / "anomaly_out"
    q = start_rate_anomaly_stream(
        stream, stats, str(out), str(tmp_path / "anomaly_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_type"], r["day"]): (
            r["n_events"], r["z_score"], r["is_anomaly"]
        )
        for r in spark.read.parquet(f"{out}/batch_id=0").collect()
    }
    assert set(got) == set(want)
    for k, (n, z, a) in want.items():
        gn, gz, ga = got[k]
        assert gn == n and ga == a
        assert (z is None and gz is None) or abs(gz - z) < 1e-9


def test_streaming_embed_ingest_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch semantic-dedup ingestion == the batch operator
    embed_dedup_incremental on the same md5-parity split, with the
    incoming vectors streamed across two micro-batches."""
    from lenses_topology_example_spark.functions.texthash import md5_hash64
    from lenses_topology_example_spark.operators.similarity import (
        _bucket_col,
        as_double,
        dot,
        q_embed_dedup_incremental,
    )
    from lenses_topology_example_spark.streaming.pipelines import (
        start_embed_ingest_stream,
    )

    want = {
        r.vec_id: r.status
        for r in q_embed_dedup_incremental(spark, sf_dir).collect()
    }
    assert set(want.values()) == {"near_dup", "new"}, "both classes present"

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        (md5_hash64(F.col("vec_id").cast("string")) % 2).alias("p"),
    )
    base = (
        emb.filter(F.col("p") == 0)
        .withColumn("bucket", _bucket_col(F.col("v")))
        .select(
            F.col("vec_id").alias("base_id"),
            F.col("v").alias("bv"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("bnorm"),
            "bucket",
        )
    )
    inc = emb.filter(F.col("p") == 1).select(
        "vec_id", F.col("v").alias("embedding")
    )
    src = tmp_path / "emb_src"
    for p in (0, 1):
        inc.filter(F.col("vec_id") % 2 == p).write.parquet(f"{src}/f{p}")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = tmp_path / "emb_out"
    q = start_embed_ingest_stream(
        stream, base, str(out), str(tmp_path / "emb_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.vec_id: r.status for r in spark.read.parquet(str(out)).collect()
    }
    assert got == want


def test_streaming_asset_decode_matches_batch(spark, tmp_path):
    """Stateless streaming codec screen: the streamed PNG
    encode-then-full-decode rows (dims, raster sum, container size)
    must equal the identical mapInPandas plan run in batch — shared
    png_decode_batches kernel, so any drift is a bug — and both must
    agree with the pure-Python codec ground truth."""
    from lenses_topology_example_spark.functions.codecs import png_stream_size
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_asset_decode,
    )

    rows = [(0, 3), (1, 17), (7, 40), (250, 251), (16, 16)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    src = tmp_path / "asset_stream_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, n_chars long").parquet(
        str(src)
    )
    q = (
        streaming_asset_decode(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asset_decode_stream_test")
        .option("checkpointLocation", str(tmp_path / "asset_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = (
        "fmt", "width", "height", "bit_depth", "color_type",
        "n_raw", "pixel_sum", "n_bytes",
    )
    streamed = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in spark.sql("SELECT * FROM asset_decode_stream_test").collect()
    }
    batch = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in streaming_asset_decode(docs).collect()
    }
    assert streamed == batch
    for doc_id, n_chars in rows:
        w, h, fill = 1 + doc_id % 16, 1 + n_chars % 16, doc_id % 251
        n_raw = 3 * w * h
        assert streamed[doc_id] == (
            "png", w, h, 8, 2, n_raw, fill * n_raw,
            8 + 25 + 12 + png_stream_size(h * (1 + 3 * w)) + 12,
        )


def test_streaming_gif_decode_matches_batch(spark, tmp_path):
    """Stateless streaming GIF screen: streamed encode-then-LZW-decode
    rows must equal the identical mapInPandas plan in batch (shared
    gif_decode_batches kernel) and the pure-Python codec ground
    truth."""
    from lenses_topology_example_spark.functions.codecs import (
        gif_total_bytes,
    )
    from lenses_topology_example_spark.streaming.pipelines import (
        streaming_gif_decode,
    )

    rows = [(0, 3), (1, 17), (7, 40), (250, 251), (16, 16)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    src = tmp_path / "gif_stream_src"
    docs.write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, n_chars long").parquet(
        str(src)
    )
    q = (
        streaming_gif_decode(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("gif_decode_stream_test")
        .option("checkpointLocation", str(tmp_path / "gif_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = (
        "fmt", "width", "height", "n_colors",
        "n_pixels", "pixel_sum", "n_bytes",
    )
    streamed = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in spark.sql("SELECT * FROM gif_decode_stream_test").collect()
    }
    batch = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in streaming_gif_decode(docs).collect()
    }
    assert streamed == batch
    for doc_id, n_chars in rows:
        w, h, idx = 1 + doc_id % 16, 1 + n_chars % 16, doc_id % 251
        assert streamed[doc_id] == (
            "gif", w, h, 256, w * h, idx * w * h, gif_total_bytes(w * h),
        )


def test_streaming_oov_monitor_matches_batch_operator(spark, tmp_path):
    """foreachBatch OOV monitor: streaming the full corpus against the
    SAME frozen head vocabulary the batch operator builds must
    reproduce q_oov_rate's per-source report EXACTLY (shared
    oov_source_report core — counts, distinct OOV types, rate)."""
    from lenses_topology_example_spark.operators.text import (
        corpus_head_vocab,
        q_oov_rate,
    )
    from lenses_topology_example_spark.streaming.pipelines import (
        start_oov_stream,
    )

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "rare1 rare2 rare3 rare4 rare5").split()
    rows = [
        (i,
         " ".join(words[(i * 5 + j * j) % len(words)] for j in range(9))
         + f" uniq{i}",
         "en", f"s{i % 3}", 50)
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = tmp_path / "oov_sf"
    sf.mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")

    # freeze a SMALL head vocab so OOV is non-trivial in the fixture
    import lenses_topology_example_spark.operators.text as text_mod

    orig = text_mod.OOV_VOCAB_SIZE
    text_mod.OOV_VOCAB_SIZE = 8
    try:
        vocab = corpus_head_vocab(docs)

        src = tmp_path / "oov_src"
        docs.select("doc_id", "text", "source").write.parquet(str(src))
        stream = spark.readStream.schema(
            "doc_id long, text string, source string"
        ).parquet(str(src))
        out = tmp_path / "oov_out"
        q = start_oov_stream(
            stream, vocab, str(out), str(tmp_path / "oov_ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            r.source: r
            for r in spark.read.parquet(f"{out}/batch_id=0").collect()
        }
        want = {r.source: r for r in q_oov_rate(spark, str(sf)).collect()}
    finally:
        text_mod.OOV_VOCAB_SIZE = orig
    assert set(got) == set(want) == {"s0", "s1", "s2"}
    for s, w in want.items():
        g = got[s]
        assert (g.n_tokens, g.n_oov, g.n_oov_types) == (
            w.n_tokens, w.n_oov, w.n_oov_types,
        )
        assert g.oov_rate == w.oov_rate
        assert g.n_oov > 0  # the fixture must actually exercise OOV
