"""Structured Streaming twins of the reference's three pipelines.

Reference mapping:
- word count (sparkstreaming/App.java:66-85): kafka -> cast -> flatMap ->
  groupBy.count -> kafka, outputMode(Update), checkpointLocation.
  Here: any streaming text frame -> explode(split(lower)) -> count ->
  update-mode sink; Kafka source/sink builders are provided but tests
  drive the identical plan from a file source + memory sink
  (batch-as-bounded-stream, processAllAvailable()).
- payments pipeline (PaymentsService.java:42-71): one input stream, an
  FX lookup, scalar multiply, and a 2-way predicate fan-out to two sinks.
  The 5-row FX dimension is constant, so it is collected once when the
  plan is built and folded into it as a literal map — the reference's
  in-process map (CurrencyExchangeRepo.java:22-24). A stream-static join
  would re-plan and re-broadcast the dimension in every micro-batch; the
  folded plan has no BroadcastExchange. The reference writes both
  outputs record-at-a-time in one loop; the Spark-native equivalent with
  identical single-pass semantics is foreachBatch: persist the
  micro-batch, write converted and suspicious concurrently — one source
  read and 2 Spark jobs per batch, exactly-once per sink via the
  checkpoint (an upgrade over the reference's at-least-once, SURVEY.md
  §3.3).
- delivery cadence: the reference flushes per poll-batch
  (PaymentsService.java:58-59) ≙ micro-batch trigger.

State at scale: the wordcount aggregate state is bounded by |vocab|;
event-time aggs carry watermarks so state is GC'd; for 100 TB keyspaces
switch the state store to RocksDB
(spark.sql.streaming.stateStore.providerClass). Local checkpoints and
state files go through Hadoop's raw local FileContext (session.py): no
.crc sidecars, so half the chmod/readlink forks per file, while Spark's
own <N>.delta.crc state checksums stay.
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..datamodel import SUSPICIOUS_THRESHOLD, currency_rates_df, literal_df
from ..operators.wordcount import tokens_col


# --- sources ------------------------------------------------------------------


def kafka_text_stream(
    spark: SparkSession, brokers: str, topic: str
) -> DataFrame:
    """S1: the reference's kafka source (sparkstreaming/App.java:66-72
    used format("lenses-kafka"), a metrics wrapper over stock "kafka" —
    behaviorally identical). Returns value cast to string (P3)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )


def file_text_stream(spark: SparkSession, path: str) -> DataFrame:
    """Batch-as-bounded-stream twin for tests: text files -> value col."""
    return spark.readStream.format("text").load(path)


def rate_payments_stream(spark: SparkSession, rows_per_second: int = 13) -> DataFrame:
    """S2 streaming twin of sources/generator.py: rate source + the same
    deterministic column exprs (PaymentsSimulator cadence ≈ 12.5 msg/s)."""
    from ..datamodel import currency_for
    from ..sources.generator import _K, _M

    stream = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    ).load()
    i = F.col("value")
    return stream.select(
        i.alias("payment_id"),
        currency_for(i).alias("currency"),
        (((i * F.lit(_K)) % F.lit(_M)) / F.lit(1000.0) + F.lit(1.0)).alias("amount"),
        F.col("timestamp").alias("ts"),
    )


# --- word count ----------------------------------------------------------------


def streaming_wordcount(lines: DataFrame) -> DataFrame:
    """The §3.1 transform chain on a streaming frame — identical plan to
    the batch wordcount; Spark incrementalizes it (StateStoreSave around
    the agg) when the sink starts in update mode."""
    return (
        lines.select(F.explode(tokens_col(F.col("value"))).alias("word"))
        .groupBy("word")
        .count()
    )


def start_wordcount_to_memory(
    lines: DataFrame, query_name: str = "wordcount_stream"
) -> StreamingQuery:
    """update-mode memory sink — the test harness twin of the reference's
    update-mode kafka sink (sparkstreaming/App.java:79-85)."""
    return (
        streaming_wordcount(lines)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def start_wordcount_to_kafka(
    lines: DataFrame, brokers: str, topic: str, checkpoint: str
) -> StreamingQuery:
    """S5: keyed kafka sink, update mode + checkpoint — the reference's
    exact sink shape (sparkstreaming/App.java:79-85)."""
    out = streaming_wordcount(lines).selectExpr(
        "word AS key", "CAST(count AS STRING) AS value"
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


# --- payments pipeline -----------------------------------------------------------


def convert_payments(payments: DataFrame, rates: DataFrame) -> DataFrame:
    """FX lookup + scalar multiply (J1 + P4) with the rates folded into
    the plan.

    ``rates`` (currency, rate) is collected once, here, at plan build
    time — for the ``VALUES`` dimension that is a LocalTableScan
    collect, which runs no Spark job — and looked up per row through a
    literal ``create_map(...)[currency]``. On a stream this keeps the
    dimension out of every micro-batch: a stream-static broadcast join
    re-plans and re-broadcasts its static side per batch, the folded
    plan has no BroadcastExchange at all. Semantics are the inner
    join's: unknown currencies drop, and the columns come out as
    ``currency, <other payment cols>, rate, amount_xchg``. ``rates``
    must be a small dimension (it lives in the plan); the batch catalog
    entries in operators/payments.py keep their broadcast joins, which
    broadcast once per query."""
    pairs = rates.select("currency", "rate").collect()
    lookup = F.create_map(*[F.lit(v) for c, r in pairs for v in (c, r)])
    rest = [c for c in payments.columns if c != "currency"]
    return (
        payments.select("currency", *rest, lookup[F.col("currency")].alias("rate"))
        .filter(F.col("rate").isNotNull())
        .withColumn("amount_xchg", F.col("amount") * F.col("rate"))
    )


def start_payments_fanout(
    payments: DataFrame,
    spark: SparkSession,
    converted_path: str,
    suspicious_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """The §3.3 dual-sink fan-out as foreachBatch: one pass over each
    micro-batch (persist -> write both branches concurrently ->
    unpersist), 2 Spark jobs per batch. The FX dimension is folded into
    the plan by convert_payments, so no batch broadcasts it.

    The suspicious write runs on a ``pyspark.InheritableThread`` while
    the callback thread writes converted. The thread inherits the
    callback's local properties, so both jobs land in the query's job
    group (its runId) and ``stop()`` cancels both. A failure in either
    write fails the batch: the thread is joined, the batch unpersisted,
    then its error re-raised.

    Exactly-once mechanics: each batch writes to its own
    `batch_id=<n>/` directory with mode("overwrite"). foreachBatch has
    no transaction log (a bare append would duplicate rows when a batch
    is replayed after a mid-batch failure), but overwrite of a
    deterministic per-batch path makes the replay idempotent — the
    standard foreachBatch idempotency pattern. Readers see the union via
    partition discovery on the root path."""
    rates = currency_rates_df(spark)
    converted = convert_payments(payments, rates)

    def write_both(batch: DataFrame, batch_id: int) -> None:
        errors: list[BaseException] = []

        def write_suspicious() -> None:
            try:
                batch.filter(
                    F.col("amount_xchg") < F.lit(float(SUSPICIOUS_THRESHOLD))
                ).write.mode("overwrite").parquet(
                    f"{suspicious_path}/batch_id={batch_id}"
                )
            except BaseException as e:  # re-raised on the callback thread
                errors.append(e)

        batch.persist()
        suspicious = InheritableThread(target=write_suspicious)
        suspicious.start()
        try:
            batch.write.mode("overwrite").parquet(
                f"{converted_path}/batch_id={batch_id}"
            )
        finally:
            suspicious.join()
            batch.unpersist()
        if errors:
            raise errors[0]

    return (
        converted.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- consume-only sink (S6) -------------------------------------------------------


def start_foreach_sink(
    stream: DataFrame, handler, checkpoint: str | None = None
) -> StreamingQuery:
    """S6: the reference's consume-only services
    (SuspiciousPaymentsService.java:42-46, S3StorageService.java:43-47)
    drain a topic and invoke a per-record handler. Spark-native form:
    writeStream.foreach(handler) — the handler runs per row inside
    executors (partition-parallel), with the checkpoint providing the
    consumer-group offset-tracking the reference got from Kafka."""
    w = stream.writeStream.foreach(handler)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


# --- custom stateful operator (applyInPandasWithState) ---------------------------


def streaming_running_count(words: DataFrame) -> DataFrame:
    """The KTable changelog (kstreams App.java:109) as an explicit custom
    stateful operator: per-word running total kept in the state store,
    one (word, n) update emitted per group per micro-batch.

    `groupBy(word).count()` in update mode is the declarative form Spark
    optimizes itself; this is the `applyInPandasWithState` escape hatch
    the reference's arbitrary per-record Java lambdas would need — state
    is per-key (shuffle-partitioned, RocksDB-able), batches arrive as
    Arrow pandas frames, and timeouts are available for TTL semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"word": [key[0]], "n": [n]})

    return words.groupBy("word").applyInPandasWithState(
        update,
        outputStructType="word string, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming dedup --------------------------------------------------------------


def streaming_dedup(
    events: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key stream dedup with bounded state:
    dropDuplicatesWithinWatermark keeps a key's fingerprint only until the
    watermark passes it, so state size is rate x watermark, not the full
    key history — the only viable form at 100 TB/day ingest. (Plain
    dropDuplicates on a stream would grow state forever.)"""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


# --- stream-stream join -----------------------------------------------------------


def streaming_join_payments_audit(
    payments: DataFrame, audits: DataFrame, max_delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked stream-stream inner join: each payment matched to its
    audit record arriving within `max_delay`. Both sides are watermarked
    and the join condition carries the time bound, so Spark can GC both
    state stores — an unbounded-delay stream-stream join would buffer one
    side forever. The reference has no stream-stream join; this is the
    §2.3 extension surface."""
    p = payments.withWatermark("ts", max_delay)
    a = (
        audits.withWatermark("audit_ts", max_delay)
        .withColumnRenamed("payment_id", "audit_payment_id")
    )
    return p.join(
        a,
        F.expr(
            "payment_id = audit_payment_id AND "
            f"audit_ts BETWEEN ts AND ts + INTERVAL {max_delay}"
        ),
        "inner",
    )


# --- event-time aggregation (watermarked) ----------------------------------------


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window counts — the late-data story the
    reference lacks (SURVEY.md §2.5): state for windows older than the
    watermark is emitted and dropped, bounding state size at any scale."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


# --- streaming near-dup (MinHash signature dedup) ---------------------------------


def streaming_neardup(
    docs: DataFrame, ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming MinHash near-dup: each document's k-component signature
    is computed IN-STREAM (the same engine-portable md5 expressions as
    batch operators/dedup.minhash_signatures — pure codegen, stateless),
    and a doc whose signature was already seen within the watermark is
    dropped. Signature equality is the est_jaccard = 1.0 bucket of the
    batch LSH pass — the incremental twin of the batch near-dup for the
    continuous-ingest path, with state bounded at rate x watermark
    (k longs per doc, never shingle sets).

    Docs too short to carry a signature (< 3 tokens) are never near-dup
    candidates; they pass through under a per-doc unique key instead of
    colliding on a shared null."""
    return (
        docs.withColumn("sig_key", neardup_sig_key())
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["sig_key"])
    )


def neardup_sig_key() -> Column:
    """The MinHash signature key expression shared by the streaming
    near-dup and its batch twin (dropDuplicates on the same column)."""
    from ..functions.texthash import md5_hash_mod, minhash_component
    from ..operators.dedup import MINHASH_AB, shingles_col
    from ..operators.wordcount import tokens_col

    sh = F.array_distinct(shingles_col(tokens_col(F.col("text"))))
    hashes = F.array_distinct(F.transform(sh, lambda s: md5_hash_mod(s)))
    sig = F.concat_ws(
        "-",
        *[minhash_component(hashes, a, b).cast("string") for a, b in MINHASH_AB],
    )
    return F.when(F.size(hashes) > 0, sig).otherwise(
        F.concat(F.lit("nosig-"), F.col("doc_id").cast("string"))
    )


# --- session windows (merge-on-overlap stateful agg) ------------------------------


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key_col: str = "user_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked session-window counts — the streaming twin of batch
    q_session_count (operators/windows.py) and the one stateful shape the
    round-1 streaming tier lacked: unlike tumbling/sliding windows, a
    session's extent is data-dependent, so the state op must MERGE
    overlapping partial sessions as events arrive (the reference's
    stateful-agg story, kstreams/App.java:98-109, only ever appends).

    Works on batch frames too (withWatermark is a no-op in batch), so the
    stream==batch equivalence is the same plan text on both. In append
    mode a session emits once its [start, last+gap) window falls fully
    behind the watermark; state is GC'd at the same point, bounding the
    store at rate x watermark regardless of corpus size."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


# --- streaming curation ------------------------------------------------------------


def start_curation_stream(
    docs: DataFrame,
    out_path: str,
    checkpoint: str,
    min_quality: float = 0.5,
    watermark: str = "1 hour",
) -> StreamingQuery:
    """The curation pass as a stream (the incremental twin of
    operators/text.q_curation_pipeline): per micro-batch, drop
    content-duplicate documents (md5 fingerprint key, state bounded by
    the watermark) and keep only docs above the quality threshold.

    Input schema: (doc_id long, text string, ts timestamp). At 100 TB/day
    ingest this is the shape that runs continuously while the batch
    variant runs retrospectively — same expressions, same thresholds,
    shared via text.quality_components."""
    from ..operators.text import quality_components

    q = quality_components(F.col("text"))["quality"]
    kept = (
        docs.withColumn("fp", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .withColumn("quality", q)
        .filter(F.col("quality") >= F.lit(min_quality))
        .select("doc_id", "ts", "quality", "text")
    )
    return (
        kept.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


# --- streaming decontamination (stateless membership vs a static eval set) --------


def streaming_decontaminate(docs: DataFrame, eval_shingles: DataFrame) -> DataFrame:
    """Streaming twin of operators/dedup.q_decontaminate: flag each
    arriving document by how many of its distinct 3-gram shingles appear
    in a STATIC eval-benchmark shingle set.

    Membership against a static set needs NO streaming state at all:
    the eval set is collapsed to a one-row array on the static side and
    stream-static broadcast-joined, so every flag is computed in-row and
    the query runs in append mode with zero state store — the decisive
    contrast with the batch pass, which aggregates per-doc counts after
    an exploded join. At a real deployment's scale the static side is a
    benchmark suite (megabytes); were it ever large, the same shape
    downgrades gracefully to a static Bloom-filter column or an exploded
    stream-static semi join. Works on batch frames too (the parity test
    runs the identical plan both ways)."""
    from ..operators.dedup import shingles_col
    from ..operators.wordcount import tokens_col

    ev = eval_shingles.select(F.collect_set("shingle").alias("ev"))
    return (
        docs.withColumn(
            "sh", F.array_distinct(shingles_col(tokens_col(F.col("text"))))
        )
        .crossJoin(F.broadcast(ev))
        .select(
            "doc_id",
            F.size("sh").alias("n_shingles"),
            F.size(F.array_intersect("sh", "ev")).alias("n_shared"),
        )
        .withColumn("contaminated", F.col("n_shared") > 0)
    )


# --- streaming PII redaction (stateless per-row screen) ----------------------------


def streaming_pii_scrub(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/text.q_pii_scrub's production
    surface: per arriving document, count and redact emails / phone
    numbers / IPv4 addresses (shared expressions — pii_count_cols /
    pii_redact_col — so stream and batch can never drift).

    Pure per-row regex work: NO streaming state, no watermark, append
    mode — the screen a 100 TB/day ingest runs inline before anything
    is persisted. Works on batch frames too (the parity test runs the
    identical plan both ways)."""
    from ..operators.text import pii_count_cols, pii_redact_col

    counts = pii_count_cols(F.col("text"))
    return docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        pii_redact_col(F.col("text")).alias("redacted"),
    )


# --- streaming quality gate (stateless rule battery + classifier) ------------------


def streaming_quality_gate(docs: DataFrame) -> DataFrame:
    """Streaming twin of the round-7 curation screens: per arriving
    document, the Gopher rule battery (operators/quality.q_gopher_rules)
    AND the hashed linear classifier (q_quality_classifier), combined
    into one inline keep-gate. Shared expression builders
    (gopher_rule_cols / classifier_cols), so stream and batch can never
    drift.

    Pure per-row expression work — no state, no watermark, append mode:
    exactly the screen a continuous ingest runs before anything is
    persisted (the batch twins are the backfill form). Works on batch
    frames too; the parity test runs the identical plan both ways."""
    from ..operators.quality import classifier_cols, gopher_rule_cols

    rules = gopher_rule_cols(F.col("text"))
    clf = classifier_cols(F.col("text"))
    return docs.select(
        "doc_id",
        rules["n_words"].alias("n_words"),
        rules["keep"].alias("keep_rules"),
        clf["score"].alias("clf_score"),
        clf["keep"].alias("keep_clf"),
        (rules["keep"] & clf["keep"]).alias("keep"),
    )


# --- streaming Count-Min Sketch (mergeable counters, update mode) ------------------


def streaming_cms_counters(docs: DataFrame) -> DataFrame:
    """Streaming twin of the Count-Min counter build inside
    operators/sketches.q_cms_token_freq: the (row, col) -> cnt table as
    an update-mode streaming aggregate over arriving documents.

    This is the textbook mergeable-sketch property made executable:
    counters sum cell-wise, so the micro-batch increments fold into the
    running state exactly like per-partition partial aggregates fold in
    batch — state is FIXED SIZE (depth x width cells) no matter how
    much data streams through, the streaming-state analogue of the
    batch plan's partial-agg collapse. Estimates are served by the same
    min-over-rows lookup as the batch operator.

    DELEGATES to sketches.cms_counters — one definition of the cell
    scheme and counter build for batch and stream, so the twins cannot
    drift (same contract as streaming_pii_scrub sharing the redact
    expressions)."""
    from ..operators.sketches import cms_counters

    return cms_counters(docs)


# --- streaming incremental dedup (foreachBatch vs static base indexes) -------------


def incremental_classify_batch(
    batch: DataFrame, base_digests: DataFrame, base_sigs: DataFrame
) -> DataFrame:
    """Classify one batch of arriving documents (doc_id, text) against
    STATIC base-corpus indexes: 'exact' (md5 digest already indexed),
    'near_dup' (MinHash band collision with estimated Jaccard >=
    MINHASH_EST_THRESHOLD against any base signature), else 'new' —
    the per-micro-batch core of the continuous-ingest twin of batch
    operators/dedup.q_dedup_incremental (the parity test pins the two
    to identical statuses; same thresholds, same md5-derived hash math).

    base_digests: (h) distinct md5 digests of the existing corpus.
    base_sigs: (doc_id, sig array<long>) its MinHash signature table —
    at scale both are precomputed artifacts of prior batch runs, read
    once per stream start, never per batch.

    The signature is computed IN-ROW from the text (stateless — the
    streaming price: the k components inline the shingle-hash pipeline
    per component instead of reading the memoized batch signature
    table; bounded by k, not corpus size). Docs with < 3 tokens carry
    no signature and can only be exact or new."""
    from ..functions.texthash import md5_hash_mod, minhash_component
    from ..operators.dedup import (
        MINHASH_AB,
        MINHASH_EST_THRESHOLD,
        N_HASHES,
        shingles_col,
    )
    from ..operators.wordcount import tokens_col

    sh = F.array_distinct(shingles_col(tokens_col(F.col("text"))))
    hashes = F.array_distinct(F.transform(sh, lambda s: md5_hash_mod(s)))
    sig = F.when(
        F.size(hashes) > 0,
        F.array(*[minhash_component(hashes, a, b) for a, b in MINHASH_AB]),
    )
    inc = batch.select(
        "doc_id", F.md5(F.col("text")).alias("h"), sig.alias("sig")
    )
    exact = (
        inc.join(base_digests.select("h").distinct(), "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    bi = inc.filter(F.col("sig").isNotNull()).select(
        "doc_id", F.posexplode(F.col("sig")).alias("band", "v")
    )
    bb = base_sigs.select(
        F.col("doc_id").alias("base_id"),
        F.posexplode(F.col("sig")).alias("band", "v"),
    )
    cand = bi.join(bb, ["band", "v"]).select("doc_id", "base_id").distinct()
    sa = inc.select("doc_id", F.col("sig").alias("sig_a"))
    sb = base_sigs.select(
        F.col("doc_id").alias("base_id"), F.col("sig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    near = (
        cand.join(sa, "doc_id")
        .join(sb, "base_id")
        .filter(matches / F.lit(float(N_HASHES)) >= F.lit(MINHASH_EST_THRESHOLD))
        .select("doc_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def start_incremental_dedup_stream(
    docs: DataFrame,
    base_digests: DataFrame,
    base_sigs: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous incremental dedup: each arriving micro-batch is
    classified against the static base indexes with full BATCH join
    semantics via foreachBatch (the joins + distinct inside
    incremental_classify_batch are not expressible as a stateless
    stream plan, and carrying the base corpus as stream state would
    duplicate what is already a static artifact). Exactly-once by the
    same per-batch-directory overwrite idempotency as the payments
    fan-out: a replayed batch rewrites its own `batch_id=<n>/` path."""

    def classify(batch: DataFrame, batch_id: int) -> None:
        incremental_classify_batch(
            batch, base_digests, base_sigs
        ).write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        docs.writeStream.foreachBatch(classify)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- transformWithState running count (the arbitrary-state successor API) ----------


def streaming_running_count_tws(words: DataFrame) -> DataFrame:
    """The same per-word running total as streaming_running_count, on
    Spark 4's transformWithStateInPandas — the successor to
    applyInPandasWithState and the surface any NEW custom stateful
    operator should target: typed state handles (value/list/map) that
    compose on one key, explicit timer registration instead of one
    timeout mode, and schema-evolvable state. Both forms stay registered
    because the processor-class API only exists on Spark >= 4.0 /
    RocksDB state store; the parity test pins them to identical output.

    ENVIRONMENT GATE (same pattern as the multimodal codecs): the TWS
    driver worker speaks protobuf to the JVM
    (pyspark/sql/streaming/stateful_processor_api_client.py imports
    google.protobuf), and this container ships no usable protobuf — the
    worker crashes at init with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The parity test
    skips when `google.protobuf.descriptor` is unimportable and runs
    wherever the dependency exists.

    State: a single ValueState[n long] per word — the minimal migration
    of the applyInPandasWithState tuple."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"word": [key[0]], "n": [n]})

        def close(self) -> None:
            pass

    return words.groupBy("word").transformWithStateInPandas(
        RunningCount(),
        outputStructType="word string, n long",
        outputMode="Update",
        timeMode="None",
    )


# --- streaming boilerplate screen (stateless vs a static digest set) ---------------


def streaming_boilerplate_filter(
    docs: DataFrame, boiler_digests: DataFrame
) -> DataFrame:
    """Streaming twin of operators/dedup.q_boilerplate_lines' SCREEN
    side: flag each arriving document by how many of its line/segment
    occurrences match a STATIC boilerplate digest set (the md5 digests
    of segments the batch pass found in >= BOILERPLATE_MIN_DF distinct
    docs — at scale a precomputed artifact refreshed per batch run,
    exactly like the incremental-dedup base indexes).

    Stateless by the same argument as streaming_decontaminate:
    membership against a static set collapses to a one-row digest
    array broadcast + per-row array math, so the query runs append-mode
    with zero state store. Occurrences (not distinct matches) are
    counted — F.filter over the per-doc segment digest list — so the
    numbers line up row-for-row with the batch report's n_boiler.
    Works on batch frames too (the parity test runs the identical plan
    both ways)."""
    from ..operators.dedup import LINE_SEG_TOKENS, token_segments_col
    from ..operators.wordcount import tokens_col

    bset = boiler_digests.select(F.collect_set("h").alias("bs"))
    seg_md5s = F.transform(
        token_segments_col(tokens_col(F.col("text")), LINE_SEG_TOKENS),
        lambda s: F.md5(s),
    )
    return (
        docs.withColumn("segs", seg_md5s)
        .crossJoin(F.broadcast(bset))
        .select(
            "doc_id",
            F.size("segs").alias("n_lines"),
            F.size(
                F.filter(
                    F.col("segs"), lambda s: F.array_contains(F.col("bs"), s)
                )
            ).alias("n_boiler"),
        )
        .withColumn("keep", F.col("n_boiler") == F.lit(0))
    )


# --- streaming drift monitor (per-batch KL/TV vs a static base vocab) --------------


def drift_report_batch(batch: DataFrame, base_vocab: DataFrame) -> DataFrame:
    """One drift report row for a batch of arriving documents
    (doc_id, text) against a STATIC base-corpus unigram table
    (token, c_base): smoothed KL(batch ‖ base) and total variation over
    the UNION vocabulary — the per-micro-batch core of the streaming
    twin of operators/text.q_corpus_drift (same Laplace smoothing, same
    DECIMAL(38,6) ln round-trip, so a batch equal to the monitor's
    batch slice produces the identical numbers).

    Scale shape: one explode + one groupBy(token) over the BATCH only;
    the base vocab joins in by token (full outer — unseen batch tokens
    and unvisited base tokens both smooth to c+0+1); every window runs
    over the union-vocab frame, never a corpus."""
    from pyspark.sql import Window as W

    from ..operators.wordcount import tokens_col

    bv = batch.select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).alias("c_batch"))
    vocab = (
        base_vocab.select("token", "c_base")
        .join(bv, "token", "full_outer")
        .select(
            F.coalesce(F.col("c_base"), F.lit(0)).alias("c_base"),
            F.coalesce(F.col("c_batch"), F.lit(0)).alias("c_batch"),
        )
    )
    w = W.partitionBy()
    vocab = (
        vocab.withColumn("n_base", F.sum("c_base").over(w))
        .withColumn("n_batch", F.sum("c_batch").over(w))
        .withColumn("v", F.count(F.lit(1)).over(w))
    )
    p_base = (F.col("c_base") + F.lit(1)) / (F.col("n_base") + F.col("v"))
    p_batch = (F.col("c_batch") + F.lit(1)) / (F.col("n_batch") + F.col("v"))
    terms = vocab.select(
        "n_base",
        "n_batch",
        "v",
        (p_batch * F.log(p_batch / p_base)).cast("decimal(38,6)").alias("kl_t"),
        F.abs(p_batch - p_base).cast("decimal(38,6)").alias("tv_t"),
    )
    return terms.groupBy("n_base", "n_batch", F.col("v").alias("vocab")).agg(
        F.sum("kl_t").cast("double").alias("kl_divergence"),
        (F.lit(0.5) * F.sum("tv_t").cast("double")).alias("tv_distance"),
    )


def start_drift_monitor_stream(
    docs: DataFrame,
    base_vocab: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous ingestion drift monitoring: each micro-batch emits ONE
    report row (KL, TV, counts) against the static base vocabulary via
    foreachBatch — a global aggregate per batch is not a stateless
    stream plan, and accumulating it as stream state would conflate
    batches (the monitor's whole point is per-ingest-batch numbers).
    Exactly-once by per-batch-directory overwrite idempotency, the
    incremental-dedup contract."""

    def report(batch: DataFrame, batch_id: int) -> None:
        drift_report_batch(batch, base_vocab).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")

    return (
        docs.writeStream.foreachBatch(report)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- streaming context-window chunker (stateless per-row explode) ------------------


def streaming_chunker(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/text.q_doc_chunk: split each arriving
    document into overlapping CHUNK_TOKENS/CHUNK_STRIDE context-window
    chunks inline — the ingest step that feeds a tokenizer/embedding
    stage directly from the stream instead of re-scanning a landed
    corpus. Pure per-row sequence explode + array math: NO streaming
    state, no watermark, append mode. The chunk identity (md5) and the
    count algebra are the SAME expressions as the batch operator
    (integer ceil via (x + S - 1) div S), so stream and batch chunkings
    can never drift; the parity test runs both on the same docs.

    Note the one semantic difference from the batch catalog entry: the
    batch op reads the MATERIALIZED token table; the stream pays the
    tokenizer in-row (the stateless price, bounded per doc — same
    trade as the incremental-dedup signature computation)."""
    from ..operators.text import CHUNK_STRIDE, CHUNK_TOKENS
    from ..operators.wordcount import tokens_col

    toks = tokens_col(F.col("text"))
    with_t = docs.select("doc_id", toks.alias("t"))
    L = F.size(F.col("t"))
    n_chunks = F.when(
        L >= F.lit(1),
        F.lit(1)
        + F.floor(
            (F.greatest(L - F.lit(CHUNK_TOKENS), F.lit(0))
             + F.lit(CHUNK_STRIDE - 1))
            / F.lit(CHUNK_STRIDE)
        ).cast("int"),
    ).otherwise(F.lit(0))
    start = (F.col("chunk_id") - F.lit(1)) * F.lit(CHUNK_STRIDE) + F.lit(1)
    return (
        with_t.select(
            "doc_id",
            "t",
            F.size(F.col("t")).alias("l"),
            F.explode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            start.alias("chunk_start"),
            F.least(
                F.lit(CHUNK_TOKENS), F.col("l") - start + F.lit(1)
            ).alias("chunk_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("t"), start, F.lit(CHUNK_TOKENS))
                )
            ).alias("chunk_md5"),
        )
    )


# --- streaming event-rate anomaly (per-batch vs a static baseline) -----------------


def rate_anomaly_batch(batch: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per-batch core of the streaming twin of
    operators/windows.q_event_rate_anomaly: count each micro-batch's
    (event_type, day) volumes and z-score them against a STATIC
    baseline table (event_type, mean, std) — at scale the baseline is
    the batch operator's own moments, recomputed per corpus refresh,
    exactly the static-artifact contract of the incremental-dedup
    indexes. The sqrt-guard NULL discipline matches the batch operator
    (a zero/degenerate std flags nothing).

    Scale shape: one groupBy over the BATCH only; the baseline joins in
    by event_type (broadcast at |types| scale); no stream state."""
    cells = batch.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n_events"))
    from ..operators.windows import ANOMALY_Z

    z = F.when(
        F.col("std") > F.lit(0.0),
        (F.col("n_events") - F.col("mean")) / F.col("std"),
    )
    return cells.join(F.broadcast(baseline), "event_type").select(
        "event_type",
        "day",
        "n_events",
        z.alias("z_score"),
        F.coalesce(F.abs(z) >= F.lit(ANOMALY_Z), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def start_rate_anomaly_stream(
    events: DataFrame,
    baseline: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous volume monitoring via foreachBatch (a per-batch global
    aggregate, the drift-monitor contract) with per-batch-directory
    idempotent output."""

    def report(batch: DataFrame, batch_id: int) -> None:
        rate_anomaly_batch(batch, baseline).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return (
        events.writeStream.foreachBatch(report)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- streaming SCD2 / CDC apply (append-only version log + reader-side view) -------


def start_scd2_log_stream(
    updates: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Continuous CDC ingestion for a slowly-changing dimension: each
    arriving micro-batch of (o_custkey, delta, eff_ts) updates is
    APPENDED to a version log — the dimension itself is never rewritten
    by the stream (a per-batch dimension rewrite is O(|dim|) per batch;
    the append-only log is O(|batch|), the only scale-honest shape on a
    100 TB warehouse without a table format's MERGE). Replay-safe by the
    per-batch-directory overwrite idempotency every foreachBatch sink
    here uses; readers resolve current/history views with
    scd2_resolve() (the batch operator governance.q_scd2_apply is the
    one-shot special case — parity pinned in tests)."""

    def append(batch: DataFrame, batch_id: int) -> None:
        batch.select("o_custkey", "delta", "eff_ts").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")

    return (
        updates.writeStream.foreachBatch(append)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def scd2_resolve(dim: DataFrame, log: DataFrame) -> DataFrame:
    """Reader-side SCD2 resolution of an append-only update log against
    the base dimension — the general multi-version form of
    governance.q_scd2_apply (which it reproduces exactly when each key
    has at most one log entry).

    Per key, the log's (delta, eff_ts) entries become one version each:
    balance = base + running Σdelta (DECIMAL(38,6) running sum over the
    eff_ts order — exact, so the chain is engine/replay-independent),
    valid_from = eff_ts, valid_to = the next version's eff_ts (open for
    the last). The base row closes out at the first update (or stays
    open/current for untouched keys). Cost: one window over the log
    (|log| rows, partitioned by key — never the dimension) + one join
    against the dimension on its key.

    Same-instant updates MERGE before the window (deltas summed in
    decimal): two log entries with equal (key, eff_ts) would otherwise
    make the running sum's per-row value and the lead() interval chain
    depend on an engine-arbitrary tie order — after the merge, eff_ts
    is unique per key and the version chain is total-ordered."""
    from pyspark.sql import Window as W

    log = log.groupBy("o_custkey", "eff_ts").agg(
        F.sum(F.col("delta").cast("decimal(38,6)"))
        .cast("double")
        .alias("delta")
    )
    w = W.partitionBy("o_custkey").orderBy("eff_ts")
    ver = log.select(
        "o_custkey",
        "eff_ts",
        F.sum(F.col("delta").cast("decimal(38,6)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_delta"),
        F.lead("eff_ts").over(w).alias("next_ts"),
    )
    epoch = F.lit("1995-01-01").cast("timestamp")
    updated = dim.join(ver, dim["c_custkey"] == ver["o_custkey"]).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        (
            F.col("c_acctbal").cast("decimal(38,6)") + F.col("cum_delta")
        )
        .cast("double")
        .alias("acctbal"),
        F.col("eff_ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )
    firsts = log.groupBy("o_custkey").agg(F.min("eff_ts").alias("first_ts"))
    base = dim.join(
        firsts, dim["c_custkey"] == firsts["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("c_acctbal").alias("acctbal"),
        epoch.alias("valid_from"),
        F.col("first_ts").alias("valid_to"),
        F.col("first_ts").isNull().alias("is_current"),
    )
    return base.unionByName(updated).orderBy("c_custkey", "valid_from")


# --- streaming data-quality gate (per-batch constraint report) ---------------------


def events_dq_batch(batch: DataFrame) -> DataFrame:
    """One micro-batch's data-quality report over the events schema —
    the streaming face of operators/governance.q_constraint_audit
    (same fused conditional-sum shape: every check is a CASE column in
    ONE aggregation pass, so a batch costs one job however many
    constraints are registered). Emits (check_name, n_violations,
    n_rows, passed).

    Every violation counter is coalesced to 0: SUM over an EMPTY
    micro-batch (a replayed/no-data trigger) is NULL, which would make
    n_violations NULL and passed NULL — a report row that is neither
    pass nor fail, silently missed by `passed = false` alerting
    (r7 ADVICE). An empty batch now reports 0 violations / passed=true."""
    zero = F.lit(0)
    agg = batch.agg(
        F.coalesce(
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0)), zero
        ).alias("v1"),
        F.coalesce(
            F.sum(
                F.when(
                    ~F.col("event_type").isin(
                        "view", "click", "purchase", "signup", "error"
                    ),
                    1,
                ).otherwise(0)
            ),
            zero,
        ).alias("v2"),
        F.coalesce(
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)), zero
        ).alias("v3"),
        F.coalesce(
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)), zero
        ).alias("v4"),
        F.count(F.lit(1)).alias("n"),
    )
    checks = (
        ("events.value >= 0", "v1"),
        ("events.event_type in domain", "v2"),
        ("events.ts not null", "v3"),
        ("events.user_id not null", "v4"),
    )
    out = None
    for name, col in checks:
        row = agg.select(
            F.lit(name).alias("check_name"),
            F.col(col).cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_rows"),
            (F.col(col) == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def start_dq_stream(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Continuous data-quality monitoring: each micro-batch's fused
    constraint report lands in its own idempotent batch directory (the
    repo's foreachBatch exactly-once pattern) — the operational answer
    to 'did last night's ingest regress', at per-trigger granularity,
    without a second pass over the data."""

    def report(batch: DataFrame, batch_id: int) -> None:
        events_dq_batch(batch).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return (
        events.writeStream.foreachBatch(report)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- streaming inter-arrival gaps (per-user state) ---------------------------------


def streaming_interarrival_gaps(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival gap emission with keyed state — the
    streaming face of operators/windows.q_interarrival_stats. State is
    ONE row per user (the last-seen event's epoch-microseconds), so the
    store is |active users|-bounded however long the stream runs; each
    micro-batch emits the (event_type, gap_s) rows its arrivals
    complete, and the shared windows.gap_report aggregate turns the gap
    log into the per-type stats frame.

    Determinism contract: within a batch, a user's rows are processed
    in (ts, event_id) order — the batch operator's total order — and
    the gap is computed as ts_us/1e6 - prev_us/1e6 (each timestamp
    divided FIRST, then subtracted), the exact IEEE sequence the batch
    lag-window's double-cast subtraction performs, so the parity test
    can require bitwise-equal aggregates. Event-time parity across
    batches requires arrivals in per-user time order (true for replayed
    logs; a late event would produce an arrival-order gap — the
    documented semantic difference, same as any last-value state
    operator without event-time buffering)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        last_us = state.get[0] if state.exists else None
        types: list = []
        gaps: list = []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        # Pin nanosecond resolution explicitly: a future pandas/Arrow
        # default of datetime64[us] would otherwise make the int64 view
        # microseconds and the // 1000 below silently shrink gaps 1000x
        # (r8 ADVICE).
        ts_i64 = pdf["ts"].astype("datetime64[ns]").astype("int64")
        for ts_ns, etype in zip(ts_i64, pdf["event_type"]):
            us = int(ts_ns) // 1000
            if last_us is not None:
                gaps.append(us / 1e6 - last_us / 1e6)
                types.append(etype)
            last_us = us
        state.update((last_us,))
        yield pd.DataFrame({"event_type": types, "gap_s": gaps})

    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="event_type string, gap_s double",
        stateStructType="last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_interarrival_stream(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Append the per-batch gap log to parquet; downstream consumers
    run windows.gap_report over the log (or any time-slice of it) —
    the aggregation is shared with the batch operator, so streaming
    parity is proven at the gap-emission layer."""
    return (
        streaming_interarrival_gaps(events)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


# --- streaming semantic-dedup ingestion (foreachBatch vs static bucketed base) -----


def embed_classify_batch(batch: DataFrame, base_bucketed: DataFrame) -> DataFrame:
    """Classify one micro-batch of arriving vectors (vec_id,
    embedding array<double>) against the STATIC bucketed base corpus:
    'near_dup' when some base bucket-mate's cosine clears the catalog
    threshold, else 'new' — the per-batch core of the continuous
    embedding-ingest twin of operators/similarity.
    q_embed_dedup_incremental (parity pinned in tests; same threshold,
    same bucket function, same cosine fold).

    base_bucketed: (base_id, bv, bnorm, bucket) — at scale the stored
    LSH/IVF layout of prior runs, read once per stream start."""
    from ..operators.similarity import (
        NEARDUP_COS_CATALOG,
        _bucket_col,
        cosine_prenorm,
        dot,
    )

    inc = batch.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    inc = inc.withColumn("bucket", _bucket_col(F.col("v"))).withColumn(
        "norm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    hits = (
        inc.join(base_bucketed, "bucket")
        .filter(
            cosine_prenorm(
                F.col("v"), F.col("bv"), F.col("norm"), F.col("bnorm")
            )
            >= F.lit(NEARDUP_COS_CATALOG)
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        inc.select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def start_embed_ingest_stream(
    vectors: DataFrame,
    base_bucketed: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous semantic-dedup ingestion via foreachBatch (the joins
    + distinct need full batch semantics; the base layout is a static
    artifact, not stream state) with the per-batch-directory
    idempotent output every foreachBatch sink here uses."""

    def classify(batch: DataFrame, batch_id: int) -> None:
        embed_classify_batch(batch, base_bucketed).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/batch_id={batch_id}")

    return (
        vectors.writeStream.foreachBatch(classify)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- streaming asset decode (stateless codec tier, round 9) ------------------------


def streaming_asset_decode(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/multimodal.q_asset_png_meta: per
    arriving document, build the PNG asset and FULLY decode it back
    (CRC-checked chunk walk, stdlib inflate, scanline unfilter) via the
    SHARED png_decode_batches kernel — stream and batch run the
    identical mapInPandas plan, so any drift is a bug.

    Stateless Arrow-batched per-row work: no streaming state, no
    watermark, append mode — the decode/validate pass a continuous
    multimodal ingest runs inline before persisting asset metadata
    (reject-on-malformed comes free: the codec raises on any corrupt
    container, failing the batch instead of persisting bad rows).
    Works on batch frames too; the parity test runs the plan both
    ways."""
    from ..operators.multimodal import ASSET_PNG_SCHEMA, png_decode_batches

    return docs.select("doc_id", "n_chars").mapInPandas(
        png_decode_batches, schema=ASSET_PNG_SCHEMA
    )


def streaming_gif_decode(docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/multimodal.q_asset_gif_meta: per
    arriving document, build the GIF asset and FULLY decode it back
    (block walk + general LZW) via the SHARED gif_decode_batches
    kernel — same stateless append-mode contract as
    streaming_asset_decode; the codec raises on any corrupt container,
    so reject-on-malformed comes free."""
    from ..operators.multimodal import ASSET_GIF_SCHEMA, gif_decode_batches

    return docs.select("doc_id", "n_chars").mapInPandas(
        gif_decode_batches, schema=ASSET_GIF_SCHEMA
    )


# --- streaming marketing attribution (round 9) -------------------------------


def streaming_attribution_touches(events: DataFrame) -> DataFrame:
    """Per-user first/last-touch tracking with keyed state — the
    streaming face of operators/windows.q_attribution_revenue. State is
    ONE row per user (its first-ever and most recent non-purchase
    event type), so the store is |active users|-bounded however long
    the stream runs; each micro-batch emits one (fch, lch, value) row
    per purchase it completes, and the shared
    windows.attribution_report aggregate turns the touch log into the
    two-model report.

    Determinism contract: within a batch, a user's rows are processed
    in (ts, event_id) order — the batch operator's total order — and
    the emitter performs NO arithmetic (channel strings and the raw
    value pass through), so the parity test can require exact-equal
    reports. Event-time parity across batches requires arrivals in
    per-user time order (true for replayed logs) — the same
    documented semantic boundary as streaming_interarrival_gaps."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        first_t, last_t = state.get if state.exists else (None, None)
        fchs: list = []
        lchs: list = []
        vals: list = []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for etype, value in zip(pdf["event_type"], pdf["value"]):
            if etype == "purchase":
                fchs.append(first_t if first_t is not None else "direct")
                lchs.append(last_t if last_t is not None else "direct")
                vals.append(float(value))
            else:
                if first_t is None:
                    first_t = etype
                last_t = etype
        state.update((first_t, last_t))
        yield pd.DataFrame({"fch": fchs, "lch": lchs, "value": vals})

    return events.select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="fch string, lch string, value double",
        stateStructType="first_touch string, last_touch string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_attribution_stream(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Append the per-batch touch log to parquet; downstream consumers
    run windows.attribution_report over the log (or any time-slice) —
    the aggregation is shared with the batch operator, so streaming
    parity is proven at the touch-emission layer."""
    return (
        streaming_attribution_touches(events)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- streaming value-histogram counters (round 9) ----------------------------


def streaming_value_bins(events: DataFrame, bounds: DataFrame) -> DataFrame:
    """Streaming twin of the bin-counter build inside
    operators/sketches.q_histogram_quantiles: the (event_type, bin) ->
    c table as an update-mode aggregate over arriving events, against
    STATIC calibrated bounds (a streaming histogram cannot re-derive
    min/max and re-bucket mid-stream — production calibrates bounds on
    a sample, which is exactly the `bounds` frame here; stream-static
    broadcast join, the asof_rate contract).

    Same mergeable-counter property as streaming_cms_counters: state
    is |types| x HIST_BINS cells however much data streams through.
    DELEGATES to sketches.value_bin_counts — one definition of the bin
    expression for batch and stream."""
    from ..operators.sketches import value_bin_counts

    ev = events.select(
        "event_type", F.col("value").cast("double").alias("x")
    )
    return value_bin_counts(ev, bounds)


# --- streaming EWMA control chart (round 10) ----------------------------------


def streaming_ewma_forecast(events: DataFrame) -> DataFrame:
    """Per-event-type EWMA control chart with keyed state — the
    streaming face of operators/windows.q_ewma_anomaly. State is ONE
    row per event type (the day being accumulated, its running count,
    and the EWMA of all COMPLETED days), so the store is
    |event types|-bounded however long the stream runs. A day is
    folded and its chart row EMITTED only when a later day's first
    arrival proves it complete — the same close-on-advance discipline
    as any daily-rollup stream; the in-flight day emits nothing (the
    batch operator's last day therefore has no streamed twin row, the
    documented boundary, mirrored in the parity test).

    Determinism contract: arrivals reach each type in day order
    (replayed logs); the recurrence 0.2·n + 0.8·ewma and the Poisson
    band 3·sqrt(forecast) run the IDENTICAL IEEE sequence as the batch
    fold, so parity is exact equality."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.windows import EWMA_ALPHA, EWMA_POISSON_Z

    def update(key, pdfs, state):
        if state.exists:
            cur_day, cur_n, ewma, has_ewma = state.get
        else:
            cur_day, cur_n, ewma, has_ewma = None, 0, 0.0, False
        out = {c: [] for c in ("day", "n", "ewma_forecast", "resid", "flagged")}

        def close_day(day, n):
            nonlocal ewma, has_ewma
            if has_ewma:
                forecast = ewma
                resid = float(n) - forecast
                out["day"].append(
                    pd.Timestamp(day, unit="D").strftime("%Y-%m-%d")
                )
                out["n"].append(int(n))
                out["ewma_forecast"].append(forecast)
                out["resid"].append(resid)
                out["flagged"].append(
                    abs(resid) > EWMA_POISSON_Z * math.sqrt(forecast)
                )
                ewma = EWMA_ALPHA * float(n) + (1.0 - EWMA_ALPHA) * ewma
            else:
                ewma = float(n)
                has_ewma = True

        pdf = pd.concat(list(pdfs)).sort_values("ts")
        days = (
            pdf["ts"].astype("datetime64[ns]").astype("int64")
            // 86_400_000_000_000
        )
        for d in days:
            d = int(d)
            if cur_day is None:
                cur_day, cur_n = d, 1
            elif d == cur_day:
                cur_n += 1
            else:
                close_day(cur_day, cur_n)
                cur_day, cur_n = d, 1
        state.update((cur_day, cur_n, ewma, has_ewma))
        yield pd.DataFrame(
            {"event_type": [key[0]] * len(out["day"]), **out}
        )

    return events.select("event_type", "ts").groupBy(
        "event_type"
    ).applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, day string, n long, "
            "ewma_forecast double, resid double, flagged boolean"
        ),
        stateStructType=(
            "cur_day long, cur_n long, ewma double, has_ewma boolean"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_ewma_stream(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Append the per-completed-day chart rows to parquet — consumers
    read the same columns the batch operator emits."""
    return (
        streaming_ewma_forecast(events)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


# --- streaming PSI drift monitor (round 10) -------------------------------------


def doc_quality_bins(docs: DataFrame) -> DataFrame:
    """Per-document fixed decile bin of the shared quality score —
    the binning both drift monitors (batch q_drift_psi and the
    streaming twin below) apply, built from the same
    quality_components expression so the bins can never drift."""
    from ..operators.quality import PSI_BINS
    from ..operators.text import quality_components

    q = quality_components(F.col("text"))["quality"]
    return docs.select(
        F.least(
            F.floor(q * F.lit(float(PSI_BINS))), F.lit(PSI_BINS - 1)
        )
        .cast("int")
        .alias("bin")
    )


def drift_psi_batch(batch_docs: DataFrame, base_counts: DataFrame) -> DataFrame:
    """PSI of ONE micro-batch of arriving documents against a STATIC
    base bin-count frame (at scale: the stored histogram of the
    reference corpus, read once per stream start) — the per-batch core
    of the continuous drift monitor, delegating every piece of PSI
    arithmetic to the operator's own quality.psi_cells_report so
    stream and batch are the same code path.

    base_counts: (bin, c_base) — build with
    doc_quality_bins(base_docs).groupBy("bin").count()."""
    from ..operators.quality import psi_cells_report

    batch_counts = (
        doc_quality_bins(batch_docs)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c_batch"))
    )
    cells = (
        base_counts.join(batch_counts, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("c_base"), F.lit(0)).alias("c_base"),
            F.coalesce(F.col("c_batch"), F.lit(0)).alias("c_batch"),
        )
    )
    return psi_cells_report(cells)


def start_drift_psi_stream(
    docs: DataFrame,
    base_counts: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """foreachBatch drift monitor: per micro-batch, write the full
    per-bin PSI report (plus batch_id) to its own overwrite-idempotent
    directory — the payments-fanout exactly-once pattern."""

    def report(batch: DataFrame, batch_id: int) -> None:
        drift_psi_batch(batch, base_counts).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(report)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- continuous bandit allocation (round 11) ---------------------------------


def bandit_arm_counts(events: DataFrame) -> DataFrame:
    """Per-arm (n, n_conv) counts of ONE micro-batch of events — the
    same md5 arm and conversion rule as the batch operator
    (operators/windows.q_bandit_ucb), shared so stream and batch can
    never drift."""
    from ..functions.texthash import md5_hash64
    from ..operators.windows import BANDIT_ARMS, BANDIT_CONV_THRESHOLD

    arm = (
        md5_hash64(
            F.concat(F.lit("bandit|"), F.col("user_id").cast("string"))
        )
        % BANDIT_ARMS
    )
    return (
        events.filter(F.col("event_type") == F.lit("purchase"))
        .select(
            arm.alias("arm"),
            (F.col("value") >= F.lit(BANDIT_CONV_THRESHOLD))
            .cast("long")
            .alias("conv"),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )


def bandit_ucb_batch(
    batch_events: DataFrame, prev_counts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One step of the continuous bandit: merge the micro-batch's arm
    counts into the cumulative counts, then score through the SHARED
    operators/windows.ucb_report builder. Returns (new_counts, report)
    — counts and report both re-derivable from (prev state, batch), so
    a retried batch recomputes identically (exactly-once via the
    per-batch-id overwrite-idempotent layout below)."""
    from ..operators.windows import ucb_report

    merged = (
        prev_counts.unionByName(bandit_arm_counts(batch_events))
        .groupBy("arm")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("n_conv").cast("long").alias("n_conv"),
        )
    )
    return merged, ucb_report(merged)


BANDIT_COUNT_SCHEMA = "arm BIGINT, n BIGINT, n_conv BIGINT"


def start_bandit_stream(
    events: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """foreachBatch continuous bandit: per micro-batch, advance the
    cumulative per-arm state (state/batch_id=K = state at K−1 plus
    batch K's counts — a pure function of replayed inputs, so retries
    are idempotent) and write the UCB allocation report for that point
    in the stream. At scale the state is |arms| rows — trivially
    rewritten per batch; the report is the between-batches allocation
    decision the batch operator can only compute once."""

    def step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id > 0:
            prev = spark.read.parquet(
                f"{out_path}/state/batch_id={batch_id - 1}"
            )
        else:
            prev = literal_df(spark, [], BANDIT_COUNT_SCHEMA)
        counts, report = bandit_ucb_batch(batch, prev)
        counts.write.mode("overwrite").parquet(
            f"{out_path}/state/batch_id={batch_id}"
        )
        report.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(
            f"{out_path}/report/batch_id={batch_id}"
        )

    return (
        events.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- continuous conformal calibration (round 11) -----------------------------

CONF_CELL_SCHEMA = "p BIGINT, nc DOUBLE, c BIGINT"


def conformal_batch(
    batch_embeddings: DataFrame, prev_cells: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One step of the continuous conformal monitor: fold the
    micro-batch's (parity, nonconformity) histogram into the
    cumulative cells, then build the report through the SHARED
    operators/analytics.conformal_report builder. State is the
    6dp-bounded (p, nc) histogram — ≤ 2e6 rows at ANY corpus size."""
    from ..operators.analytics import (
        conformal_nonconformity,
        conformal_report,
    )

    batch_cells = (
        conformal_nonconformity(batch_embeddings)
        .groupBy("p", "nc")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    merged = (
        prev_cells.unionByName(batch_cells)
        .groupBy("p", "nc")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    report = conformal_report(
        merged.filter(F.col("p") == 0).select("nc", "c"),
        merged.filter(F.col("p") == 1).select("nc", "c"),
    )
    return merged, report


def start_conformal_stream(
    embeddings: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """foreachBatch continuous conformal calibration: per micro-batch,
    advance the cumulative nonconformity histogram (state/batch_id=K =
    state at K−1 plus batch K — a pure function of replayed inputs,
    retry-idempotent) and write that point-in-stream threshold +
    coverage report. The q_hat each batch emits is the prediction-set
    threshold a serving system would pick up BETWEEN batches."""

    def step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id > 0:
            prev = spark.read.parquet(
                f"{out_path}/state/batch_id={batch_id - 1}"
            )
        else:
            prev = literal_df(spark, [], CONF_CELL_SCHEMA)
        cells, report = conformal_batch(batch, prev)
        cells.write.mode("overwrite").parquet(
            f"{out_path}/state/batch_id={batch_id}"
        )
        report.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(
            f"{out_path}/report/batch_id={batch_id}"
        )

    return (
        embeddings.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- continuous OOV monitor (round 11) ----------------------------------------


def oov_batch(batch_docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-source OOV report of ONE micro-batch of arriving documents
    against a FROZEN head vocabulary (at scale: the tokenizer's actual
    vocab, read once per stream start) — delegates entirely to the
    operator's own text.oov_source_report so stream and batch
    (q_oov_rate) are the same code path and can never drift.

    vocab: (word, in_vocab) — freeze with text.corpus_head_vocab(base)
    or load the production tokenizer's vocab."""
    from ..operators.text import oov_source_report

    return oov_source_report(batch_docs, vocab)


def start_oov_stream(
    docs: DataFrame,
    vocab: DataFrame,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """foreachBatch OOV monitor: per micro-batch, write the per-source
    OOV report (plus batch_id) to its own overwrite-idempotent
    directory — the payments-fanout exactly-once pattern. A source
    whose streaming oov_rate departs its batch baseline is shipping a
    new dialect/encoding at you; this is the alarm that catches it
    before the tokenizer prices it wrong."""

    def report(batch: DataFrame, batch_id: int) -> None:
        oov_batch(batch, vocab).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        docs.writeStream.foreachBatch(report)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# --- continuous group-sequential monitor (round 11) -----------------------------

GS_MOMENT_SCHEMA = (
    "cn0 BIGINT, cn1 BIGINT, cs0 DECIMAL(38,6), cs1 DECIMAL(38,6), "
    "css0 DECIMAL(38,6), css1 DECIMAL(38,6)"
)


def gs_batch_moments(events: DataFrame) -> DataFrame:
    """Cumulative-moment CONTRIBUTION of one micro-batch of events —
    the same md5 arm coin and conditional decimal sums as the batch
    operator (operators/windows.q_group_sequential), shared so stream
    and batch can never drift. One row (or zero for an empty batch)."""
    from ..functions.texthash import md5_hash64

    arm = (
        md5_hash64(
            F.concat(F.lit("ab|"), F.col("user_id").cast("string"))
        )
        % 2
    )
    return (
        events.filter(F.col("event_type") == F.lit("purchase"))
        .select(arm.alias("arm"), F.col("value").alias("x"))
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("cn0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("cn1"),
            F.sum(
                F.when(F.col("arm") == 0, F.col("x"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            ).alias("cs0"),
            F.sum(
                F.when(F.col("arm") == 1, F.col("x"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            ).alias("cs1"),
            F.sum(
                F.when(F.col("arm") == 0, F.col("x") * F.col("x"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            ).alias("css0"),
            F.sum(
                F.when(F.col("arm") == 1, F.col("x") * F.col("x"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            ).alias("css1"),
        )
    )


def gs_batch(
    batch_events: DataFrame, prev_moments: DataFrame, n_planned: int
) -> tuple[DataFrame, DataFrame]:
    """One step of the continuous group-sequential monitor: fold the
    micro-batch's moment contribution into the cumulative state (six
    decimal/int sums — order-free, so retries recompute identically),
    then score through the SHARED operators/windows.gs_readout with
    the PLANNED sample size as the information denominator. Returns
    (new_moments, report)."""
    from ..operators.windows import gs_readout

    merged = (
        prev_moments.unionByName(gs_batch_moments(batch_events))
        .agg(
            F.sum("cn0").cast("long").alias("cn0"),
            F.sum("cn1").cast("long").alias("cn1"),
            F.sum("cs0").cast("decimal(38,6)").alias("cs0"),
            F.sum("cs1").cast("decimal(38,6)").alias("cs1"),
            F.sum("css0").cast("decimal(38,6)").alias("css0"),
            F.sum("css1").cast("decimal(38,6)").alias("css1"),
        )
    )
    scored = gs_readout(
        merged.select(
            "cn0",
            "cn1",
            F.col("cs0").cast("double").alias("cs0"),
            F.col("cs1").cast("double").alias("cs1"),
            F.col("css0").cast("double").alias("css0"),
            F.col("css1").cast("double").alias("css1"),
            F.lit(n_planned).cast("long").alias("n_final"),
        )
    )
    return merged, scored


def start_gs_stream(
    events: DataFrame, n_planned: int, out_path: str, checkpoint: str
) -> StreamingQuery:
    """foreachBatch continuous group-sequential monitor: per
    micro-batch, advance the six-sum cumulative state (a pure function
    of replayed inputs — exactly-once via the per-batch-id
    overwrite-idempotent layout) and write the boundary readout. The
    state is ONE row at any corpus size; the report is the live
    stop/continue decision the batch operator can only reconstruct
    after the fact."""

    def step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id > 0:
            prev = spark.read.parquet(
                f"{out_path}/state/batch_id={batch_id - 1}"
            )
        else:
            prev = literal_df(spark, [], GS_MOMENT_SCHEMA)
        moments, report = gs_batch(batch, prev, n_planned)
        moments.write.mode("overwrite").parquet(
            f"{out_path}/state/batch_id={batch_id}"
        )
        report.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").parquet(
            f"{out_path}/report/batch_id={batch_id}"
        )

    return (
        events.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .start()
    )
