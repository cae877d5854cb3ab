"""The payments enrichment pipeline, Spark-first.

Reference semantics (/root/reference/lenses-topology-example-microservice):
poll `payments` topic -> Jackson-decode Payment -> look up FX rate by
currency (CurrencyExchangeRepo.java:22-24) -> amount*rate
(PaymentsService.java:100-103) -> produce to `payments_xchg`
(PaymentsService.java:93) -> if amount<10000 also produce to
`suspicious_payments` (PaymentsService.java:94-97).

Spark design:
- the hand-rolled per-record hash-map lookup becomes a **broadcast hash
  join** against the 5-row dimension — no shuffle on the fact side, the
  dim is replicated to every executor exactly like the reference's
  in-process map, but the fact scan stays columnar + codegen'd.
- unknown currency: the reference would NPE (PaymentsService.java:101-102);
  we define inner-join-drop (documented deviation, SURVEY.md §1.2).
- the two-output fan-out becomes two filters over one cached lineage (or
  one pass via foreachBatch in the streaming twin — streaming/pipelines.py,
  which folds the constant dimension into its plan as a literal map
  instead of broadcasting it in every micro-batch, and writes both sinks
  concurrently).

Scale notes (100 TB): the only shuffle in the whole pipeline is the final
groupBy(currency); with 5 distinct keys Spark's partial aggregation
(map-side combine) reduces each of the ~800k input partitions to <=5 rows
before the exchange, so the shuffle moves KBs, not TBs. The broadcast join
adds zero network beyond the 5-row dim replication. Filters and the
column projection push into the parquet scan.

The batch twin runs on the driver's `events` table (batch-as-bounded-
stream equivalence, SURVEY.md §2): a payments-shaped view is derived
deterministically (currency from user_id%5, amount from value*1000) so
the DuckDB oracle can compute the identical stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datamodel import (
    CURRENCY_FOR_SQL,
    RATES_VALUES_SQL,
    SUSPICIOUS_THRESHOLD,
    currency_for,
    currency_rates_df,
)
from ..tables import load_table

# SQL fragment shared by every oracle below — the payments view over events.
PAYMENTS_VIEW_SQL = f"""
    SELECT event_id,
           {CURRENCY_FOR_SQL} AS currency,
           value * 1000.0 AS amount,
           ts
    FROM events
"""


def payments_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> payments-shaped frame (event_id, currency, amount, ts).

    amount stays double: `value * 1000.0` is a single IEEE op, bit-equal
    in any engine; decimal enters only at aggregation boundaries.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        currency_for(F.col("user_id")).alias("currency"),
        (F.col("value") * F.lit(1000.0)).alias("amount"),
        "ts",
    )


def q_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 batch twin: full source scan with explicit projection
    (PaymentsService.java:44-50 poll loop / kafka 7-col frame)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


SQL_SCAN_EVENTS = "SELECT event_id, ts, user_id, event_type, value FROM events"


def q_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: CAST projection (sparkstreaming App.java:74
    `selectExpr("CAST(value AS STRING)")`) — int casts keep the oracle
    comparison format-stable."""
    return load_table(spark, sf_dir, "events").selectExpr(
        "CAST(event_id AS STRING) AS key",
        "CAST(user_id AS STRING) AS user_key",
        "upper(event_type) AS event_type_uc",
    )


SQL_PROJECT_CAST = """
    SELECT CAST(event_id AS VARCHAR) AS key,
           CAST(user_id AS VARCHAR) AS user_key,
           upper(event_type) AS event_type_uc
    FROM events
"""


def q_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: schema-on-read JSON decode (PaymentsService.java:52
    `mapper.readValue`) via from_json on the events.props column."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return events.select("event_id", parsed.getField("k").alias("k"))


SQL_JSON_DECODE = """
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events
"""


def q_json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: JSON encode (PaymentsService.java:92 `writeValueAsString`).

    The oracle builds the same JSON by string concatenation so the byte
    format (no spaces, field order) matches Spark's to_json exactly.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.to_json(F.struct(F.col("event_id"), F.col("event_type"))).alias("js"),
    )


# Escapes match Spark's to_json for the characters that can appear in
# string data (backslash first, then quote); a NULL field is omitted
# entirely, which is to_json's default null handling.
SQL_JSON_ENCODE = r"""
    SELECT event_id,
           CASE WHEN event_type IS NULL
                THEN '{"event_id":' || event_id || '}'
                ELSE '{"event_id":' || event_id || ',"event_type":"'
                     || replace(replace(event_type, '\', '\\'), '"', '\"')
                     || '"}'
           END AS js
    FROM events
"""


def q_fx_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: stream-static dimension join as explicit broadcast hash join
    (CurrencyExchangeRepo.java:22-24 lookup at PaymentsService.java:101).
    Inner join drops unknown currencies (documented deviation from the
    reference's NPE)."""
    payments = payments_view(spark, sf_dir)
    rates = currency_rates_df(spark)
    return payments.join(F.broadcast(rates), "currency", "inner").select(
        "event_id", "currency", "rate"
    )


SQL_FX_JOIN = f"""
    SELECT event_id, p.currency AS currency, rate
    FROM ({PAYMENTS_VIEW_SQL}) p
    JOIN {RATES_VALUES_SQL} ON p.currency = rates.currency
"""


def q_fx_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: scalar arithmetic map — rebuild the record with amount*rate
    (PaymentsService.java:100-103). Catalyst-native multiply inside
    whole-stage codegen; no UDF."""
    payments = payments_view(spark, sf_dir)
    rates = currency_rates_df(spark)
    return (
        payments.join(F.broadcast(rates), "currency", "inner")
        .withColumn("amount_xchg", F.col("amount") * F.col("rate"))
        .select("event_id", "currency", "amount_xchg", "ts")
    )


SQL_FX_CONVERT = f"""
    SELECT event_id, p.currency AS currency, amount * rate AS amount_xchg, ts
    FROM ({PAYMENTS_VIEW_SQL}) p
    JOIN {RATES_VALUES_SQL} ON p.currency = rates.currency
"""


def q_filter_suspicious(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: predicate fan-out branch — post-conversion amount < 10000
    (PaymentsService.java:94-97). The comparison predicate lands in the
    scan via pushdown once conversion folds (check .explain)."""
    converted = q_fx_convert(spark, sf_dir)
    return converted.filter(F.col("amount_xchg") < F.lit(float(SUSPICIOUS_THRESHOLD)))


SQL_FILTER_SUSPICIOUS = f"""
    SELECT * FROM ({SQL_FX_CONVERT}) WHERE amount_xchg < 10000.0
"""


def q_count_by_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 variant: incremental group-by count keyed by currency
    (the payments analogue of kstreams wordcount, kstreams/App.java:108-109).
    Partial aggregation collapses the shuffle to <=5 rows per partition."""
    return (
        payments_view(spark, sf_dir)
        .groupBy("currency")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_COUNT_BY_CURRENCY = f"""
    SELECT currency, COUNT(*) AS n FROM ({PAYMENTS_VIEW_SQL}) GROUP BY currency
"""


def q_payments_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship §3.3 pipeline end-to-end: decode -> broadcast FX join
    -> convert -> suspicious filter -> per-currency count + exact sum.

    Sum goes through DECIMAL(38,6): order-independent exact aggregation at
    any parallelism (a float sum would be non-deterministic across 1000
    executors), cast back to double at the boundary.
    """
    payments = payments_view(spark, sf_dir)
    rates = currency_rates_df(spark)
    converted = payments.join(F.broadcast(rates), "currency", "inner").withColumn(
        "amount_xchg", F.col("amount") * F.col("rate")
    )
    suspicious = converted.filter(
        F.col("amount_xchg") < F.lit(float(SUSPICIOUS_THRESHOLD))
    )
    return suspicious.groupBy("currency").agg(
        F.count(F.lit(1)).alias("n_suspicious"),
        F.sum(F.col("amount_xchg").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_suspicious"),
    )


SQL_PAYMENTS_PIPELINE = f"""
    SELECT currency,
           COUNT(*) AS n_suspicious,
           CAST(SUM(CAST(amount_xchg AS DECIMAL(38,6))) AS DOUBLE) AS total_suspicious
    FROM ({SQL_FX_CONVERT})
    WHERE amount_xchg < 10000.0
    GROUP BY currency
"""


def q_semi_join_suspicious(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (SURVEY.md §2.3 extension): all events of users who made
    at least one suspicious payment. LEFT SEMI keeps the probe side's
    columns only and short-circuits on first match — at scale the build
    side (distinct suspicious users, ~0.5% selectivity pre-distinct) is
    orders of magnitude smaller than the fact and broadcast-eligible."""
    events = load_table(spark, sf_dir, "events")
    rates = currency_rates_df(spark)
    converted = (
        events.select(
            "user_id",
            currency_for(F.col("user_id")).alias("currency"),
            (F.col("value") * F.lit(1000.0)).alias("amount"),
        )
        .join(F.broadcast(rates), "currency", "inner")
        .withColumn("amount_xchg", F.col("amount") * F.col("rate"))
    )
    # distinct() before the join: partial aggregation collapses the build
    # side map-side (suspicious rows -> unique users), and AQE upgrades
    # the semi join to broadcast at runtime when the user set fits (no
    # static hint — at 100 TB the set may not fit, and SMJ is correct).
    susp_users = (
        converted.filter(F.col("amount_xchg") < F.lit(float(SUSPICIOUS_THRESHOLD)))
        .select("user_id")
        .distinct()
    )
    return events.join(susp_users, "user_id", "left_semi").select(
        "event_id", "user_id", "event_type"
    )


SQL_SEMI_JOIN_SUSPICIOUS = f"""
    SELECT event_id, user_id, event_type FROM events e
    WHERE EXISTS (
        SELECT 1
        FROM events s
        JOIN {RATES_VALUES_SQL}
          ON rates.currency = {CURRENCY_FOR_SQL.replace("user_id", "s.user_id")}
        WHERE s.user_id = e.user_id
          AND s.value * 1000.0 * rate < 10000.0
    )
"""


def q_union_payment_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: the inverse of the reference's two-way fan-out
    (PaymentsService.java:93-96) — suspicious UNION ALL non-suspicious
    reconstitutes the converted stream."""
    converted = q_fx_convert(spark, sf_dir)
    thresh = F.lit(float(SUSPICIOUS_THRESHOLD))
    low = converted.filter(F.col("amount_xchg") < thresh)
    high = converted.filter(F.col("amount_xchg") >= thresh)
    return low.unionByName(high)


SQL_UNION_PAYMENT_STREAMS = f"""
    SELECT * FROM ({SQL_FX_CONVERT}) WHERE amount_xchg < 10000.0
    UNION ALL
    SELECT * FROM ({SQL_FX_CONVERT}) WHERE amount_xchg >= 10000.0
"""
