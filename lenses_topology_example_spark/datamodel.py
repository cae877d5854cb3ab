"""Schemas and static fixtures derived from the reference's data model.

Reference citations (all under /root/reference/):
- Payment POJO: lenses-topology-example-microservice/src/main/java/io/lenses/
  topology/example/microservice/Payment.java:5-42 (currency String,
  amount BigDecimal, timestamp Long epoch-millis).
- FX dimension: .../CurrencyExchangeRepo.java:12-20 — 5 currency->rate
  entries, point lookup by currency.
- Word-count corpus: lenses-topology-example-sparkstreaming/.../spark/kafka/
  App.java:99-115 — 15 fixed text lines (identical copies in the kstreams
  and akkastreams modules); golden fixture for word count.
- Suspicious threshold: .../PaymentsService.java:95 — amount < 10000 after
  FX conversion.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# Payment.java:5-42 — BigDecimal => DecimalType so comparison/multiply
# never goes through float; timestamp is epoch millis (LongType) in
# transit, converted to TimestampType at the watermark boundary.
PAYMENT_SCHEMA = T.StructType(
    [
        T.StructField("currency", T.StringType(), False),
        T.StructField("amount", T.DecimalType(38, 18), False),
        T.StructField("timestamp", T.LongType(), False),
    ]
)

# CurrencyExchangeRepo.java:15-19 (exact values).
CURRENCY_RATES: dict[str, Decimal] = {
    "GBP": Decimal("1.0"),
    "USD": Decimal("1.313558"),
    "EUR": Decimal("1.144073"),
    "CAN": Decimal("1.702642"),
    "CHF": Decimal("1.303682"),
}

CURRENCIES = tuple(CURRENCY_RATES)

# PaymentsService.java:95 — post-conversion amount < 10000 => suspicious.
SUSPICIOUS_THRESHOLD = 10_000

# sparkstreaming App.java:99-115 corpus (data fixture, not code).
CORPUS_LINES = (
    "I can't. As much as I care about you, my first duty is to the ship.",
    "Captain, why are we out here chasing comets?",
    "The Federation's gone; the Borg is everywhere!",
    "This is not about revenge.",
    "This is about justice.",
    "I'd like to think that I haven't changed those things, sir.",
    "The game's not big enough unless it scares you a little.",
    "Congratulations - you just destroyed the Enterprise.",
    "The look in your eyes, I recognize it.",
    "You used to have it for me.",
    "How long can two people talk about nothing?",
    "I guess it's better to be lucky than good.",
    "But the probability of making a six is no greater than that of rolling a seven.",
    "We finished our first sensor sweep of the neutral zone.",
    "Wait a minute - you've been declared dead.",
)


def currency_rates_df(spark: SparkSession) -> DataFrame:
    """The 5-row FX dimension as a DataFrame.

    The batch catalog entries join it with an explicit ``F.broadcast``
    hint — the Spark-native form of the reference's in-process hash-map
    lookup (CurrencyExchangeRepo.java:22-24): replicate the dim to every
    executor once per query, zero shuffle on the fact side. The streaming
    twin (streaming/pipelines.convert_payments) does not broadcast it: it
    collects the 5 rows once at plan build time and folds them into the
    plan as a literal map, so no micro-batch re-broadcasts the dim.

    ``rate`` is carried as double: the payments fact keeps amounts in
    double through scalar arithmetic (bit-identical across engines) and
    casts to DECIMAL(38,6) only at aggregation boundaries, where decimal
    summation gives order-independent exact results at any parallelism.
    """
    # Built via SQL VALUES -> a JVM-side LocalRelation: broadcasting it
    # never touches the Python-RDD slow path (createDataFrame from local
    # rows plans as Scan ExistingRDD over a pickled RDD).
    rows = ", ".join(
        f"('{c}', CAST('{float(r)!r}' AS DOUBLE))" for c, r in CURRENCY_RATES.items()
    )
    return spark.sql(
        f"SELECT col1 AS currency, col2 AS rate FROM VALUES {rows}"
    )


def corpus_df(spark: SparkSession) -> DataFrame:
    """The 15-line word-count corpus as a single-column DataFrame."""
    return spark.createDataFrame([(l,) for l in CORPUS_LINES], "value string")


def currency_for(expr: F.Column) -> F.Column:
    """Deterministic bigint -> currency code mapping.

    The driver testdata has no currency column; payments-shaped queries
    derive one from ``user_id % 5`` so the Spark query and the DuckDB
    oracle compute identical streams. Mirrors the simulator's "one payment
    per currency per tick" round-robin (PaymentsSimulator.java:29-32).
    """
    idx = F.pmod(expr, F.lit(5))
    return (
        F.when(idx == 0, F.lit("GBP"))
        .when(idx == 1, F.lit("USD"))
        .when(idx == 2, F.lit("EUR"))
        .when(idx == 3, F.lit("CAN"))
        .otherwise(F.lit("CHF"))
    )


# SQL twin of currency_for, spliced into DuckDB oracle queries.
# ((x % 5) + 5) % 5 mirrors Spark's pmod: DuckDB's % follows the sign of
# the dividend, so a bare user_id % 5 would mis-map negative ids.
CURRENCY_FOR_SQL = (
    "CASE CAST(((user_id % 5) + 5) % 5 AS INTEGER) "
    "WHEN 0 THEN 'GBP' WHEN 1 THEN 'USD' "
    "WHEN 2 THEN 'EUR' WHEN 3 THEN 'CAN' ELSE 'CHF' END"
)

# SQL literal for the FX dimension (DuckDB oracle side).
RATES_VALUES_SQL = (
    "(VALUES ('GBP', 1.0::DOUBLE), ('USD', 1.313558::DOUBLE), "
    "('EUR', 1.144073::DOUBLE), ('CAN', 1.702642::DOUBLE), "
    "('CHF', 1.303682::DOUBLE)) AS rates(currency, rate)"
)
