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

from collections.abc import Iterable, Sequence
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


def literal_df(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A constant frame of Python ``rows`` typed by ``schema`` (a DDL
    string such as ``"q string, n bigint"``, or a StructType).

    It plans as a JVM ``LocalRelation``: collecting it runs no Spark job
    and joining it starts no Python worker. ``spark.createDataFrame`` of
    a local list instead plans a pickled Python RDD (``Scan
    ExistingRDD``), whose first scan forks a second Python daemon and
    worker set next to the mapInPandas one.

    Each value is bound as a named SQL parameter and cast to its field's
    type, so strings need no quoting and decimals, NULLs and bigints
    keep their exact values. (Positional ``?`` parameters bind out of
    order inside ``VALUES``.) ``VALUES`` needs at least one row: a
    trailing typed all-NULL row, cut off by ``LIMIT``, gives the empty
    frame and makes every column nullable, as a DDL schema says.
    """
    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    types = [f.dataType.simpleString() for f in schema]
    args: dict[str, object] = {}
    tuples = []
    for row in rows:
        cells = []
        for t, v in zip(types, row, strict=True):
            name = f"p{len(args)}"
            args[name] = v
            cells.append(f"CAST(:{name} AS {t})")
        tuples.append(f"({', '.join(cells)})")
    n = len(tuples)
    tuples.append(f"({', '.join(f'CAST(NULL AS {t})' for t in types)})")
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in schema)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names}) LIMIT {n}",
        args=args,
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
    # literal_df: a JVM LocalRelation, so broadcasting or collecting it
    # never touches a Python RDD.
    return literal_df(
        spark,
        [(c, float(r)) for c, r in CURRENCY_RATES.items()],
        "currency string, rate double",
    )


def corpus_df(spark: SparkSession) -> DataFrame:
    """The 15-line word-count corpus as a single-column DataFrame."""
    return literal_df(spark, [(l,) for l in CORPUS_LINES], "value string")


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
