"""Loaders for the driver-provided parquet tables (TESTDATA.md).

All queries take ``(spark, sf_dir)`` and load via these helpers so the
scan always goes through the vectorized parquet reader with pushdown;
callers `.select(...)`/`.filter(...)` immediately after load so Catalyst
prunes columns and partitions at the source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .memo import cached

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are always safe to broadcast on a join (bounded row
# counts independent of scale factor: region=5, nation=25, plus the 5-row
# FX dim from datamodel). supplier/part/customer grow with SF — NOT here.
BROADCAST_SAFE = frozenset({"region", "nation"})


def parquet_source(sf_dir: str, name: str) -> str:
    """The DuckDB-readable source string for a table: the bare file
    path, or a `/*.parquet` glob when the table is a DIRECTORY of part
    files (the round-16 small-files layout axis — Spark's reader takes
    a directory transparently, DuckDB 1.0 needs the glob). Every
    DuckDB view builder (tests/oracle.py, tools/driver_sim.py) goes
    through here so the two engines always read the same bytes."""
    path = f"{sf_dir}/{name}.parquet"
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load (or serve the memoized) DataFrame for a testdata table.
    Repeated loads return the SAME object (memo.py), so a self-join of
    two load_table results must go through ``.alias()``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return cached(
        spark, sf_dir, f"table:{name}", lambda: _read(spark, sf_dir, name)
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The generator has shipped `ts` in either of two physical layouts:
        # TIMESTAMP(NANOS) (loads as long via nanosAsLong) or plain
        # timestamp[us]/TIMESTAMP_NTZ. Branch on what actually loaded —
        # hard-coding one layout broke every events consumer when the
        # testdata flipped layouts (round-5 verdict).
        from pyspark.sql import functions as F

        ts_dtype = dict(df.dtypes).get("ts", "")
        if ts_dtype in ("bigint", "long", "int"):
            # long nanos → µs floor. (ts - pmod(ts, 1000)) div 1000 is a
            # true floor division: bare `ts div 1000` truncates toward
            # zero, which for a pre-epoch nanosecond value would land one
            # µs late; pmod keeps the subtraction exact in int64.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
            )
        elif ts_dtype == "timestamp_ntz":
            # normalize to TimestampType: with the session TZ pinned UTC
            # (conf.py) the NTZ wall-clock maps to the same instant, so
            # values stay identical to the oracle's naive-UTC timestamps
            # AND downstream epoch math (`cast(ts as long)`, disallowed
            # on NTZ) keeps working. This matches the TimestampType the
            # nanos branch has always produced.
            #
            # The cast is only correct under UTC (r6 ADVICE): a direct
            # caller on a non-UTC session would get silently shifted
            # instants, so fail loudly instead of shifting event times.
            # Not auto-fixed here — mutating the caller's session TZ
            # from inside a table loader would shift every OTHER
            # timestamp they read this session.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events.ts is TIMESTAMP_NTZ and the session timezone "
                    f"is {tz!r}, not UTC — the NTZ→timestamp cast would "
                    f"shift instants. Call conf.ensure_runtime_confs(spark) "
                    f"(the catalog's _guarded wrapper does) before loading."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        # plain timestamp: pass through unchanged.
        df = df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return df
