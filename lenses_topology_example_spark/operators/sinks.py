"""Object-storage sink (S7, SURVEY.md §2.1).

Reference: S3StorageService.java:61 / S3StorageServiceApp.java:34 — a
consumer named "StorageAwsService" draining `payments_xchg` for S3
archival (handler body is a stub). Spark-native form: the converted
payments stream written as partitioned parquet — at 100 TB the layout IS
the operator: partitionBy(currency) gives partition pruning to every
downstream reader, and file sizes are governed by the shuffle
partitioning upstream, not the sink.

The batch query writes to a local scratch dir then returns a READ-BACK
AUDIT over the written files (oracle-paired since round 13, r12 VERDICT
ask #4): per-currency row count, exact decimal revenue sum, and an
order-insensitive id-hash sum, each recomputed by the DuckDB oracle
from the SOURCE tables. A lost row, duplicated task output, partition
mix-up, or value corruption through the parquet round-trip all fire a
driver hash mismatch. The streaming twin is
streaming/pipelines.start_payments_fanout's parquet branch with
exactly-once checkpointing.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datamodel import literal_df
from ..functions.texthash import SQL_MD5_HASH_MOD, md5_hash_mod
from .payments import SQL_FX_CONVERT, q_fx_convert
from .relational import dsum4, dsum4_sql

_SINK_DIR: str | None = None


def q_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fx-converted payments -> partitionBy(currency) parquet -> read
    back -> per-currency integrity audit (count, dsum4 revenue,
    md5-mod id-hash sum). The oracle computes the same aggregates from
    the source tables; write+read-back is lossless for these columns
    (double and int64 round-trip parquet bit-exactly), so any
    divergence is a SINK defect, not a codec artifact.

    The id-hash sum accumulates md5_hash_mod values (< 1e9 each) in
    DECIMAL(38,0) — exact at any row count (a BIGINT accumulator would
    overflow past ~9e9 rows/group at 100 TB) — then lands as BIGINT via
    `% 10^15` on BOTH engines (round 15, r14 VERDICT ask #1): a
    DecimalType OUTPUT column was the catalog's only one and the
    driver's dtype-strict hash split on it (Spark toPandas yields
    decimal.Decimal objects, DuckDB lands DECIMAL(38,0) as float64).
    The mod keeps the landing value exact in int64/float64 at any
    corpus scale while the accumulator stays overflow-proof; a lost or
    corrupted row still perturbs the residue (md5 values are uniform
    mod 10^15).

    CONTRACT EXCEPTION: unlike every other catalog entry, BUILDING this
    query executes the write (a sink has no lazy form whose read-back
    reflects it). Plan-only consumers must skip it — see
    tests/test_topology.py::test_topology_covers_every_catalog_query.

    Since round 14 (r13 VERDICT ask #1) the read-back AUDIT is also
    computed eagerly at build time and returned as a LocalRelation
    DataFrame: the r13 driver recorded hash_match=false for this entry
    while the identical query MATCHed at HEAD under driver_sim three
    ways, implicating the build/collect split — any driver that
    rebuilds, delays, or parallelizes collection relative to the build
    could read back a DIFFERENT write (overwrite of the shared scratch
    dir by a second build, tmp-dir lifecycle). Collecting the audit
    inside the build pins the returned rows to the write that just
    happened; no later action on the returned frame touches the
    filesystem. This is the catalog's ONE sanctioned driver-side
    `.collect()` in non-test source (the audit is ~5 rows — one per
    currency — at any scale; the 100 TB-shaped work, write + read-back
    + aggregate, all runs distributed before the collect)."""
    global _SINK_DIR
    if _SINK_DIR is None:
        _SINK_DIR = tempfile.mkdtemp(prefix="spark_graft_sink_")
    out = f"{_SINK_DIR}/payments_xchg"
    converted = q_fx_convert(spark, sf_dir)
    (
        converted.write.mode("overwrite")
        .partitionBy("currency")
        .parquet(out)
    )
    # explicit schema: an all-empty write leaves no data files to infer
    # from (empty-input sweep), and pinning the schema also pins what
    # the round-trip must preserve
    back = spark.read.schema(converted.schema).parquet(out).select(
        "event_id", "currency", "amount_xchg", "ts"
    )
    audit = back.groupBy("currency").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum4(F.col("amount_xchg")).alias("sum_amount_xchg"),
        (
            F.sum(
                md5_hash_mod(F.col("event_id").cast("string")).cast(
                    "decimal(38,0)"
                )
            )
            % F.lit(10**15)
        )
        .cast("bigint")
        .alias("id_hash_sum"),
    )
    # eager: pin the collected result to THIS write (sanctioned
    # exception — see docstring; bounded at #currencies rows)
    rows = audit.collect()
    return literal_df(spark, rows, audit.schema)


SQL_SINK_PARQUET = f"""
    SELECT currency,
           COUNT(*) AS n_rows,
           {dsum4_sql('amount_xchg')} AS sum_amount_xchg,
           CAST(CAST(SUM({SQL_MD5_HASH_MOD.format(x='CAST(event_id AS VARCHAR)')})
                     AS DECIMAL(38,0)) % 1000000000000000
                AS BIGINT) AS id_hash_sum
    FROM ({SQL_FX_CONVERT})
    GROUP BY currency
"""
