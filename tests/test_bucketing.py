"""Physical-layout levers proven on plans: bucketed co-located joins
(no Exchange) and IVF partition pruning (a query touches n_probe cells'
files, not the corpus) — the claims SURVEY.md §4 / similarity.py make
about 100 TB behavior, demonstrated rather than asserted."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from lenses_topology_example_spark.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/warehouse'"
    )
    # disable broadcast so the fact-fact SMJ path (what bucketing is FOR
    # at scale, where neither side fits in memory) is the one planned
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("bucketdb.orders_b")
        )
        (
            lineitem.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("bucketdb.lineitem_b")
        )
        joined = spark.table("bucketdb.lineitem_b").join(
            spark.table("bucketdb.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and it computes the right thing
        n = joined.count()
        expected = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        assert n == expected
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")
        for key, val in [
            ("spark.sql.autoBroadcastJoinThreshold", prev),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe),
        ]:
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_ivf_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF scale path: cell id as a partition column at ingest.
    A probe of N_PROBE cells must plan with partition filters and read
    only those cells' directories."""
    import os

    from lenses_topology_example_spark.operators.similarity import (
        N_PROBE,
        as_double,
        dot,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # toy deterministic cell assignment — 4 uniformly-hit cells (the real
    # operator derives cells from centroid distance; the layout mechanics
    # under test are identical)
    cell = F.pmod(F.col("vec_id"), F.lit(4))
    layout = str(tmp_path / "ivf_layout")
    emb.withColumn("cell", cell).withColumn(
        "norm", F.sqrt(dot(F.col("v"), F.col("v")))
    ).write.partitionBy("cell").parquet(layout)
    n_cells = len(
        [d for d in os.listdir(layout) if d.startswith("cell=")]
    )
    assert n_cells == 4

    probed = spark.read.parquet(layout).filter(F.col("cell").isin([1, 2]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], "cell filter must prune partitions"
    # the pruned read touches 2 of 4 cells
    assert probed.select("cell").distinct().count() == 2
    assert N_PROBE <= 4  # the real operator's probe count fits this layout


def test_multi_row_group_layout_parallelizes_scan(spark, sf_dir, tmp_path):
    """The scan-floor A/B (SCALING.md): testdata parquet is one row group
    (the minimum split unit), so scans serialize on one core; the SAME
    catalog query over the same rows rewritten to a multi-file layout
    fans out to one task per file and returns the identical result.
    Proves the plan parallelizes — the testdata layout is the floor."""
    import os

    from lenses_topology_example_spark.catalog import _CATALOG

    dst = tmp_path / "multirg"
    dst.mkdir()
    for t in ["region", "nation", "customer", "supplier", "part", "events",
              "documents", "embeddings", "orders"]:
        os.symlink(f"{sf_dir}/{t}.parquet", str(dst / f"{t}.parquet"))
    (
        load_table(spark, sf_dir, "lineitem")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(str(dst / "lineitem.parquet"))
    )

    single = load_table(spark, sf_dir, "lineitem")
    multi = load_table(spark, str(dst), "lineitem")
    # single-file layout: splits exist but only 1 carries the row group;
    # the 8 files pack into at most defaultParallelism scan partitions
    assert multi.rdd.getNumPartitions() >= min(
        8, spark.sparkContext.defaultParallelism
    )

    q = _CATALOG["agg_revenue"][0]
    got_single = {tuple(r) for r in q(spark, sf_dir).collect()}
    got_multi = {tuple(r) for r in q(spark, str(dst)).collect()}
    assert got_single == got_multi, "layout must not change results"
