"""Topology layer: DAG derived from the plan + metrics from progress
(the reference's __topology / __topology__metrics surface)."""

from __future__ import annotations

import json
import time

from lenses_topology_example_spark.operators.payments import q_payments_pipeline
from lenses_topology_example_spark.plans.topology import (
    MetricsPublisher,
    node_types_of,
    topology_json,
    topology_of,
)
from lenses_topology_example_spark.streaming.pipelines import (
    start_wordcount_to_memory,
)
from lenses_topology_example_spark.datamodel import CORPUS_LINES


def test_flagship_dag_shape(spark, sf_dir):
    df = q_payments_pipeline(spark, sf_dir)
    types = node_types_of(df)
    # the §3.3 pipeline: source topics, projection, join, filter, groupby
    for expected in ("TOPIC", "SELECT", "JOIN", "WHERE", "GROUPBY"):
        assert expected in types, f"missing {expected} in {types}"


def test_dag_edges_are_consistent(spark, sf_dir):
    topo = topology_of(q_payments_pipeline(spark, sf_dir), "payments-app")
    ids = {n["id"] for n in topo["nodes"]}
    for n in topo["nodes"]:
        for p in n["parents"]:
            assert p in ids and p < n["id"]  # post-order: children first
    assert topo["appName"] == "payments-app"
    # round-trips as JSON
    assert json.loads(topology_json(q_payments_pipeline(spark, sf_dir)))


def test_topology_covers_every_catalog_query(catalog_dfs):
    """The DAG exporter must handle every plan shape the engine produces
    (the reference publishes a topology for every running app — ours is
    derived, so it must never fail on a real plan). Plan-analysis only,
    nothing executes; the DataFrames come from the shared session
    fixture (sink_parquet excluded there)."""
    for name, df in catalog_dfs.items():
        topo = topology_of(df, name)
        assert topo["nodes"], f"{name}: empty DAG"
        ids = {n["id"] for n in topo["nodes"]}
        for n in topo["nodes"]:
            assert all(p in ids for p in n["parents"]), f"{name}: dangling edge"
        # every multi-node DAG reaches the root (last node in post-order)
        if len(topo["nodes"]) > 1:
            referenced = {p for n in topo["nodes"] for p in n["parents"]}
            roots = ids - referenced
            assert roots == {topo["nodes"][-1]["id"]}, f"{name}: disconnected DAG"


def test_topology_builder_facade():
    """The declarative DSL (reference API parity) emits the same payload
    shape as the derived exporter — the wordcount topology of
    sparkstreaming/App.java:33-53 expressed through the facade."""
    from lenses_topology_example_spark.plans.builder import TopologyBuilder

    topo = (
        TopologyBuilder.start("SparkStructuredStreaming", "wordcount-app")
        .with_topic("wordcount-input")
        .end_node()
        .with_node("groupby", "GROUPBY")
        .with_description("Group by word")
        .with_representation("TABLE")
        .with_parent("wordcount-input")
        .end_node()
        .with_node("count", "COUNT")
        .with_parent("groupby")
        .end_node()
        .with_topic("wordcount-output")
        .end_node()
        .build()
    )
    assert topo["appName"] == "wordcount-app"
    assert [n["type"] for n in topo["nodes"]] == [
        "TOPIC",
        "GROUPBY",
        "COUNT",
        "TOPIC",
    ]
    assert topo["nodes"][1]["parents"] == [0]
    # same key set as the derived exporter's nodes
    derived_keys = {"id", "name", "type", "description", "representation", "parents"}
    assert all(set(n) == derived_keys for n in topo["nodes"])
    # misuse is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        TopologyBuilder.start("t", "a").with_node("x", "SELECT").with_parent(
            "nope"
        ).end_node()


def test_microservice_topology_inference():
    """MicroserviceTopology.create parity (PaymentsService.java:74-86):
    consumer/producer topic lists -> app DAG; consume-only twin mirrors
    fromConsumer (SuspiciousPaymentsService.java:58-61)."""
    from lenses_topology_example_spark.plans.builder import microservice_topology

    t = microservice_topology(
        "PaymentsService", ["payments"], ["payments_xchg", "suspicious_payments"]
    )
    names = [n["name"] for n in t["nodes"]]
    assert names == [
        "payments",
        "PaymentsService",
        "payments_xchg",
        "suspicious_payments",
    ]
    app = t["nodes"][1]
    assert app["parents"] == [0]
    assert t["nodes"][2]["parents"] == [1] and t["nodes"][3]["parents"] == [1]

    consume_only = microservice_topology(
        "SuspiciousPaymentsService", ["suspicious_payments"], []
    )
    assert [n["type"] for n in consume_only["nodes"]] == ["TOPIC", "SELECT"]


def test_payment_json_decimal_roundtrip(spark):
    """P1 type parity: Payment JSON decodes into DecimalType(38,18) —
    BigDecimal semantics (Payment.java:7) never pass through float."""
    from lenses_topology_example_spark.datamodel import PAYMENT_SCHEMA
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"currency":"GBP","amount":12345.678901234567890123,"timestamp":1700000000000}',)],
        "value string",
    )
    parsed = df.select(
        F.from_json(F.col("value"), PAYMENT_SCHEMA).alias("p")
    ).select("p.*")
    row = parsed.collect()[0]
    from decimal import Decimal

    assert row["currency"] == "GBP"
    assert isinstance(row["amount"], Decimal)
    assert row["amount"] == Decimal("12345.678901234567890123")
    assert row["timestamp"] == 1700000000000


def test_metrics_publisher(spark, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "lines.txt").write_text("\n".join(CORPUS_LINES))
    lines = spark.readStream.format("text").load(str(corpus))
    q = start_wordcount_to_memory(lines, "metrics_test")
    samples: list[dict] = []
    pub = MetricsPublisher(q, samples.append, interval_ms=200).start()
    try:
        q.processAllAvailable()
        deadline = time.time() + 10
        while not samples and time.time() < deadline:
            time.sleep(0.1)
    finally:
        pub.stop()
        q.stop()
    assert samples, "no metrics samples published"
    s = samples[0]
    assert s["numInputRows"] is not None
    assert s["queryId"]


def test_batch_observed_metrics_match_count(spark, sf_dir):
    """df.observe metrics: the observed numOutputRows of the flagship
    pipeline equals its actual row count, rides the SAME action (no
    second execution), and formats to the identical payload shape the
    streaming progress sample uses — one publisher sink serves both."""
    from lenses_topology_example_spark.operators.payments import (
        q_payments_pipeline,
    )
    from lenses_topology_example_spark.plans.topology import (
        batch_metrics,
        observed_node,
        progress_metrics,
    )

    df = q_payments_pipeline(spark, sf_dir)
    observed, obs = observed_node(df, "payments_obs")
    rows = observed.collect()
    payload = batch_metrics(obs, app_name="payments")
    assert payload["numInputRows"] == len(rows)
    assert payload["appName"] == "payments"
    # shape parity with the streaming sample (same keys, one sink)
    stream_keys = {
        "appName", "queryId", "batchId", "numInputRows",
        "inputRowsPerSecond", "processedRowsPerSecond", "timestamp",
        "durationMs", "stateOperators",
    }
    assert set(payload) == stream_keys
