"""Kafka option-contract + topology-payload contract tests.

No broker exists in the sandbox, so the live Kafka path cannot run; these
tests pin the exact reader/writer wiring against the reference's values
(sparkstreaming App.java:66-85) via call recording — they fail if anyone
renames an option, drops the checkpoint, or changes the output mode —
and pin the published topology/metrics JSON shapes the reference's
TopologyBuilder emits (App.java:33-53).
"""

from __future__ import annotations

import json

from lenses_topology_example_spark.plans.topology import (
    MetricsPublisher,
    progress_metrics,
    topology_json,
)
from lenses_topology_example_spark.streaming.pipelines import (
    kafka_text_stream,
    start_wordcount_to_kafka,
)


class Probe:
    """Records every (method, args) call in a fluent chain; any attribute
    access yields a callable probe sharing the log — duck-types
    DataStreamReader/DataFrame/DataStreamWriter without a broker."""

    def __init__(self, log: list, path: str = "") -> None:
        self._log = log
        self._path = path

    def __getattr__(self, name: str) -> "Probe":
        return Probe(self._log, name)

    def __call__(self, *args, **kwargs) -> "Probe":
        self._log.append((self._path, args))
        return Probe(self._log)


class FakeSparkForRead:
    def __init__(self, log: list) -> None:
        self.readStream = Probe(log)


def _options(log: list) -> dict:
    return {a[0]: a[1] for name, a in log if name == "option"}


def _calls(log: list, name: str) -> list:
    return [a for n, a in log if n == name]


def test_kafka_source_option_contract(spark):
    """Reader wiring == reference App.java:66-72: format kafka (the
    reference's "lenses-kafka" is a metrics wrapper over stock kafka),
    kafka.bootstrap.servers + subscribe options, value cast to string
    (App.java:74)."""
    log: list = []
    kafka_text_stream(FakeSparkForRead(log), "broker-1:9092", "wordcount-input")
    assert _calls(log, "format") == [("kafka",)]
    assert _options(log) == {
        "kafka.bootstrap.servers": "broker-1:9092",
        "subscribe": "wordcount-input",
    }
    assert _calls(log, "load") == [()]
    assert _calls(log, "selectExpr") == [("CAST(value AS STRING) AS value",)]


def test_kafka_sink_option_contract(spark):
    """Writer wiring == reference App.java:79-85: format kafka, update
    output mode, checkpointLocation + kafka.bootstrap.servers + topic
    options, and the keyed (key, value)-string projection of the
    update-mode counts."""
    log: list = []
    start_wordcount_to_kafka(
        Probe(log),
        brokers="broker-1:9092",
        topic="wordcount-output-spark",
        checkpoint="/tmp/ckpt",
    )
    assert _calls(log, "format") == [("kafka",)]
    assert _calls(log, "outputMode") == [("update",)]
    assert _options(log) == {
        "kafka.bootstrap.servers": "broker-1:9092",
        "topic": "wordcount-output-spark",
        "checkpointLocation": "/tmp/ckpt",
    }
    # the wordcount transform ran on the stream before the sink...
    assert ("groupBy", ("word",)) in log and ("count", ()) in log
    # ...and the sink sees the reference's keyed string encoding
    assert _calls(log, "selectExpr") == [
        ("word AS key", "CAST(count AS STRING) AS value")
    ]
    assert _calls(log, "start") == [()]


# --- topology payload contract (reference App.java:33-53 node fields) --------

REFERENCE_NODE_FIELDS = {
    "id",
    "name",
    "type",
    "description",
    "representation",
    "parents",
}


def test_topology_json_round_trips_reference_shape(spark):
    """The published `__topology` payload must be valid JSON whose every
    node carries exactly the reference TopologyBuilder's node fields
    (name/type/description/representation/parents + id for the edges)
    and whose edges reference declared node ids (withParent)."""
    df = (
        spark.range(10)
        .selectExpr("id", "id % 3 AS k")
        .groupBy("k")
        .count()
    )
    payload = topology_json(df, app_name="spark-streaming-wordcount")
    doc = json.loads(payload)  # serializability == the contract
    assert doc["appName"] == "spark-streaming-wordcount"
    assert doc["appType"] == "SparkStructuredStreaming"
    assert doc["nodes"], "empty topology"
    ids = set()
    for node in doc["nodes"]:
        assert set(node) == REFERENCE_NODE_FIELDS, f"field drift: {set(node)}"
        assert node["representation"] == "TABLE"  # App.java:36,40,45,51
        assert isinstance(node["parents"], list)
        assert all(p in ids for p in node["parents"]), "edge to undeclared node"
        ids.add(node["id"])
    # the derived DAG covers the declared chain: source -> groupby/count
    types = [n["type"] for n in doc["nodes"]]
    assert "GROUPBY" in types
    # round-trip stability: dump(load(dump)) is identity
    assert json.dumps(doc, indent=None, sort_keys=True) == payload


class FakeQuery:
    """StreamingQuery stand-in: just the surface progress_metrics uses."""

    name = "wc-stream"
    id = "q-123"
    lastProgress = {
        "batchId": 7,
        "numInputRows": 128,
        "inputRowsPerSecond": 12.5,
        "processedRowsPerSecond": 640.0,
        "timestamp": "2026-08-13T00:00:00.000Z",
    }


METRICS_FIELDS = {
    "appName",
    "queryId",
    "batchId",
    "numInputRows",
    "inputRowsPerSecond",
    "processedRowsPerSecond",
    "timestamp",
    "durationMs",
    "stateOperators",
}


def test_metrics_publisher_kafka_callback_payload():
    """Exercise MetricsPublisher through a Kafka-producer-shaped callback:
    each sample must JSON-serialize (what a StringSerializer producer
    sends to `__topology__metrics`) with the pinned field set."""
    sent: list[tuple[str, str]] = []

    def kafka_producer_send(sample: dict) -> None:
        # the production callback body: producer.send(topic, json.dumps(..))
        sent.append(("__topology__metrics", json.dumps(sample, sort_keys=True)))

    pub = MetricsPublisher(FakeQuery(), kafka_producer_send, interval_ms=10)
    pub.start()
    import time

    deadline = time.time() + 5
    while not sent and time.time() < deadline:
        time.sleep(0.01)
    pub.stop()
    assert sent, "publisher never invoked the callback"
    topic, value = sent[0]
    assert topic == "__topology__metrics"
    doc = json.loads(value)
    assert set(doc) == METRICS_FIELDS
    assert doc["appName"] == "wc-stream"
    assert doc["queryId"] == "q-123"
    assert doc["numInputRows"] == 128


def test_progress_metrics_none_before_first_batch():
    class Idle:
        name = "idle"
        id = "q-0"
        lastProgress = None

    assert progress_metrics(Idle()) is None
