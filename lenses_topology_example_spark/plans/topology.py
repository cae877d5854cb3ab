"""Topology introspection: the reference's headline feature, rebuilt on
Spark's own plan tree + streaming progress — no dual-maintained metadata.

Reference behavior (SURVEY.md §2.7):
- apps declare a DAG of nodes (name, NodeType TOPIC/SELECT/GROUPBY/COUNT,
  description, Representation.TABLE, parent edges) via a fluent
  TopologyBuilder (sparkstreaming/App.java:33-53, kstreams/App.java:35-58)
  and publish it as JSON to a `__topology` topic;
- runtime metrics are published every 2 s to `__topology__metrics`
  (PaymentsServiceApp.java:26-30).
- the akka module declares groupby/count nodes its code never executes
  (akkastreams/App.java:45-54 vs :84-91) — declared DAG and real dataflow
  can drift. We eliminate that hazard by DERIVING the DAG from the
  analyzed logical plan: the published topology is the executed topology,
  by construction.

Metrics map onto StreamingQuery.lastProgress (numInputRows,
processedRowsPerSecond, ...) on the same 2 s default cadence.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

# Spark logical-plan nodeName -> reference NodeType
# (kstreams/App.java:39,44,49; sparkstreaming/App.java:38,43).
_NODE_TYPES = {
    "Project": "SELECT",
    "Filter": "WHERE",
    "Aggregate": "GROUPBY",
    "Join": "JOIN",
    "Union": "UNION",
    "Sort": "SORT",
    "GlobalLimit": "LIMIT",
    "LocalLimit": "LIMIT",
    "Window": "WINDOW",
    "Generate": "FLATMAP",
    "LogicalRelation": "TOPIC",
    "Relation": "TOPIC",
    "StreamingRelation": "TOPIC",
    "LocalRelation": "TABLE",
    "Deduplicate": "DISTINCT",
    "Distinct": "DISTINCT",
    "SubqueryAlias": "ALIAS",
}

PUBLISH_INTERVAL_MS = 2000  # TopologyClient.PUBLISH_INTERVAL_CONFIG_KEY default


@dataclass
class TopologyNode:
    node_id: int
    name: str
    node_type: str
    description: str
    representation: str = "TABLE"
    parents: list[int] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return {
            "id": self.node_id,
            "name": self.name,
            "type": self.node_type,
            "description": self.description,
            "representation": self.representation,
            "parents": self.parents,
        }


def _walk(jplan, nodes: list[TopologyNode]) -> int:
    """Post-order walk of the analyzed logical plan (py4j), children
    first so parent edges point upstream like the reference's
    withParent() (sparkstreaming/App.java:41-49)."""
    n_children = jplan.children().size()
    child_ids = [
        _walk(jplan.children().apply(i), nodes) for i in range(n_children)
    ]
    node_name = jplan.nodeName()
    node_type = _NODE_TYPES.get(node_name, node_name.upper())
    desc = jplan.simpleString(100)
    node_id = len(nodes)
    nodes.append(
        TopologyNode(
            node_id=node_id,
            name=node_name,
            node_type=node_type,
            description=desc,
            parents=child_ids,
        )
    )
    return node_id


def topology_of(df: DataFrame, app_name: str = "app") -> dict[str, Any]:
    """DataFrame -> declarative DAG dict (the reference's topology JSON,
    derived instead of declared)."""
    nodes: list[TopologyNode] = []
    _walk(df._jdf.queryExecution().analyzed(), nodes)
    return {
        "appName": app_name,
        "appType": "SparkStructuredStreaming",
        "nodes": [n.to_dict() for n in nodes],
    }


def topology_json(df: DataFrame, app_name: str = "app") -> str:
    return json.dumps(topology_of(df, app_name), indent=None, sort_keys=True)


def node_types_of(df: DataFrame) -> list[str]:
    """Flat list of mapped node types (leaf-first) — handy for asserting
    pipeline shape in tests."""
    return [n["type"] for n in topology_of(df)["nodes"]]


# lastProgress.durationMs phases a metrics sample keeps (ms each)
PROGRESS_PHASES = (
    "addBatch", "getBatch", "queryPlanning", "walCommit", "triggerExecution",
)


def progress_metrics(query: StreamingQuery) -> dict[str, Any] | None:
    """One metrics sample from lastProgress — the Spark-native content of
    the reference's `__topology__metrics` messages — with the micro-batch's
    phase times (``durationMs``, the PROGRESS_PHASES a trigger reported)
    and, per stateful operator, its state-store size (``numRowsTotal``,
    ``memoryUsedBytes``)."""
    p = query.lastProgress
    if p is None:
        return None
    phases = p.get("durationMs") or {}
    return {
        "appName": query.name,
        "queryId": str(query.id),
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "processedRowsPerSecond": p.get("processedRowsPerSecond"),
        "timestamp": p.get("timestamp"),
        "durationMs": {k: phases[k] for k in PROGRESS_PHASES if k in phases},
        "stateOperators": [
            {
                "numRowsTotal": op.get("numRowsTotal"),
                "memoryUsedBytes": op.get("memoryUsedBytes"),
            }
            for op in p.get("stateOperators") or []
        ],
    }


class MetricsPublisher:
    """Periodic publisher ≙ KafkaTopologyClient's 2 s metrics loop
    (PaymentsServiceApp.java:26-30). The sink is a pluggable callback —
    a Kafka producer in production, an in-memory list in tests."""

    def __init__(
        self,
        query: StreamingQuery,
        publish: Callable[[dict[str, Any]], None],
        interval_ms: int = PUBLISH_INTERVAL_MS,
    ) -> None:
        self._query = query
        self._publish = publish
        self._interval = interval_ms / 1000.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = progress_metrics(self._query)
            if sample is not None:
                self._publish(sample)
            self._stop.wait(self._interval)

    def start(self) -> "MetricsPublisher":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- batch observed metrics (df.observe — the batch twin of lastProgress) ---------


def observed_node(
    df: DataFrame, name: str
) -> "tuple[DataFrame, Any]":
    """Attach a named observation point to a BATCH DataFrame — the batch
    twin of the streaming lastProgress sample: the reference publishes
    per-node row counts to `__topology__metrics`
    (PaymentsServiceApp.java:26-30); Spark's native batch hook is
    `df.observe`, which aggregates metric expressions DURING the action
    (zero extra pass — the exprs ride the existing plan, unlike a
    separate .count() that re-executes it).

    Returns (observed_df, Observation); run any action on observed_df,
    then `batch_metrics(obs, name)` yields the publishable payload."""
    from pyspark.sql import Observation, functions as F

    obs = Observation(name)
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("numOutputRows"),
        ),
        obs,
    )


def batch_metrics(obs: Any, app_name: str = "app") -> dict[str, Any]:
    """Observation -> the same payload shape progress_metrics emits for
    streams, so one publisher sink serves both execution modes.
    `Observation.get` blocks until the observed action completes."""
    vals = obs.get
    return {
        "appName": app_name,
        "queryId": None,
        "batchId": None,
        "numInputRows": vals.get("numOutputRows"),
        "inputRowsPerSecond": None,
        "processedRowsPerSecond": None,
        "timestamp": None,
        "durationMs": None,
        "stateOperators": None,
    }
