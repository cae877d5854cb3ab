"""PySpark-native analytics engine with the query/data-processing
capabilities of lensesio/lenses-topology-example (reference, read-only at
/root/reference/), rebuilt Spark-first.

The reference is a Kafka streaming-microservices demo (payments FX
enrichment + word count + a topology/metrics introspection layer). This
package re-expresses every dataflow operator it contains — plus the
large-scale training-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal plumbing) — as declarative DataFrame / SQL /
Structured Streaming programs so Catalyst + Tungsten choose the physical
strategy.

Layout:
    session.py    SparkSession factory tuned for local[N] test + cluster scale
    tables.py     parquet table loaders for the driver testdata
    memo.py       the session-scoped cache of loaded and derived frames
    datamodel.py  schemas + static fixtures (FX rates, word-count corpus)
    operators/    batch operators (payments, wordcount, relational, dedup, …)
    sources/      generators and connectors (synthetic payments, kafka)
    functions/    reusable column-expression libraries (vector math, hashing)
    streaming/    Structured Streaming twins of the batch pipelines
    plans/        topology layer: plan-tree -> DAG JSON + progress metrics
    catalog.py    the query catalog consumed by __spark_entry__.py
"""

__version__ = "0.1.0"
