"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also be the right default on a 1000-executor
cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy
  switches) — at 100 TB static shuffle-partition counts are always wrong.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number a ceiling, not a
  tuning knob.
- Arrow enabled so ``toPandas`` and ``createDataFrame`` of a pandas
  frame move columnar batches instead of pickled rows (mapInPandas
  always does).
- Session timezone pinned to UTC so event-time semantics are stable across
  drivers/executors (and match the DuckDB oracle used in tests).
- Broadcast threshold left at default 10 MB; operators that KNOW a side is
  a small dimension pass an explicit ``F.broadcast`` hint instead of
  relying on stats (stats may be missing on fresh parquet at scale).
- The ``file://`` FileContext is Hadoop's raw local filesystem. Streaming
  checkpoints (offsets/commits logs, state-store deltas and snapshots,
  RocksDB checkpoints) go through FileContext. Without libhadoop every
  checkpoint file costs shell forks: a ``chmod`` on create and
  ``readlink`` calls on the atomic rename. The checksummed local
  filesystem pays them twice, because it also writes a ``.<name>.crc``
  sidecar next to every file. Raw writes no sidecar, which halves the
  forks per file. Spark's own ``<N>.delta.crc`` state checksums are
  still written. Parquet sinks (FileSystem API) and HDFS/S3 checkpoints
  are untouched.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# The testdata home; bench.py reads $SPARK_GRAFT_SF_DIR over it and warms
# up at the sf0.001 slice beside it.
DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def cpu_count() -> int:
    """Local cores: ``$SPARK_GRAFT_CPUS``, else the cores this process
    may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_heap(sf_dir: str = DEFAULT_SF_DIR) -> str:
    """Driver heap for a session over ``sf_dir``: half of MemAvailable in
    whole 512 MB steps, capped at the measured working set (~17 GB
    pre-GC at sf0.1 -> 32g; 64g above sf0.5). ``get_spark`` pins and
    pre-touches the heap, so it must fit in what the host has free, not
    what a bigger host had."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    with open("/proc/meminfo") as f:
        avail_kb = next(
            int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:")
        )
    cap_mb = 32768 if sf <= 0.5 else 65536
    return f"{max(1024, min(cap_mb, avail_kb // 2048 // 512 * 512))}m"


def get_spark(
    app_name: str = "lenses-topology-example-spark",
    *,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Files >128MB split; tiny test files coalesce — both sides covered
        # by AQE + this default at cluster scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns type, so
        # read as long and floor to µs in tables.load_table — exactly what
        # µs-native engines (and the DuckDB oracle) do with ns parquet.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Checkpoint logs and state files on file:// skip the checksummed
        # local filesystem and its .crc sidecars. Without libhadoop each
        # sidecar costs another chmod and four readlink forks (~3.5 ms
        # each). Measured on a 4-vCPU host (perfbench stream, traced): word
        # count walCommit p50 35 -> 17 ms and state commit p50
        # 408 -> 219 ms; JVM process spawns over 32 s of both streaming
        # twins ~4,500 -> ~2,800. fs.file.impl (the FileSystem API)
        # stays on LocalFileSystem: FileSystem.getLocal() casts to it.
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
    )
    conf = dict(extra_conf or {})
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
        # Fixed-size, pre-touched heap: -Xms == -Xmx stops G1 from
        # committing/uncommitting pages all run (a full-suite GC log
        # showed 74.5 CPU-s of kernel time inside pauses from commit
        # churn on a growable heap), AlwaysPreTouch moves first-touch
        # page faults into startup, and the explicit 32m region size
        # keeps the humongous threshold at 16 MB independent of heap
        # size (at 32g G1 would pick 16m regions and double the
        # humongous-allocation GC triggers). Standard practice for any
        # long-lived throughput JVM; identical reasoning on a cluster
        # executor. SPARK_GRAFT_HEAP_PIN=0 disables the pin (r17
        # ADVICE: -Xms + AlwaysPreTouch commits the full heap at JVM
        # launch, which fails outright on a host with less free RAM
        # than driver_memory where an unsized heap degrades
        # gracefully); caller-supplied extraJavaOptions are APPENDED
        # after the pin flags (JVM last-wins) instead of replacing
        # them.
        if os.environ.get("SPARK_GRAFT_HEAP_PIN", "1") != "0":
            pin = (
                f"-Xms{driver_memory} -XX:+AlwaysPreTouch "
                "-XX:G1HeapRegionSize=32m"
            )
            caller = conf.pop("spark.driver.extraJavaOptions", "")
            builder = builder.config(
                "spark.driver.extraJavaOptions",
                f"{pin} {caller}".strip(),
            )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
