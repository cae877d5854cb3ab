"""Runtime session-conf guard.

The driver (and any embedding application) passes its OWN SparkSession to
the query callables — none of session.get_spark's tuning is guaranteed to
be present. Everything semantics-critical is therefore (re)applied here at
runtime, at every contract entry point:

- nanosAsLong: events.parquet has shipped as either TIMESTAMP(NANOS) or
  plain timestamp[us]; the flag lets the nanos layout load (as long) and
  is harmless on µs files. tables.load_table branches on the loaded
  dtype, so either layout works.
- UTC session timezone: event-time semantics must not depend on the host
  timezone (and the DuckDB oracle compares naive-UTC timestamps).
- Arrow: governs ``toPandas`` and ``createDataFrame`` of a pandas frame.
  mapInPandas always moves Arrow batches, whatever this conf says.

All three are runtime-settable SQL confs (no JVM restart needed).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers.

    The driver may import __spark_entry__.py by path from an arbitrary
    cwd, so workers unpickling a pandas UDF defined in this package hit
    ModuleNotFoundError unless the package is shipped via addPyFile
    (which appends it to every worker's sys.path)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # key the archive by source state, not just pid: a recycled pid after
    # a container restart (persistent /tmp) must not ship a stale zip
    stamp = 0
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                st = os.stat(os.path.join(root, fn))
                stamp = max(stamp, int(st.st_mtime_ns) ^ st.st_size)
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"lenses_topology_example_spark_pyfiles.{os.getpid()}.{stamp & 0xFFFFFFFF:08x}.zip",
    )
    if not os.path.exists(zpath):
        # unique tmp per writer: two sessions/threads racing here would
        # otherwise interleave writes into one .tmp and publish a corrupt
        # archive; os.replace makes the final publish atomic either way
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(zpath), suffix=".ziptmp"
        )
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "lenses_topology_example_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APPS.add(app_id)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    _ship_package(spark)
    return spark
