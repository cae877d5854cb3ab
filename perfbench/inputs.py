"""Benchmark inputs: fixture tables, the locally built scale slice, and
DuckDB oracle results.

The fixture tables under ``perfbench/data`` are fixed; the seed never
changes them. The scale slice and the oracle results are pure functions
of the fixtures and the program source, so they are built once per
checkout into the cache directory and never timed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import re
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "data")

# Replication factors of the scale slice over the sf0.01 fixtures: the
# TPC-H tables (tools/make_sf1.py), events (tools/make_events100.py) and
# documents plus embeddings (tools/make_docs10.py --doc-only).
SCALE_COPIES = {"tpch": 10, "events": 100, "docs": 10}


def fixture_dir(sf: str) -> str:
    return os.path.join(FIXTURES, f"sf{sf}")


def scale_dir(cache: str) -> str:
    """Build (once) and return the scale slice directory."""
    from tools import make_docs10, make_events100, make_sf1

    tag = "_".join(f"{k}{v}" for k, v in sorted(SCALE_COPIES.items()))
    out = os.path.join(cache, f"scale_{tag}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    base = fixture_dir("0.01")
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        parts = {}
        for name, mod, kwargs in (
            ("tpch", make_sf1, {}),
            ("events", make_events100, {}),
            ("docs", make_docs10, {"doc_only": True}),
        ):
            mod.SRC = base
            parts[name] = os.path.join(tmp, name)
            mod.build(parts[name], copies=SCALE_COPIES[name], **kwargs)
        os.makedirs(out)
        pick = {
            "events": "events", "documents": "docs", "embeddings": "docs",
        }
        for fn in os.listdir(parts["tpch"]):
            src = parts[pick.get(fn.removesuffix(".parquet"), "tpch")]
            shutil.move(os.path.join(src, fn), os.path.join(out, fn))
    open(os.path.join(out, "DONE"), "w").close()
    return out


def table_rows(sf_dir: str) -> dict[str, int]:
    import duckdb

    from lenses_topology_example_spark.tables import TABLES, parquet_source

    con = duckdb.connect()
    try:
        return {
            t: con.sql(f"SELECT COUNT(*) FROM '{parquet_source(sf_dir, t)}'").fetchone()[0]
            for t in TABLES
        }
    finally:
        con.close()


_TABLE_RE = re.compile(r"/(\w+)\.parquet")


def input_tables(df) -> set[str]:
    """Tables the analyzed plan of ``df`` reads (before cached data is
    substituted, so a persisted intermediate still names its sources)."""
    from py4j.protocol import Py4JError

    out: set[str] = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        try:
            files = leaf.relation().inputFiles()
        except Py4JError:
            continue
        for f in files:
            m = _TABLE_RE.search(f)
            if m:
                out.add(m.group(1))
    return out


class OracleCache:
    """DuckDB oracle results, kept on disk keyed by input directory and
    oracle SQL as tools/canon.py canonical rows, and compared with a
    result frame the way that module compares them."""

    def __init__(self, cache: str) -> None:
        self._dir = os.path.join(cache, "oracle")
        os.makedirs(self._dir, exist_ok=True)
        self._con = None
        self._con_dir = None

    def _path(self, sf_dir: str, sql: str) -> str:
        key = hashlib.sha256(f"{os.path.basename(sf_dir)}\0{sql}".encode()).hexdigest()
        return os.path.join(self._dir, key[:32] + ".pkl")

    def ensure(self, sf_dir: str, sql: str) -> None:
        """Compute and store the oracle result unless it is stored."""
        from tools.canon import canon_rows

        path = self._path(sf_dir, sql)
        if not os.path.exists(path):
            self._store(path, canon_rows(self._query(sf_dir, sql)))

    def matches(self, sf_dir: str, sql: str, pdf) -> bool:
        from tools.canon import canon_rows

        path = self._path(sf_dir, sql)
        self.ensure(sf_dir, sql)
        with open(path, "rb") as f:
            want = pickle.load(f)
        return canon_rows(pdf) == want

    @staticmethod
    def _store(path: str, value) -> None:
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(value, f)
        os.replace(tmp, path)

    def _query(self, sf_dir: str, sql: str):
        import duckdb

        from lenses_topology_example_spark.tables import TABLES, parquet_source

        if self._con_dir != sf_dir:
            self.close()
            self._con = duckdb.connect()
            self._con.sql("SET threads TO 2")
            for t in TABLES:
                self._con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM '{parquet_source(sf_dir, t)}'"
                )
            self._con_dir = sf_dir
        return self._con.sql(sql).df()

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        self._con, self._con_dir = None, None
