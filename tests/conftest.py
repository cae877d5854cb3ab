from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lenses_topology_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def fresh_sf_dir(spark, sf_dir, tmp_path):
    """The testdata tables under a new path, so no session memo entry is
    keyed on it yet. Its entries are dropped afterwards."""
    from lenses_topology_example_spark import memo
    from lenses_topology_example_spark.tables import TABLES

    for t in TABLES:
        os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    yield str(tmp_path)
    memo.drop(spark, str(tmp_path))


@pytest.fixture(scope="session")
def catalog_dfs(spark, sf_dir):
    """Every catalog entry's DataFrame, built ONCE per session and
    shared by the catalog-wide structural audits (plan/UDF audit,
    topology coverage, window schema guard). Building 240+ plans costs
    ~40 s; before this fixture each audit paid it separately (r10
    rebalance — the r8 ask-#8 ten-minute pytest line). sink_parquet is
    excluded: building a sink executes its write (documented contract
    exception in operators/sinks.py)."""
    from concurrent.futures import ThreadPoolExecutor

    from lenses_topology_example_spark.catalog import _CATALOG
    from lenses_topology_example_spark.conf import ensure_runtime_confs

    ensure_runtime_confs(spark)
    # Build concurrently: construction is driver-side Catalyst analysis
    # (Py4J round-trips + JVM work, no actions), which threads overlap
    # fine — 71 s serial -> 33 s at 8 workers measured at 287 entries
    # (round 12; the r11 ask-#3 headroom lever). Round 14 probed 16
    # workers: the STANDALONE parity file gets ~8 s faster, but the
    # FULL suite regresses ~120 s (685-747 s vs 543-572 s at 8 —
    # measured twice each on an idle host; the extra threads
    # oversubscribe the driver during setup and the JVM pays for the
    # rest of the run). 8 is the measured optimum; don't re-raise
    # without timing the WHOLE suite. Entries that build
    # eagerly (fixpoint resolvers, memoized persists) do so inside a
    # memo.cached thunk, which runs once per key under that key's lock.
    names = [n for n in _CATALOG if n != "sink_parquet"]

    def build(name):
        fn = _CATALOG[name][0]
        return name, fn(spark, sf_dir)

    # Contract guard (r12 ADVICE): the threaded build is only safe if
    # NO catalog builder mutates session state at construction time
    # (the no-session-mutation rule documented at the _CATALOG
    # registration site). A violating builder would otherwise surface
    # as rare flaky analysis errors; snapshotting the semantics-
    # critical confs makes at least the leave-it-changed violation
    # deterministic.
    _guard_keys = (
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.ansi.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in _guard_keys}
    with ThreadPoolExecutor(max_workers=8) as ex:
        built = dict(ex.map(build, names))
    after = {k: spark.conf.get(k, None) for k in _guard_keys}
    if before != after:
        raise RuntimeError(
            "a catalog builder mutated session confs at build time "
            f"(no-session-mutation rule, catalog.py): {before} -> {after}"
        )
    return {n: built[n] for n in names}
