"""Catalog-level invariants: shape of the contract itself (cheap,
Spark-free where possible) — catches registration and SQL-syntax
regressions before the heavyweight parity tests run."""

from __future__ import annotations

from lenses_topology_example_spark.catalog import (
    _CATALOG,
    DRIVER_WINDOW,
    DRIVER_WINDOW_SIZE,
)
from tests.oracle import duck_connection


def test_catalog_shape():
    assert len(_CATALOG) >= 89
    rows_only = {k for k, (_f, sql) in _CATALOG.items() if sql is None}
    # round 13 (r12 VERDICT ask #4): the last three rows-only entries
    # became property-paired (sketch bound booleans, sink read-back
    # audit) — every catalog entry now has a full oracle twin
    assert rows_only == set(), (
        "rows-only set changed — update SURVEY.md §2.8 and the driver notes"
    )
    for name, (fn, _sql) in _CATALOG.items():
        assert callable(fn), name


def test_catalog_registration_has_no_shadowed_names():
    """A duplicate key in the _CATALOG literal silently drops the
    earlier registration (Python keeps the last), shrinking coverage
    with zero errors — a round-8 draft briefly shadowed returned_items
    this way. Parse the source, not the dict: the dict can't see its
    own casualties."""
    import collections
    import pathlib
    import re

    import lenses_topology_example_spark.catalog as cat

    src = pathlib.Path(cat.__file__).read_text()
    body = src[src.index("_CATALOG:") : src.index("DRIVER_WINDOW_SIZE")]
    keys = re.findall(r'^    "([a-z0-9_]+)": \(', body, re.MULTILINE)
    dupes = [k for k, n in collections.Counter(keys).items() if n > 1]
    assert not dupes, f"shadowed catalog registrations: {dupes}"
    assert len(keys) == len(_CATALOG), (
        "source-parsed key count disagrees with the dict — key regex drifted"
    )


def test_driver_window_is_pinned():
    """The driver checks exactly the first 50 registrations; the window
    is a reviewed literal, so an insertion can't silently reshuffle
    driver coverage (round-2 ADVICE)."""
    assert len(DRIVER_WINDOW) == DRIVER_WINDOW_SIZE == 50
    assert tuple(_CATALOG)[:DRIVER_WINDOW_SIZE] == DRIVER_WINDOW


# DuckDB output types duckdb.df() renders as float64 (or worse) — an
# integer-valued column in one of these hash-mismatches Spark's int64
# even when every value is equal (round-2 sessionize_lag/seq_packing).
_FLOAT_LANDING_INT_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER"}


def test_all_oracles_emit_driver_hashable_types(sf_dir):
    """Static driver-hash safety for EVERY oracle (catalog-wide since
    round 15 — any entry can be moved into DRIVER_WINDOW by a one-line
    edit, so the class is caught at registration, not when the window
    changes; verified 0 violations across all 287 before widening): no
    HUGEINT/unsigned OUTPUT column (dtype mismatch class) and no
    LIST/STRUCT/MAP output (the driver canon crashes on unhashable
    numpy arrays — round-1 map_fns, round-2 approx_quantiles).
    Relation .types comes from the plan; nothing executes."""
    con = duck_connection(sf_dir)
    bad = []
    for name in _CATALOG:
        sql = _CATALOG[name][1]
        if sql is None:
            continue
        for col, t in zip(con.sql(sql).columns, con.sql(sql).types):
            ts = str(t).upper()
            if ts in _FLOAT_LANDING_INT_TYPES:
                bad.append(f"{name}.{col}: {ts} (cast the oracle output to BIGINT)")
            if "[]" in ts or ts.startswith(("STRUCT", "MAP(", "LIST")):
                bad.append(f"{name}.{col}: {ts} (explode or stringify)")
    con.close()
    assert not bad, bad


def test_all_queries_emit_scalar_columns(catalog_dfs, spark, sf_dir):
    """Spark-side twin of the oracle type guard (catalog-wide since
    round 15, same rationale — any entry can be moved into the
    window): no catalog query may
    return an array/map/struct column — the driver comparator cannot
    canonicalize them (`unhashable type: numpy.ndarray`) — nor a
    DECIMAL column (round 15, r14 VERDICT ask #1: Spark toPandas lands
    DecimalType as object decimal.Decimal while DuckDB lands
    DECIMAL(38,0) as float64; the driver's dtype-strict hash splits on
    that class — sink_parquet was hash-red for two rounds because of
    exactly this, the mirror image of the HUGEINT oracle guard above).
    Schemas come from the shared session fixture's already-built plans
    (sink_parquet, excluded there because building it writes, is built
    here directly)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    bad = []
    for name in _CATALOG:
        if name in catalog_dfs:
            schema = catalog_dfs[name].schema
        else:
            schema = _CATALOG[name][0](spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
            if isinstance(f.dataType, DecimalType):
                bad.append(
                    f"{name}.{f.name}: {f.dataType.simpleString()} "
                    "(DecimalType lands as decimal.Decimal in pandas — "
                    "cast the OUTPUT to bigint/double; keep decimal "
                    "accumulators internal)"
                )
    assert not bad, bad


def test_every_oracle_sql_plans_in_duckdb(sf_dir):
    """EXPLAIN every oracle against the real views: catches SQL syntax
    errors (f-string splice slips) instantly, without executing."""
    con = duck_connection(sf_dir)
    failures = []
    for name, (_fn, sql) in _CATALOG.items():
        if sql is None:
            continue
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {str(ex)[:120]}")
    con.close()
    assert not failures, failures
