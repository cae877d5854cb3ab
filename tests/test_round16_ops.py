"""Round-16 additions: the input-layout (small-files) scaling axis
tooling and the directory-table oracle path.

The slice-tool tests need no SparkSession — the Spark side of each
axis is measured by `bench.py NAME ...` on the slice against sf0.1
(`tools/bench_compare.py A B --step-factor N`) and parity-proved by
driver_sim on the slice (SCALING.md round-16); they pin the
pure-Python contracts the measurement rests on at pyarrow/DuckDB
cost. The loader-memo test rides the shared session fixture.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

from lenses_topology_example_spark.tables import parquet_source

SRC = "/root/testdata/sf0.001"


def _build(out: str) -> None:
    subprocess.run(
        [sys.executable, "tools/make_smallfiles.py",
         "--sf-dir", SRC, "--out", out, "--files", "16"],
        check=True, capture_output=True, cwd="/root/repo",
    )


def test_parquet_source_emits_glob_only_for_directories(tmp_path):
    """The ONE DuckDB source-string builder: bare path for a file,
    /*.parquet glob for a directory (DuckDB 1.0 cannot read a bare
    directory; Spark reads both transparently)."""
    assert parquet_source(SRC, "orders") == f"{SRC}/orders.parquet"
    d = tmp_path / "orders.parquet"
    d.mkdir()
    assert parquet_source(str(tmp_path), "orders") == f"{d}/*.parquet"


def test_make_smallfiles_preserves_multiset_schema_and_determinism(
    tmp_path,
):
    """The layout axis changes BYTES LAYOUT only: every shattered
    table keeps its exact schema and row multiset (DuckDB glob read vs
    the single source file), unshattered tables are byte-identical
    copies, and two builds are byte-identical (file-slicing is pure
    arithmetic on a deterministic read order)."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _build(a)
    _build(b)

    for t in ("lineitem", "orders", "events", "documents"):
        d = f"{a}/{t}.parquet"
        parts = sorted(os.listdir(d))
        assert len(parts) > 1, f"{t}: not shattered"
        assert pq.read_schema(os.path.join(d, parts[0])).equals(
            pq.read_schema(f"{SRC}/{t}.parquet")
        ), f"{t}: schema drift"
        for p in parts:
            pa_bytes = open(os.path.join(d, p), "rb").read()
            pb_bytes = open(os.path.join(b, t + ".parquet", p), "rb").read()
            assert pa_bytes == pb_bytes, f"{t}/{p}: non-deterministic"

    con = duckdb.connect()
    for t in ("orders", "documents"):
        n = con.sql(
            f"SELECT count(*) FROM '{parquet_source(a, t)}'"
        ).fetchone()[0]
        n_src = con.sql(
            f"SELECT count(*) FROM '{SRC}/{t}.parquet'"
        ).fetchone()[0]
        assert n == n_src, f"{t}: row count drift"
    got = con.sql(
        f"SELECT * FROM '{parquet_source(a, 'orders')}' ORDER BY ALL"
    ).fetchall()
    want = con.sql(
        f"SELECT * FROM '{SRC}/orders.parquet' ORDER BY ALL"
    ).fetchall()
    assert got == want, "orders: multiset drift under shattering"

    assert open(f"{a}/customer.parquet", "rb").read() == open(
        f"{SRC}/customer.parquet", "rb"
    ).read(), "unshattered table must be a byte-identical copy"


def test_make_widecols_appends_varying_columns_and_preserves_originals(
    tmp_path,
):
    """The schema-width axis slice (tools/make_widecols.py): original
    columns keep their exact schema and multiset (the decoys change no
    catalog result — every contract names its columns), the K decoy
    columns are present with per-row VARYING values (so they neither
    compress away on disk nor read for free)."""
    out = str(tmp_path / "wide")
    subprocess.run(
        [sys.executable, "tools/make_widecols.py",
         "--sf-dir", SRC, "--out", out, "--cols", "8"],
        check=True, capture_output=True, cwd="/root/repo",
    )
    con = duckdb.connect()
    for t in ("orders", "events", "documents"):
        src_schema = pq.read_schema(f"{SRC}/{t}.parquet")
        wide_schema = pq.read_schema(f"{out}/{t}.parquet")
        assert wide_schema.names[: len(src_schema.names)] == list(
            src_schema.names
        ), f"{t}: original column order changed"
        assert wide_schema.names[len(src_schema.names):] == [
            f"w_{j:03d}" for j in range(8)
        ], f"{t}: decoy columns wrong"
        for name in src_schema.names:
            assert wide_schema.field(name).equals(
                src_schema.field(name)
            ), f"{t}.{name}: dtype drift"
        cols = ", ".join(f'"{c}"' for c in src_schema.names)
        got = con.sql(
            f"SELECT {cols} FROM '{out}/{t}.parquet' ORDER BY ALL"
        ).fetchall()
        want = con.sql(
            f"SELECT {cols} FROM '{SRC}/{t}.parquet' ORDER BY ALL"
        ).fetchall()
        assert got == want, f"{t}: original-column multiset drift"
        n_distinct = con.sql(
            f"SELECT count(DISTINCT w_007) FROM '{out}/{t}.parquet'"
        ).fetchone()[0]
        assert n_distinct > 1, f"{t}: decoy column is constant"


def test_load_table_memoizes_per_session_and_sf_dir(spark):
    """The round-16 loader memo: within one session the same
    (sf_dir, table) returns the SAME DataFrame object (no repeated
    footer read, identical plan by construction), while different
    sf_dirs stay distinct frames."""
    from lenses_topology_example_spark.tables import load_table

    a1 = load_table(spark, SRC, "orders")
    a2 = load_table(spark, SRC, "orders")
    assert a1 is a2, "same-session same-source load must hit the memo"
    b = load_table(spark, "/root/testdata/sf0.01", "orders")
    assert b is not a1, "distinct sf_dirs must not share a frame"
    assert a1.count() != b.count(), "memo crossed sf_dir keys"
