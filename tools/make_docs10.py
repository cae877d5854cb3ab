#!/usr/bin/env python
"""Build a documents/events/embeddings-scaled 10x slice — the
complement of tools/make_sf1.py (which scales only the TPC-H
relations), closing the round-13 BASELINE.md note that the doc-tier's
scaling was unmeasured.

Replication discipline (same as make_sf1): 10 copies with disjoint key
offsets, every value distribution preserved exactly —

    documents  5k -> 50k   (doc_id  + 5_000/copy; text VERBATIM)
    embeddings 2k -> 20k   (vec_id  + 2_000/copy)
    events    100k -> 1M   (event_id + 100_000/copy,
                            user_id + 1_500/copy — user_id tops out at
                            1499 and customer carries 15_000 keys, so
                            all 10 copies' users still resolve against
                            the UNSCALED customer dim: the
                            events->customer joins keep referential
                            integrity)

TPC-H tables + nation/region are copied unscaled (no allowlisted
TPC-H scaler reads doc-tier inputs).

DELIBERATE SEMANTICS: text is replicated verbatim, so every document
gains 9 exact duplicates — the realistic shape of a crawl at scale
(boilerplate and mirror pages). Near-dup PAIR outputs therefore grow
~O(copies^2) BY SEMANTICS (bigger answer, not worse plan); a
`bench_compare A B --step-factor N` flag on a pair-emitting entry
must separate output-driven growth from plan-driven growth. The df-capped /
cluster-collapsed production paths are exactly the forms built to
survive this.

Usage:
    python tools/make_docs10.py [outdir] [--copies N] [--doc-only]
    # default outdir /tmp/spark_graft_docs10, copies 10

--doc-only (round 14, r13 VERDICT ask #5 — the docs100 asymptote
point): scale ONLY documents and embeddings by --copies and copy
events UNSCALED. Rationale: past 10 copies the events user_id offset
(copy * 1_500) outruns the unscaled customer dim's 15_000 keys, so an
events-scaled 100x slice would silently break the events->customer
referential integrity the 10x slice preserves; the docs100 sweep
targets the doc-tier caps' asymptote, which never reads events.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10

SCALED: dict[str, list[tuple[str, int]]] = {
    "documents": [("doc_id", 5_000)],
    "embeddings": [("vec_id", 2_000)],
    "events": [("event_id", 100_000), ("user_id", 1_500)],
}
COPIED = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
]


def build(outdir: str, copies: int = COPIES, doc_only: bool = False) -> None:
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    scaled = dict(SCALED)
    copied = list(COPIED)
    if doc_only:
        del scaled["events"]
        copied.append("events")
    elif copies > COPIES:
        raise SystemExit(
            f"copies={copies} > {COPIES} requires --doc-only: the events "
            "user_id offset would outrun the unscaled customer dim"
        )
    for table, offsets in scaled.items():
        src = f"{SRC}/{table}.parquet"
        cols = [
            r[0]
            for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        ]
        shifted = dict(offsets)
        proj = ", ".join(
            f"{c} + i.copy * {shifted[c]} AS {c}" if c in shifted else c
            for c in cols
        )
        dst = f"{outdir}/{table}.parquet"
        con.sql(
            f"COPY (SELECT {proj} FROM '{src}' CROSS JOIN "
            f"(SELECT unnest(range({copies})) AS copy) i) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT COUNT(*) FROM '{dst}'").fetchone()[0]
        print(f"{table}: {n} rows", flush=True)
    for table in copied:
        shutil.copyfile(
            f"{SRC}/{table}.parquet", f"{outdir}/{table}.parquet"
        )
        print(f"{table}: copied", flush=True)


if __name__ == "__main__":
    argv = sys.argv[1:]
    n = COPIES
    doc_only = "--doc-only" in argv
    if "--copies" in argv:
        i = argv.index("--copies")
        n = int(argv[i + 1])
        del argv[i : i + 2]
    argv = [a for a in argv if not a.startswith("--")]
    build(
        argv[0] if argv else "/tmp/spark_graft_docs10",
        copies=n,
        doc_only=doc_only,
    )
