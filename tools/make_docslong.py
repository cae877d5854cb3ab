#!/usr/bin/env python
"""Build the document-LENGTH-scaled slice: SAME 5,000 docs, 100x the
text per doc — the fourth axis of the measured-scaling program.

Axes so far: TPC-H row count (make_sf1), document count + verbatim
duplication (make_docs10 / --copies 100), per-user event density
(make_events100). None of them stresses per-ROW text volume, which is
the axis the tokenization/shingling/chunking tier scales with: a
100 TB corpus of books has ~100x the tokens per document of a crawl
snippet corpus at the same row count. Operators whose per-doc work is
linear in length (text_stats, token_count, doc_chunk) should ride
~constant-per-byte; anything assembling per-doc token structures
(tfidf's explode, dedup_minhash's shingle set, seq_packing) shows its
per-doc memory/compute shape HERE and nowhere else.

Replication: text -> repeat(text || ' ', copies) per doc (joined with
a space so token boundaries survive the seam), doc_id/source/lang/
score kept verbatim, all other tables copied unscaled. Same row
count, ~100x bytes. Like events100 this is a SCALING-measurement
slice (`SPARK_GRAFT_SF_DIR=<outdir> python bench.py NAME ...`, then
`tools/bench_compare.py` against the sf0.1 map), not an oracle-parity
slice — both engines would agree, but derived values
(tf weights, fingerprints) obviously differ from sf0.1 and the
interesting output is the wall-clock ratio.

Usage:
    python tools/make_docslong.py [outdir] [--copies N]
    # default /tmp/spark_graft_docslong, copies 100
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 100
COPIED = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
]


def build(outdir: str, copies: int = COPIES) -> None:
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    src = f"{SRC}/documents.parquet"
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
    proj = ", ".join(
        f"rtrim(repeat(text || ' ', {copies})) AS text" if c == "text" else c
        for c in cols
    )
    dst = f"{outdir}/documents.parquet"
    con.sql(f"COPY (SELECT {proj} FROM '{src}') TO '{dst}' (FORMAT PARQUET)")
    n, b = con.sql(
        f"SELECT COUNT(*), SUM(length(text)) FROM '{dst}'"
    ).fetchone()
    print(f"documents: {n} rows, {b} text bytes", flush=True)
    for table in COPIED:
        shutil.copyfile(f"{SRC}/{table}.parquet", f"{outdir}/{table}.parquet")
        print(f"{table}: copied", flush=True)


if __name__ == "__main__":
    argv = sys.argv[1:]
    n = COPIES
    if "--copies" in argv:
        i = argv.index("--copies")
        n = int(argv[i + 1])
        del argv[i : i + 2]
    build(argv[0] if argv else "/tmp/spark_graft_docslong", copies=n)
