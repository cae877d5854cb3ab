#!/usr/bin/env python
"""Build the events-DENSITY-scaled slice: SAME 1,500 users, 100x the
events per user — the third axis of the measured-scaling program.

make_sf1 scales the TPC-H relations; make_docs10 scales doc/embedding
COUNT (and events count, capped at 10 copies by the customer dim).
Neither stresses per-key event DENSITY, which is the adversarial axis
for the session/window tier: operators that collect one session's (or
one user's) events into a bounded frame (top_paths, funnel_conversion,
markov_transitions, sessionize_lag) see per-user sequences 100x longer
here, and the events->customer join (salted_join_events) sees 100x
per-key skew. A plan that is linear in |events| but quadratic in a
per-user frame shows up HERE and nowhere else.

Replication: 100 copies per event with event_id offset by
copy * 100_000 (stays unique), user_id UNCHANGED (same 1,500 users —
referential integrity against the unscaled customer dim holds by
construction), ts jittered by copy * 1 second (keeps per-user event
times distinct so session/window semantics stay non-degenerate
instead of 100-way timestamp ties), value/event_type/props verbatim.
Events span ~30 days, so a <=99 s jitter is sub-session-gap noise.
All other tables are copied unscaled.

This slice is for SCALING MEASUREMENT (`SPARK_GRAFT_SF_DIR=<outdir>
python bench.py NAME ...`, then `tools/bench_compare.py` against the
sf0.1 map), not oracle parity: the jitter changes derived
values, and both engines would still agree, but the interesting output
is the wall-clock ratio.

Usage:
    python tools/make_events100.py [outdir] [--copies N]
    # default /tmp/spark_graft_events100, copies 100
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
    "orders", "lineitem", "documents", "embeddings",
]


def build(outdir: str, copies: int = COPIES) -> None:
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    dst = f"{outdir}/events.parquet"
    con.sql(
        f"COPY (SELECT event_id + i.copy * 100000 AS event_id, "
        f"ts + i.copy * INTERVAL 1 SECOND AS ts, "
        f"user_id, event_type, value, props "
        f"FROM '{SRC}/events.parquet' CROSS JOIN "
        f"(SELECT unnest(range({copies})) AS copy) i) "
        f"TO '{dst}' (FORMAT PARQUET)"
    )
    n, u = con.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT user_id) FROM '{dst}'"
    ).fetchone()
    print(f"events: {n} rows over {u} users", flush=True)
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
    build(argv[0] if argv else "/tmp/spark_graft_events100", copies=n)
