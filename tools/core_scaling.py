#!/usr/bin/env python
"""Core-count scaling measurement at 10x data (r17 VERDICT ask #3).

At sf0.1 every per-query reading is dominated by fixed per-stage
floors (~92 ms noop, 300-500 ms/Exchange), so c8-vs-c32 ratios sit at
~1 and say nothing about the round's parallelization work. This tool
times a top-of-anchor entry set on the 10x slices (tools/make_sf1.py
for the TPC-H tier, tools/make_docs10.py for the doc/event tier) at
the CURRENT $SPARK_GRAFT_CPUS, recording BOTH the first (memo-cold)
execution — where the shared-memo builds the r17/r18 rounds
parallelized actually run — and the steady-state minimum over
--reps further runs. Run once per core count; compare the JSONs:

    SPARK_GRAFT_CPUS=32 python tools/core_scaling.py --out /tmp/scale_c32.json
    SPARK_GRAFT_CPUS=8  python tools/core_scaling.py --out /tmp/scale_c8.json

A c8/c32 ratio near 4 on a compute-bound entry means the plan
parallelizes; ~1 means floor- or driver-bound AT THIS SCALE.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lenses_topology_example_spark import catalog  # noqa: E402
from lenses_topology_example_spark.session import (  # noqa: E402
    cpu_count,
    default_heap,
    get_spark,
)

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/r18_sf1")
DOCS10 = os.environ.get("SPARK_GRAFT_DOCS10_DIR", "/tmp/r18_docs10")
WARM = "/root/testdata/sf0.001"

# entry -> the slice that scales its input tier
ENTRIES: tuple[tuple[str, str], ...] = (
    # doc/event tier (documents/events/embeddings x10)
    ("sim_topk", DOCS10),
    ("bm25_search", DOCS10),
    ("retrieval_eval", DOCS10),
    ("hybrid_rrf", DOCS10),
    ("embed_pca_power", DOCS10),
    ("embed_threshold_sweep", DOCS10),
    ("mrl_truncation_audit", DOCS10),
    ("embed_dedup_cluster", DOCS10),
    ("dedup_near_capped", DOCS10),
    ("dedup_tfidf_cosine", DOCS10),
    ("dedup_lines_near", DOCS10),
    ("dedup_lines_near_capped", DOCS10),
    ("minhash_band_sweep", DOCS10),
    ("minhash_est_audit", DOCS10),
    ("cross_source_leak", DOCS10),
    ("source_pagerank", DOCS10),
    ("cms_token_freq", DOCS10),
    ("permutation_test", DOCS10),
    # TPC-H tier (lineitem/orders/customer/part/supplier x10)
    ("table_profile", SF1),
    ("bootstrap_stderr", SF1),
    ("winsorized_stats", SF1),
    ("bloom_join_audit", SF1),
    ("basket_lift", SF1),
    ("agg_revenue", SF1),
    ("region_revenue", SF1),
    ("min_cost_supplier", SF1),
)

# --set docs100: the 10x doc tier is STILL floor-bound (measured r18:
# c8/c32 ratios ~1 with sub-second steadies), so the emb_base-consumer
# scaling proof needs the 100x doc-only slice
# (tools/make_docs10.py /tmp/r18_docs100 --copies 100 --doc-only).
# Near-dup pair entries are EXCLUDED: their output grows O(copies^2)
# BY SEMANTICS on the verbatim-replicated corpus (make_docs10 header),
# which is an output-volume axis, not a parallelism one.
DOCS100 = os.environ.get("SPARK_GRAFT_DOCS100_DIR", "/tmp/r18_docs100")
ENTRIES_DOCS100: tuple[tuple[str, str], ...] = (
    ("sim_topk", DOCS100),
    ("bm25_search", DOCS100),
    ("retrieval_eval", DOCS100),
    ("hybrid_rrf", DOCS100),
    ("embed_pca_power", DOCS100),
    ("embed_threshold_sweep", DOCS100),
    ("mrl_truncation_audit", DOCS100),
    ("cms_token_freq", DOCS100),
    ("knn_classify", DOCS100),
    ("lang_id", DOCS100),
    ("tfidf", DOCS100),
    ("kmeans_assign", DOCS100),
)


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    out = None
    entries = ENTRIES
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--out":
            out = args[i + 1]; i += 2
        elif args[i] == "--set" and args[i + 1] == "docs100":
            entries = ENTRIES_DOCS100; i += 2
        else:
            raise SystemExit(f"unknown arg {args[i]}")
    cpus = cpu_count()
    spark = get_spark("core_scaling", driver_memory=default_heap(SF1))
    qs = catalog.queries()

    def noop(name: str, sf: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # JIT warmup at the smallest SF (bench.py discipline)
    for name, _ in entries:
        noop(name, WARM)

    results: dict[str, dict] = {}
    # phase 1: memo-cold first executions, fixed order — the shared
    # memo builds land in the FIRST consumer, identically per core
    # count, so first-execution ratios are apples-to-apples
    for name, sf in entries:
        results[name] = {"first": round(noop(name, sf), 3)}
        print(f"c{cpus} {name} first: {results[name]['first']}", flush=True)
    # phase 2: steady-state minimum
    for name, sf in entries:
        results[name]["steady"] = round(
            min(noop(name, sf) for _ in range(reps)), 3
        )
        print(f"c{cpus} {name} steady: {results[name]['steady']}", flush=True)

    rec = {"cpus": int(cpus), "reps": reps, "entries": results,
           "sf1": SF1, "docs10": DOCS10}
    line = json.dumps(rec)
    print(line)
    if out:
        with open(out, "w") as f:
            f.write(line)
    spark.stop()


if __name__ == "__main__":
    main()
