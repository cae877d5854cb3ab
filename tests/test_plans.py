"""Physical-plan regression tests: the scale properties SURVEY.md §4
claims (broadcast dims, scan pushdown, partial aggregation, no stray
shuffles) must be visible in the executed plans, not just intended."""

from __future__ import annotations

import contextlib
import io
import re
import uuid
from decimal import Decimal

import pytest
from pyspark.sql.types import StructType

from lenses_topology_example_spark.catalog import _CATALOG
from lenses_topology_example_spark.datamodel import literal_df


def _formatted_plan(spark, sf_dir, name: str) -> str:
    df = _CATALOG[name][0](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_fx_join_broadcasts_dim(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "fx_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "5-row dim must never shuffle the fact"


def test_payments_pipeline_single_agg_shuffle(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "payments_pipeline")
    assert "BroadcastHashJoin" in plan
    # partial+final HashAggregate around exactly one shuffle of agg output
    assert len(re.findall(r"HashAggregate", plan)) >= 2, "partial agg missing"


def test_agg_revenue_pushdown(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "agg_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), "shipdate filter must reach the scan"
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    # 7 needed columns, not all 11
    assert m and "l_orderkey" not in m.group(1), "column pruning failed"


def test_returned_items_pushdown_and_broadcasts(spark, sf_dir):
    plan = _formatted_plan(spark, sf_dir, "returned_items")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(l_returnflag,R)" in m.group(1)
    assert "BroadcastHashJoin" in plan


def test_wordcount_is_native_explode(spark, sf_dir):
    """The reference's typed flatMap (sparkstreaming App.java:74-77) must
    NOT appear as a (Map|FlatMap)Elements/DeserializeToObject plan — the
    tokenizer stays native (Generate explode) inside codegen."""
    plan = _formatted_plan(spark, sf_dir, "wordcount")
    assert "Generate" in plan
    assert "DeserializeToObject" not in plan
    assert "MapElements" not in plan


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _scans_python_rdd(jplan) -> bool:
    """True when a ``LogicalRDD`` under the optimized plan ``jplan`` (its
    subqueries and the plans of cached frames included) reads an RDD
    whose lineage holds a ``PythonRDD``: rows pickled by Python, as
    ``spark.createDataFrame(<list>)`` plans them. The
    ``localCheckpoint`` relations of ``resolve_clusters`` hold JVM rows
    and pass."""
    todo = [jplan]
    while todo:
        plan = todo.pop()
        todo.extend(_seq(plan.subqueriesAll()))
        for leaf in _seq(plan.collectLeaves()):
            kind = leaf.getClass().getSimpleName()
            if kind == "InMemoryRelation":
                todo.append(leaf.cacheBuilder().logicalPlan())
            elif kind == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
                return True
    return False


def test_no_python_udfs_in_oracle_tier(spark, sf_dir, catalog_dfs):
    """Every oracle-checked query except the multimodal decode plumbing
    must plan without Python evaluation (BatchEvalPython/ArrowEvalPython/
    MapInPandas) — the hot path stays JVM-side. No entry, the sink
    included, scans rows pickled through a Python RDD either: constant
    frames are LocalRelations (datamodel.literal_df), so a session runs
    one Python worker pool, the mapInPandas one."""
    python_ok = {
        "image_features",
        "audio_features",
        "image_resize",
        "asset_codec_meta",  # real BMP/WAV codecs ride mapInPandas by design
        "asset_png_meta",  # real PNG full decode, mapInPandas by design
        "asset_quality_screen",  # decode-validate screen, same codec tier
        "asset_gif_meta",  # real GIF/LZW full decode, mapInPandas by design
        "udaf_median",
        "grouped_map_norm",
        # per-query greedy re-rank is grouped-local by nature; every
        # cosine stays a JVM fold, only the scalar greedy is pandas
        "mmr_rerank",
    }
    # Also audited in the same plan-building pass (plans are the
    # expensive part — one pass, two structural pins): no
    # CartesianProduct anywhere. Deliberate scalar constants (Bloom
    # bitmap, corpus totals, norm/eigenvalue rows) ride 1-row BROADCAST
    # nested-loop joins — a CartesianProduct means a join lost its keys
    # or a broadcast hint fell off, which at corpus scale is a job that
    # never finishes.
    dfs = dict(catalog_dfs)
    dfs["sink_parquet"] = _CATALOG["sink_parquet"][0](spark, sf_dir)
    py_offenders = []
    cart_offenders = []
    rdd_offenders = [
        name
        for name, df in dfs.items()
        if _scans_python_rdd(df._jdf.queryExecution().optimizedPlan())
    ]
    for name, (fn, sql) in _CATALOG.items():
        if sql is None or name not in dfs:
            continue
        df = dfs[name]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if name not in python_ok and re.search(
            r"BatchEvalPython|ArrowEvalPython|InPandas", plan
        ):
            py_offenders.append(name)
        if "CartesianProduct" in plan:
            cart_offenders.append(name)
    assert not py_offenders, f"Python in the hot path of: {py_offenders}"
    assert not cart_offenders, f"CartesianProduct planned in: {cart_offenders}"
    assert not rdd_offenders, f"Python-RDD row scans in: {sorted(rdd_offenders)}"


@pytest.mark.parametrize(
    "rows, ddl",
    [
        (
            [
                ("it's", 2**31 + 7, Decimal("1" * 36 + ".25"), None, 1.5),
                ("", -(2**40), Decimal("-0.01"), 7, -2.25),
            ],
            "s string, b bigint, d decimal(38,2), i int, x double",
        ),
        ([], "s string, b bigint"),
    ],
    ids=["mixed", "empty"],
)
def test_literal_df_is_a_job_free_local_relation(spark, rows, ddl):
    """literal_df is a typed JVM LocalRelation: exact values, the DDL's
    schema, and a collect that launches no Spark job (convert_payments
    collects the FX dimension at plan build and relies on that)."""
    df = literal_df(spark, rows, ddl)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema == StructType.fromDDL(ddl)
    sc = spark.sparkContext
    group = f"literal_df-{uuid.uuid4()}"
    sc.setJobGroup(group, "literal_df collect")
    try:
        got = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [tuple(r) for r in got] == rows
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    heap, k rows to the driver) — never a global Sort."""
    plan = _formatted_plan(spark, sf_dir, "topk_spenders")
    assert "TakeOrderedAndProject" in plan


def test_sim_topk_is_lazy_single_join(spark, sf_dir):
    """sim_topk must stay a lazy fixed-size plan: exactly one
    (broadcast) join of the query DataFrame to the corpus — never one
    unrolled sub-plan per collected query vector — and the rank filter
    must compile to WindowGroupLimit so each input partition emits only
    ~k rows per query before the exchange."""
    plan = _formatted_plan(spark, sf_dir, "sim_topk")
    n_joins = len(re.findall(r"Join", plan))
    assert n_joins >= 1, "join-form plan expected"
    assert "BroadcastNestedLoopJoin" in plan, "query side must broadcast"
    assert "Union" not in plan, "per-query plan unrolling is back"
    assert "WindowGroupLimit" in plan, "partial top-k pushdown missing"


def test_tfidf_partial_topk_and_broadcast_n(spark, sf_dir):
    """tfidf's per-doc top-k must compile to WindowGroupLimit (partial
    top-k before the exchange) and the corpus-count join must broadcast
    its single row, never shuffle the term-doc side for it."""
    plan = _formatted_plan(spark, sf_dir, "tfidf")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N, no join key
    assert "CartesianProduct" not in plan


def test_seq_packing_single_shard_shuffle(spark, sf_dir):
    """seq_packing is one window over shard partitions: exactly one
    exchange (hash by shard), no global sort. Count DISTINCT plan node
    ids — `(4) Exchange` appears once in the tree and once in the
    details section, so a raw occurrence count drifts with plan
    formatting (round-2 ADVICE)."""
    plan = _formatted_plan(spark, sf_dir, "seq_packing")
    exchange_ids = set(re.findall(r"\((\d+)\) Exchange\b", plan))
    assert len(exchange_ids) == 1, plan


def _exchange_ids(plan: str) -> set[str]:
    return set(re.findall(r"\((\d+)\) Exchange\b", plan))


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    """repetition_stats is pure per-row map work: the top-bigram count
    must come from the sorted-run fold, never an explode+groupBy — so
    the plan has NO exchange at all."""
    plan = _formatted_plan(spark, sf_dir, "repetition_stats")
    assert not _exchange_ids(plan), plan
    assert "Generate" not in plan, "bigram explode crept in"


def test_corpus_mix_window_over_aggregated_frame(spark, sf_dir):
    """corpus_mix: one agg exchange keyed (source, lang) plus one
    single-partition exchange for the global-total window — and that
    window must sit ABOVE the aggregate (a few dozen rows), never over
    the raw corpus."""
    plan = _formatted_plan(spark, sf_dir, "corpus_mix")
    assert len(_exchange_ids(plan)) == 2, plan
    # partial+final agg pair proves the token sum combines map-side
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_curation_funnel_single_global_agg(spark, sf_dir):
    """curation_funnel computes all four stage counts in ONE aggregate
    over the single scan (partial + final around a 1-row exchange) —
    no per-stage rescans (no Union of aggregates)."""
    plan = _formatted_plan(spark, sf_dir, "curation_funnel")
    assert "Union" not in plan, "per-stage rescan crept in"
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def _scan_ids(plan: str) -> set[str]:
    return set(re.findall(r"\((\d+)\) Scan parquet", plan))


def test_curation_pipeline_single_scan(spark, sf_dir):
    """Round-3 verdict: the composite must plan ONE corpus FileScan and
    zero joins — quality/lang/fp are columns of one projection, never
    per-row frames joined back on doc_id (Spark has no cross-branch
    common-subplan elimination, so that shape planned 4 scans + 3
    corpus-scale joins). Only exchange = the fp keeper window."""
    plan = _formatted_plan(spark, sf_dir, "curation_pipeline")
    assert len(_scan_ids(plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(_exchange_ids(plan)) == 1, plan


def test_curation_funnel_single_scan(spark, sf_dir):
    """Same single-scan/no-join contract as the pipeline; exchanges =
    the fp window + the 1-row global-agg exchange, nothing else."""
    plan = _formatted_plan(spark, sf_dir, "curation_funnel")
    assert len(_scan_ids(plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(_exchange_ids(plan)) == 2, plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """decontaminate must BROADCAST the eval shingle set (a fixed
    benchmark suite is tiny vs a 100 TB corpus) — the corpus side
    streams through the membership hash join without a shuffle; the
    only corpus-scale exchange is the per-doc count agg."""
    plan = _formatted_plan(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "eval side fell off the broadcast path"


def test_knn_classify_broadcasts_topk(spark, sf_dir):
    """knn_classify's label lookup must broadcast the |Q| x k neighbor
    triples (bounded by construction) — the corpus-side label fetch
    never sort-merge-shuffles."""
    plan = _formatted_plan(spark, sf_dir, "knn_classify")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan  # inherited sim_topk partial top-k


def test_dedup_lines_shuffles_hashes_only(spark, sf_dir):
    """dedup_lines: exactly two SEMANTIC exchanges (keeper window keyed
    by the 16-byte md5, then the per-doc agg) and no join; the segment
    TEXT is projected away before the window shuffle. The degenerate-
    layout guard (_parallel_scan) may add ONE RoundRobin repartition of
    the raw scan — allowed, never more, and only that kind."""
    plan = _formatted_plan(spark, sf_dir, "dedup_lines")
    rr_ids = set(
        re.findall(
            r"\((\d+)\) Exchange\nInput[^\n]*\n"
            r"Arguments: RoundRobinPartitioning",
            plan,
        )
    )
    sem = _exchange_ids(plan) - rr_ids
    # the guard exchange may print more than once when the memoized
    # segment table is already cached (AQE initial+final plans both
    # render inside the InMemoryRelation) — every extra id must be the
    # RoundRobin guard, never a new semantic shuffle
    assert len(sem) == 2, plan
    assert "Join" not in plan, plan


def test_pii_scrub_zero_shuffle(spark, sf_dir):
    """pii_scrub is pure per-row regex work — no exchange at all."""
    plan = _formatted_plan(spark, sf_dir, "pii_scrub")
    assert not _exchange_ids(plan), plan


def test_token_entropy_zero_shuffle(spark, sf_dir):
    """token_entropy's occurrence counts come from the per-row
    sorted-run fold — no explode+groupBy, no exchange at all."""
    plan = _formatted_plan(spark, sf_dir, "token_entropy")
    assert not _exchange_ids(plan), plan
    assert "Generate" not in plan, "token explode crept in"


def test_lm_score_single_vocab_agg_and_broadcast(spark, sf_dir):
    """lm_score: the vocab is aggregated ONCE (its global total is a
    window over the aggregated |V|-row frame, not a second corpus
    aggregation branch) and the logp lookup broadcasts the vocab —
    exchanges = vocab agg + |V|-row window + per-doc agg, exactly 3.

    The exchange count alone can't distinguish window-above-agg from
    window-over-raw-corpus (both plan 3 exchanges), so the tree shape
    is pinned too: the Window node's immediate subtree must be
    Sort -> Exchange -> HashAggregate — a refactor that pushes the
    global-total window below the vocab aggregate (single-partition
    shuffle of EVERY corpus token) puts a Project/Generate there
    instead and fails the positional assert."""
    plan = _formatted_plan(spark, sf_dir, "lm_score")
    assert len(_exchange_ids(plan)) == 3, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    win = next(i for i, ln in enumerate(lines) if re.search(r"Window \(\d+\)", ln))
    below = "\n".join(lines[win + 1 : win + 5])
    assert "HashAggregate" in below, (
        "global-total window must consume the aggregated vocab frame:\n" + tree
    )


def test_cms_topn_is_take_ordered(spark, sf_dir):
    """cms_token_freq's top-N selection must compile to
    TakeOrderedAndProject (per-partition top-CMS_TOP, driver merge of
    N_partitions x CMS_TOP rows) — an unpartitioned row_number window
    here would funnel the ENTIRE exact vocabulary (~10^7 rows at web
    scale) through one partition (round-4 verdict)."""
    plan = _formatted_plan(spark, sf_dir, "cms_token_freq")
    assert "TakeOrderedAndProject" in plan, plan
    assert not re.search(r"\(\d+\) Window\b", plan), plan


def test_corpus_report_single_scan_single_agg(spark, sf_dir):
    """corpus_report fuses quality/lang/entropy/dup signals as columns
    of one documents projection — one FileScan, no joins, one
    source-keyed agg exchange with map-side partials."""
    plan = _formatted_plan(spark, sf_dir, "corpus_report")
    assert len(_scan_ids(plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(_exchange_ids(plan)) == 1, plan
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_funnel_sweep_single_scan_single_agg(spark, sf_dir):
    """funnel_sweep: every candidate quality bar is a conditional sum in
    the SAME single-scan global aggregate (one corpus scan, no Union of
    per-threshold rescans); the stack() unpivot is a Generate over the
    1-row aggregate, not over data."""
    plan = _formatted_plan(spark, sf_dir, "funnel_sweep")
    assert len(_scan_ids(plan)) == 1, plan
    assert "Union" not in plan, "per-threshold rescan crept in"
    assert "Join" not in plan, plan


def test_shard_plan_window_over_aggregated_frame(spark, sf_dir):
    """shard_plan: one agg exchange keyed by shard plus the
    single-partition exchange for the uniform-load window over the
    N-shard aggregated frame — never a window over the raw corpus."""
    plan = _formatted_plan(spark, sf_dir, "shard_plan")
    assert len(_scan_ids(plan)) == 1, plan
    assert len(_exchange_ids(plan)) == 2, plan
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan  # partial+final


def test_corpus_rebalance_window_over_aggregated_frame(spark, sf_dir):
    """corpus_rebalance: same two-exchange discipline as corpus_mix —
    agg keyed by source, then both ratio windows over the
    |sources|-row aggregate."""
    plan = _formatted_plan(spark, sf_dir, "corpus_rebalance")
    assert len(_scan_ids(plan)) == 1, plan
    assert len(_exchange_ids(plan)) == 2, plan
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_dedup_incremental_no_cartesian(spark, sf_dir):
    """dedup_incremental: the near-dup candidate join must go through
    (band, v) equi-keys — a cartesian/broadcast-nested-loop between the
    incoming and base sides would be the quadratic shape the LSH bands
    exist to avoid. Digest membership and band joins are all hash
    equi-joins."""
    plan = _formatted_plan(spark, sf_dir, "dedup_incremental")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lateral_topn_decorrelates_to_window(spark, sf_dir):
    """The LATERAL correlated LIMIT must decorrelate into a ranked
    window join (WindowGroupLimit partial top-k before the exchange) —
    never per-outer-row subquery re-execution or a cartesian."""
    plan = _formatted_plan(spark, sf_dir, "lateral_topn")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_seg_near_capped_reuses_memoized_keys(spark, sf_dir):
    """The full∪delete-one block-key frame feeds THREE consumers in the
    capped segment near-dup (the df-cap aggregate and both self-join
    sides). Spark has no cross-branch CSE, so without materialization
    the explode+hash build re-runs per consumer (r6: 12.5-25.9 s vs the
    5.4-6.3 s band). The memo must surface as >=3 InMemoryTableScans of
    the same cached relation in the plan."""
    plan = _formatted_plan(spark, sf_dir, "dedup_lines_near_capped")
    assert plan.count("InMemoryTableScan") >= 3, (
        "block-key frame must be read from cache by all three consumers"
    )


def test_pmi_builds_from_materialized_tokens(spark, sf_dir):
    """The PMI gram transform runs inside a LambdaFunction (interpreted,
    no codegen subexpression elimination) — if the inline tokenizer ever
    reappears there, split+lower re-runs per element access, O(L^2) per
    doc (measured 8 s suite floor at sf0.1, r7). Built correctly, the
    plan reads the memoized token table: InMemoryTableScans and no
    raw-text split inside the gram branch."""
    plan = _formatted_plan(spark, sf_dir, "pmi_collocations")
    assert "InMemoryTableScan" in plan


def test_hard_negative_mining_partial_topk_broadcast_queries(spark, sf_dir):
    """The label-mismatch join is non-equi, so the correct plan is a
    BroadcastNestedLoopJoin with the BOUNDED query set as the build
    side (corpus scans the |Q|-row broadcast — never the reverse), and
    the rn <= k filter must compile to WindowGroupLimit so only ~k
    quads per query per partition cross the exchange."""
    plan = _formatted_plan(spark, sf_dir, "hard_negative_mining")
    assert "WindowGroupLimit" in plan, "partial top-k pushdown missing"
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, "query set must broadcast, not shuffle"


def test_small_qty_revenue_broadcasts_brand_parts(spark, sf_dir):
    """Q17 shape: the brand filter must reach the part scan, and both
    lineitem joins must broadcast the pruned part/per-part-average
    sides — lineitem is scanned (twice) but never shuffled."""
    plan = _formatted_plan(spark, sf_dir, "small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "lineitem must not shuffle"
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_brand" in pushed, "brand filter must reach the part scan"


def test_hybrid_rrf_every_topk_is_window_group_limited(spark, sf_dir):
    """All three rank windows (lexical, semantic, fused) must compile
    to WindowGroupLimit partial top-k (partial+final pairs), and the
    only nested-loop joins are the deliberate bounded broadcasts (the
    3-row query-vector frame and the 1-row corpus-stats scalar) — never
    a shuffled cartesian."""
    plan = _formatted_plan(spark, sf_dir, "hybrid_rrf")
    # 3 windows x (partial + final) WindowGroupLimit, twice in the
    # formatted output (tree + details list)
    assert len(re.findall(r"WindowGroupLimit", plan)) >= 6
    assert "CartesianProduct" not in plan
    # every cross join must build its bounded side as the broadcast
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "BroadcastNestedLoopJoin Cross BuildLeft" not in plan


def test_rfm_windows_share_one_shuffle(spark, sf_dir):
    """The three NTILE windows all partition by c_nationkey, so they
    must reuse ONE hash exchange (three sorts, one shuffle) — a plan
    that re-exchanges per window triples the shuffle volume for no
    semantic gain. Orders must pre-aggregate (partial+final) before
    the customer join."""
    plan = _formatted_plan(spark, sf_dir, "rfm_segments")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) >= 3
    nation_exchanges = re.findall(r"hashpartitioning\(c_nationkey", plan)
    assert len(nation_exchanges) == 1, "windows must share one shuffle"
    assert "CartesianProduct" not in plan


def test_kmeans_elbow_one_scored_frame(spark, sf_dir):
    """All four K-curves must derive from ONE broadcast cross-join of
    the 16-row centroid set (a plan that re-scans per K would show 4
    joins) and collapse in a single partial+final keyed aggregation."""
    plan = _formatted_plan(spark, sf_dir, "kmeans_elbow")
    assert len(re.findall(r"BroadcastNestedLoopJoin Cross BuildRight", plan)) == 1
    assert "CartesianProduct" not in plan


def _plan_of(catalog_dfs, name: str) -> str:
    """Formatted plan of a FRESH build of the entry. The shared
    catalog_dfs frames may already have EXECUTED (the parity tier
    materializes them concurrently — r10 ask #7), and an executed
    frame explains its AQE-FINALIZED plan, whose exchange/reuse shape
    differs from the structural plan these tests pin (round-11: the
    zonemap exchange-count pin flaked exactly this way)."""
    from lenses_topology_example_spark.catalog import _CATALOG

    from .conftest import SF_DIR

    df = _CATALOG[name][0](catalog_dfs[name].sparkSession, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pareto_frontier_window_is_partitioned(catalog_dfs):
    """The skyline's running-min window must partition by p_type (no
    global sort) and sit above the per-price grouped frame — the
    O(n log n) shape that replaces the dominance self-join."""
    plan = _plan_of(catalog_dfs, "pareto_frontier")
    assert "Window" in plan, plan
    m = re.search(r"Arguments: .*partitionspec=\[p_type", plan) or re.search(
        r"\[p_type\S* ASC NULLS FIRST, p_retailprice", plan
    ) or re.search(r"partition.*p_type", plan, re.I)
    assert m, plan


def test_survival_curve_window_above_aggregate(catalog_dfs):
    """The at-risk cumulative window is the documented tiny-frame class:
    it must sit ABOVE the per-duration aggregate (|distinct durations|
    rows), never over raw orders — pinned like order_backlog."""
    plan = _plan_of(catalog_dfs, "survival_curve")
    # the per-customer rank window partitions by custkey; only the
    # bounded at-risk window is unpartitioned, and the plan must show
    # HashAggregate feeding it (the per-time collapse)
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan
    assert "Window" in plan, plan


def test_zonemap_audit_single_agg_no_join(catalog_dfs):
    """zonemap_prune_audit is ONE map-side-combinable aggregate: no
    joins, no windows, exactly one exchange (the zone-map build)."""
    plan = _plan_of(catalog_dfs, "zonemap_prune_audit")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # the agg exchange + the output-order range exchange, nothing else
    assert len(_exchange_ids(plan)) == 2, plan
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan  # partial+final


def test_bloom_join_audit_broadcasts_fixed_bitmap(catalog_dfs):
    """The probe side must see the bitmap as a 1-row BROADCAST (the
    fixed-8KB ship) and the lineitem scan must read ONLY l_orderkey."""
    plan = _plan_of(catalog_dfs, "bloom_join_audit")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    m = re.search(r"ReadSchema: struct<l_orderkey:bigint>", plan)
    assert m, plan


# --- round-11 entry plan pins -------------------------------------------------


def test_label_noise_knn_windowgrouplimit_no_shuffle_topk(catalog_dfs):
    """The audit slice broadcasts and every per-query ranking is a
    WindowGroupLimit partial top-k — no corpus-scale sort."""
    plan = _plan_of(catalog_dfs, "label_noise_knn")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mrl_truncation_audit_broadcast_hits_and_grouplimit(catalog_dfs):
    """All truncation dims rank via WindowGroupLimit from ONE pair
    pass; the truth-set hit join broadcasts the bounded |Q|·k frame
    (no SMJ shuffle for a 25-row build side)."""
    plan = _plan_of(catalog_dfs, "mrl_truncation_audit")
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sampling_and_tail_use_take_ordered(catalog_dfs):
    """Global top-K selections (A-Res sample, Hill top-K) must be
    TakeOrderedAndProject — per-partition partial top-K, never a
    global sort."""
    for name in ("weighted_sample_ares", "hill_tail_index"):
        plan = _plan_of(catalog_dfs, name)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_temporal_split_windows_partition_by_type(catalog_dfs):
    """The rank/count windows must partition by event_type — the
    per-type exact-percentile class, never a global single-partition
    sort of the corpus."""
    import re as _re

    plan = _plan_of(catalog_dfs, "temporal_split")
    assert "Window" in plan, plan
    # no unpartitioned window over the raw events scan: every window
    # spec in this plan opens with the event_type partition key
    specs = _re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs, plan
    assert all(s == "event_type" for s in specs), plan


def test_oov_rate_vocab_cut_is_takeordered_broadcast(catalog_dfs):
    """The 2000-word vocab cut must be TakeOrderedAndProject (partial
    per-partition top-K) and membership a broadcast join — never an
    SMJ shuffle of the token stream against the vocab."""
    plan = _plan_of(catalog_dfs, "oov_rate")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Arguments: 2000," in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_permutation_test_partial_combines_before_exchange(catalog_dfs):
    """The B-seed conditional sums must partial-aggregate map-side
    (the exchange carries O(B x partitions) rows, not the exploded
    event stream) and the observed row must broadcast."""
    plan = _plan_of(catalog_dfs, "permutation_test")
    assert "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_spearman_windows_partition_by_source(catalog_dfs):
    """Every rank/tie window must partition by source — per-source
    ranking, never one global sort of the corpus."""
    import re as _re

    plan = _plan_of(catalog_dfs, "spearman_corr")
    specs = _re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs, plan
    assert all(s == "source" for s in specs), plan


def test_fdr_bh_joins_broadcast_no_cartesian(catalog_dfs):
    """The scored->stepped re-join operates on |event_type|-bounded
    frames and must broadcast; the per-segment sums partial-combine
    map-side."""
    plan = _plan_of(catalog_dfs, "fdr_bh")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_jl_projection_audit_broadcasts_pairs(catalog_dfs):
    """The id-bounded audit pair join must broadcast — never an SMJ
    shuffle of the embedding corpus for a <=512-row audit set."""
    plan = _plan_of(catalog_dfs, "jl_projection_audit")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_heaps_law_fit_bounded_joins(catalog_dfs):
    """Grid-cell frames join by broadcast; the corpus never SMJ-shuffles
    against the G-row grid; the word first-occurrence agg partial-
    combines map-side."""
    plan = _plan_of(catalog_dfs, "heaps_law_fit")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan


def test_head_vocab_cuts_are_take_ordered(catalog_dfs):
    """Every head-vocabulary cut (burstiness top-50, coverage top-4096)
    must be TakeOrderedAndProject — never a global vocab sort."""
    for name in ("term_burstiness", "token_coverage_curve"):
        plan = _plan_of(catalog_dfs, name)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_brier_decomposition_single_scan_bounded(catalog_dfs):
    """One map-side-combinable 10-bin aggregate; the totals row rides a
    broadcast, never a shuffle of the bin frame."""
    plan = _plan_of(catalog_dfs, "brier_decomposition")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_group_sequential_windows_above_day_cells(catalog_dfs):
    """The cumulative windows must sit ABOVE the |days|-bounded cell
    aggregate (partial+final HashAggregate pair), never over the raw
    event stream."""
    import re as _re

    plan = _plan_of(catalog_dfs, "group_sequential")
    assert "Window" in plan, plan
    assert len(_re.findall(r"HashAggregate", plan)) >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_power_mde_single_cell_aggregate(catalog_dfs):
    """One conditional |event_type|-cell aggregate with map-side
    partials; no joins at all."""
    plan = _plan_of(catalog_dfs, "power_mde")
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan


def test_fisher_separability_partial_combines_explode(catalog_dfs):
    """The (label, dim) cells must partial-combine map-side below the
    exchange (the posexplode never shuffles raw components) and the
    per-dim windows run above the bounded cell frame."""
    plan = _plan_of(catalog_dfs, "fisher_separability")
    assert "Generate" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_neyman_allocation_bounded_windows(catalog_dfs):
    """One |sources|-cell aggregate; shares/allocations are windows
    above it; no joins."""
    plan = _plan_of(catalog_dfs, "neyman_allocation")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_entropy_and_gt_vocab_bounded(catalog_dfs):
    """Both info-theory reports partial-combine token/bigram counts
    map-side; the scalar totals ride 1-row broadcasts (BNLJ), never a
    shuffle of the vocab frame."""
    for name in ("entropy_rate", "good_turing_mass"):
        plan = _plan_of(catalog_dfs, name)
        assert "partial_count" in plan, (name, plan)
        assert (
            "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        ), (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_rank_tests_partition_by_event_type(catalog_dfs):
    """mann_whitney / median_ci rank windows must partition by
    event_type — per-type exact ranking, never one global sort."""
    import re as _re

    for name in ("mann_whitney", "median_ci"):
        plan = _plan_of(catalog_dfs, name)
        specs = _re.findall(r"windowspecdefinition\((\w+)#", plan)
        assert specs, (name, plan)
        assert all(s == "event_type" for s in specs), (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_acf_monthly_bounded_lag_join(catalog_dfs):
    """The lag join runs on the calendar-bounded month frame via
    broadcast — never an SMJ; the cumulative Ljung-Box window sits
    above the 12-row lag frame."""
    plan = _plan_of(catalog_dfs, "acf_monthly")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" in plan, plan


def test_effect_size_single_cell_aggregate(catalog_dfs):
    plan = _plan_of(catalog_dfs, "effect_size_report")
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan


def test_runs_and_sign_tests_bounded_frames(catalog_dfs):
    """Both nonparametric tests collapse map-side to calendar-bounded
    cells; every window runs above that frame; no SMJ/cartesian."""
    for name in ("runs_test", "sign_test"):
        plan = _plan_of(catalog_dfs, name)
        assert "partial_sum" in plan or "partial_count" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_kappa_and_cramers_bounded(catalog_dfs):
    """Both association summaries collapse map-side to bounded cell
    frames; the scalar joins broadcast; no corpus-scale SMJ appears
    beyond cramers_v's orders-customer equi join."""
    plan = _plan_of(catalog_dfs, "kappa_agreement")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan = _plan_of(catalog_dfs, "cramers_v")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_seasonal_strength_rides_decomposition_plan(catalog_dfs):
    """A 1-row aggregate above the decomposition's bounded month frame
    — no new joins, no cartesian."""
    plan = _plan_of(catalog_dfs, "seasonal_strength")
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_fit_round_is_broadcast_and_group_limited(spark, sf_dir):
    """The fixpoint loop's per-round plan must keep the q_kmeans_refine
    scale shapes: the K-row centroid frame broadcasts into the
    assignment pass (never a shuffled join against the corpus) and the
    per-vector top-1 window carries WindowGroupLimit so only one row
    per vector reaches the exchange. Pin ONE composed round — the loop
    repeats the same plan."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from lenses_topology_example_spark.operators.embed_stats import (
        kmeans_fit,
    )

    labels, n_iters, _ = kmeans_fit(spark, sf_dir, max_iters=1)
    assert n_iters == 1
    # localCheckpoint truncates the returned frame's lineage, so pin
    # the round plan on an identically-composed assignment pass
    from lenses_topology_example_spark.operators.embed_stats import (
        KMEANS_K,
    )
    from lenses_topology_example_spark.tables import load_table
    from lenses_topology_example_spark.operators.similarity import (
        as_double,
        cosine_prenorm,
        dot,
    )
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    emb = emb.withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    one_round = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            cosine_prenorm(
                F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.lit(1))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_round.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
