#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Driver heap: $SPARK_GRAFT_DRIVER_MEM (default: half of MemAvailable,
capped at 32g at sf<=0.5 and 64g above — see session.default_heap()).

Output contract (round-8 revision — BENCH_r07 came back unparseable
because the 103-query map on the final line overflowed the driver's
tail-capture buffer):
  * an EARLY line `{"metric": "suite_seconds_full_map", ...}` with the
    complete per-query map, also persisted to ./bench_full_latest.json;
  * the LAST line is compact and always fits:
    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {<top-10 slowest>: sec}, "n_queries": K,
     "tier": "full"|"core", "full_map": "bench_full_latest.json",
     "sf": 0.1}

`--headline-core` runs only HEADLINE_CORE (the long-lived comparable
set) for fast iteration; the round's final BENCH runs the full tier.

Each query is forced through the noop sink (full plan execution, zero
result-materialization overhead on the driver) — the number measures the
engine, not toPandas().

Memo builds (memo.py) are timed as their own `memo:<key>` rows, not
inside the entry that first needs them (see timed_loop()).

Expected log noise: Spark prints `WindowExec: No Partition Defined ...
may cause serious performance degradation` for every unpartitioned
window. The surviving ones are DELIBERATE and tiny — they run over
ALREADY-AGGREGATED frames, never the raw corpus: lm_score's global token
total (|V| rows, text.py q_lm_score) and corpus_mix's global-share
denominator (#sources x #langs rows, text.py q_corpus_mix); both shapes
are pinned window-above-aggregate by tests/test_plans.py. Round-7 adds
more of the same deliberate tiny-frame class: zipf_fit's rank over the
200-row head, top_supplier's max over the |suppliers| aggregate,
join_skew_stats' cumulative count over the |distinct df| histogram,
order_backlog's running sum over the |days| frame, and
source_concentration's rank over |sources| rows. Round-13 adds
theta_join_parts' TWO cumulative-sum windows over the ~120k-cell
SF-INVARIANT part-price cent grid (the CDF rewrite that replaced the
measured-quadratic BNL join — bounded by the price RANGE, not the row
count). Do not
re-investigate these warnings; a NEW one appearing here means a
corpus-scale window crept in (cms_token_freq's top-N was exactly that
bug in round 4 — now TakeOrderedAndProject, plan-pinned window-free).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lenses_topology_example_spark import catalog, memo
from lenses_topology_example_spark.session import (
    DEFAULT_SF_DIR,
    cpu_count,
    default_heap,
    get_spark,
)

# Headline set: every tier represented — flagship pipeline, heavy aggs +
# joins, windows, dedup (exact/minhash/jaccard), similarity (exact + LSH),
# text analysis, multimodal decode plumbing.
HEADLINE = (
    "payments_pipeline",
    "wordcount",
    "agg_revenue",
    "join_orders_customer",
    "region_revenue",
    "topk_spenders",
    "rank_top_payments",
    "window_running",
    "tumbling_count",
    "session_count",
    "asof_rate",
    "dedup_exact",
    "dedup_minhash",
    "dedup_near_capped",
    # dedup_near_capped (df-capped candidate generation) and minhash are
    # the production near-dup paths — the only forms whose join fan-out
    # is bounded on a Zipf-headed corpus (see SCALING.md). The uncapped
    # dedup_near_jaccard stays in the catalog as the oracle-exactness
    # twin (driver-checked) but is not a headline: its sum(df^2) cost is
    # quadratic in the hot-shingle head at real scale, even though at
    # sf0.1 it happens to run ~0.4 s faster (no Zipf head in testdata).
    "sim_topk",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "embed_neardup",
    "text_stats",
    "curation_pipeline",
    "doc_fingerprint",
    "image_features",
    "gen_payments",
    # round-3 additions (suite total grows accordingly — comparability
    # note in BASELINE.md): the zero-shuffle repetition signals and the
    # broadcast eval-membership pass
    "repetition_stats",
    "decontaminate",
    # round-4 additions: sub-document dedup, SemDeDup keeper selection,
    # and the zero-shuffle PII screen (baseline re-anchored this round —
    # BASELINE.md carries the n=5 median table for the full set)
    "dedup_lines",
    "embed_dedup_cluster",
    "pii_scrub",
    "lm_score",
    "token_entropy",
    # round-5 additions (suite total grows ~8-11 s — BASELINE.md round-5
    # note): segment-grain near-dup is the heaviest new entry (~7-10 s
    # in-suite, COLD per fresh-JVM run: seg-table cache + AQE/codegen of
    # the suite's largest plan; warm steady-state ~1.7 s). The synthetic
    # corpus has a 31-word vocabulary, so ~645k segment pairs genuinely
    # clear the 0.65 Jaccard bar — output volume, not plan shape
    # (delete-one blocking, verify-inside-join; SCALING.md round-5)
    "dedup_lines_near",
    "dedup_lines_rebuild",
    # round-6 additions (suite total grows ~3-5 s — BASELINE.md round-6
    # note): the capped segment near-dup shares dedup_lines_near's
    # memoized seg/canon tables (marginal cost is the df-cap agg + its
    # own band join); incremental dedup reuses the minhash signature
    # memo; the two governance aggregates are single-scan.
    "dedup_lines_near_capped",
    "dedup_incremental",
    "shard_plan",
    "corpus_rebalance",
    # round-7 additions (r6 verdict ask #5 — first perf anchors for the
    # four round-6 ops that had none): fixed-bitmap Bloom screen,
    # reverse decontamination report, packing histogram, and PMI
    # collocation ranking (two vocab-bounded aggs + unigram joins).
    "decontaminate_bloom",
    "eval_leak_report",
    "length_histogram",
    "pmi_collocations",
    # round-7 additions: rule battery + hashed classifier (zero-shuffle
    # single scans), deterministic split accounting, cross-doc n-gram
    # span report, and the two corpus embedding statistics.
    "gopher_rules",
    "quality_classifier",
    "dataset_split",
    "dedup_ngram_spans",
    "corpus_diversity",
    "kmeans_assign",
    "ann_recall",
    "embed_quantize",
    # round-7 events-tier analytics
    "funnel_conversion",
    "cohort_retention",
    # round-7: Lloyd iteration + score-weighted sampling + combined
    # gate + IVF recall audit
    "kmeans_refine",
    "score_weighted_sample",
    "quality_gate",
    "ann_recall_ivf",
    "corpus_drift",
    # late round-7 additions: boilerplate screen + winnowing fingerprints
    # (both ride the memoized segment/span-hash tables), zero-shuffle
    # chunking, single-explode novelty monitor, BM25 top-k, and the
    # cluster purity report (kmeans_assign's plan + K x |labels| windows)
    "boilerplate_lines",
    "winnow_fingerprint",
    "doc_chunk",
    "ngram_novelty",
    "bm25_search",
    "cluster_purity",
    # second wave: LSH layout calibration (banded joins + the exact
    # truth pass), exact-K per-group sampling, fertility report
    "minhash_band_sweep",
    "reservoir_sample",
    "tokenizer_stats",
    # third wave: source governance views over shared dedup machinery
    "cross_source_leak",
    "dup_cluster_sizes",
    # fourth wave: lang-ID confusion audit + centroid-outlier report
    # (embed_outliers adds a deliberate unpartitioned WindowExec WARN —
    # the rank window runs over the ALREADY-LIMITED 20-row frame, the
    # same window-above-aggregate class as lm_score/corpus_mix)
    "lang_confusion",
    "embed_outliers",
    # fifth wave: events-tier anomaly screen + winnow pair detection
    "event_rate_anomaly",
    "winnow_neardup",
    # sixth wave: PageRank over the leak graph (3 unrolled iterations
    # over the |sources|-bounded edge table) + exact length percentiles
    "source_pagerank",
    "length_percentiles",
    # seventh wave: estimator bias audit (band join + exact-Jaccard side)
    "minhash_est_audit",
    # eighth wave: the classic multi-join / correlated-subquery TPC-H
    # shapes (Q4/Q7/Q8/Q9/Q13/Q15/Q2 flavors) — fact-fact shuffle joins
    # under AQE with broadcast dims; expected ~0.3-1.5 s each at sf0.1
    "order_priority_count",
    "volume_shipping",
    "market_share",
    "product_profit",
    "customer_distribution",
    "top_supplier",
    "min_cost_supplier",
    # ninth wave: spectral + frequency-structure analysis — two
    # power-iteration matvecs (4 keyed aggs over the exploded frame)
    # and the |vocab|-bounded Zipf OLS
    "embed_pca_power",
    "zipf_fit",
    # quality-aware keeper: rides the memoized near-dup pair/cluster
    # machinery + one quality scan
    "dedup_keeper_quality",
    # tenth wave: governance — fused conditional-sum audits + the SCD2
    # dimension merge (one dim scan, broadcast update batch)
    "constraint_audit",
    "scd2_apply",
    "agg_delta_merge",
    "k_anonymity",
    # twelfth wave: the measurements behind two scale levers — key-skew
    # stats (plain vs AQE vs salted join) and cross-split near-dup
    # contamination (rides the memoized pair table)
    "join_skew_stats",
    "split_leak_check",
    "dataset_split_by_cluster",
    "embed_threshold_sweep",
    "asset_dedup",
    "markov_transitions",
    "top_paths",
    "erasure_plan",
    "order_backlog",
    "source_concentration",
    "dedup_savings",
    "embed_dedup_incremental",
    "seasonality_profile",
    "token_budget_plan",
    "interval_merge",
    "source_vocab_overlap",
    # round-8 wave: contrastive hard-negative mining (sim_topk's
    # WindowGroupLimit join-form with the label-mismatch predicate in
    # the join), two more TPC-H shapes (Q17/Q22 flavors — Q10/Q18 were
    # already covered by returned_items/big_orders), and the per-user
    # inter-arrival profile (user-partitioned lag window)
    "hard_negative_mining",
    "small_qty_revenue",
    "sales_opportunity",
    "interarrival_stats",
    # round-8: REAL stdlib container codecs (BMP writer/parser pair +
    # wave-written WAV parsed by an independent RIFF chunk walker) and
    # the temperature-sampling mixture plan (|sources|-row frame)
    "asset_codec_meta",
    "temperature_mix",
    # round-9 wave: the remaining TPC-H archetypes (Q3/Q6/Q11/Q16/Q19/
    # Q20/Q21) and the compressed-container codec tier (full PNG decode
    # in pure stdlib — CRC walk + inflate + unfilter per document)
    "shipping_priority",
    "forecast_revenue",
    "important_parts",
    "parts_supplier_rel",
    "discounted_revenue",
    "promo_suppliers",
    "waiting_suppliers",
    "asset_png_meta",
    # round-9 second wave: embedding-space drift (its unpartitioned
    # window is over the K-row assignment histogram — the documented
    # tiny-frame class) and the decode-validate asset screen
    "embed_drift",
    "asset_quality_screen",
    # round-9 third wave: hybrid retrieval fusion, the privacy release
    # pair, CRM quartile segmentation, and the K-selection elbow (its
    # lag window is over the 4-row K frame — the tiny-frame class)
    "hybrid_rrf",
    "l_diversity",
    "private_release",
    "rfm_segments",
    "kmeans_elbow",
    # round-9 fourth wave: IVF calibration, BPE trainer statistic,
    # attribution, and sketch join-size estimation
    "ivf_probe_sweep",
    "bpe_merge_candidates",
    "attribution_revenue",
    "cms_join_cardinality",
    # round-9 fifth wave: cohort LTV, A/B readout, CUSUM, bootstrap
    "ltv_curve",
    "ab_test_report",
    "cusum_changepoint",
    "bootstrap_stderr",
    # round-9 sixth wave: distinctive terms, basket lift, ranker eval,
    # self-auditing histogram quantiles
    "topic_keywords",
    "basket_lift",
    "retrieval_eval",
    "histogram_quantiles",
    # round-9 seventh wave: diversified retrieval + column profiler
    "mmr_rerank",
    "table_profile",
    # round-9 eighth wave: weighted lexical near-dup + trend forecast
    "dedup_tfidf_cosine",
    "holt_forecast",
    # round-9 ninth wave: experimentation/monitoring quartet
    "cuped_ab_report",
    "quantile_treatment_effect",
    "drift_psi",
    "auc_report",
    # round-10 first wave: skyline, Benford, OLS trend, calibration,
    # blocked entity resolution
    "pareto_frontier",
    "benford_digits",
    "ols_trend",
    "calibration_bins",
    "er_part_names",
    # round-10 waves 2-5: encoders/screens, graph census, codec tier,
    # survival, sampling plan, control chart, contingency, zone maps.
    # survival_curve adds one DELIBERATE unpartitioned window of the
    # documented tiny-frame class (the at-risk cumulative sum over the
    # |distinct durations| aggregate — order_backlog's shape).
    "target_encode",
    "woe_iv",
    "mad_outliers",
    "copurchase_triangles",
    "asset_gif_meta",
    "survival_curve",
    "negative_sampling_plan",
    "ewma_anomaly",
    "chi2_independence",
    "zonemap_prune_audit",
    "winsorized_stats",
    "mutual_information",
    "bloom_join_audit",
    # round-10 wave 7. ks_drift and gains_curve each add DELIBERATE
    # unpartitioned windows of the documented tiny-frame class (their
    # cumulative sums run over <=1000-row score-grid aggregates);
    # survival_curve's is noted above.
    "ks_drift",
    "quantile_normalize",
    "gains_curve",
    # round-10 wave 8. seasonal_decompose's centered-MA and seasonal
    # windows run over the |months| aggregate (tiny-frame class).
    "seasonal_decompose",
    "decayed_revenue",
    "interp_quantiles",
    # round-11 waves 1-2: label-noise audit, clustering validity,
    # temporal holdout, conformal calibration, bandit readout.
    # conformal_threshold and bandit_ucb add DELIBERATE unpartitioned
    # windows of the documented tiny-frame class (the conformal CDF
    # runs over the <=1e6-bounded distinct-score aggregate; the UCB
    # total over the |arms|-row frame).
    "label_noise_knn",
    "silhouette_report",
    "temporal_split",
    "conformal_threshold",
    "bandit_ucb",
    # round-11 wave 3 (source_ablation/hill_tail_index add tiny-frame
    # unpartitioned windows over |sources|- and K-row aggregates)
    "source_ablation",
    "hill_tail_index",
    "forecast_backtest",
    # round-11 wave 4
    "mrl_truncation_audit",
    "weighted_sample_ares",
    # round-11 wave 5 (theil_sen's medians add two tiny-frame
    # unpartitioned windows over the |months| and |months|^2 frames)
    "theil_sen_trend",
    "group_rare_collapse",
    # round-11 wave 6 (permutation_test pays a fixed 64x map-side
    # compute inflation by design; oov_rate's distinct-OOV-type agg
    # shuffles at (source, word) distinct grain)
    "permutation_test",
    "spearman_corr",
    "kfold_assign",
    "oov_rate",
    # round-11 wave 7 (fdr_bh's two tiny-frame unpartitioned windows run
    # over the |event_type| cells; jl's 16 projection folds are per-row
    # map work on a 512-pair audit frame)
    "fdr_bh",
    "jl_projection_audit",
    # round-11 wave 8 (all three are vocab-bounded: word-grain partial
    # combines, TakeOrdered head cuts, G-row grid windows)
    "heaps_law_fit",
    "term_burstiness",
    "token_coverage_curve",
    # round-11 wave 9 (brier rides the calibration probe's single scan;
    # group_sequential's cumulative windows run over the |days| frame)
    "brier_decomposition",
    "group_sequential",
    # round-11 wave 10 (power_mde is a pure cell aggregate; fisher's
    # posexplode partial-combines to |labels| x |dims| cells)
    "power_mde",
    "fisher_separability",
    # round-11 wave 11 (entropy_rate's bigram leg is slice+zip, not a
    # per-position lambda — 10x measured; all three vocab-bounded)
    "neyman_allocation",
    "entropy_rate",
    "good_turing_mass",
    # round-11 wave 12 (both rank windows partition by event_type)
    "mann_whitney",
    "median_ci",
    # round-11 wave 13 (effect sizes are a pure cell aggregate; ACF's
    # lag join runs on the calendar-bounded month frame)
    "effect_size_report",
    "acf_monthly",
    # round-11 wave 14 (both run on calendar-bounded frames)
    "runs_test",
    "sign_test",
    # round-11 wave 15 (association summaries over bounded cell frames)
    "kappa_agreement",
    "cramers_v",
    # round-11 wave 16 (a 1-row aggregate over the decomposition frame)
    "seasonal_strength",
    # round-12 full-catalog coverage (r11 VERDICT ask #4): the 82
    # entries that were correctness-covered every round but never
    # timed — mostly trivial scan/cast/scalar/set-op shapes, but a
    # plan regression in any of them was invisible to the bench gate.
    # From here on HEADLINE == the whole catalog (pinned by
    # tests/test_bench_contract.py::test_headline_covers_catalog);
    # every entry carries an anchor, so bench_compare adjudicates all.
    "anti_join_customers",
    "approx_distinct_users",
    "approx_quantiles",
    "array_fns",
    "audio_features",
    "big_orders",
    "bigram_counts",
    "bigram_lm_score",
    "bpe_token_count",
    "cms_token_freq",
    "column_stats",
    "corpus_mix",
    "corpus_report",
    "corr_text_embedding",
    "count_by_currency",
    "cube_sales",
    "curation_funnel",
    "date_fns2",
    "dedup_cluster",
    "dedup_containment",
    "dedup_near_jaccard",
    "dedup_simhash",
    "deterministic_sample",
    "distinct_users",
    "except_users",
    "explode_variants",
    "filter_suspicious",
    "filtered_agg",
    "frame_sample",
    "funnel_sweep",
    "fx_convert",
    "fx_join",
    "grouped_map_norm",
    "grouping_sets",
    "image_resize",
    "intersect_users",
    "json_decode",
    "json_encode",
    "knn_classify",
    "lang_id",
    "late_shipments",
    "lateral_topn",
    "map_fns",
    "moving_avg",
    "multimodal_meta",
    "null_fns",
    "outer_join_nulls",
    "pattern_counts",
    "percentiles",
    "pivot_status",
    "project_cast",
    "promo_revenue",
    "quality_score",
    "range_join_buckets",
    "returned_items",
    "rollup_sales",
    "salted_join_events",
    "scalar_fns",
    "scalar_subquery",
    "scan_events",
    "scan_lines",
    "semi_join_customers",
    "semi_join_suspicious",
    "seq_packing",
    "sessionize_lag",
    "sink_parquet",
    "sliding_count",
    "sql_top_customers",
    "stratified_sample",
    "string_fns2",
    "text_normalize",
    "tfidf",
    "theta_join_parts",
    "token_count",
    "tokenize_explode",
    "topk_words",
    "udaf_median",
    "union_payment_streams",
    "unpivot_part",
    "window_fns2",
    "window_range_interval",
    "word_variants",
)


# Two-tier protocol (round-8, BASELINE.md "bench tiers"): the full
# headline (len(HEADLINE) queries — the WHOLE catalog since round 12)
# takes ~230-240 s quiet at 287 entries;
# `--headline-core` runs the long-lived comparable set (every entry
# present since round 7's early waves — flagship pipeline through
# pmi_collocations) for fast iteration. The round's final BENCH always
# runs the full tier.
_CORE_END = "pmi_collocations"
HEADLINE_CORE = HEADLINE[: HEADLINE.index(_CORE_END) + 1]


def _read_load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _steal_pct(interval: float = 1.0) -> float:
    """1-second hypervisor steal-time sample (r18): this sandbox is a
    VM whose 'stall phases' are CPU steal by neighbors (measured 3%+
    at an idle prompt, with multi-second per-task stalls mid-phase) —
    invisible to loadavg, so the load gate alone cannot certify a
    quiet sample. Recorded in the gate dict purely as adjudication
    evidence; it does not gate (steal can start mid-run anyway)."""

    def read() -> tuple[int, int]:
        try:
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
            return sum(vals), vals[7] if len(vals) > 7 else 0
        except (OSError, ValueError, IndexError):
            return 0, 0

    t0, s0 = read()
    time.sleep(interval)
    t1, s1 = read()
    dt = t1 - t0
    return round(100.0 * (s1 - s0) / dt, 2) if dt > 0 else -1.0


def _load_gate() -> dict:
    """Quiet-sample-by-construction (r12 VERDICT ask #5): the committed
    bench record was repeatedly a noisy sample (BENCH_r12 293 s vs the
    same-day quiet 231.6 s — start-of-run host contention), burning an
    adjudication cycle every round. Gate on /proc/loadavg before
    starting the JVM: spin-wait (10 s steps) until the 1-min load drops
    under the threshold or the wait budget runs out, and record what
    happened in the output JSON so the sample's quietness is part of
    the record. Tunables: SPARK_GRAFT_LOAD_GATE (threshold, default
    cores / 8 — 4.0 on a 32-core host, and below the core count on
    any host), _LOAD_WAIT_SEC (budget, default 600), _LOAD_GATE=0
    disables."""
    thr = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", cpu_count() / 8))
    budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "600"))
    start = _read_load1()
    waited = 0.0
    if thr > 0 and start >= 0:
        while _read_load1() > thr and waited < budget:
            time.sleep(10)
            waited += 10
    final = _read_load1()
    gate = {
        "threshold": thr,
        "load_at_invoke": start,
        "load_at_start": final,
        "waited_sec": waited,
        "quiet": bool(thr <= 0 or (0 <= final <= thr)),
        "steal_pct_at_start": _steal_pct(),
    }
    print(json.dumps({"metric": "load_gate", **gate}), flush=True)
    return gate


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_loop(spark, qs, names, sf_dir) -> tuple[dict[str, float], float]:
    """Run each entry in ``names`` through the noop sink; return the
    per-row seconds and the loop's wall time.

    A memo build triggered while an entry is constructed gets its own
    ``memo:<key>`` row, placed before the entry's row: its self time
    (memo.py) plus the noop write that materializes a cached frame
    (loader frames hold no data, so they are not written). The entry's
    row is its wall time minus those rows, so every row carries only
    its own work and the rows sum to the loop's wall time."""
    rows: dict[str, float] = {}
    t_loop = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        with memo.recording() as builds:
            df = qs[name](spark, sf_dir)
        built = 0.0
        for key, frame, self_s in builds:
            t1 = time.perf_counter()
            if frame.is_cached:
                _noop(frame)
            rows[f"memo:{key}"] = self_s + time.perf_counter() - t1
            built += rows[f"memo:{key}"]
        _noop(df)
        rows[name] = time.perf_counter() - t0 - built
    wall = time.perf_counter() - t_loop
    return {k: round(v, 3) for k, v in rows.items()}, round(wall, 3)


def main() -> None:
    core = "--headline-core" in sys.argv[1:]
    names = HEADLINE_CORE if core else HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    gate = _load_gate()
    # Heap sized to the measured working set: an unsized 90g
    # max heap let G1 grow/shrink committed memory all run (74.5 CPU-s
    # of kernel time inside GC pauses, 169 humongous-triggered cycles).
    # session.py pins -Xms and pre-touches so commit/first-touch faults
    # land in untimed startup; default_heap() keeps that pin inside the
    # host's free memory. Override with SPARK_GRAFT_DRIVER_MEM.
    spark = get_spark(
        "bench",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_heap(sf_dir),
    )

    qs = catalog.queries()

    # Steady-state warmup (JMH-style): run the full headline once at the
    # smallest SF so every expression/codegen/shuffle path is JIT'd, then
    # time at the target SF. Cold-JVM first-touch costs (~1.5 s/query
    # measured) are session amortization, not operator throughput. The
    # warmup's memo entries are released after it: the timed loop builds
    # (and times) its own at the target SF.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = sf_dir.replace("sf0.1", "sf0.001")
    if warm_dir != sf_dir and os.path.isdir(warm_dir):
        for name in names:
            _noop(qs[name](spark, warm_dir))
        memo.drop(spark, warm_dir)

    timings, total = timed_loop(spark, qs, names, sf_dir)

    # Full per-query map: emitted EARLY (not last) and persisted next to
    # this script — BENCH_r07 came back `"parsed": null` because the
    # 103-entry map on the final line overflowed the driver's
    # tail-capture buffer, so the tail started mid-line (r7 verdict
    # ask #2). The LAST line below is bounded (top-10 slowest only) and
    # always fits.
    tier = "core" if core else "full"
    gate["steal_pct_at_end"] = _steal_pct()
    full = {
        "metric": "suite_seconds_full_map",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(names),
        "tier": tier,
        "sf": sf,
        "load_gate": gate,
    }
    print(json.dumps(full))
    cpus = cpu_count()
    try:
        # core runs persist to their OWN file: a --headline-core
        # iteration must never clobber the committed full-suite
        # adjudication artifact bench_full_latest.json. Additionally
        # (r17 VERDICT ask #2) every run persists a per-core-count copy
        # (bench_{tier}_c{cpus}.json) so the driver's low-core scaling
        # run cannot clobber the 32-core adjudication map.
        here = os.path.dirname(os.path.abspath(__file__))
        for fname in (
            f"bench_{tier}_latest.json",
            f"bench_{tier}_c{cpus}.json",
        ):
            with open(os.path.join(here, fname), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout copy above still has it

    top10 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in top10.items()},
                "n_queries": len(names),
                "tier": tier,
                "full_map": f"bench_{tier}_c{cpus}.json",
                "sf": sf,
                "load_gate": gate,
            }
        )
    )


if __name__ == "__main__":
    main()
