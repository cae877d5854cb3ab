"""The query catalog: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) its
DuckDB oracle twin. __spark_entry__.py re-exports these to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .conf import ensure_runtime_confs
from .operators import (
    analytics,
    dedup,
    embed_stats,
    governance,
    multimodal,
    payments,
    quality,
    relational,
    relational2,
    relational3,
    retrieval,
    similarity,
    sinks,
    sketches,
    skew,
    text,
    windows,
    wordcount,
)
from .sources import generator

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query fn, oracle SQL | None for rows-only checks)
#
# BUILD-TIME CONTRACT (no-session-mutation rule, r12 ADVICE): a catalog
# builder must be thread-safe at CONSTRUCTION time — tests build all
# entries on an 8-thread pool against one shared SparkSession
# (tests/conftest.py::catalog_dfs). Concretely: no spark.conf.set, no
# setLocalProperty, no unguarded eager materialization inside a
# (spark, sf_dir) -> DataFrame callable. Entries that MUST materialize
# at build time do so inside a memo.cached thunk (built once per key,
# under the key's lock) or are excluded by documented exception
# (sink_parquet). Session confs the semantics rely on go through
# conf.ensure_runtime_confs (idempotent set-if-different at the
# CONTRACT entry points, not per builder); the conftest fixture
# snapshots the critical confs around the threaded build and fails the
# run if a builder left them changed.
#
# Registration order below is historical: the DRIVER_WINDOW tuple after
# the literal decides the first 50 entries (see there).
_CATALOG: dict[str, tuple[QueryFn, str | None]] = {
    # dedup tier: never-driven round-6/7 additions (first drive) + the
    # once/twice-verified segment-grain entries due re-checks
    "dedup_containment": (
        dedup.q_dedup_containment,
        dedup.SQL_DEDUP_CONTAINMENT,
    ),
    "dedup_lines_near": (dedup.q_dedup_lines_near, dedup.SQL_DEDUP_LINES_NEAR),
    "dedup_lines_rebuild": (
        dedup.q_dedup_lines_rebuild,
        dedup.SQL_DEDUP_LINES_REBUILD,
    ),
    "dedup_lines_near_capped": (
        dedup.q_dedup_lines_near_capped,
        dedup.SQL_DEDUP_LINES_NEAR_CAPPED,
    ),
    "dedup_incremental": (
        dedup.q_dedup_incremental,
        dedup.SQL_DEDUP_INCREMENTAL,
    ),
    "decontaminate_bloom": (
        dedup.q_decontaminate_bloom,
        dedup.SQL_DECONTAMINATE_BLOOM,
    ),
    "eval_leak_report": (
        dedup.q_eval_leak_report,
        dedup.SQL_EVAL_LEAK_REPORT,
    ),
    "dedup_ngram_spans": (
        dedup.q_dedup_ngram_spans,
        dedup.SQL_DEDUP_NGRAM_SPANS,
    ),
    # similarity + embedding stats: round-7 additions, first drive
    "embed_dedup_cluster": (
        similarity.q_embed_dedup_cluster,
        similarity.SQL_EMBED_DEDUP_CLUSTER,
    ),
    "ann_recall": (similarity.q_ann_recall, similarity.SQL_ANN_RECALL),
    "ann_recall_ivf": (
        similarity.q_ann_recall_ivf,
        similarity.SQL_ANN_RECALL_IVF,
    ),
    "corpus_diversity": (
        embed_stats.q_corpus_diversity,
        embed_stats.SQL_CORPUS_DIVERSITY,
    ),
    "kmeans_assign": (embed_stats.q_kmeans_assign, embed_stats.SQL_KMEANS_ASSIGN),
    "kmeans_refine": (embed_stats.q_kmeans_refine, embed_stats.SQL_KMEANS_REFINE),
    "embed_quantize": (
        embed_stats.q_embed_quantize,
        embed_stats.SQL_EMBED_QUANTIZE,
    ),
    # text tier: once-verified r6 greens due 2nd verdicts + the four
    # never-driven round-6 additions + the round-7 drift monitor
    "repetition_stats": (text.q_repetition_stats, text.SQL_REPETITION_STATS),
    "corpus_mix": (text.q_corpus_mix, text.SQL_CORPUS_MIX),
    "curation_funnel": (text.q_curation_funnel, text.SQL_CURATION_FUNNEL),
    "funnel_sweep": (text.q_funnel_sweep, text.SQL_FUNNEL_SWEEP),
    "pii_scrub": (text.q_pii_scrub, text.SQL_PII_SCRUB),
    "lm_score": (text.q_lm_score, text.SQL_LM_SCORE),
    "token_entropy": (text.q_token_entropy, text.SQL_TOKEN_ENTROPY),
    "bigram_lm_score": (text.q_bigram_lm_score, text.SQL_BIGRAM_LM_SCORE),
    "corpus_report": (text.q_corpus_report, text.SQL_CORPUS_REPORT),
    "word_variants": (text.q_word_variants, text.SQL_WORD_VARIANTS),
    "quality_score": (text.q_quality_score, text.SQL_QUALITY_SCORE),
    "doc_fingerprint": (text.q_doc_fingerprint, text.SQL_DOC_FINGERPRINT),
    "lang_id": (text.q_lang_id, text.SQL_LANG_ID),
    "shard_plan": (text.q_shard_plan, text.SQL_SHARD_PLAN),
    "corpus_rebalance": (
        text.q_corpus_rebalance,
        text.SQL_CORPUS_REBALANCE,
    ),
    "length_histogram": (text.q_length_histogram, text.SQL_LENGTH_HISTOGRAM),
    "pmi_collocations": (
        text.q_pmi_collocations,
        text.SQL_PMI_COLLOCATIONS,
    ),
    "corpus_drift": (text.q_corpus_drift, text.SQL_CORPUS_DRIFT),
    # quality screens (round-7 additions, first drive)
    "gopher_rules": (quality.q_gopher_rules, quality.SQL_GOPHER_RULES),
    "quality_classifier": (
        quality.q_quality_classifier,
        quality.SQL_QUALITY_CLASSIFIER,
    ),
    "dataset_split": (quality.q_dataset_split, quality.SQL_DATASET_SPLIT),
    "score_weighted_sample": (
        quality.q_score_weighted_sample,
        quality.SQL_SCORE_WEIGHTED_SAMPLE,
    ),
    "quality_gate": (quality.q_quality_gate, quality.SQL_QUALITY_GATE),
    # events-tier analytics (round-7 additions, first drive)
    "funnel_conversion": (
        windows.q_funnel_conversion,
        windows.SQL_FUNNEL_CONVERSION,
    ),
    "cohort_retention": (
        windows.q_cohort_retention,
        windows.SQL_COHORT_RETENTION,
    ),
    # LATERAL surface, the salted-join HOLD (in-window until its first
    # green - r6 verdict ask #2), CMS re-check, sketches, pandas surface
    "lateral_topn": (relational2.q_lateral_topn, relational2.SQL_LATERAL_TOPN),
    "salted_join_events": (skew.q_salted_join_events, skew.SQL_SALTED_JOIN_EVENTS),
    "cms_token_freq": (sketches.q_cms_token_freq, sketches.SQL_CMS_TOKEN_FREQ),
    "approx_distinct_users": (
        sketches.q_approx_distinct_users,
        sketches.SQL_APPROX_DISTINCT_USERS,
    ),
    "approx_quantiles": (
        sketches.q_approx_quantiles,
        sketches.SQL_APPROX_QUANTILES,
    ),
    "deterministic_sample": (
        sketches.q_deterministic_sample,
        sketches.SQL_DETERMINISTIC_SAMPLE,
    ),
    "grouped_map_norm": (
        sketches.q_grouped_map_norm,
        sketches.SQL_GROUPED_MAP_NORM,
    ),
    "range_join_buckets": (
        relational2.q_range_join_buckets,
        relational2.SQL_RANGE_JOIN_BUCKETS,
    ),
    # flagship reference-parity anchors
    "payments_pipeline": (
        payments.q_payments_pipeline,
        payments.SQL_PAYMENTS_PIPELINE,
    ),
    "gen_payments": (generator.q_gen_payments, generator.SQL_GEN_PAYMENTS),
    # ============ end of the driver's 50-entry window ================
    # late round-7 additions (no driver verdict yet — first in line for
    # round-8 slots): C4 boilerplate screen, winnowing fingerprints,
    # context-window chunking, batch n-gram novelty, BM25 retrieval,
    # cluster composition/purity
    "boilerplate_lines": (
        dedup.q_boilerplate_lines,
        dedup.SQL_BOILERPLATE_LINES,
    ),
    "winnow_fingerprint": (
        dedup.q_winnow_fingerprint,
        dedup.SQL_WINNOW_FINGERPRINT,
    ),
    "doc_chunk": (text.q_doc_chunk, text.SQL_DOC_CHUNK),
    "ngram_novelty": (text.q_ngram_novelty, text.SQL_NGRAM_NOVELTY),
    # bound to the memo wrapper (r17 ADVICE): output is IDENTICAL to
    # q_bm25_search (the memo persists that exact frame), and the
    # binding makes bm25_search the fourth consumer its docstring
    # claims — a bench/verify run now reuses the ranking the retrieval
    # entries already built instead of re-scoring the corpus.
    "bm25_search": (text.bm25_topk_memo, text.SQL_BM25_SEARCH),
    "cluster_purity": (
        embed_stats.q_cluster_purity,
        embed_stats.SQL_CLUSTER_PURITY,
    ),
    # late round-7 additions, second wave: measured LSH calibration,
    # exact-K deterministic per-group sampling, tokenizer fertility
    "minhash_band_sweep": (
        dedup.q_minhash_band_sweep,
        dedup.SQL_MINHASH_BAND_SWEEP,
    ),
    "reservoir_sample": (
        sketches.q_reservoir_sample,
        sketches.SQL_RESERVOIR_SAMPLE,
    ),
    "tokenizer_stats": (text.q_tokenizer_stats, text.SQL_TOKENIZER_STATS),
    # late round-7, third wave: source-level governance views over the
    # shared containment/digest machinery
    "cross_source_leak": (
        dedup.q_cross_source_leak,
        dedup.SQL_CROSS_SOURCE_LEAK,
    ),
    "dup_cluster_sizes": (
        dedup.q_dup_cluster_sizes,
        dedup.SQL_DUP_CLUSTER_SIZES,
    ),
    # late round-7, fourth wave: classifier audit + embedding outliers
    "lang_confusion": (text.q_lang_confusion, text.SQL_LANG_CONFUSION),
    "embed_outliers": (
        embed_stats.q_embed_outliers,
        embed_stats.SQL_EMBED_OUTLIERS,
    ),
    # late round-7, fifth wave: event-rate anomaly screen + winnowing
    # pair detection
    "event_rate_anomaly": (
        windows.q_event_rate_anomaly,
        windows.SQL_EVENT_RATE_ANOMALY,
    ),
    "winnow_neardup": (dedup.q_winnow_neardup, dedup.SQL_WINNOW_NEARDUP),
    # late round-7, sixth wave: fixed-iteration graph authority ranking
    # + exact per-source length percentiles
    "source_pagerank": (
        dedup.q_source_pagerank,
        dedup.SQL_SOURCE_PAGERANK,
    ),
    "length_percentiles": (
        text.q_length_percentiles,
        text.SQL_LENGTH_PERCENTILES,
    ),
    # late round-7, seventh wave: the estimator-bias audit closing the
    # measured-layout toolkit (band sweep chooses the layout, this
    # audits the estimator the candidates are ranked by)
    "minhash_est_audit": (
        dedup.q_minhash_est_audit,
        dedup.SQL_MINHASH_EST_AUDIT,
    ),
    # late round-7, eighth wave: the classic multi-join / correlated-
    # subquery TPC-H shapes (Q4/Q7/Q8/Q9/Q13/Q15/Q2 flavors) completing
    # the relational tier's join-and-subquery surface
    "order_priority_count": (
        relational3.q_order_priority_count,
        relational3.SQL_ORDER_PRIORITY_COUNT,
    ),
    "volume_shipping": (
        relational3.q_volume_shipping,
        relational3.SQL_VOLUME_SHIPPING,
    ),
    "market_share": (relational3.q_market_share, relational3.SQL_MARKET_SHARE),
    "product_profit": (
        relational3.q_product_profit,
        relational3.SQL_PRODUCT_PROFIT,
    ),
    "customer_distribution": (
        relational3.q_customer_distribution,
        relational3.SQL_CUSTOMER_DISTRIBUTION,
    ),
    "top_supplier": (relational3.q_top_supplier, relational3.SQL_TOP_SUPPLIER),
    "min_cost_supplier": (
        relational3.q_min_cost_supplier,
        relational3.SQL_MIN_COST_SUPPLIER,
    ),
    # late round-7, ninth wave: spectral + frequency-structure corpus
    # analysis — distributed power-iteration PCA and the Zipf-law fit
    "embed_pca_power": (
        embed_stats.q_embed_pca_power,
        embed_stats.SQL_EMBED_PCA_POWER,
    ),
    "zipf_fit": (text.q_zipf_fit, text.SQL_ZIPF_FIT),
    "dedup_keeper_quality": (
        text.q_dedup_keeper_quality,
        text.SQL_DEDUP_KEEPER_QUALITY,
    ),
    # late round-7, tenth wave: warehouse governance — declarative
    # constraint audit + SCD2 dimension versioning
    "constraint_audit": (
        governance.q_constraint_audit,
        governance.SQL_CONSTRAINT_AUDIT,
    ),
    "scd2_apply": (governance.q_scd2_apply, governance.SQL_SCD2_APPLY),
    "agg_delta_merge": (
        governance.q_agg_delta_merge,
        governance.SQL_AGG_DELTA_MERGE,
    ),
    "k_anonymity": (governance.q_k_anonymity, governance.SQL_K_ANONYMITY),
    # late round-7, twelfth wave: the measurement ops behind two scale
    # levers — key-skew stats (decide plain/AQE/salted join) and the
    # cross-split near-dup contamination audit
    "join_skew_stats": (skew.q_join_skew_stats, skew.SQL_JOIN_SKEW_STATS),
    "split_leak_check": (
        quality.q_split_leak_check,
        quality.SQL_SPLIT_LEAK_CHECK,
    ),
    "dataset_split_by_cluster": (
        quality.q_dataset_split_by_cluster,
        quality.SQL_DATASET_SPLIT_BY_CLUSTER,
    ),
    "embed_threshold_sweep": (
        similarity.q_embed_threshold_sweep,
        similarity.SQL_EMBED_THRESHOLD_SWEEP,
    ),
    "asset_dedup": (multimodal.q_asset_dedup, multimodal.SQL_ASSET_DEDUP),
    "markov_transitions": (
        windows.q_markov_transitions,
        windows.SQL_MARKOV_TRANSITIONS,
    ),
    "top_paths": (windows.q_top_paths, windows.SQL_TOP_PATHS),
    "erasure_plan": (governance.q_erasure_plan, governance.SQL_ERASURE_PLAN),
    "order_backlog": (windows.q_order_backlog, windows.SQL_ORDER_BACKLOG),
    "source_concentration": (
        text.q_source_concentration,
        text.SQL_SOURCE_CONCENTRATION,
    ),
    "dedup_savings": (quality.q_dedup_savings, quality.SQL_DEDUP_SAVINGS),
    "embed_dedup_incremental": (
        similarity.q_embed_dedup_incremental,
        similarity.SQL_EMBED_DEDUP_INCREMENTAL,
    ),
    "seasonality_profile": (
        windows.q_seasonality_profile,
        windows.SQL_SEASONALITY_PROFILE,
    ),
    "token_budget_plan": (
        text.q_token_budget_plan,
        text.SQL_TOKEN_BUDGET_PLAN,
    ),
    "interval_merge": (windows.q_interval_merge, windows.SQL_INTERVAL_MERGE),
    "source_vocab_overlap": (
        text.q_source_vocab_overlap,
        text.SQL_SOURCE_VOCAB_OVERLAP,
    ),
    # rotated out in round 7 second batch (each >=4 green verdicts)
    "dedup_near_capped": (dedup.q_dedup_near_capped, dedup.SQL_DEDUP_NEAR_CAPPED),
    "dedup_minhash": (dedup.q_dedup_minhash, dedup.SQL_DEDUP_MINHASH),
    "embed_neardup": (
        similarity.q_embed_neardup_catalog,
        similarity.SQL_EMBED_NEARDUP,
    ),
    "curation_pipeline": (text.q_curation_pipeline, text.SQL_CURATION_PIPELINE),
    "text_stats": (text.q_text_stats, text.SQL_TEXT_STATS),
    "udaf_median": (sketches.q_udaf_median, sketches.SQL_UDAF_MEDIAN),
    "corr_text_embedding": (
        sketches.q_corr_text_embedding,
        sketches.SQL_CORR_TEXT_EMBEDDING,
    ),
    "sink_parquet": (sinks.q_sink_parquet, sinks.SQL_SINK_PARQUET),
    "map_fns": (relational2.q_map_fns, relational2.SQL_MAP_FNS),
    "tfidf": (text.q_tfidf, text.SQL_TFIDF),
    "text_normalize": (text.q_text_normalize, text.SQL_TEXT_NORMALIZE),
    "seq_packing": (text.q_seq_packing, text.SQL_SEQ_PACKING),
    "stratified_sample": (
        sketches.q_stratified_sample,
        sketches.SQL_STRATIFIED_SAMPLE,
    ),
    "wordcount": (wordcount.q_wordcount, wordcount.SQL_WORDCOUNT),
    "region_revenue": (relational.q_region_revenue, relational.SQL_REGION_REVENUE),
    # previously rotated out / breadth tier (full pytest oracle parity)
    "dedup_lines": (dedup.q_dedup_lines, dedup.SQL_DEDUP_LINES),
    "sim_topk": (similarity.q_sim_topk, similarity.SQL_SIM_TOPK),
    "tumbling_count": (windows.q_tumbling_count, windows.SQL_TUMBLING_COUNT),
    "session_count": (windows.q_session_count, windows.SQL_SESSION_COUNT),
    "asof_rate": (windows.q_asof_rate, windows.SQL_ASOF_RATE),
    "scan_events": (payments.q_scan_events, payments.SQL_SCAN_EVENTS),
    "json_decode": (payments.q_json_decode, payments.SQL_JSON_DECODE),
    "count_by_currency": (
        payments.q_count_by_currency,
        payments.SQL_COUNT_BY_CURRENCY,
    ),
    "topk_spenders": (relational.q_topk_spenders, relational.SQL_TOPK_SPENDERS),
    "token_count": (text.q_token_count, text.SQL_TOKEN_COUNT),
    "dedup_exact": (dedup.q_dedup_exact, dedup.SQL_DEDUP_EXACT),
    "dedup_simhash": (dedup.q_dedup_simhash, dedup.SQL_DEDUP_SIMHASH),
    "dedup_near_jaccard": (
        dedup.q_dedup_near_jaccard,
        dedup.SQL_DEDUP_NEAR_JACCARD,
    ),
    "dedup_cluster": (dedup.q_dedup_cluster, dedup.SQL_DEDUP_CLUSTER),
    "decontaminate": (dedup.q_decontaminate, dedup.SQL_DECONTAMINATE),
    "knn_classify": (similarity.q_knn_classify, similarity.SQL_KNN_CLASSIFY),
    "sim_ann_lsh": (similarity.q_sim_ann_lsh, similarity.SQL_SIM_ANN_LSH),
    "sim_ann_ivf": (similarity.q_sim_ann_ivf, similarity.SQL_SIM_ANN_IVF),
    "topk_words": (text.q_topk_words, text.SQL_TOPK_WORDS),
    "bigram_counts": (text.q_bigram_counts, text.SQL_BIGRAM_COUNTS),
    "bpe_token_count": (text.q_bpe_token_count, text.SQL_BPE_TOKEN_COUNT),
    "pattern_counts": (text.q_pattern_counts, text.SQL_PATTERN_COUNTS),
    "sessionize_lag": (windows.q_sessionize_lag, windows.SQL_SESSIONIZE_LAG),
    "fx_join": (payments.q_fx_join, payments.SQL_FX_JOIN),
    "agg_revenue": (relational.q_agg_revenue, relational.SQL_AGG_REVENUE),
    "big_orders": (relational2.q_big_orders, relational2.SQL_BIG_ORDERS),
    "sliding_count": (windows.q_sliding_count, windows.SQL_SLIDING_COUNT),
    "window_range_interval": (
        windows.q_window_range_interval,
        windows.SQL_WINDOW_RANGE_INTERVAL,
    ),
    "moving_avg": (windows.q_moving_avg, windows.SQL_MOVING_AVG),
    "multimodal_meta": (multimodal.q_multimodal_meta, multimodal.SQL_MULTIMODAL_META),
    "image_features": (multimodal.q_image_features, multimodal.SQL_IMAGE_FEATURES),
    "audio_features": (multimodal.q_audio_features, multimodal.SQL_AUDIO_FEATURES),
    "frame_sample": (multimodal.q_frame_sample, multimodal.SQL_FRAME_SAMPLE),
    "image_resize": (multimodal.q_image_resize, multimodal.SQL_IMAGE_RESIZE),
    "project_cast": (payments.q_project_cast, payments.SQL_PROJECT_CAST),
    "json_encode": (payments.q_json_encode, payments.SQL_JSON_ENCODE),
    "fx_convert": (payments.q_fx_convert, payments.SQL_FX_CONVERT),
    "filter_suspicious": (
        payments.q_filter_suspicious,
        payments.SQL_FILTER_SUSPICIOUS,
    ),
    "union_payment_streams": (
        payments.q_union_payment_streams,
        payments.SQL_UNION_PAYMENT_STREAMS,
    ),
    "tokenize_explode": (
        wordcount.q_tokenize_explode,
        wordcount.SQL_TOKENIZE_EXPLODE,
    ),
    "scan_lines": (wordcount.q_scan_lines, wordcount.SQL_SCAN_LINES),
    "distinct_users": (relational.q_distinct_users, relational.SQL_DISTINCT_USERS),
    "rollup_sales": (relational.q_rollup_sales, relational.SQL_ROLLUP_SALES),
    "cube_sales": (relational.q_cube_sales, relational.SQL_CUBE_SALES),
    "join_orders_customer": (
        relational.q_join_orders_customer,
        relational.SQL_JOIN_ORDERS_CUSTOMER,
    ),
    "semi_join_customers": (
        relational.q_semi_join_customers,
        relational.SQL_SEMI_JOIN_CUSTOMERS,
    ),
    "anti_join_customers": (
        relational.q_anti_join_customers,
        relational.SQL_ANTI_JOIN_CUSTOMERS,
    ),
    "theta_join_parts": (
        relational.q_theta_join_parts,
        relational.SQL_THETA_JOIN_PARTS,
    ),
    "rank_top_payments": (
        relational.q_rank_top_payments,
        relational.SQL_RANK_TOP_PAYMENTS,
    ),
    "window_running": (relational.q_window_running, relational.SQL_WINDOW_RUNNING),
    "intersect_users": (relational.q_intersect_users, relational.SQL_INTERSECT_USERS),
    "semi_join_suspicious": (
        payments.q_semi_join_suspicious,
        payments.SQL_SEMI_JOIN_SUSPICIOUS,
    ),
    "except_users": (relational.q_except_users, relational.SQL_EXCEPT_USERS),
    "scalar_fns": (relational.q_scalar_fns, relational.SQL_SCALAR_FNS),
    "array_fns": (relational.q_array_fns, relational.SQL_ARRAY_FNS),
    "pivot_status": (relational2.q_pivot_status, relational2.SQL_PIVOT_STATUS),
    "unpivot_part": (relational2.q_unpivot_part, relational2.SQL_UNPIVOT_PART),
    "grouping_sets": (relational2.q_grouping_sets, relational2.SQL_GROUPING_SETS),
    "filtered_agg": (relational2.q_filtered_agg, relational2.SQL_FILTERED_AGG),
    "percentiles": (relational2.q_percentiles, relational2.SQL_PERCENTILES),
    "string_fns2": (relational2.q_string_fns2, relational2.SQL_STRING_FNS2),
    "date_fns2": (relational2.q_date_fns2, relational2.SQL_DATE_FNS2),
    "window_fns2": (relational2.q_window_fns2, relational2.SQL_WINDOW_FNS2),
    "sql_top_customers": (
        relational2.q_sql_top_customers,
        relational2.SQL_SQL_TOP_CUSTOMERS,
    ),
    "returned_items": (relational2.q_returned_items, relational2.SQL_RETURNED_ITEMS),
    "promo_revenue": (relational2.q_promo_revenue, relational2.SQL_PROMO_REVENUE),
    "late_shipments": (relational2.q_late_shipments, relational2.SQL_LATE_SHIPMENTS),
    "explode_variants": (
        relational2.q_explode_variants,
        relational2.SQL_EXPLODE_VARIANTS,
    ),
    "scalar_subquery": (
        relational2.q_scalar_subquery,
        relational2.SQL_SCALAR_SUBQUERY,
    ),
    "outer_join_nulls": (
        relational2.q_outer_join_nulls,
        relational2.SQL_OUTER_JOIN_NULLS,
    ),
    "null_fns": (relational2.q_null_fns, relational2.SQL_NULL_FNS),
    "column_stats": (relational2.q_column_stats, relational2.SQL_COLUMN_STATS),
    # ---- round-8 wave. NOTE: the Q10/Q18 shapes were NOT added here
    # — relational2's returned_items / big_orders already cover them (a
    # draft duplicate key briefly shadowed returned_items; guarded now
    # by test_catalog_registration_has_no_shadowed_names).
    "hard_negative_mining": (
        similarity.q_hard_negative_mining,
        similarity.SQL_HARD_NEGATIVE_MINING,
    ),
    "small_qty_revenue": (
        relational3.q_small_qty_revenue,
        relational3.SQL_SMALL_QTY_REVENUE,
    ),
    "sales_opportunity": (
        relational3.q_sales_opportunity,
        relational3.SQL_SALES_OPPORTUNITY,
    ),
    "interarrival_stats": (
        windows.q_interarrival_stats,
        windows.SQL_INTERARRIVAL_STATS,
    ),
    "asset_codec_meta": (
        multimodal.q_asset_codec_meta,
        multimodal.SQL_ASSET_CODEC_META,
    ),
    "temperature_mix": (text.q_temperature_mix, text.SQL_TEMPERATURE_MIX),
    # ---- round-9 wave: the remaining TPC-H archetypes (Q3/Q6/Q11/Q16/
    # Q19/Q20/Q21, relational3.py) + the compressed-container codec tier
    # (PNG full decode, multimodal.py / functions/codecs.py). All eight
    # are IN-WINDOW this round (new operators take window-head slots).
    "asset_png_meta": (
        multimodal.q_asset_png_meta,
        multimodal.SQL_ASSET_PNG_META,
    ),
    "shipping_priority": (
        relational3.q_shipping_priority,
        relational3.SQL_SHIPPING_PRIORITY,
    ),
    "forecast_revenue": (
        relational3.q_forecast_revenue,
        relational3.SQL_FORECAST_REVENUE,
    ),
    "important_parts": (
        relational3.q_important_parts,
        relational3.SQL_IMPORTANT_PARTS,
    ),
    "parts_supplier_rel": (
        relational3.q_parts_supplier_rel,
        relational3.SQL_PARTS_SUPPLIER_REL,
    ),
    "discounted_revenue": (
        relational3.q_discounted_revenue,
        relational3.SQL_DISCOUNTED_REVENUE,
    ),
    "promo_suppliers": (
        relational3.q_promo_suppliers,
        relational3.SQL_PROMO_SUPPLIERS,
    ),
    "waiting_suppliers": (
        relational3.q_waiting_suppliers,
        relational3.SQL_WAITING_SUPPLIERS,
    ),
    # second round-9 wave: embedding-space drift monitor (the semantic
    # complement of corpus_drift) and the decode-validate asset screen
    # (rejection path of the PNG codec exercised at scale)
    "embed_drift": (embed_stats.q_embed_drift, embed_stats.SQL_EMBED_DRIFT),
    "asset_quality_screen": (
        multimodal.q_asset_quality_screen,
        multimodal.SQL_ASSET_QUALITY_SCREEN,
    ),
    # third round-9 wave (registered past the window; first in the
    # round-10 head per the plan below): hybrid retrieval, the privacy
    # pair extending k_anonymity, CRM segmentation, and the K-selection
    # audit
    "hybrid_rrf": (retrieval.q_hybrid_rrf, retrieval.SQL_HYBRID_RRF),
    "l_diversity": (governance.q_l_diversity, governance.SQL_L_DIVERSITY),
    "private_release": (
        governance.q_private_release,
        governance.SQL_PRIVATE_RELEASE,
    ),
    "rfm_segments": (relational2.q_rfm_segments, relational2.SQL_RFM_SEGMENTS),
    "kmeans_elbow": (embed_stats.q_kmeans_elbow, embed_stats.SQL_KMEANS_ELBOW),
    # fourth round-9 wave (also past-window, round-10 head queue): the
    # IVF probe-depth calibration, the BPE trainer inner loop, marketing
    # attribution, and sketch-based join-cardinality estimation
    "ivf_probe_sweep": (
        similarity.q_ivf_probe_sweep,
        similarity.SQL_IVF_PROBE_SWEEP,
    ),
    "bpe_merge_candidates": (
        text.q_bpe_merge_candidates,
        text.SQL_BPE_MERGE_CANDIDATES,
    ),
    "attribution_revenue": (
        windows.q_attribution_revenue,
        windows.SQL_ATTRIBUTION_REVENUE,
    ),
    "cms_join_cardinality": (
        sketches.q_cms_join_cardinality,
        sketches.SQL_CMS_JOIN_CARDINALITY,
    ),
    # fifth round-9 wave (same past-window protocol): cohort LTV, the
    # A/B readout, offline change-point localization, and deterministic
    # bootstrap uncertainty
    "ltv_curve": (windows.q_ltv_curve, windows.SQL_LTV_CURVE),
    "ab_test_report": (windows.q_ab_test_report, windows.SQL_AB_TEST_REPORT),
    "cusum_changepoint": (
        windows.q_cusum_changepoint,
        windows.SQL_CUSUM_CHANGEPOINT,
    ),
    "bootstrap_stderr": (
        sketches.q_bootstrap_stderr,
        sketches.SQL_BOOTSTRAP_STDERR,
    ),
    # sixth round-9 wave (same past-window protocol): distinctive-term
    # extraction, market-basket lift, the ranker-evaluation harness,
    # and self-auditing histogram quantiles
    "topic_keywords": (text.q_topic_keywords, text.SQL_TOPIC_KEYWORDS),
    "basket_lift": (relational2.q_basket_lift, relational2.SQL_BASKET_LIFT),
    "retrieval_eval": (
        retrieval.q_retrieval_eval,
        retrieval.SQL_RETRIEVAL_EVAL,
    ),
    "histogram_quantiles": (
        sketches.q_histogram_quantiles,
        sketches.SQL_HISTOGRAM_QUANTILES,
    ),
    # seventh round-9 wave (same past-window protocol): diversified
    # retrieval and the column profiler
    "mmr_rerank": (retrieval.q_mmr_rerank, retrieval.SQL_MMR_RERANK),
    "table_profile": (
        governance.q_table_profile,
        governance.SQL_TABLE_PROFILE,
    ),
    # eighth round-9 wave (same past-window protocol): weighted lexical
    # near-dup and the Holt trend forecast
    "dedup_tfidf_cosine": (
        dedup.q_dedup_tfidf_cosine,
        dedup.SQL_DEDUP_TFIDF_COSINE,
    ),
    "holt_forecast": (windows.q_holt_forecast, windows.SQL_HOLT_FORECAST),
    # ninth round-9 wave (same past-window protocol): the
    # experimentation/monitoring quartet — CUPED, quantile treatment
    # effects, PSI score drift, rank-sum AUC
    "cuped_ab_report": (
        windows.q_cuped_ab_report,
        windows.SQL_CUPED_AB_REPORT,
    ),
    "quantile_treatment_effect": (
        windows.q_quantile_treatment_effect,
        windows.SQL_QUANTILE_TREATMENT_EFFECT,
    ),
    "drift_psi": (quality.q_drift_psi, quality.SQL_DRIFT_PSI),
    "auc_report": (embed_stats.q_auc_report, embed_stats.SQL_AUC_REPORT),
    # first round-10 wave (window-head per the round-10 plan below):
    # the sort-based skyline, the Benford forensic screen, closed-form
    # OLS trend, reliability/ECE bins, and blocked ER over part names
    "pareto_frontier": (
        analytics.q_pareto_frontier,
        analytics.SQL_PARETO_FRONTIER,
    ),
    "benford_digits": (
        analytics.q_benford_digits,
        analytics.SQL_BENFORD_DIGITS,
    ),
    "ols_trend": (analytics.q_ols_trend, analytics.SQL_OLS_TREND),
    "calibration_bins": (
        analytics.q_calibration_bins,
        analytics.SQL_CALIBRATION_BINS,
    ),
    "er_part_names": (
        analytics.q_er_part_names,
        analytics.SQL_ER_PART_NAMES,
    ),
    # second round-10 wave (registered past the window; round-11 head
    # queue per the plan above): m-estimate target encoding, WOE/IV
    # scorecard binning, the Hampel/MAD robust outlier screen, and the
    # co-purchase triangle census
    "target_encode": (
        analytics.q_target_encode,
        analytics.SQL_TARGET_ENCODE,
    ),
    "woe_iv": (analytics.q_woe_iv, analytics.SQL_WOE_IV),
    "mad_outliers": (
        analytics.q_mad_outliers,
        analytics.SQL_MAD_OUTLIERS,
    ),
    "copurchase_triangles": (
        analytics.q_copurchase_triangles,
        analytics.SQL_COPURCHASE_TRIANGLES,
    ),
    # third round-10 wave (same past-window protocol): the GIF/LZW
    # real-codec tier extension and the Kaplan-Meier survival curve
    "asset_gif_meta": (
        multimodal.q_asset_gif_meta,
        multimodal.SQL_ASSET_GIF_META,
    ),
    "survival_curve": (
        windows.q_survival_curve,
        windows.SQL_SURVIVAL_CURVE,
    ),
    # fourth round-10 wave (same past-window protocol): the word2vec
    # sampling plan, the EWMA/Poisson control chart, and the chi-square
    # independence contingency scan
    "negative_sampling_plan": (
        text.q_negative_sampling_plan,
        text.SQL_NEGATIVE_SAMPLING_PLAN,
    ),
    "ewma_anomaly": (windows.q_ewma_anomaly, windows.SQL_EWMA_ANOMALY),
    "chi2_independence": (
        analytics.q_chi2_independence,
        analytics.SQL_CHI2_INDEPENDENCE,
    ),
    # fifth round-10 wave (same past-window protocol): the zone-map /
    # data-skipping layout audit (plus engine infra registered with it:
    # the streaming GIF decode twin)
    "zonemap_prune_audit": (
        governance.q_zonemap_prune_audit,
        governance.SQL_ZONEMAP_PRUNE_AUDIT,
    ),
    # sixth round-10 wave (same past-window protocol): robust location
    # report, the information-theoretic association readout, and the
    # runtime-filter bloom join-pruning audit
    "winsorized_stats": (
        analytics.q_winsorized_stats,
        analytics.SQL_WINSORIZED_STATS,
    ),
    "mutual_information": (
        analytics.q_mutual_information,
        analytics.SQL_MUTUAL_INFORMATION,
    ),
    "bloom_join_audit": (
        analytics.q_bloom_join_audit,
        analytics.SQL_BLOOM_JOIN_AUDIT,
    ),
    # seventh round-10 wave (same past-window protocol): grid-KS drift
    # verdict, uniform quantile normalization, and the cumulative
    # gains/lift curve (plus engine infra registered with it: the
    # streaming EWMA control-chart twin)
    "ks_drift": (quality.q_ks_drift, quality.SQL_KS_DRIFT),
    "quantile_normalize": (
        analytics.q_quantile_normalize,
        analytics.SQL_QUANTILE_NORMALIZE,
    ),
    "gains_curve": (analytics.q_gains_curve, analytics.SQL_GAINS_CURVE),
    # eighth round-10 wave (same past-window protocol): classical
    # additive seasonal decomposition and exponential time-decay value
    "seasonal_decompose": (
        windows.q_seasonal_decompose,
        windows.SQL_SEASONAL_DECOMPOSE,
    ),
    "decayed_revenue": (
        windows.q_decayed_revenue,
        windows.SQL_DECAYED_REVENUE,
    ),
    # tenth round-10 wave (same past-window protocol): SQL-standard
    # PERCENTILE_CONT by explicit interpolation arithmetic
    "interp_quantiles": (
        analytics.q_interp_quantiles,
        analytics.SQL_INTERP_QUANTILES,
    ),
    # first round-11 wave: training-data label quality + clustering
    # validity (three-SF oracle parity + empty-input OK at
    # registration; in-window per the round-11 rotation)
    "label_noise_knn": (
        similarity.q_label_noise_knn,
        similarity.SQL_LABEL_NOISE_KNN,
    ),
    "silhouette_report": (
        embed_stats.q_silhouette_report,
        embed_stats.SQL_SILHOUETTE_REPORT,
    ),
    # second round-11 wave: temporal holdout, split-conformal
    # calibration, deterministic bandit allocation
    "temporal_split": (
        windows.q_temporal_split,
        windows.SQL_TEMPORAL_SPLIT,
    ),
    "conformal_threshold": (
        analytics.q_conformal_threshold,
        analytics.SQL_CONFORMAL_THRESHOLD,
    ),
    "bandit_ucb": (windows.q_bandit_ucb, windows.SQL_BANDIT_UCB),
    # third round-11 wave: data valuation, tail diagnostics, forecast
    # evaluation
    "source_ablation": (
        quality.q_source_ablation,
        quality.SQL_SOURCE_ABLATION,
    ),
    "hill_tail_index": (
        analytics.q_hill_tail_index,
        analytics.SQL_HILL_TAIL_INDEX,
    ),
    "forecast_backtest": (
        windows.q_forecast_backtest,
        windows.SQL_FORECAST_BACKTEST,
    ),
    # fourth round-11 wave: Matryoshka truncation audit + exact-K
    # weighted sampling
    "mrl_truncation_audit": (
        similarity.q_mrl_truncation_audit,
        similarity.SQL_MRL_TRUNCATION_AUDIT,
    ),
    "weighted_sample_ares": (
        quality.q_weighted_sample_ares,
        quality.SQL_WEIGHTED_SAMPLE_ARES,
    ),
    # fifth round-11 wave: robust trend + categorical collapse
    "theil_sen_trend": (
        analytics.q_theil_sen_trend,
        analytics.SQL_THEIL_SEN_TREND,
    ),
    "group_rare_collapse": (
        analytics.q_group_rare_collapse,
        analytics.SQL_GROUP_RARE_COLLAPSE,
    ),
    # sixth round-11 wave: permutation inference, rank correlation,
    # stratified k-fold CV, OOV vocabulary audit
    "permutation_test": (
        windows.q_permutation_test,
        windows.SQL_PERMUTATION_TEST,
    ),
    "spearman_corr": (
        analytics.q_spearman_corr,
        analytics.SQL_SPEARMAN_CORR,
    ),
    "kfold_assign": (
        quality.q_kfold_assign,
        quality.SQL_KFOLD_ASSIGN,
    ),
    "oov_rate": (
        text.q_oov_rate,
        text.SQL_OOV_RATE,
    ),
    # seventh round-11 wave: multiple-testing control + JL projection
    "fdr_bh": (
        windows.q_fdr_bh,
        windows.SQL_FDR_BH,
    ),
    "jl_projection_audit": (
        similarity.q_jl_projection_audit,
        similarity.SQL_JL_PROJECTION_AUDIT,
    ),
    # eighth round-11 wave: corpus-planning curves (vocab growth,
    # head-term dispersion, coverage-vs-vocab-size)
    "heaps_law_fit": (
        text.q_heaps_law_fit,
        text.SQL_HEAPS_LAW_FIT,
    ),
    "term_burstiness": (
        text.q_term_burstiness,
        text.SQL_TERM_BURSTINESS,
    ),
    "token_coverage_curve": (
        text.q_token_coverage_curve,
        text.SQL_TOKEN_COVERAGE_CURVE,
    ),
    # ninth round-11 wave: forecast-quality decomposition + sequential
    # experiment monitoring
    "brier_decomposition": (
        analytics.q_brier_decomposition,
        analytics.SQL_BRIER_DECOMPOSITION,
    ),
    "group_sequential": (
        windows.q_group_sequential,
        windows.SQL_GROUP_SEQUENTIAL,
    ),
    # tenth round-11 wave: power analysis + embedding feature screen
    "power_mde": (
        windows.q_power_mde,
        windows.SQL_POWER_MDE,
    ),
    "fisher_separability": (
        embed_stats.q_fisher_separability,
        embed_stats.SQL_FISHER_SEPARABILITY,
    ),
    # eleventh round-11 wave: survey-sampling allocation + information
    # theory of the corpus
    "neyman_allocation": (
        quality.q_neyman_allocation,
        quality.SQL_NEYMAN_ALLOCATION,
    ),
    "entropy_rate": (
        text.q_entropy_rate,
        text.SQL_ENTROPY_RATE,
    ),
    "good_turing_mass": (
        text.q_good_turing_mass,
        text.SQL_GOOD_TURING_MASS,
    ),
    # twelfth round-11 wave: distribution-free inference
    "mann_whitney": (
        windows.q_mann_whitney,
        windows.SQL_MANN_WHITNEY,
    ),
    "median_ci": (
        windows.q_median_ci,
        windows.SQL_MEDIAN_CI,
    ),
    # thirteenth round-11 wave: effect magnitude + series diagnostics
    "effect_size_report": (
        windows.q_effect_size_report,
        windows.SQL_EFFECT_SIZE_REPORT,
    ),
    "acf_monthly": (
        windows.q_acf_monthly,
        windows.SQL_ACF_MONTHLY,
    ),
    # fourteenth round-11 wave: nonparametric randomness/direction
    "runs_test": (
        windows.q_runs_test,
        windows.SQL_RUNS_TEST,
    ),
    "sign_test": (
        windows.q_sign_test,
        windows.SQL_SIGN_TEST,
    ),
    # fifteenth round-11 wave: association-strength summaries
    "kappa_agreement": (
        text.q_kappa_agreement,
        text.SQL_KAPPA_AGREEMENT,
    ),
    "cramers_v": (
        analytics.q_cramers_v,
        analytics.SQL_CRAMERS_V,
    ),
    # sixteenth round-11 wave: decomposition strength summary
    "seasonal_strength": (
        windows.q_seasonal_strength,
        windows.SQL_SEASONAL_STRENGTH,
    ),
}

# The external driver evaluates only the first DRIVER_WINDOW_SIZE catalog
# entries. DRIVER_WINDOW is that slice: _CATALOG is reordered below so
# these names come first, in this order. Editing the window is a reviewed
# change to this literal (tests/test_catalog.py pins size and order);
# pytest checks all 287 entries against their oracles on every run
# (tests/test_oracle_parity.py), in or out of the window.
DRIVER_WINDOW_SIZE = 50
DRIVER_WINDOW: tuple[str, ...] = (
    # head: the 4 r15 contract changes awaiting a verdict
    "basket_lift",
    "dedup_tfidf_cosine",
    "copurchase_triangles",
    "theil_sen_trend",
    # risk tier, latest verdict r12
    "bigram_lm_score",
    "brier_decomposition",
    "curation_pipeline",
    "dedup_lines_near",
    "dedup_lines_near_capped",
    "dedup_lines_rebuild",
    "effect_size_report",
    "entropy_rate",
    "fdr_bh",
    "fisher_separability",
    "group_sequential",
    "heaps_law_fit",
    "kfold_assign",
    "lm_score",
    "permutation_test",
    "pmi_collocations",
    "power_mde",
    "stratified_sample",
    "tfidf",
    "token_entropy",
    # plain queue, latest verdict r9
    "dedup_near_capped",
    "discounted_revenue",
    "distinct_users",
    "filter_suspicious",
    "forecast_revenue",
    "fx_convert",
    "gen_payments",
    "important_parts",
    "interarrival_stats",
    "intersect_users",
    "json_decode",
    "json_encode",
    "parts_supplier_rel",
    "payments_pipeline",
    "project_cast",
    "promo_suppliers",
    "rank_top_payments",
    "sales_opportunity",
    "salted_join_events",
    "scan_events",
    "scan_lines",
    "semi_join_customers",
    "semi_join_suspicious",
    "session_count",
    "shipping_priority",
    "sim_topk",
)

#
# Load-bearing invariants: raise, don't assert — a bare assert is
# stripped under `python -O`, silently disarming the guard (r3 ADVICE).
if len(DRIVER_WINDOW) != DRIVER_WINDOW_SIZE:
    raise RuntimeError(
        f"DRIVER_WINDOW has {len(DRIVER_WINDOW)} entries, expected "
        f"{DRIVER_WINDOW_SIZE}"
    )
# A duplicate name would pass the length guard but be deduped by the
# dict-comprehension reorder below, silently shrinking the
# driver-checked window to 49 and promoting an unreviewed past-window
# entry into slot 50 (r8 ADVICE) — reject it at load time.
if len(set(DRIVER_WINDOW)) != DRIVER_WINDOW_SIZE:
    _dupes = sorted(
        {n for n in DRIVER_WINDOW if DRIVER_WINDOW.count(n) > 1}
    )
    raise RuntimeError(f"DRIVER_WINDOW has duplicate names: {_dupes}")
_missing = [n for n in DRIVER_WINDOW if n not in _CATALOG]
if _missing:
    raise RuntimeError(f"DRIVER_WINDOW names not registered: {_missing}")
# Reorder so the driver's first-50 slice IS the pinned window; entries
# past the window keep their registration order (they stay covered by
# the sf0.001 oracle-parity suite on every pytest run).
_CATALOG = {n: _CATALOG[n] for n in DRIVER_WINDOW} | {
    k: v for k, v in _CATALOG.items() if k not in set(DRIVER_WINDOW)
}


def _guarded(fn: QueryFn) -> QueryFn:
    """Apply semantics-critical runtime confs before building the plan —
    the driver session is not ours (see conf.py)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_runtime_confs(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, QueryFn]:
    return {name: _guarded(fn) for name, (fn, _) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _CATALOG.items() if sql is not None}
