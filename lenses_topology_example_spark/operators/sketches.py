"""Approximate-sketch aggregations (100 TB scale path, SURVEY.md §2.4).

Exact distinct counts and exact percentiles need a full shuffle of the
key/value space; the sketch forms are one-pass, mergeable, and bounded-
memory — the only viable shape for interactive answers over 100 TB:

- approx_count_distinct: HyperLogLog++ (relative error ~= 1.04/sqrt(2^p),
  default rsd 5%), merged per-partition then at the final agg — the
  shuffle carries fixed-size sketch bytes, not the key set.
- percentile_approx: a quantile summary (Greenwald-Khanna-style) with
  bounded accuracy parameter; same mergeability argument.

Both are engine-specific sketches, so no DuckDB oracle can hash-match
the ESTIMATES themselves. Since round 13 (r12 VERDICT ask #4) the
catalog entries are PROPERTY-PAIRED instead of rows-only: each emits
the exact answer beside a non-nullable boolean asserting the sketch
landed within its documented error bound, and the estimate itself is
kept OUT of the output columns. The oracle recomputes the exact
columns and emits literal TRUE for the bound — so the driver's full
rows+schema+hash gate now has pass/fail teeth on the sketch property.
The raw estimates stay observable through the _raw helpers, which
tests/test_sketches.py asserts against exact answers in value space.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datamodel import literal_df
from ..memo import cached
from ..tables import load_table


def approx_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type at 2% target rsd, with the
    exact count beside it (the raw frame the property check projects)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ property check (oracle-paired since round 13): the sketch
    estimate must land within 3 sigma of the exact distinct count
    (rsd=0.02 -> 6% relative), emitted as a non-nullable boolean the
    oracle recomputes as literal TRUE. The engine-specific estimate is
    NOT an output column — it can never hash-match another engine.
    Deterministic: Spark's HLL++ is hash-based with no RNG, so the
    observed error at a given (data, rsd) is a fixed value.

    Scale shape (100 TB): the exact count_distinct is the expensive
    leg (key-space shuffle) — acceptable for an AUDIT query; the
    production path is the sketch alone (approx_distinct_raw), whose
    shuffle carries fixed-size sketch bytes."""
    raw = approx_distinct_raw(spark, sf_dir)
    return raw.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.ceil(F.col("exact_users") * F.lit(0.06))
        ).alias("within_bound"),
    )


SQL_APPROX_DISTINCT_USERS = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS within_bound
    FROM events GROUP BY event_type
"""


APPROX_PCTS = (0.5, 0.9, 0.99)


def approx_quantiles_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summary over event values (accuracy 10000 —
    error bound = 1/accuracy of the rank), one row per
    (event_type, pct).

    Output is ONE ROW PER (event_type, pct): the driver's comparator
    canon cannot hash raw array columns (unhashable numpy.ndarray —
    round-1 map_fns, round-2 this query), so the percentile array is
    posexploded into scalar rows before it leaves the operator.
    """
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.percentile_approx("value", list(APPROX_PCTS), 10_000).alias("pcts"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    pct_arr = F.array(*[F.lit(p) for p in APPROX_PCTS])
    return agg.select(
        "event_type",
        F.posexplode("pcts").alias("pos", "approx_value"),
        "vmin",
        "vmax",
    ).select(
        "event_type",
        F.element_at(pct_arr, F.col("pos") + 1).alias("pct"),
        "approx_value",
        "vmin",
        "vmax",
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch property check (oracle-paired since round 13):
    percentile_approx(accuracy=10000) guarantees the returned element's
    exact RANK is within n/accuracy of the target rank pct*n. The check
    recomputes the exact rank interval of the returned value — the
    value occupies ranks [cnt_lt+1, cnt_le] — and asserts it intersects
    [pct*n - err, pct*n + err] with err = n/10000 + 1 (+1 absorbs rank
    discretization at tiny n). The engine-specific approx VALUE is not
    an output column; the oracle recomputes the exact columns and emits
    TRUE for the bound. Deterministic: the sketch is insertion-order-
    robust at this accuracy and the check re-derives ranks exactly.

    Scale shape (100 TB): the rank recount joins the |types|x3 sketch
    result back to events as a broadcast and re-aggregates — one extra
    scan, map-side combinable; an audit query by design (the
    production path is approx_quantiles_raw, one pass)."""
    raw = approx_quantiles_raw(spark, sf_dir).select(
        "event_type", "pct", "approx_value"
    )
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        # percentile_approx skips NULLs, so the rank recount must run
        # on the same null-free value space — otherwise n_values
        # inflates and the bound booleans go FALSE on null-bearing
        # data (round-14 null-sweep class)
        .filter(F.col("value").isNotNull())
    )
    stats = (
        events.join(F.broadcast(raw), "event_type")
        .groupBy("event_type", "pct")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.count(
                F.when(F.col("value") <= F.col("approx_value"), 1)
            ).alias("cnt_le"),
            F.count(
                F.when(F.col("value") < F.col("approx_value"), 1)
            ).alias("cnt_lt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    target = F.col("pct") * F.col("n_values").cast("double")
    err = F.col("n_values").cast("double") / F.lit(10_000.0) + F.lit(1.0)
    return stats.select(
        "event_type",
        "pct",
        "n_values",
        "vmin",
        "vmax",
        (
            # the approx value occupies ranks [cnt_lt+1, cnt_le]; the
            # interval intersects [target-err, target+err] iff its top
            # rank reaches the floor AND its bottom rank stays under
            # the ceiling (cnt_lt+1, not cnt_lt — r13 ADVICE: the bare
            # cnt_lt admitted one rank beyond the stated bound)
            (F.col("cnt_le").cast("double") >= target - err)
            & ((F.col("cnt_lt") + F.lit(1)).cast("double") <= target + err)
        ).alias("within_bound"),
    )


SQL_APPROX_QUANTILES = """
    SELECT event_type,
           pct,
           COUNT(*) AS n_values,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           TRUE AS within_bound
    FROM events
    CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                       (CAST(0.99 AS DOUBLE))) p(pct)
    WHERE value IS NOT NULL
    GROUP BY event_type, pct
"""


def q_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF surface (SURVEY.md §2.5): a grouped-aggregate pandas UDF
    (Arrow-batched, one numpy call per group) computing the per-type
    median of event values. Deterministic at any parallelism because
    np.median sorts its input — order-insensitive by construction, so it
    IS oracle-checkable (on DOUBLE columns DuckDB's median is the same
    linear mid-point interpolation as np.median).

    The built-in `percentile` covers this declaratively; this entry pins
    the custom-UDAF escape hatch the reference's arbitrary Java lambdas
    would need (PaymentsService.java:50-57).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        # dropna: Arrow delivers SQL NULLs as NaN, and np.median over
        # any NaN is NaN — SQL median (and DuckDB's) skips NULLs, so
        # the UDAF must too (round-14 partial-NULL sweep find)
        return float(np.median(v.dropna().to_numpy()))

    events = load_table(spark, sf_dir, "events")
    # a grouped-agg pandas UDF cannot mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — single-aggregate result by design
    return events.groupBy("event_type").agg(
        np_median(F.col("value")).alias("median_value"),
    )


SQL_UDAF_MEDIAN = """
    SELECT event_type,
           median(value) AS median_value
    FROM events GROUP BY event_type
"""


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% sample by content hash — the data-pipeline
    sampling idiom. TABLESAMPLE/df.sample draw from an engine-private
    RNG (non-reproducible across engines, runs, or repartitioning);
    hashing the key and thresholding is deterministic everywhere, stable
    under re-partitioning, and trivially stratifiable (hash the strata
    key). conv(md5) keeps it engine-portable like functions/texthash."""
    from ..functions.texthash import md5_hash64

    events = load_table(spark, sf_dir, "events")
    return events.filter(
        md5_hash64(F.col("event_id").cast("string")) % 100 < 10
    ).select("event_id", "user_id", "event_type", "value")


SQL_DETERMINISTIC_SAMPLE = """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
          % 100 < 10
"""


GROUPED_NORM_SCHEMA = "event_type string, event_id long, pct_of_max double"


def q_grouped_map_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas (grouped-map) surface: per event-type
    normalization value/max(value), each group arriving as one pandas
    frame. max is order-independent, so the result is deterministic at
    any parallelism and oracle-checkable (unlike mean/std in float,
    whose accumulation order varies). The real-world shape for per-group
    model scoring / fitting where the group must be in one place."""

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        # Nullable Float64, not float64: a NULL value must come back as
        # NULL (DuckDB's value/MAX() OVER convention), not NaN — with
        # plain float64 the null arrives as NaN and division bakes it in.
        # pd.NA propagates through the division and Arrow maps it to a
        # real null on the Spark side.
        v = pdf["value"].astype("Float64")
        m = v.max()
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "event_id": pdf["event_id"],
                "pct_of_max": v / m,
            }
        )

    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInPandas(norm, schema=GROUPED_NORM_SCHEMA)
    )


SQL_GROUPED_MAP_NORM = """
    SELECT event_type, event_id,
           value / MAX(value) OVER (PARTITION BY event_type) AS pct_of_max
    FROM events
"""


def q_corr_text_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation between document length and embedding
    norm (the documents x embeddings cross-modal join keyed by id). All
    five moments come from DECIMAL sums, so the statistic is
    order-independent at any parallelism — the native corr() aggregate
    accumulates in float and is not. One co-partitioned join + one
    single-row aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("x")
    )
    # norm from the shared emb_base memo (r17): the fold there is
    # zip_with(v, v, x*y) then acc+x — element-wise products summed in
    # the same order as the inline acc + v*v fold this site used, so
    # the value is the same IEEE sequence, computed once per vector.
    from .similarity import emb_base

    emb = emb_base(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("norm").alias("y"),
    )
    j = docs.join(emb, "doc_id")
    dsum = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")
    n = F.count(F.lit(1))
    agg = j.agg(
        n.alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    den = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
    )
    return agg.select(
        "n", F.try_divide(num, den).alias("pearson_r")
    )


SQL_CORR_TEXT_EMBEDDING = """
    WITH j AS (
        SELECT CAST(d.n_chars AS DOUBLE) AS x,
               sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(e.embedding::DOUBLE[], v -> v * v)),
                   (a, b) -> a + b)) AS y
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM j
    )
    SELECT n,
           (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS pearson_r
    FROM m
"""


# --- stratified sampling ---------------------------------------------------------

# Per-stratum keep percentages: rare-but-important event types keep more.
STRATA_RATES = {"purchase": 50, "error": 25}
STRATA_DEFAULT_RATE = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: each stratum (event_type) keeps
    its configured percentage by content-hash threshold — the standard
    class-rebalancing op for training data (upsample rare strata,
    downsample the head). Same md5-threshold mechanics as
    q_deterministic_sample, so the sample is reproducible across
    engines, runs, and repartitioning; the rate map is a CASE expression
    (broadcastable config, no join)."""
    from ..functions.texthash import md5_hash64

    events = load_table(spark, sf_dir, "events")
    rate = F.lit(STRATA_DEFAULT_RATE)
    for etype, pct in sorted(STRATA_RATES.items()):
        rate = F.when(F.col("event_type") == etype, F.lit(pct)).otherwise(rate)
    return events.filter(
        md5_hash64(F.col("event_id").cast("string")) % 100 < rate
    ).select("event_id", "event_type", "user_id", "value")


def _sql_strata_rate() -> str:
    whens = " ".join(
        f"WHEN event_type = '{etype}' THEN {pct}"
        for etype, pct in sorted(STRATA_RATES.items())
    )
    return f"CASE {whens} ELSE {STRATA_DEFAULT_RATE} END"


SQL_STRATIFIED_SAMPLE = f"""
    SELECT event_id, event_type, user_id, value
    FROM events
    WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
          % 100 < {_sql_strata_rate()}
"""


# --- Count-Min Sketch token frequencies (oracle-checkable sketch) ------------------

CMS_DEPTH = 4
# Catalog width is deliberately SMALL (16 buckets for ~40 distinct
# testdata tokens) so hash collisions actually occur and the CMS
# overestimate property (cms_n >= exact_n, sometimes >) is exercised
# and driver-verified — a production run uses w ~ ceil(e/eps)
# (e.g. 2,718,282 for eps = 1e-6) with the identical plan.
CMS_WIDTH = 16
CMS_TOP = 25


def cms_cell_col(r: int, token, width: int = CMS_WIDTH):
    """Counter column index of `token` under hash row r — md5-derived
    and therefore engine-portable. Single source for the cell scheme:
    the batch operator, the streaming counter twin, and the oracle's
    SQL twin must all agree on it."""
    from ..functions.texthash import md5_hash64

    return md5_hash64(F.concat(F.lit(f"{r}|"), token)) % F.lit(width)


def cms_counters_from_tokens(
    exploded: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """The (row, col) -> cnt Count-Min counter fold over an already
    token-exploded frame (column `token`) — the shared single source of
    the cell scheme for the batch operator (which feeds it the memoized
    token table) and cms_counters below (the streaming/raw-documents
    entry point)."""
    return (
        exploded.select(
            F.posexplode(
                F.array(*[cms_cell_col(r, F.col("token"), width) for r in range(depth)])
            ).alias("row", "col")
        )
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_counters(
    docs: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """The (row, col) -> cnt Count-Min counter table over a documents
    frame. Works identically on batch and streaming inputs (the
    streaming twin in streaming/pipelines.py delegates here), which is
    the mergeable-sketch property: per-partition partial aggregates /
    per-micro-batch increments fold cell-wise into fixed
    depth x width state."""
    from .wordcount import tokens_col

    exploded = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    return cms_counters_from_tokens(exploded, depth, width)


def q_cms_token_freq(
    spark: SparkSession, sf_dir: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Count-Min Sketch frequency estimation over corpus tokens,
    self-auditing: for the top-CMS_TOP tokens by exact count, report
    exact_n alongside the CMS estimate cms_n (= min over depth rows of
    the hashed counter cells). Unlike HLL, every hash here is
    md5-derived (functions/texthash.py), so the whole sketch is
    deterministic and hash-comparable against the DuckDB oracle — the
    repo's engine-portable-sketch discipline.

    Scale shape: the counter table is FIXED SIZE (depth x width); the
    build is one explode + groupBy(row, col) whose partial aggregation
    collapses each partition to <= depth*width cells before the
    exchange — the canonical mergeable-sketch property (per-partition
    sketches sum cell-wise; the same counters merge across streaming
    micro-batches). Estimates then broadcast-join the tiny counter
    table; the only corpus-scale exchanges are the two token aggs.

    The top-CMS_TOP selection is orderBy + limit, which Spark compiles
    to TakeOrderedAndProject: each partition keeps its local top
    CMS_TOP rows and the driver merges N_partitions x CMS_TOP rows —
    the whole vocabulary never funnels through one partition (a global
    row_number window here would; tests/test_plans.py pins the
    window-free shape). Tie-breaking (exact_n desc, token asc) is a
    total order, so the selected set is deterministic."""
    from .dedup import _doc_tokens

    # both the counter fold and the exact counts ride the memoized,
    # parallelism-guarded token table (r17): the prior form tokenized
    # the raw documents scan twice, single-task on a one-row-group file
    exploded = _doc_tokens(spark, sf_dir).select(
        F.explode(F.col("t")).alias("token")
    )

    def cell(r: int) -> F.Column:
        return cms_cell_col(r, F.col("token"), width)

    counters = cms_counters_from_tokens(exploded, depth, width)
    exact = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("token").asc()).limit(CMS_TOP)
    lookups = top.select(
        "token",
        "exact_n",
        F.posexplode(F.array(*[cell(r) for r in range(depth)])).alias("row", "col"),
    )
    return (
        lookups.join(F.broadcast(counters), ["row", "col"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )


def _sql_cms_cell(r: int, token_expr: str) -> str:
    return (
        f"((('0x' || substr(md5('{r}|' || {token_expr}), 1, 15))::BIGINT) "
        f"% {CMS_WIDTH})"
    )


SQL_CMS_TOKEN_FREQ = f"""
    WITH t AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                  x -> x <> '')) AS token
        FROM documents
    ), cells AS (
        SELECT r.r AS row, CASE r.r
                 WHEN 0 THEN {_sql_cms_cell(0, 'token')}
                 WHEN 1 THEN {_sql_cms_cell(1, 'token')}
                 WHEN 2 THEN {_sql_cms_cell(2, 'token')}
                 ELSE {_sql_cms_cell(3, 'token')}
               END AS col
        FROM t CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS r) r
    ), counters AS (
        SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY row, col
    ), exact AS (
        SELECT token, COUNT(*) AS exact_n FROM t GROUP BY token
    ), top AS (
        SELECT token, exact_n FROM exact
        QUALIFY ROW_NUMBER() OVER (ORDER BY exact_n DESC, token ASC) <= {CMS_TOP}
    ), lookups AS (
        SELECT token, exact_n, r.r AS row, CASE r.r
                 WHEN 0 THEN {_sql_cms_cell(0, 'token')}
                 WHEN 1 THEN {_sql_cms_cell(1, 'token')}
                 WHEN 2 THEN {_sql_cms_cell(2, 'token')}
                 ELSE {_sql_cms_cell(3, 'token')}
               END AS col
        FROM top CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS r) r
    )
    SELECT l.token, l.exact_n, MIN(c.cnt) AS cms_n
    FROM lookups l JOIN counters c USING (row, col)
    GROUP BY l.token, l.exact_n
"""


RESERVOIR_K = 10


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K-per-group deterministic sample: for every source, keep
    the RESERVOIR_K documents with the smallest md5-derived content
    hash — the distributed, rerun-stable equivalent of per-group
    reservoir sampling (uniform without replacement over each group,
    conditioned on the hash function), where rate-based sampling
    (q_stratified_sample) cannot promise an exact per-group count. The
    fixed-size per-source exhibit set a corpus audit ships.

    Determinism: the order key is md5_hash64(doc_id) with doc_id as
    tie-break — stable across engines, runs, and repartitioning, and
    stable under corpus GROWTH in the sense that a doc's key never
    changes (new docs can displace old ones only by hashing lower).

    Scale shape: one scan, one row_number window partitioned by source
    — Catalyst's WindowGroupLimit keeps K rows per source per partition
    ahead of the exchange, so the shuffle carries ~K x |sources| rows,
    not the corpus."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64
    from ..tables import load_table as _load

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    key = md5_hash64(F.col("doc_id").cast("string"))
    w = W.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.lit(RESERVOIR_K))
        .select("source", "sample_rank", "doc_id", "n_chars")
    )


SQL_RESERVOIR_SAMPLE = f"""
    SELECT source, sample_rank, doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT ASC, doc_id ASC
               ) AS INT) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= {RESERVOIR_K}
"""


# --- CMS join-cardinality estimation (round 9) -------------------------------


# Join sketches use a wider counter table than the token CMS: the token
# catalog width (16) is sized to FORCE collisions for the overestimate
# demo, but a join estimator that overestimates 100x is planner noise.
# 256 cells keeps the table trivially broadcastable while landing the
# estimate within a small factor of truth at the test scales.
CMS_JOIN_WIDTH = 256


def _cms_key_counters(df: DataFrame, key: F.Column) -> DataFrame:
    """Generic CMS counter table over an arbitrary key column — the
    cms_counters shape applied to join keys instead of tokens (same
    md5 cell scheme, same mergeable partial-agg property)."""
    return (
        df.select(
            F.posexplode(
                F.array(
                    *[
                        cms_cell_col(r, key.cast("string"), CMS_JOIN_WIDTH)
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("row", "col")
        )
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimation from Count-Min sketches: the
    output size of events ⋈ orders ON user_id = o_custkey, estimated as
    the CMS inner product min_r Σ_col cntA(r,col)·cntB(r,col) (Cormode
    & Muthukrishnan's join-size estimator) and audited against the
    exact Σ_k cA(k)·cB(k) — the measurement a planner (or
    join_skew_stats' consumer) wants BEFORE committing to a join
    strategy, computable from two fixed-size sketches without
    co-locating either table. Per-depth-row estimates are emitted so
    the report shows the estimator's spread; row_estimate >= exact
    always (collision mass only adds), pinned in tests. The over_ratio
    column is the AUDIT: the estimator's additive error is bounded by
    e·|A|·|B|/w, so the measured ratio tells the planner whether the
    configured width is adequate for this key pair (production sizes w
    from that bound; the test-scale ratio is deliberately loose enough
    to show a width that needs growing).

    Determinism: md5-derived cells (the engine-portable-sketch
    discipline), pure int64 products and sums; the ratio is one
    decimal-rounded division.

    Scale shape: each side collapses to a depth x width counter table
    via partial aggregation (fixed size however large the table); the
    inner product joins two 64-cell frames; the exact audit is the
    only key-grain work — two keyed aggs and a bounded key join (at
    100 TB the audit runs on a sample day while the sketches run on
    everything; here both run in full so the oracle can pin them)."""
    # NOT _parallel_scan-guarded (r17 measurement): repartitioning the
    # two projected key scans traded the single-task md5 battery
    # (~0.5 s) for two extra exchanges plus 350 more tasks of
    # scheduling — isolated exec time was unchanged (2.1 s both ways),
    # so the simpler single-exchange plan stays.
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    ca = _cms_key_counters(ev, F.col("k"))
    cb = _cms_key_counters(od, F.col("k"))
    per_row = (
        ca.alias("a")
        .join(cb.alias("b"), ["row", "col"])
        .groupBy("row")
        .agg(
            F.sum(F.col("a.cnt") * F.col("b.cnt"))
            .cast("long")
            .alias("row_estimate")
        )
    )
    exact = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("ca"))
        .join(od.groupBy("k").agg(F.count(F.lit(1)).alias("cb")), "k")
        .agg(
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("long")
            .alias("exact_pairs")
        )
    )
    from pyspark.sql import Window as W

    wt = W.partitionBy()
    return (
        per_row.crossJoin(F.broadcast(exact))
        .withColumn(
            "cms_estimate", F.min("row_estimate").over(wt).cast("long")
        )
        .select(
            F.col("row").cast("int").alias("row"),
            "row_estimate",
            "cms_estimate",
            "exact_pairs",
            F.try_divide(F.col("cms_estimate"), F.col("exact_pairs"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("over_ratio"),
        )
        .orderBy("row")
    )


def _build_sql_cms_join_cardinality() -> str:
    def cells(r: int, key: str) -> str:
        return (
            f"((('0x' || substr(md5('{r}|' || CAST({key} AS VARCHAR)), 1, 15))"
            f"::BIGINT) % {CMS_JOIN_WIDTH})"
        )

    def counters(table: str, key: str) -> str:
        arms = " UNION ALL ".join(
            f"SELECT {r} AS row, {cells(r, key)} AS col FROM {table}"
            for r in range(CMS_DEPTH)
        )
        return f"SELECT row, col, COUNT(*) AS cnt FROM ({arms}) GROUP BY row, col"

    return f"""
    WITH ca AS ({counters('events', 'user_id')}),
    cb AS ({counters('orders', 'o_custkey')}),
    per_row AS (
        SELECT ca.row,
               CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS row_estimate
        FROM ca JOIN cb ON ca.row = cb.row AND ca.col = cb.col
        GROUP BY ca.row
    ), exact AS (
        SELECT CAST(COALESCE(SUM(ca.n * cb.n), 0) AS BIGINT) AS exact_pairs
        FROM (SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY 1) ca
        JOIN (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) cb
          USING (k)
    )
    SELECT CAST(row AS INTEGER) AS row, row_estimate,
           CAST(MIN(row_estimate) OVER () AS BIGINT) AS cms_estimate,
           exact_pairs,
           CAST(CAST(CAST(MIN(row_estimate) OVER () AS DOUBLE)
                     / CAST(exact_pairs AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS over_ratio
    FROM per_row CROSS JOIN exact
    ORDER BY row
"""


SQL_CMS_JOIN_CARDINALITY = _build_sql_cms_join_cardinality()


# --- deterministic bootstrap standard error (round 9) ------------------------

BOOT_B = 8  # bootstrap replicas


def _boot_weight(b: int) -> F.Column:
    """Replica b's resampling weight for the current row: md5-seeded
    draw from {0, 1, 1, 2} (mean 1, variance 0.5 — the Poisson(1)
    bootstrap's first two moments, integer-exact and engine-portable)."""
    h = cms_cell_col(b, F.concat(F.lit("boot|"), F.col("key")), 4)
    return (
        F.when(h == 0, 0).when(h == 3, 2).otherwise(1).cast("long")
    )


def q_bootstrap_stderr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error of the mean order value — uncertainty
    quantification as a corpus operator: BOOT_B deterministic
    multiplier-bootstrap replicas (integer weights from the md5 cell
    scheme, the seeded-coin discipline) each yield a weighted mean;
    their spread is the standard error a report attaches to the point
    estimate. The md5 weights make the whole resampling plan
    reproducible AND oracle-checkable — no RNG state anywhere.

    Determinism: replica sums fold DECIMAL(38,6); each replica mean is
    one decimal-rounded division; the across-replica moments square
    those exact 1e-6-multiple means, round each square to decimal, and
    sum exactly — so the stderr is order-independent.

    Scale shape: ONE scan with 2·BOOT_B conditional aggregates (no
    row explosion — the weights are per-row expressions, so partial
    aggregation collapses everything map-side); the replica frame is
    BOOT_B rows; stderr is a window over it (tiny-frame class)."""
    from pyspark.sql import Window as W

    from .dedup import _parallel_scan

    # 2·BOOT_B md5-coin aggregates are pure scan-side compute; on a
    # single-row-group input layout the whole battery runs on ONE task
    # (r17 measurement: ~2 s single-threaded at sf0.1), so guard the
    # projected 2-column frame with the _parallel_scan contract — a
    # no-op metadata check whenever the scan already has splits.
    od = _parallel_scan(
        spark,
        load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("string").alias("key"),
            F.col("o_totalprice").alias("x"),
        ),
    )
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    agg = od.agg(
        *[
            F.sum(_boot_weight(b)).cast("long").alias(f"n{b}")
            for b in range(BOOT_B)
        ],
        *[
            d(_boot_weight(b).cast("double") * F.col("x")).alias(f"s{b}")
            for b in range(BOOT_B)
        ],
    )
    stack_args = ", ".join(f"{b}, n{b}, s{b}" for b in range(BOOT_B))
    reps = agg.select(
        F.expr(
            f"stack({BOOT_B}, {stack_args}) AS (replica, n_eff, wsum)"
        )
    ).select(
        F.col("replica").cast("int").alias("replica"),
        "n_eff",
        F.try_divide(F.col("wsum"), F.col("n_eff"))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("mean_b"),
    )
    wall = W.partitionBy()
    staged = (
        reps.withColumn(
            "sm",
            F.sum(F.col("mean_b").cast("decimal(38,6)")).over(wall)
            .cast("double"),
        )
        .withColumn(
            "smm",
            F.sum(
                (F.col("mean_b") * F.col("mean_b")).cast("decimal(38,6)")
            ).over(wall)
            .cast("double"),
        )
        .withColumn("nb", F.count(F.lit(1)).over(wall))
    )
    var = (
        F.col("smm") - F.col("sm") * F.col("sm") / F.col("nb")
    ) / (F.col("nb") - 1)
    stderr = F.when(var > F.lit(0.0), F.sqrt(var))
    return staged.select(
        "replica",
        "n_eff",
        "mean_b",
        stderr.cast("decimal(38,6)").cast("double").alias("boot_stderr"),
    ).orderBy("replica")


def _build_sql_bootstrap_stderr() -> str:
    def w(b: int) -> str:
        h = (
            f"((('0x' || substr(md5('{b}|' || 'boot|' || CAST(o_orderkey"
            f" AS VARCHAR)), 1, 15))::BIGINT) % 4)"
        )
        return f"(CASE WHEN {h} = 0 THEN 0 WHEN {h} = 3 THEN 2 ELSE 1 END)"

    aggs = ",\n            ".join(
        f"CAST(SUM({w(b)}) AS BIGINT) AS n{b},\n            "
        f"CAST(SUM(CAST(CAST({w(b)} AS DOUBLE) * o_totalprice"
        f" AS DECIMAL(38,6))) AS DOUBLE) AS s{b}"
        for b in range(BOOT_B)
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT {b} AS replica, n{b} AS n_eff, s{b} AS wsum FROM agg"
        for b in range(BOOT_B)
    )
    return f"""
    WITH agg AS (
        SELECT
            {aggs}
        FROM orders
    ), reps AS (
        {unions}
    ), means AS (
        SELECT CAST(replica AS INTEGER) AS replica, n_eff,
               CAST(CAST(CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE)
                    AS DECIMAL(38,6)) AS DOUBLE) AS mean_b
        FROM reps
    ), staged AS (
        SELECT replica, n_eff, mean_b,
               CAST(SUM(CAST(mean_b AS DECIMAL(38,6))) OVER ()
                    AS DOUBLE) AS sm,
               CAST(SUM(CAST(mean_b * mean_b AS DECIMAL(38,6))) OVER ()
                    AS DOUBLE) AS smm,
               COUNT(*) OVER () AS nb
        FROM means
    )
    SELECT replica, n_eff, mean_b,
           CASE WHEN (smm - sm * sm / nb) / (nb - 1) > 0.0
                THEN CAST(CAST(sqrt((smm - sm * sm / nb) / (nb - 1))
                     AS DECIMAL(38,6)) AS DOUBLE) END AS boot_stderr
    FROM staged
    ORDER BY replica
"""


SQL_BOOTSTRAP_STDERR = _build_sql_bootstrap_stderr()


# --- mergeable histogram quantiles with exact audit (round 9) ----------------

HIST_BINS = 32
HIST_PCTS = (50, 90, 99)


def value_bin_counts(ev: DataFrame, rng: DataFrame) -> DataFrame:
    """(event_type, bin, c) equal-width bin counters for a values frame
    against per-type (lo, hi) bounds — the SHARED mergeable-sketch core
    of q_histogram_quantiles and its streaming twin
    (streaming/pipelines.streaming_value_bins): one definition of the
    bin expression, so batch and stream cannot drift (the
    cms_counters delegation contract). Works identically on a
    streaming frame (the groupBy becomes an update-mode aggregate with
    |types|·HIST_BINS bounded state)."""
    return (
        ev.join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            F.when(
                F.col("hi") > F.col("lo"),
                F.least(
                    F.floor(
                        (F.col("x") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / F.lit(float(HIST_BINS)))
                    ),
                    F.lit(HIST_BINS - 1),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def events_nonnull_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared non-NULL (event_type, event_id, value) frame the
    rank-statistic event operators stage, memo-persisted under one key
    and built HERE only (the r15 ADVICE one-construction-site rule).
    q_histogram_quantiles consumes it twice (range/bin chain + the
    exact rank audit) and q_mad_outliers three times (median window,
    deviation frame, MAD window) with zero exchange reuse between them
    (r16 standing plan-audit gate: events scanned 4-5x per entry).
    The isNotNull filter and 3-column projection are applied BEFORE the
    persist, so the cache holds exactly the pruned value space both
    contracts pin (round-14 NULL-ordering class) — at any scale this is
    the staged audit table a production run materializes once."""
    return cached(
        spark,
        sf_dir,
        "events_nonnull_values",
        lambda: load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(F.col("value").isNotNull())
        .persist(),
    )


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width-histogram quantile estimation per event type, with
    its exact audit: the 32-bin counts are a MERGEABLE sketch (cell-wise
    addition across partitions / micro-batches — the CMS property for
    order statistics), the estimate interpolates inside the covering
    bin, and the report puts estimate, exact rank-definition quantile,
    and their absolute error side by side — approx_quantiles' rows-only
    sketch upgraded to an oracle-checkable, self-auditing operator.

    Determinism: bin indices come from one fixed double expression
    (identical division/floor both engines); interpolation is a fixed
    expression of exact int64 cumulative counts and the exact min/max,
    emitted as the RAW double (bit-identical both engines; a decimal
    round here HITS the .xxxxxx5 boundary by construction — the /32 bin
    width has a terminating 7-digit decimal expansion, the r8
    corpus_report class — so pass-through is the correct discipline);
    the exact quantile uses the explicit rank definition of
    length_percentiles (value at rank ceil(p/100·n) in (value,
    event_id) order).

    Scale shape: min/max and bin counts are two bounded aggregations
    (partial map-side); interpolation runs over the |types|·32-bin
    frame; ONLY the exact-audit rank window sorts within each type
    partition — the audit's standard cost (a production run audits a
    sample; the sketch path never sorts)."""
    from pyspark.sql import Window as W

    # the histogram and its exact rank audit both run on the non-null
    # value space (round-14 null-sweep class: NULLs bin to a null
    # group and shift the audit ranks differently per engine) — read
    # from the shared memo-persisted stage (r16 plan-audit gate)
    ev = events_nonnull_values(spark, sf_dir).select(
        "event_type",
        "event_id",
        F.col("value").cast("double").alias("x"),
    )
    rng = ev.groupBy("event_type").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = value_bin_counts(ev, rng)
    wb = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("c").over(wb)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )
    pcts = literal_df(spark, [(p,) for p in HIST_PCTS], "pct int")
    targets = rng.crossJoin(F.broadcast(pcts)).select(
        "event_type",
        "lo",
        "hi",
        "n",
        "pct",
        F.ceil(F.col("n") * F.col("pct") / F.lit(100.0))
        .cast("long")
        .alias("target"),
    )
    est = (
        targets.join(cum, "event_type")
        .filter(
            (F.col("cum_prev") < F.col("target"))
            & (F.col("target") <= F.col("cum"))
        )
        .select(
            "event_type",
            "pct",
            (
                F.col("lo")
                + ((F.col("hi") - F.col("lo")) / F.lit(float(HIST_BINS)))
                * (
                    F.col("bin").cast("double")
                    + (F.col("target") - F.col("cum_prev")).cast("double")
                    / F.col("c").cast("double")
                )
            ).alias("estimate"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("x", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(wr)).join(
        F.broadcast(targets.select("event_type", "pct", "target")),
        "event_type",
    )
    exact = (
        ranked.filter(F.col("rn") == F.col("target"))
        .select("event_type", "pct", F.col("x").alias("exact"))
    )
    return (
        est.join(exact, ["event_type", "pct"])
        .select(
            "event_type",
            "pct",
            "estimate",
            "exact",
            F.abs(F.col("estimate") - F.col("exact")).alias("abs_err"),
        )
        .orderBy("event_type", "pct")
    )


def _build_sql_histogram_quantiles() -> str:
    pcts_vals = ", ".join(f"({p})" for p in HIST_PCTS)
    return f"""
    WITH ev AS (
        SELECT event_type, event_id, CAST("value" AS DOUBLE) AS x
        FROM events
        WHERE "value" IS NOT NULL
    ), rng AS (
        SELECT event_type, MIN(x) AS lo, MAX(x) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ev GROUP BY event_type
    ), binned AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT ev.event_type,
                   CASE WHEN hi > lo THEN CAST(LEAST(
                       floor((x - lo) / ((hi - lo) / {float(HIST_BINS)!r})),
                       {HIST_BINS - 1}) AS INTEGER)
                   ELSE 0 END AS bin
            FROM ev JOIN rng USING (event_type)
        ) GROUP BY event_type, bin
    ), cum AS (
        SELECT event_type, bin, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) - c AS cum_prev
        FROM binned
    ), pcts(pct) AS (VALUES {pcts_vals}),
    targets AS (
        SELECT event_type, lo, hi, n, pct,
               CAST(CEIL(n * pct / 100.0) AS BIGINT) AS target
        FROM rng CROSS JOIN pcts
    ), est AS (
        SELECT t.event_type, t.pct,
               lo + ((hi - lo) / {float(HIST_BINS)!r})
                    * (CAST(bin AS DOUBLE)
                       + CAST(target - cum_prev AS DOUBLE)
                         / CAST(c AS DOUBLE)) AS estimate
        FROM targets t JOIN cum USING (event_type)
        WHERE cum_prev < target AND target <= cum
    ), ranked AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY x, event_id) AS rn
        FROM ev
    ), exact AS (
        SELECT t.event_type, t.pct, r.x AS exact
        FROM targets t JOIN ranked r
          ON r.event_type = t.event_type AND r.rn = t.target
    )
    SELECT est.event_type, CAST(est.pct AS INTEGER) AS pct,
           estimate, exact,
           abs(estimate - exact) AS abs_err
    FROM est JOIN exact USING (event_type, pct)
    ORDER BY event_type, pct
"""


SQL_HISTOGRAM_QUANTILES = _build_sql_histogram_quantiles()
