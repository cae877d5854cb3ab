"""Round-10 first-wave analytics operators: skyline (Pareto frontier),
Benford first-digit audit, closed-form OLS trend, classifier
calibration / ECE bins, and blocked entity resolution over part names.

These extend the engine the same way the round-7..9 tiers did — each is
a classic production analytics shape a reference-pipeline user would
reach for next, expressed as a declarative DataFrame plan with an exact
DuckDB oracle twin.

House determinism rules applied throughout (BASELINE.md / the
interval_merge + corpus_report lessons):
  * cross-row accumulation goes through DECIMAL or exact integers —
    never raw-double SUM/AVG;
  * libm calls (exp) are rounded to a fixed scale immediately, so a
    1-ulp cross-engine difference cannot propagate;
  * constants shared by both engines (Benford shares, the calibration
    weight vector) are Python-computed literals injected into BOTH the
    Spark plan and the oracle SQL — no query-time libm on constants;
  * every window rides a total order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..memo import cached
from ..tables import load_table
from .relational import dsum2_sql, dsum_sql
from .similarity import as_double, dot, sql_dot


# --- pareto_frontier ---------------------------------------------------------


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: within each p_type, the parts not dominated on
    (p_retailprice, p_size) — part q dominates p iff q is no worse on
    both dimensions and strictly better on at least one. The classic
    2-D skyline (Börzsönyi et al., ICDE 2001) without the O(n²)
    dominance self-join: sort by price, keep a row iff its size is the
    minimum at its price AND strictly below the running minimum size of
    all strictly-cheaper rows.

    Determinism: no floating arithmetic at all — prices and sizes are
    only COMPARED, never combined; the window rides the per-price
    grouped frame (one row per (type, price)), so ORDER BY price is a
    total order within the partition.

    Scale shape (100 TB): the grouped frame is |distinct (type,
    price)| rows; the running-min window partitions by p_type (each
    partition a single product family); the join back to part is a
    broadcast-or-SMJ equi join on (type, price). No pair blow-up
    anywhere — the sort-based skyline is O(n log n) where the naive
    dominance join is O(n²)."""
    part = (
        load_table(spark, sf_dir, "part")
        .select("p_type", "p_partkey", "p_name", "p_retailprice", "p_size")
        # a NULL price has no place on a price/size skyline, and the
        # running-min window would ORDER it differently across engines
        # (round-14 partial-NULL sweep class)
        .filter(F.col("p_retailprice").isNotNull())
    )
    grp = part.groupBy("p_type", "p_retailprice").agg(
        F.min("p_size").alias("grp_min_size")
    )
    w_prev = (
        W.partitionBy("p_type")
        .orderBy(F.col("p_retailprice").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    frontier_prices = grp.select(
        "p_type",
        "p_retailprice",
        "grp_min_size",
        F.min("grp_min_size").over(w_prev).alias("prev_min_size"),
    )
    return (
        part.join(frontier_prices, ["p_type", "p_retailprice"])
        .filter(
            (F.col("p_size") == F.col("grp_min_size"))
            & (
                F.col("prev_min_size").isNull()
                | (F.col("prev_min_size") > F.col("p_size"))
            )
        )
        .select("p_type", "p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_type", "p_retailprice", "p_size", "p_partkey")
    )


SQL_PARETO_FRONTIER = """
    WITH grp AS (
        SELECT p_type, p_retailprice, MIN(p_size) AS grp_min_size
        FROM part WHERE p_retailprice IS NOT NULL
        GROUP BY p_type, p_retailprice
    ), fp AS (
        SELECT p_type, p_retailprice, grp_min_size,
               MIN(grp_min_size) OVER (
                   PARTITION BY p_type ORDER BY p_retailprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_min_size
        FROM grp
    )
    SELECT p.p_type, p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p JOIN fp USING (p_type, p_retailprice)
    WHERE p.p_size = fp.grp_min_size
      AND (fp.prev_min_size IS NULL OR fp.prev_min_size > p.p_size)
    ORDER BY p_type, p_retailprice, p_size, p_partkey
"""


# --- benford_digits ----------------------------------------------------------

# Benford's-law expected first-digit shares log10(1 + 1/d), computed ONCE
# in Python and injected as full-precision literals into both engines —
# no query-time log10, so no cross-libm hazard.
BENFORD_SHARES: dict[int, float] = {
    d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of o_totalprice —
    the classic forensic-accounting / data-quality screen: per digit
    1..9, the observed count, observed share, Benford expected share,
    and the chi-square contribution (n_d − N·e_d)² / (N·e_d).

    Determinism: the first digit is extracted from the DECIMAL(18,2)
    string rendering (pure string op — no log10/floor on doubles);
    counts are exact integers; shares are single exact-integer
    divisions; expected shares are shared Python literals; each
    chi-square term is ONE double expression per output row — there is
    no cross-row double sum anywhere.

    Scale shape (100 TB): one map-side-combinable groupBy on a 9-value
    key; the total-count frame is a 1-row broadcast. Output is ≤ 9
    rows regardless of input size."""
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        "[1-9]",
        0,
    )
    counts = (
        load_table(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .filter(F.col("digit") != "")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("n_total"))
    exp_share = F.element_at(
        F.create_map(
            *[
                x
                for d, e in sorted(BENFORD_SHARES.items())
                for x in (F.lit(str(d)), F.lit(e))
            ]
        ),
        F.col("digit"),
    )
    expected_n = F.col("exp_share") * F.col("n_total").cast("double")
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("exp_share", exp_share)
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n",
            (
                F.col("n").cast("double")
                / F.col("n_total").cast("double")
            ).alias("obs_share"),
            "exp_share",
            (
                (F.col("n").cast("double") - expected_n)
                * (F.col("n").cast("double") - expected_n)
                / expected_n
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN {e!r}" for d, e in sorted(BENFORD_SHARES.items())
) + " END"

SQL_BENFORD_DIGITS = f"""
    WITH counts AS (
        SELECT regexp_extract(
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   '[1-9]', 0) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE regexp_extract(
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                  '[1-9]', 0) <> ''
        GROUP BY 1
    ), total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts),
    shares AS (
        SELECT digit, n, n_total, {_BENFORD_CASE} AS exp_share
        FROM counts CROSS JOIN total
    )
    SELECT CAST(digit AS INTEGER) AS digit, n,
           CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
           exp_share,
           (CAST(n AS DOUBLE) - exp_share * CAST(n_total AS DOUBLE))
           * (CAST(n AS DOUBLE) - exp_share * CAST(n_total AS DOUBLE))
           / (exp_share * CAST(n_total AS DOUBLE)) AS chi2_term
    FROM shares
    ORDER BY digit
"""


# --- ols_trend ---------------------------------------------------------------


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS revenue trend per market segment: regress
    monthly order revenue on the month index (year*12 + month-1) and
    report slope ($/month), intercept, and R² from the normal
    equations — the textbook single-feature regression every BI stack
    ships, computed as one aggregate (no iterative solver).

    Determinism: monthly revenue enters the first moments (Σy, Σxy →
    slope/intercept) at WHOLE-DOLLAR grain, HALF_UP-rounded
    identically on the two engines; the R² second moment is built
    from CENTERED kilo-dollar deviations (dyk = HALF_UP-rounded
    (yd − ȳ)/1000 with ȳ the integer-dollar segment mean). The grains
    are chosen so every integer that gets cast to double stays under
    2^53 AT ITS OWN CONTRACT SF — slope/intercept moments through
    sf100, the centered R² second moment AND ȳ's HALF_UP numerator
    (2·Σyd + n, implicitly DOUBLE-divided in the oracle) through sf15
    (both enforced in tests/test_round12_ops.py; the ȳ numerator
    alone would cross 2^53 near sf50) — where int→double conversion
    is exact on both engines: the
    round-12 sf1.0 sweep caught the micro-dollar num moment (−1.8e18)
    mis-rounding in DuckDB — negative HUGEINT→DOUBLE is 1-ulp-off for
    ~0.75% of >2^53 values (probed; positives and BIGINT are correct
    — BASELINE.md round-12 note). Dollar-grain keeps the
    slope/intercept moments < 2^53 through sf100 (enforced; the worst
    segment's sxyd crosses near sf700 — kilo-escalate past that).
    Centering is what makes R² sf-robust: RAW Σy² grows as SF² and
    its kilo-grain cast crossed 2^53 near sf2, while centered
    deviations track only the month-to-month SPREAD (~30% of the
    level here), keeping Σdyk² castable through ~sf20 — enforced at
    sf15 in tests/test_round12_ops.py (mega-escalate past that;
    micro-grain squares additionally overflow DECIMAL(38,0) past
    ~$10T/cell — r10 ADVICE). All sums are exact integer arithmetic;
    slope/intercept/R² are single double expressions over those exact
    sub-2^53 values with identical shapes on both engines.

    Scale shape (100 TB): orders joins customer on custkey
    (co-partitioned SMJ under AQE); the month-grain rollup is
    map-side-combinable down to |segments| × |months| rows; the OLS
    aggregate then runs on that tiny frame. Nothing downstream of the
    first aggregate scales with row count."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).alias("mon_idx"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    monthly = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment", "mon_idx")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("ysum")
        )
        .select(
            "c_mktsegment",
            "mon_idx",
            F.round("ysum", 0).cast("decimal(38,0)").alias("yd"),
        )
    )
    sums = monthly.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("mon_idx").cast("long").alias("sx"),
        F.sum(F.col("mon_idx") * F.col("mon_idx")).cast("long").alias("sxx"),
        F.sum("yd").cast("decimal(38,0)").alias("syd"),
        F.sum(F.col("yd") * F.col("mon_idx"))
        .cast("decimal(38,0)")
        .alias("sxyd"),
        # integer-dollar segment mean, HALF_UP: the centering anchor
        # for the R² second moment (syd/n stays far from .5 boundaries
        # except exact multiples, which both engines divide exactly)
        F.floor(
            (F.sum("yd") * F.lit(2) + F.count(F.lit(1)))
            / (F.lit(2) * F.count(F.lit(1)))
        )
        .cast("decimal(38,0)")
        .alias("ybar"),
    )
    # R² second moment from CENTERED kilo-dollar deviations — the
    # sf-robust form: raw Σy² grows as SF² and its kilo-grain cast
    # crossed 2^53 near sf2, while centered deviations track the
    # month-to-month spread, keeping Σdyk² castable through ~sf30
    # (enforced in tests/test_round12_ops.py). The join-back is a
    # |segments|-row broadcast onto the bounded monthly frame.
    cent = monthly.join(
        F.broadcast(sums.select("c_mktsegment", "ybar")), "c_mktsegment"
    ).select(
        "c_mktsegment",
        F.floor(
            (F.col("yd") - F.col("ybar") + F.lit(500)) / F.lit(1000)
        )
        .cast("decimal(38,0)")
        .alias("dyk"),
    )
    syy = cent.groupBy("c_mktsegment").agg(
        F.sum(F.col("dyk") * F.col("dyk"))
        .cast("decimal(38,0)")
        .alias("syyk_c")
    )
    num_d = (
        F.col("n_months") * F.col("sxyd") - F.col("sx") * F.col("syd")
    ).cast("double")
    den = (
        F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    slope_d = num_d / den
    # r2 = Sxy_c² / (Sxx_c·Syy_c) with Sxy_c = num_d/n, Sxx_c = den/n,
    # Syy_c ≈ syyk_c·1e6 — one fixed double expression of exact
    # sub-2^53 integers, identical shape in the oracle
    return (
        sums.join(syy, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_months",
            slope_d.alias("slope"),
            (
                (
                    F.col("syd").cast("double")
                    - slope_d * F.col("sx").cast("double")
                )
                / F.col("n_months").cast("double")
            ).alias("intercept"),
            (
                num_d
                * num_d
                / (
                    F.col("n_months").cast("double")
                    * den
                    * F.col("syyk_c").cast("double")
                    * F.lit(1000000.0)
                )
            ).alias("r2"),
        )
        .orderBy("c_mktsegment")
    )


SQL_OLS_TREND = """
    WITH monthly0 AS (
        SELECT c_mktsegment,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mon_idx,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS ysum
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), monthly AS (
        SELECT c_mktsegment, mon_idx,
               CAST(ROUND(ysum, 0) AS HUGEINT) AS yd
        FROM monthly0
    ), sums AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(mon_idx) AS BIGINT) AS sx,
               CAST(SUM(mon_idx * mon_idx) AS BIGINT) AS sxx,
               SUM(yd) AS syd,
               SUM(yd * mon_idx) AS sxyd,
               CAST(FLOOR((SUM(yd) * 2 + COUNT(*))
                          / (2 * COUNT(*))) AS HUGEINT) AS ybar
        FROM monthly GROUP BY 1
    ), cent AS (
        SELECT m.c_mktsegment,
               CAST(FLOOR((m.yd - s.ybar + 500) / 1000) AS HUGEINT) AS dyk
        FROM monthly m JOIN sums s USING (c_mktsegment)
    ), syy AS (
        SELECT c_mktsegment, SUM(dyk * dyk) AS syyk_c
        FROM cent GROUP BY 1
    )
    SELECT s.c_mktsegment, s.n_months,
           CAST(n_months * sxyd - sx * syd AS DOUBLE)
           / CAST(n_months * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(syd AS DOUBLE)
            - (CAST(n_months * sxyd - sx * syd AS DOUBLE)
               / CAST(n_months * sxx - sx * sx AS DOUBLE))
              * CAST(sx AS DOUBLE))
           / CAST(n_months AS DOUBLE) AS intercept,
           CAST(n_months * sxyd - sx * syd AS DOUBLE)
           * CAST(n_months * sxyd - sx * syd AS DOUBLE)
           / (CAST(n_months AS DOUBLE)
              * CAST(n_months * sxx - sx * sx AS DOUBLE)
              * CAST(syyk_c AS DOUBLE)
              * 1000000.0) AS r2
    FROM sums s JOIN syy USING (c_mktsegment)
    ORDER BY s.c_mktsegment
"""


# --- calibration_bins --------------------------------------------------------

# Deterministic 64-dim probe weights, shared by both engines as
# literals (same no-query-time-constant-math rule as BENFORD_SHARES).
CALIB_DIM = 64
CALIB_WEIGHTS: list[float] = [
    ((i * 37) % 21 - 10) / 10.0 for i in range(CALIB_DIM)
]
CALIB_BINS = 10


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE contributions for a linear probe over
    the embedding table: score each vector with a fixed logistic probe
    sigmoid(w·x), label y = label % 2, bin scores into 10 equal-width
    confidence bins, and report per bin the count, mean confidence,
    empirical accuracy, and the bin's weighted ECE contribution
    (n_b/N)·|acc_b − conf_b| — the standard expected-calibration-error
    decomposition (Guo et al., ICML 2017), which auc_report (ranking
    quality) deliberately cannot see.

    Determinism: the dot product is the bit-identical left-fold shared
    with the similarity tier (similarity.dot / sql_dot); sigmoid is the
    single libm call and is ROUNDed to 6dp immediately (the tfidf
    ln-rounding contract), so a 1-ulp exp() divergence cannot move a
    bin or a sum; confidence sums go through DECIMAL(38,6) over
    exact-6dp values and are re-rounded to scale 4 before the double
    cast (the decayed_revenue 2^53 rule: once a 1e-6-unit integer
    magnitude passes 2^53, DuckDB's int128→double path double-rounds
    where Spark single-rounds — r10 ADVICE); accuracy is an exact
    integer division.

    Scale shape (100 TB): one narrow projection per vector (a 64-wide
    fold, JVM-side codegen), a map-side-combinable groupBy on a 10-value
    key, and a 1-row broadcast total. Output is ≤ 10 rows."""
    wts = F.array(*[F.lit(w) for w in CALIB_WEIGHTS])
    z = dot(as_double(F.col("embedding")), wts)
    s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = load_table(spark, sf_dir, "embeddings").select(
        s.alias("s"),
        (F.col("label") % 2).cast("long").alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("s") * CALIB_BINS).cast("int"),
            F.lit(CALIB_BINS - 1),
        ).alias("bin"),
        "s",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum(F.col("s").cast("decimal(38,6)")), 4)
        .cast("double")
        .alias("s_sum"),
    )
    total = per_bin.agg(F.sum("n").cast("long").alias("n_total"))
    conf = F.col("s_sum") / F.col("n").cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            conf.alias("conf"),
            acc.alias("acc"),
            (
                F.col("n").cast("double")
                / F.col("n_total").cast("double")
                * F.abs(acc - conf)
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


_CALIB_WLIST = "[" + ", ".join(repr(w) for w in CALIB_WEIGHTS) + "]"

SQL_CALIBRATION_BINS = f"""
    WITH scored AS (
        SELECT round(1.0 / (1.0 + exp(
                   -{sql_dot('list_transform(embedding, e -> CAST(e AS DOUBLE))', _CALIB_WLIST)}
               )), 6) AS s,
               CAST(label % 2 AS BIGINT) AS y
        FROM embeddings
    ), binned AS (
        SELECT LEAST(CAST(FLOOR(s * {CALIB_BINS}) AS INTEGER),
                     {CALIB_BINS - 1}) AS bin, s, y
        FROM scored
    ), per_bin AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,6))), 4) AS DOUBLE)
                   AS s_sum
        FROM binned GROUP BY bin
    ), total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per_bin)
    SELECT bin, n,
           s_sum / CAST(n AS DOUBLE) AS conf,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
           CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
           * ABS(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                 - s_sum / CAST(n AS DOUBLE)) AS ece_term
    FROM per_bin CROSS JOIN total
    ORDER BY bin
"""


# --- er_part_names -----------------------------------------------------------

ER_SIM_THRESHOLD = 0.5


def q_er_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over the part catalog: candidate pairs
    of DISTINCT part names sharing a blocking key (the last name token
    — the product noun), scored by normalized Levenshtein similarity
    1 − lev/max(len), kept at ≥ 0.5 — the textbook blocking + edit-
    distance ER pipeline (Fellegi-Sunter style candidate generation),
    with per-name part counts carried through so a reviewer sees the
    match's data mass.

    Determinism: Levenshtein is the classic DP distance with identical
    semantics on both engines; lengths and counts are exact integers;
    the similarity is one double division per row.

    Scale shape (100 TB): the exact-dup collapse BEFORE blocking
    (dedup_lines_near's lesson) reduces the pair space from |parts|² to
    |distinct names|² — name vocabulary is bounded (modifier × noun),
    so blocks are small and the within-block join is |block|² over a
    frame that no longer scales with the table; counts re-attach as a
    pre-aggregated frame, never the raw table."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .select(
            "p_name",
            "n_parts",
            F.regexp_extract(F.col("p_name"), "[^ ]+$", 0).alias("block"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "block",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "block",
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    sim = F.lit(1.0) - lev.cast("double") / F.greatest(
        F.length("name_a"), F.length("name_b")
    ).cast("double")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "block",
            "name_a",
            "name_b",
            "n_a",
            "n_b",
            lev.cast("int").alias("lev"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= ER_SIM_THRESHOLD)
        .orderBy("block", "name_a", "name_b")
    )


SQL_ER_PART_NAMES = f"""
    WITH names AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
               regexp_extract(p_name, '[^ ]+$', 0) AS block
        FROM part GROUP BY p_name
    )
    SELECT a.block AS block,
           a.p_name AS name_a, b.p_name AS name_b,
           a.n_parts AS n_a, b.n_parts AS n_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev,
           1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                 / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name))
                        AS DOUBLE) AS sim
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE 1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
          / CAST(GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)) AS DOUBLE)
          >= {ER_SIM_THRESHOLD}
    ORDER BY block, name_a, name_b
"""


# --- target_encode (round-10 second wave) -------------------------------------

TE_SMOOTHING_M = 50.0  # m-estimate pseudo-observations, shared literal


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (m-estimate) target encoding of the nation categorical
    against the binary target "account in credit" (c_acctbal > 0) — the
    standard leakage-safe categorical encoder for tabular ML:
    encoded = (n_pos + M·prior) / (n + M), shrinking small categories
    toward the global prior (Micci-Barreca, SIGKDD Expl. 2001).

    Determinism: counts are exact integers; prior, raw rate, and the
    encoded value are single double expressions over those integers
    with the shared literal M — identical trees on both engines.

    Scale shape (100 TB): one map-side-combinable groupBy on the
    category key plus a 1-row broadcast global; nothing scales past
    the first aggregate."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.col("c_acctbal") > 0).cast("long").alias("y"),
    )
    per_cat = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    glob = per_cat.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("n_pos").cast("long").alias("pos_tot"),
    )
    prior = F.col("pos_tot").cast("double") / F.col("n_tot").cast("double")
    return (
        per_cat.crossJoin(F.broadcast(glob))
        .select(
            "c_nationkey",
            "n",
            "n_pos",
            (
                F.col("n_pos").cast("double") / F.col("n").cast("double")
            ).alias("raw_rate"),
            prior.alias("prior"),
            (
                (
                    F.col("n_pos").cast("double")
                    + F.lit(TE_SMOOTHING_M) * prior
                )
                / (F.col("n").cast("double") + F.lit(TE_SMOOTHING_M))
            ).alias("encoded"),
        )
        .orderBy("c_nationkey")
    )


SQL_TARGET_ENCODE = f"""
    WITH per_cat AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos
        FROM customer GROUP BY c_nationkey
    ), gtot AS (
        -- 'glob' is a DuckDB table function and unusable as a CTE name
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(n_pos) AS BIGINT) AS pos_tot
        FROM per_cat
    )
    SELECT c_nationkey, n, n_pos,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
           CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS prior,
           (CAST(n_pos AS DOUBLE)
            + {TE_SMOOTHING_M!r} * (CAST(pos_tot AS DOUBLE)
                                    / CAST(n_tot AS DOUBLE)))
           / (CAST(n AS DOUBLE) + {TE_SMOOTHING_M!r}) AS encoded
    FROM per_cat CROSS JOIN gtot
    ORDER BY c_nationkey
"""


# --- woe_iv (round-10 second wave) --------------------------------------------

WOE_BINS = 10


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value scorecard binning: within
    each market segment, decile-bin customers by account balance
    (NTILE over the (acctbal, custkey) total order) against the binary
    outcome "customer has at least one order", and report per bin the
    good/bad counts, class distributions, the 0.5-smoothed WOE
    ln(((n_good+0.5)/G) / ((n_bad+0.5)/B)), and the IV contribution
    (dist_good − dist_bad)·WOE — the classic credit-scoring feature
    screen (Siddiqi, Credit Risk Scorecards).

    Determinism: the NTILE rides a total order (the interval_merge
    lesson) and its equal-fill arithmetic is engine-identical; counts
    are exact ints; the WOE argument is ONE double expression over
    exact ints + the 0.5 literal, and the ln round-trips through
    DECIMAL(38,6) (lm_score's libm-ulp contract); degenerate segments
    (no goods or no bads) yield NULL woe/iv rather than ±inf.

    Scale shape (100 TB): the binning window partitions by segment and
    sorts the customer DIMENSION (never facts); good/bad flags come
    from a pre-aggregated distinct-buyer frame (orders collapses to
    |customers| keys before the join); everything after the window is
    |segments|×10 rows."""
    buyers = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("is_good", F.lit(1).cast("long"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .join(buyers, "c_custkey", "left")
        .select(
            "c_mktsegment",
            "c_acctbal",
            "c_custkey",
            F.coalesce(F.col("is_good"), F.lit(0)).alias("g"),
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    binned = cust.select(
        "c_mktsegment", "g", F.ntile(WOE_BINS).over(w).alias("bin")
    )
    per_bin = binned.groupBy("c_mktsegment", "bin").agg(
        F.sum("g").cast("long").alias("n_good"),
        F.sum(F.lit(1) - F.col("g")).cast("long").alias("n_bad"),
    )
    w_seg = W.partitionBy("c_mktsegment")
    seg = per_bin.select(
        "c_mktsegment",
        "bin",
        "n_good",
        "n_bad",
        F.sum("n_good").over(w_seg).alias("g_tot"),
        F.sum("n_bad").over(w_seg).alias("b_tot"),
    )
    # try_divide, not `/`: ANSI mode crashes on a degenerate segment
    # (all goods or all bads → a zero denominator); NULL matches the
    # oracle's CASE guards and propagates into woe/iv_term identically
    dist_g = F.try_divide(
        F.col("n_good").cast("double"), F.col("g_tot").cast("double")
    )
    dist_b = F.try_divide(
        F.col("n_bad").cast("double"), F.col("b_tot").cast("double")
    )
    woe_arg = (
        (F.col("n_good").cast("double") + F.lit(0.5))
        * F.col("b_tot").cast("double")
    ) / (
        (F.col("n_bad").cast("double") + F.lit(0.5))
        * F.col("g_tot").cast("double")
    )
    woe = F.when(
        (F.col("g_tot") > 0) & (F.col("b_tot") > 0),
        F.log(woe_arg).cast("decimal(38,6)").cast("double"),
    )
    return (
        seg.select(
            "c_mktsegment",
            "bin",
            "n_good",
            "n_bad",
            dist_g.alias("dist_good"),
            dist_b.alias("dist_bad"),
            woe.alias("woe"),
            ((dist_g - dist_b) * woe).alias("iv_term"),
        )
        .orderBy("c_mktsegment", "bin")
    )


SQL_WOE_IV = f"""
    WITH buyers AS (
        SELECT DISTINCT o_custkey AS c_custkey, 1 AS is_good FROM orders
    ), cust AS (
        SELECT c.c_mktsegment, c.c_acctbal, c.c_custkey,
               COALESCE(b.is_good, 0) AS g
        FROM customer c LEFT JOIN buyers b USING (c_custkey)
    ), binned AS (
        SELECT c_mktsegment, g,
               NTILE({WOE_BINS}) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey
               ) AS bin
        FROM cust
    ), per_bin AS (
        SELECT c_mktsegment, bin,
               CAST(SUM(g) AS BIGINT) AS n_good,
               CAST(SUM(1 - g) AS BIGINT) AS n_bad
        FROM binned GROUP BY 1, 2
    ), seg AS (
        SELECT c_mktsegment, bin, n_good, n_bad,
               SUM(n_good) OVER (PARTITION BY c_mktsegment) AS g_tot,
               SUM(n_bad) OVER (PARTITION BY c_mktsegment) AS b_tot
        FROM per_bin
    )
    SELECT c_mktsegment, bin, n_good, n_bad,
           CAST(n_good AS DOUBLE) / CAST(g_tot AS DOUBLE) AS dist_good,
           CAST(n_bad AS DOUBLE) / CAST(b_tot AS DOUBLE) AS dist_bad,
           CASE WHEN g_tot > 0 AND b_tot > 0 THEN
               CAST(CAST(ln(
                   ((CAST(n_good AS DOUBLE) + 0.5) * CAST(b_tot AS DOUBLE))
                   / ((CAST(n_bad AS DOUBLE) + 0.5) * CAST(g_tot AS DOUBLE))
               ) AS DECIMAL(38,6)) AS DOUBLE)
           END AS woe,
           (CAST(n_good AS DOUBLE) / CAST(g_tot AS DOUBLE)
            - CAST(n_bad AS DOUBLE) / CAST(b_tot AS DOUBLE))
           * (CASE WHEN g_tot > 0 AND b_tot > 0 THEN
               CAST(CAST(ln(
                   ((CAST(n_good AS DOUBLE) + 0.5) * CAST(b_tot AS DOUBLE))
                   / ((CAST(n_bad AS DOUBLE) + 0.5) * CAST(g_tot AS DOUBLE))
               ) AS DECIMAL(38,6)) AS DOUBLE)
           END) AS iv_term
    FROM seg
    ORDER BY c_mktsegment, bin
"""


# --- mad_outliers (round-10 second wave) --------------------------------------

MAD_SCALE = 1.4826  # consistency constant for normal data, shared literal
MAD_Z = 3.0


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median and MAD (median
    absolute deviation) of `value` by the EXPLICIT exact rank
    definition (value at rank ceil(n/2) under a (metric, event_id)
    total order — engine quantile interpolation rules differ, this is
    integer-exact and identical everywhere, the length_percentiles
    contract), then flag rows with |x − med| > 3·1.4826·MAD — the
    Hampel identifier that a mean/stddev z-score cannot match on
    heavy-tailed data (Leys et al., JESP 2013).

    Determinism: both medians are values picked by exact integer rank;
    absolute deviations are single double expressions; the outlier
    comparison uses the shared MAD_SCALE/MAD_Z literals; counts are
    exact ints and the rate one exact division.

    Scale shape (100 TB): two rank windows partitioned by event_type
    (the standard cost of exact per-group medians — a petabyte run
    subsamples per group first, which changes none of this plan); the
    per-type median/MAD frames are |types| rows and broadcast back;
    the final aggregate is map-side-combinable."""
    # rank-statistic semantics skip NULLs; without this the rank
    # window includes them and the ENGINES ORDER THEM DIFFERENTLY
    # (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) — round-14
    # partial-NULL sweep class. The frame reads the shared memo stage
    # in sketches.py (r16 plan-audit gate: consumed 3x here with zero
    # exchange reuse — events scanned 4x)
    from .sketches import events_nonnull_values

    ev = events_nonnull_values(spark, sf_dir)
    w_rank = W.partitionBy("event_type").orderBy("value", "event_id")
    w_type = W.partitionBy("event_type")
    med_tbl = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_type).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n") / F.lit(2.0)))
        .select("event_type", F.col("value").alias("med"))
    )
    dev = ev.join(F.broadcast(med_tbl), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
        "med",
    )
    w_rank2 = W.partitionBy("event_type").orderBy("adev", "event_id")
    mad_tbl = (
        dev.select(
            "event_type",
            "adev",
            F.row_number().over(w_rank2).alias("rn"),
            F.count(F.lit(1)).over(w_type).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n") / F.lit(2.0)))
        .select("event_type", F.col("adev").alias("mad"))
    )
    flagged = dev.join(F.broadcast(mad_tbl), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("med").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                (
                    F.col("adev")
                    > F.lit(MAD_Z) * F.lit(MAD_SCALE) * F.col("mad")
                ).cast("long")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate",
            F.col("n_outliers").cast("double") / F.col("n").cast("double"),
        )
        .orderBy("event_type")
    )


SQL_MAD_OUTLIERS = f"""
    WITH ranked AS (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE value IS NOT NULL
    ), med_tbl AS (
        SELECT event_type, value AS med FROM ranked
        WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    ), dev AS (
        SELECT e.event_type, e.event_id,
               ABS(e.value - m.med) AS adev, m.med
        FROM events e JOIN med_tbl m USING (event_type)
        WHERE e.value IS NOT NULL
    ), ranked2 AS (
        SELECT event_type, adev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY adev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ), mad_tbl AS (
        SELECT event_type, adev AS mad FROM ranked2
        WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(d.med) AS median,
           MAX(t.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > {MAD_Z!r} * {MAD_SCALE!r} * t.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.adev > {MAD_Z!r} * {MAD_SCALE!r} * t.mad
                         THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS outlier_rate
    FROM dev d JOIN mad_tbl t USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
"""


# --- copurchase_triangles (round-10 second wave) -------------------------------

# round 17: the threshold lives next to the shared pair-support memo in
# relational2.py (single construction site); re-exported here for the
# oracle SQL f-string below
from .relational2 import TRI_MIN_SUPPORT


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: nodes are parts, an
    (undirected) edge joins two parts co-occurring in >= 2 orders, and
    the report is the one-row graph summary — nodes, edges, wedges
    (Σ d(d−1)/2), triangles, and the global clustering coefficient
    3·T/W — the standard graph-health readout (triangle counting via
    the oriented edge-edge-edge join, Schank & Wagner 2005).

    Determinism: everything except the final coefficient is exact
    integer counting; the coefficient is one double division.

    Scale shape (100 TB): the (order, part) frame collapses to
    DISTINCT before the self-join (the dedup-before-pairing rule); the
    per-order pair fan-out is Σ k_o² over basket sizes (bounded by the
    largest basket, not the table); the support filter then prunes the
    edge set by ~340× (measured sf0.1: 1.2M raw pairs → 3.6k edges),
    so the triangle join runs on a broadcast-size frame — the support
    threshold IS the blow-up guard, and a production run raises it (or
    degree-orients the join) as the graph densifies.

    The pruned EDGE frame is memo-persisted (round 15): it feeds SIX
    consumers (the degree union's two legs, the edge count, and the
    three triangle-join sides), and Spark reuses none of the exchanges
    across them — plan-verified 0 ReusedExchange with lineitem scanned
    TWELVE times (6 consumers x the self-join's 2 scans), i.e. the
    1.2M-pair support join recomputed six times to re-derive a ~3.6k-
    row frame. Materializing it once is the write-once edge-list table
    any production triangle count reads."""
    from .relational2 import basket_pair_support

    # round 17: the Σ_orders k²/2 pair self-join + support aggregation
    # is built ONCE in relational2.basket_pair_support (shared with
    # q_basket_lift — r15 ADVICE: a single construction site so the two
    # consumers cannot drift); the pruned edge list is still its own
    # memo because SIX consumers below read it
    edges = cached(
        spark,
        sf_dir,
        "copurchase_edges",
        lambda: basket_pair_support(spark, sf_dir)
        .filter(F.col("support") >= F.lit(TRI_MIN_SUPPORT))
        .select("pa", "pb")
        .persist(),
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / F.lit(2))
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("clustering_coef"),
        )
    )


SQL_COPURCHASE_TRIANGLES = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT a.p AS pa, b.p AS pb
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT pa AS node FROM edges
            UNION ALL SELECT pb AS node FROM edges
        ) GROUP BY node
    ), wedges AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ), ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.pb = e2.pa
        JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0 THEN
               3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
           END AS clustering_coef
    FROM wedges CROSS JOIN ne CROSS JOIN tri
"""


# --- chi2_independence (round-10 fourth wave) -----------------------------------


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan of market segment × order priority:
    the full contingency table with observed counts, margins, expected
    counts under independence (row·col/N), each cell's chi-square
    contribution, and the standardized Pearson residual
    (obs − exp)/sqrt(exp) — the per-cell decomposition an analyst
    reads to see WHERE the association lives, not just that it exists.

    Determinism: all counts and margins are exact integers (margins by
    two map-side-combinable re-aggregations of the cell frame, never a
    second scan); expected/chi2/residual are single double expressions
    per output row over those integers — no cross-row double sum (the
    benford_digits contract; a total chi-square is the reader's
    one-line fold over the ≤ |segments|×|priorities| rows).

    Scale shape (100 TB): one orders scan joins the customer dimension
    on custkey (AQE SMJ), collapses to the cell frame map-side; both
    margin frames and the 1-row total derive FROM the cell frame and
    broadcast back."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    cells = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    row_m = cells.groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("row_tot")
    )
    col_m = cells.groupBy("o_orderpriority").agg(
        F.sum("n").cast("long").alias("col_tot")
    )
    total = cells.agg(F.sum("n").cast("long").alias("n_total"))
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n_total").cast("double")
    )
    diff = F.col("n").cast("double") - expected
    return (
        cells.join(F.broadcast(row_m), "c_mktsegment")
        .join(F.broadcast(col_m), "o_orderpriority")
        .crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            "o_orderpriority",
            "n",
            "row_tot",
            "col_tot",
            expected.alias("expected"),
            (diff * diff / expected).alias("chi2_term"),
            (diff / F.sqrt(expected)).alias("std_residual"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


SQL_CHI2_INDEPENDENCE = """
    WITH cells AS (
        SELECT c_mktsegment, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), row_m AS (
        SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS row_tot
        FROM cells GROUP BY 1
    ), col_m AS (
        SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS col_tot
        FROM cells GROUP BY 1
    ), total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells)
    SELECT c.c_mktsegment, c.o_orderpriority, c.n, row_tot, col_tot,
           CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS expected,
           (CAST(n AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n_total AS DOUBLE))
           * (CAST(n AS DOUBLE)
              - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(n_total AS DOUBLE))
           / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n_total AS DOUBLE)) AS chi2_term,
           (CAST(n AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n_total AS DOUBLE))
           / SQRT(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(n_total AS DOUBLE)) AS std_residual
    FROM cells c
    JOIN row_m USING (c_mktsegment)
    JOIN col_m USING (o_orderpriority)
    CROSS JOIN total
    ORDER BY c_mktsegment, o_orderpriority
"""


# --- winsorized_stats (round-10 sixth wave) --------------------------------------

WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location report per market segment over order totals:
    the raw mean beside the 5/95 winsorized mean (tails CLAMPED to the
    cutoff values) and the 5/95 trimmed mean (tails DROPPED) — the
    outlier-resistant pair every reporting layer puts next to a mean
    that one fat-finger order can move (Tukey; the mad_outliers
    complement at aggregate grain). Cutoffs use the EXPLICIT exact
    rank definition (value at rank ceil(p/100·n) under a
    (value, orderkey) total order — the length_percentiles contract);
    trimmed keeps ranks in (lo_rank, hi_rank].

    Determinism: ranks and counts are exact integers; every mean is a
    DECIMAL(38,6) sum over exact-2dp values (clamped values are one of
    the original values, so still on the grid) divided once.

    Scale shape (100 TB): orders joins the customer dimension on
    custkey, then ONE rank window partitioned by segment (the standard
    exact-percentile cost; a petabyte run subsamples per group first);
    cutoffs ride the same frame via a max-over-flag aggregate — no
    second scan, no join back."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        # rank-statistic semantics skip NULLs (engines order them
        # differently in the rank window — round-14 null-sweep class)
        .filter(F.col("o_totalprice").isNotNull())
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w_rank = W.partitionBy("c_mktsegment").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w_seg = W.partitionBy("c_mktsegment")
    ranked = (
        orders.join(cust, "o_custkey")
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_seg))
    )
    lo_rank = F.ceil(F.col("n") * F.lit(WINSOR_LO_PCT) / F.lit(100.0))
    hi_rank = F.ceil(F.col("n") * F.lit(WINSOR_HI_PCT) / F.lit(100.0))
    flagged = ranked.select(
        "c_mktsegment",
        "o_totalprice",
        "rn",
        "n",
        F.when(F.col("rn") == lo_rank, F.col("o_totalprice")).alias("lo_v"),
        F.when(F.col("rn") == hi_rank, F.col("o_totalprice")).alias("hi_v"),
        ((F.col("rn") > lo_rank) & (F.col("rn") <= hi_rank)).alias("inner"),
    )
    cuts = flagged.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_seg"),
        F.max("lo_v").alias("lo_cut"),
        F.max("hi_v").alias("hi_cut"),
    )
    joined = flagged.join(F.broadcast(cuts), "c_mktsegment")
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo_cut")), F.col("hi_cut")
    )
    # dsum2, not dsum (round 13): per-segment revenue sums reach
    # ~7.5e11 at sf10 — past dsum's scale-6 2^53 line — and the sf10
    # parity sweep measured the resulting 1-ulp mean splits live. The
    # inputs are exact 2dp, so the scale-2 re-round is lossless and
    # the ceiling moves to ~9e13 (relational.dsum2 docstring).
    from .relational import dsum2

    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.max("n_seg").cast("long").alias("n"),
            F.max("lo_cut").alias("lo_cut"),
            F.max("hi_cut").alias("hi_cut"),
            (
                dsum2(F.col("o_totalprice"))
                / F.max("n_seg").cast("double")
            ).alias("mean_raw"),
            (dsum2(clamped) / F.max("n_seg").cast("double")).alias(
                "mean_winsor"
            ),
            F.try_divide(
                dsum2(F.when(F.col("inner"), F.col("o_totalprice"))),
                F.sum(F.col("inner").cast("long")).cast("double"),
            ).alias("mean_trimmed"),
        )
        .orderBy("c_mktsegment")
    )


SQL_WINSORIZED_STATS = f"""
    WITH ranked AS (
        SELECT c_mktsegment, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice IS NOT NULL
    ), flagged AS (
        SELECT c_mktsegment, o_totalprice, rn, n,
               CASE WHEN rn = CEIL(n * {WINSOR_LO_PCT} / 100.0)
                    THEN o_totalprice END AS lo_v,
               CASE WHEN rn = CEIL(n * {WINSOR_HI_PCT} / 100.0)
                    THEN o_totalprice END AS hi_v,
               rn > CEIL(n * {WINSOR_LO_PCT} / 100.0)
                   AND rn <= CEIL(n * {WINSOR_HI_PCT} / 100.0) AS inner_row
        FROM ranked
    ), cuts AS (
        SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n,
               MAX(lo_v) AS lo_cut, MAX(hi_v) AS hi_cut
        FROM flagged GROUP BY c_mktsegment
    )
    SELECT f.c_mktsegment,
           CAST(MAX(c.n) AS BIGINT) AS n,
           MAX(c.lo_cut) AS lo_cut,
           MAX(c.hi_cut) AS hi_cut,
           {dsum2_sql('f.o_totalprice')} / CAST(MAX(c.n) AS DOUBLE)
               AS mean_raw,
           {dsum2_sql('LEAST(GREATEST(f.o_totalprice, c.lo_cut), c.hi_cut)')}
               / CAST(MAX(c.n) AS DOUBLE) AS mean_winsor,
           {dsum2_sql('CASE WHEN f.inner_row THEN f.o_totalprice END')}
               / CAST(SUM(CASE WHEN f.inner_row THEN 1 ELSE 0 END)
                      AS DOUBLE) AS mean_trimmed
    FROM flagged f JOIN cuts c USING (c_mktsegment)
    GROUP BY f.c_mktsegment
    ORDER BY f.c_mktsegment
"""


# --- mutual_information (round-10 sixth wave) ------------------------------------


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information and uncertainty coefficients of market
    segment × order priority — the information-theoretic companion to
    chi2_independence (chi-square says "associated"; MI says how many
    nats of one the other carries, and Theil's U normalizes it per
    direction). One-row report: N, cell count, MI, the two marginal
    entropies, and U(row|col) = MI/H(row), U(col|row) = MI/H(col).

    Determinism (the pmi_collocations ln contract, strengthened): each
    ln is DECIMAL(38,6)-round-tripped, multiplied by its EXACT INTEGER
    count (n_ij or margin), decimal-summed (exact in any order), and
    divided by N ONCE at the end — no constructed per-term fraction
    ever meets a decimal cast, so the corpus_report terminating-
    boundary class cannot occur.

    Scale shape (100 TB): the same cell frame as chi2_independence
    (one scan + map-side aggregate); margins re-aggregate the cells;
    all arithmetic runs on ≤ |segments|·|priorities| rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    cells = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    row_m = cells.groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("row_tot")
    )
    col_m = cells.groupBy("o_orderpriority").agg(
        F.sum("n").cast("long").alias("col_tot")
    )
    rln = lambda c: F.log(c).cast("decimal(38,6)")
    # Σ n_ij * ln(n_ij * N / (row*col)) with N folded in exactly:
    # ln(n*N/(row*col)) as ONE double expression, rounded, times int n
    joined = (
        cells.join(F.broadcast(row_m), "c_mktsegment")
        .join(F.broadcast(col_m), "o_orderpriority")
    )
    totals = joined.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    mi_terms = joined.crossJoin(F.broadcast(totals)).select(
        "n_total",
        "n_cells",
        (
            F.col("n")
            * rln(
                F.col("n").cast("double")
                * F.col("n_total").cast("double")
                / (
                    F.col("row_tot").cast("double")
                    * F.col("col_tot").cast("double")
                )
            )
        ).alias("mi_term"),
    )
    mi_sum = mi_terms.groupBy("n_total", "n_cells").agg(
        F.sum("mi_term").cast("double").alias("mi_num")
    )
    h_row = (
        row_m.crossJoin(F.broadcast(totals))
        .select(
            (
                F.col("row_tot")
                * rln(
                    F.col("n_total").cast("double")
                    / F.col("row_tot").cast("double")
                )
            ).alias("t")
        )
        .agg(F.sum("t").cast("double").alias("h_row_num"))
    )
    h_col = (
        col_m.crossJoin(F.broadcast(totals))
        .select(
            (
                F.col("col_tot")
                * rln(
                    F.col("n_total").cast("double")
                    / F.col("col_tot").cast("double")
                )
            ).alias("t")
        )
        .agg(F.sum("t").cast("double").alias("h_col_num"))
    )
    n_d = F.col("n_total").cast("double")
    mi = F.col("mi_num") / n_d
    hr = F.col("h_row_num") / n_d
    hc = F.col("h_col_num") / n_d
    return (
        mi_sum.crossJoin(F.broadcast(h_row))
        .crossJoin(F.broadcast(h_col))
        .select(
            "n_total",
            "n_cells",
            mi.alias("mi_nats"),
            hr.alias("h_row"),
            hc.alias("h_col"),
            F.try_divide(mi, hr).alias("u_row_given_col"),
            F.try_divide(mi, hc).alias("u_col_given_row"),
        )
    )


SQL_MUTUAL_INFORMATION = """
    WITH cells AS (
        SELECT c_mktsegment, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), row_m AS (
        SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS row_tot
        FROM cells GROUP BY 1
    ), col_m AS (
        SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS col_tot
        FROM cells GROUP BY 1
    ), joined AS (
        SELECT n, row_tot, col_tot
        FROM cells JOIN row_m USING (c_mktsegment)
        JOIN col_m USING (o_orderpriority)
    ), totals AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM joined
    ), mi_sum AS (
        SELECT n_total, n_cells,
               CAST(SUM(n * CAST(ln(CAST(n AS DOUBLE)
                                    * CAST(n_total AS DOUBLE)
                                    / (CAST(row_tot AS DOUBLE)
                                       * CAST(col_tot AS DOUBLE)))
                                 AS DECIMAL(38,6))) AS DOUBLE) AS mi_num
        FROM joined CROSS JOIN totals
        GROUP BY n_total, n_cells
    ), hr AS (
        SELECT CAST(SUM(row_tot * CAST(ln(CAST(n_total AS DOUBLE)
                                          / CAST(row_tot AS DOUBLE))
                                       AS DECIMAL(38,6))) AS DOUBLE)
                   AS h_row_num
        FROM row_m CROSS JOIN totals
    ), hc AS (
        SELECT CAST(SUM(col_tot * CAST(ln(CAST(n_total AS DOUBLE)
                                          / CAST(col_tot AS DOUBLE))
                                       AS DECIMAL(38,6))) AS DOUBLE)
                   AS h_col_num
        FROM col_m CROSS JOIN totals
    )
    SELECT n_total, n_cells,
           mi_num / CAST(n_total AS DOUBLE) AS mi_nats,
           h_row_num / CAST(n_total AS DOUBLE) AS h_row,
           h_col_num / CAST(n_total AS DOUBLE) AS h_col,
           (mi_num / CAST(n_total AS DOUBLE))
               / NULLIF(h_row_num / CAST(n_total AS DOUBLE), 0.0)
               AS u_row_given_col,
           (mi_num / CAST(n_total AS DOUBLE))
               / NULLIF(h_col_num / CAST(n_total AS DOUBLE), 0.0)
               AS u_col_given_row
    FROM mi_sum CROSS JOIN hr CROSS JOIN hc
"""


# --- bloom_join_audit (round-10 sixth wave) ---------------------------------------


def q_bloom_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter audit — the measured version of the bloom-filter
    join pruning Spark's runtime filters / DPP perform: build a fixed
    8 KB Bloom bitmap over the orderkeys of URGENT orders (the
    selective build side), probe every lineitem row, and report the
    pass count against the exact semi-join truth: false-positive rate
    and the scan-reduction the filter would buy. One row; no false
    negatives by construction (every matching key probes only set
    bits), so n_pass >= n_match always — pinned in tests.

    Determinism: the bitmap reuses dedup's portable md5-derived probe
    positions (identical on both engines, collisions included); all
    counts are exact integers; the two rates are single divisions.

    Scale shape (100 TB): the build side aggregates to <= 1024
    (word, bits) rows and densifies to ONE broadcast row — a fixed
    8 KB ship however large the build side grows (decontaminate_bloom's
    argument, applied to join pruning); the probe is pure row
    arithmetic inside the lineitem scan; the exact semi-join runs once
    as the audit's truth column."""
    from .dedup import BLOOM_WORDS, _bloom_positions_exprs

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    h_sql = "conv(substring(md5(cast(k as string)), 1, 15), 16, 10)"
    pos = _bloom_positions_exprs(f"cast({h_sql} as bigint)")
    bits = (
        urgent.select(
            F.explode(
                F.array(*[F.expr(f"cast(({p}) as long)") for p in pos])
            ).alias("p")
        )
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(p % 64 as int))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )
    bitmap = (
        bits.groupBy()
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("bits")
            ).alias("wm")
        )
        .select(
            F.expr(
                f"transform(sequence(0, {BLOOM_WORDS - 1}), "
                "j -> coalesce(wm[cast(j as bigint)], cast(0 as bigint)))"
            ).alias("bm")
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    probes = " AND ".join(
        f"(element_at(bm, cast(({p}) div 64 as int) + 1) & "
        f"shiftleft(cast(1 as bigint), cast(({p}) % 64 as int))) != 0"
        for p in pos
    )
    flagged = li.crossJoin(F.broadcast(bitmap)).select(
        "k", F.expr(f"({probes})").alias("bloom_pass")
    )
    truth = flagged.join(
        urgent.withColumnRenamed("k", "k2"),
        F.col("k") == F.col("k2"),
        "left",
    ).select(
        "bloom_pass", F.col("k2").isNotNull().alias("is_match")
    )
    n_build = urgent.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    agg = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_pass"),
        F.sum(F.col("is_match").cast("long")).cast("long").alias("n_match"),
    )
    return agg.crossJoin(F.broadcast(n_build)).select(
        "n_build",
        "n_probe",
        "n_match",
        "n_pass",
        (F.col("n_pass") - F.col("n_match")).alias("n_false_pos"),
        F.try_divide(
            (F.col("n_pass") - F.col("n_match")).cast("double"),
            (F.col("n_probe") - F.col("n_match")).cast("double"),
        ).alias("fp_rate"),
        (
            F.col("n_pass").cast("double") / F.col("n_probe").cast("double")
        ).alias("pass_rate"),
    )


def _build_sql_bloom_join_audit() -> str:
    from .dedup import _bloom_positions_exprs

    h = "(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT)"
    pos = [
        p.replace(" div ", " // ") for p in _bloom_positions_exprs(h)
    ]
    probe = " AND ".join(
        f"(({p}) IN (SELECT p FROM bits))" for p in pos
    )
    return f"""
    WITH urgent AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ), bits AS (
        SELECT DISTINCT p FROM (
            SELECT unnest([{", ".join(pos)}]) AS p FROM urgent
        )
    ), probes AS (
        SELECT l_orderkey AS k,
               {probe} AS bloom_pass,
               l_orderkey IN (SELECT k FROM urgent) AS is_match
        FROM lineitem
    ), nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_build FROM urgent),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
               CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass,
               CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_match
        FROM probes
    )
    SELECT n_build, n_probe, n_match, n_pass,
           n_pass - n_match AS n_false_pos,
           CAST(n_pass - n_match AS DOUBLE)
               / NULLIF(CAST(n_probe - n_match AS DOUBLE), 0.0) AS fp_rate,
           CAST(n_pass AS DOUBLE) / CAST(n_probe AS DOUBLE) AS pass_rate
    FROM agg CROSS JOIN nb
"""


SQL_BLOOM_JOIN_AUDIT = _build_sql_bloom_join_audit()


# --- quantile_normalize (round-10 seventh wave) -----------------------------------


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source uniform quantile normalization of document length —
    the rank-based feature transform (q = (rank − 0.5)/n under the
    (n_chars, doc_id) total order) that makes a heavy-tailed raw
    feature comparable across sources with different length regimes;
    the standard preprocessing before cross-source thresholds are
    applied (and the uniform half of inverse-normal transforms,
    emitted without the probit so no libm exists anywhere).

    Determinism: ranks and counts are exact integers under a total
    order; q is one exact-integer double expression per row.

    Scale shape (100 TB): ONE rank window partitioned by source (the
    exact-percentile cost class, subsample-first at extreme scale);
    zero joins."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        # a NULL measurement has no quantile; engines also order NULLs
        # differently in the rank window (round-14 null-sweep class)
        .filter(F.col("n_chars").isNotNull())
    )
    w_rank = W.partitionBy("source").orderBy("n_chars", "doc_id")
    w_src = W.partitionBy("source")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            (F.row_number().over(w_rank).cast("double") - F.lit(0.5))
            / F.count(F.lit(1)).over(w_src).cast("double")
        ).alias("q_uniform"),
    ).orderBy("doc_id")


SQL_QUANTILE_NORMALIZE = """
    SELECT doc_id, source, n_chars,
           (CAST(ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS DOUBLE)
            - 0.5)
           / CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE)
               AS q_uniform
    FROM documents
    WHERE n_chars IS NOT NULL
    ORDER BY doc_id
"""


# --- gains_curve (round-10 seventh wave) --------------------------------------------

GAINS_GRID = 1000


def q_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift curve for the calibration probe's score
    against the binary label, evaluated on a fixed 1000-point score
    quantization (descending): per occupied score cell, the population
    and positives it contains, the cumulative population/positive
    shares down the ranking, and the cumulative lift — the
    marketing-score readout (who do I contact first and what do I
    capture) that auc_report's single number summarizes and
    calibration_bins' probability view ignores. The grid (rather than
    population NTILE deciles) keeps every frame BOUNDED: a global
    population ranking is the one shape this engine refuses at 100 TB
    (the ks_drift compromise, stated there).

    Determinism: the score is the shared 6dp-rounded sigmoid probe
    (calibration_bins); cells are floor on identical doubles; all
    cumulative quantities are exact-int window sums over the ≤1000-row
    cell frame; shares and lift are single double expressions.

    Scale shape (100 TB): one scan to (cell, y), ONE bounded
    aggregate, windows over ≤1000 rows."""
    wts = F.array(*[F.lit(w) for w in CALIB_WEIGHTS])
    z = dot(as_double(F.col("embedding")), wts)
    s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = load_table(spark, sf_dir, "embeddings").select(
        F.least(
            F.floor(s * GAINS_GRID).cast("int"), F.lit(GAINS_GRID - 1)
        ).alias("cell"),
        (F.col("label") % 2).cast("long").alias("y"),
    )
    cells = scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w_cum = W.orderBy(F.col("cell").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    w_all = W.partitionBy()
    staged = cells.select(
        "cell",
        "n",
        "n_pos",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum("n_pos").over(w_all).alias("pos_tot"),
    )
    cum_share_pop = F.col("cum_n").cast("double") / F.col("n_tot").cast(
        "double"
    )
    cum_share_pos = F.try_divide(
        F.col("cum_pos").cast("double"), F.col("pos_tot").cast("double")
    )
    return staged.select(
        "cell",
        "n",
        "n_pos",
        cum_share_pop.alias("cum_share_pop"),
        cum_share_pos.alias("cum_share_pos"),
        F.try_divide(cum_share_pos, cum_share_pop).alias("cum_lift"),
    ).orderBy(F.col("cell").desc())


_GAINS_WLIST = "[" + ", ".join(repr(w) for w in CALIB_WEIGHTS) + "]"

SQL_GAINS_CURVE = f"""
    WITH scored AS (
        SELECT LEAST(CAST(FLOOR(round(1.0 / (1.0 + exp(
                   -{sql_dot('list_transform(embedding, e -> CAST(e AS DOUBLE))', _GAINS_WLIST)}
               )), 6) * {GAINS_GRID}) AS INTEGER),
               {GAINS_GRID - 1}) AS cell,
               CAST(label % 2 AS BIGINT) AS y
        FROM embeddings
    ), cells AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM scored GROUP BY cell
    ), staged AS (
        SELECT cell, n, n_pos,
               SUM(n) OVER (ORDER BY cell DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_n,
               SUM(n_pos) OVER (ORDER BY cell DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_pos,
               SUM(n) OVER () AS n_tot,
               SUM(n_pos) OVER () AS pos_tot
        FROM cells
    )
    SELECT cell, n, n_pos,
           CAST(cum_n AS DOUBLE) / CAST(n_tot AS DOUBLE) AS cum_share_pop,
           CAST(cum_pos AS DOUBLE)
               / NULLIF(CAST(pos_tot AS DOUBLE), 0.0) AS cum_share_pos,
           (CAST(cum_pos AS DOUBLE) / NULLIF(CAST(pos_tot AS DOUBLE), 0.0))
               / (CAST(cum_n AS DOUBLE) / CAST(n_tot AS DOUBLE))
               AS cum_lift
    FROM staged
    ORDER BY cell DESC
"""


# --- interp_quantiles (round-10 tenth wave) ----------------------------------------

INTERP_PCTS = (0.25, 0.5, 0.75, 0.9)


def q_interp_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard PERCENTILE_CONT quantiles of event value per type,
    computed by the EXPLICIT interpolation definition (h = (n−1)p + 1;
    v[⌊h⌋] + (h−⌊h⌋)·(v[⌈h⌉] − v[⌊h⌋]) under the (value, event_id)
    total order) — the linear-interpolated companion to the exact-rank
    definition length_percentiles/mad_outliers use. Engine quantile
    functions are still never called: their interpolation rules and
    tie handling differ, this arithmetic is identical everywhere.

    Determinism: ranks and n are exact ints; h and the interpolation
    weight are fixed double expressions of (n, p-literal); the
    bracketing values are picked by integer rank equality; the final
    value is one interpolation expression per row.

    Scale shape (100 TB): ONE rank window partitioned by event_type
    (the exact-percentile cost class), then ONE |types|-keyed aggregate
    carrying every percentile's conditional-max column set at once
    (r10 VERDICT ask #8 — the prior form ran one aggregate per
    percentile over the same ranked frame and unioned), unpivoted by a
    bounded explode — no join back, no second scan, one shuffle."""
    # rank-statistic semantics skip NULLs (round-14 class, same pin as
    # mad_outliers). Single consumer here, but the frame reads the
    # SAME shared memo stage as histogram_quantiles/mad_outliers — one
    # cache serves the whole rank-statistic event tier (r16)
    from .sketches import events_nonnull_values

    ev = events_nonnull_values(spark, sf_dir)
    w_rank = W.partitionBy("event_type").orderBy("value", "event_id")
    w_type = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_type).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for i, p in enumerate(INTERP_PCTS):
        h = (F.col("n") - 1).cast("double") * F.lit(p) + F.lit(1.0)
        lo = F.floor(h).cast("long")
        hi = F.ceil(h).cast("long")
        frac = h - F.floor(h)
        aggs += [
            F.max(F.when(F.col("rn") == lo, F.col("value"))).alias(
                f"v_lo_{i}"
            ),
            F.max(F.when(F.col("rn") == hi, F.col("value"))).alias(
                f"v_hi_{i}"
            ),
            F.max(lo).alias(f"lo_{i}"),
            F.max(hi).alias(f"hi_{i}"),
            F.max(frac).alias(f"frac_{i}"),
        ]
    grp = ranked.groupBy("event_type").agg(*aggs)
    per_p = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    F.col(f"lo_{i}").alias("lo_rank"),
                    F.col(f"hi_{i}").alias("hi_rank"),
                    (
                        F.col(f"v_lo_{i}")
                        + F.col(f"frac_{i}")
                        * (F.col(f"v_hi_{i}") - F.col(f"v_lo_{i}"))
                    ).alias("value"),
                )
                for i, p in enumerate(INTERP_PCTS)
            ]
        )
    )
    return (
        grp.select("event_type", "n", per_p.alias("q"))
        .select(
            "event_type",
            F.col("q.p").alias("p"),
            "n",
            F.col("q.lo_rank").alias("lo_rank"),
            F.col("q.hi_rank").alias("hi_rank"),
            F.col("q.value").alias("value"),
        )
        .orderBy("event_type", "p")
    )


def _build_sql_interp_quantiles() -> str:
    parts = []
    for p in INTERP_PCTS:
        parts.append(f"""
        SELECT event_type, {p!r} AS p,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(FLOOR((n - 1) * {p!r} + 1.0)) AS BIGINT) AS lo_rank,
               CAST(MAX(CEIL((n - 1) * {p!r} + 1.0)) AS BIGINT) AS hi_rank,
               MAX(CASE WHEN rn = FLOOR((n - 1) * {p!r} + 1.0)
                        THEN value END)
               + MAX(((n - 1) * {p!r} + 1.0)
                     - FLOOR((n - 1) * {p!r} + 1.0))
                 * (MAX(CASE WHEN rn = CEIL((n - 1) * {p!r} + 1.0)
                             THEN value END)
                    - MAX(CASE WHEN rn = FLOOR((n - 1) * {p!r} + 1.0)
                               THEN value END)) AS value
        FROM ranked GROUP BY event_type""")
    body = "\n        UNION ALL\n".join(parts)
    return f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
        FROM events
        WHERE value IS NOT NULL
    )
    {body}
    ORDER BY event_type, p
"""


SQL_INTERP_QUANTILES = _build_sql_interp_quantiles()


# --- split-conformal threshold (round 11) ------------------------------------

CONF_ALPHA = 0.1  # target 90% coverage


def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction threshold (Vovk et al.; the
    distribution-free coverage recipe every production classifier
    calibration now ships): the calibration half (seeded md5 parity on
    vec_id — the drift-slice discipline) scores each vector with the
    CALIB probe, takes nonconformity 1−s for positives / s for
    negatives, and q_hat = the ⌈(n+1)(1−α)⌉-th smallest nonconformity
    (exact order statistic, no interpolation). The eval half then
    reports empirical coverage (fraction with nonconformity ≤ q_hat) —
    the finite-sample ≥ 1−α guarantee this one-row report verifies.
    calibration_bins measures calibration error; this op CONSTRUCTS
    the set-valued guarantee.

    Determinism: s is the 6dp-rounded sigmoid (single libm exp);
    nonconformity is one IEEE op on identical inputs, so its values
    group identically on both engines; counts and the rank index are
    exact ints; q_hat is a MIN over an equality-filtered bounded
    frame; coverage is one int/int double division. Empty calibration
    half ⇒ q_hat falls back to 1.0 (covers everything — the
    conservative conformal convention), NULL coverage on zero eval
    rows via try_divide.

    Scale shape (100 TB): one scan splits into halves; the calibration
    CDF aggregates per DISTINCT nonconformity value — 6dp quantization
    bounds that frame at ≤ 1e6+1 rows at ANY corpus size (the ks_drift
    fixed-grid argument, except here the quantization is already in
    the score contract so the order statistic is EXACT, not a grid
    approximation); the cumulative window runs over the bounded frame;
    q_hat broadcasts as a 1-row scalar into the eval-side aggregate."""
    scored = conformal_nonconformity(
        load_table(spark, sf_dir, "embeddings")
    )
    cells = lambda df: df.groupBy("nc").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return conformal_report(
        cells(scored.filter(F.col("p") == 0)),
        cells(scored.filter(F.col("p") == 1)),
    )


def conformal_nonconformity(embeddings: DataFrame) -> DataFrame:
    """(parity, nonconformity) rows for an embeddings frame — the
    scoring shared by the batch operator and the streaming twin
    (streaming/pipelines.conformal_batch), so the two can never
    drift."""
    from ..functions.texthash import md5_hash64

    wts = F.array(*[F.lit(w) for w in CALIB_WEIGHTS])
    z = dot(as_double(F.col("embedding")), wts)
    s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    y = (F.col("label") % 2).cast("long")
    parity = md5_hash64(F.col("vec_id").cast("string")) % 2
    return embeddings.select(
        parity.alias("p"),
        F.when(y == 1, F.lit(1.0) - s).otherwise(s).alias("nc"),
    )


def conformal_report(
    cal_cells: DataFrame, ev_cells: DataFrame
) -> DataFrame:
    """The split-conformal report over (nc, c) histogram frames — the
    SHARED builder: the batch operator feeds one-shot histograms, the
    streaming twin feeds its cumulative per-batch state. Both
    histograms are bounded by the 6dp score quantization (see
    q_conformal_threshold's scale note)."""
    totals = cal_cells.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_cal")
    )
    w_cum = W.orderBy("nc").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    staged = cal_cells.select(
        "nc",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("nc_total"),
    )
    q_index = F.ceil(
        (F.col("nc_total") + F.lit(1)).cast("double")
        * F.lit(1.0 - CONF_ALPHA)
    )
    th = staged.filter(F.col("cum") >= q_index).agg(
        F.min("nc").alias("q0")
    )
    evagg = ev_cells.crossJoin(F.broadcast(th)).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_eval"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("nc") <= F.coalesce(F.col("q0"), F.lit(1.0)),
                    F.col("c"),
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_covered"),
        F.coalesce(F.max("q0"), F.lit(1.0)).alias("q_hat"),
    )
    return evagg.crossJoin(F.broadcast(totals)).select(
        "n_cal",
        "n_eval",
        F.lit(CONF_ALPHA).alias("alpha"),
        "q_hat",
        "n_covered",
        F.try_divide(
            F.col("n_covered").cast("double"),
            F.col("n_eval").cast("double"),
        ).alias("coverage"),
    )


_SQL_CONF_PARITY = (
    "((('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT) % 2)"
)

SQL_CONFORMAL_THRESHOLD = f"""
    WITH scored AS (
        SELECT {_SQL_CONF_PARITY} AS p,
               CASE WHEN (label % 2) = 1
                    THEN 1.0 - round(1.0 / (1.0 + exp(
                        -{{calib_dot}}
                    )), 6)
                    ELSE round(1.0 / (1.0 + exp(
                        -{{calib_dot}}
                    )), 6)
               END AS nc
        FROM embeddings
    ), cal AS (SELECT nc FROM scored WHERE p = 0),
    ev AS (SELECT nc FROM scored WHERE p = 1),
    totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    cells AS (SELECT nc, COUNT(*) AS c FROM cal GROUP BY nc),
    staged AS (
        SELECT nc,
               SUM(c) OVER (ORDER BY nc
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
               SUM(c) OVER () AS nc_total
        FROM cells
    ), th AS (
        SELECT MIN(nc) AS q0 FROM staged
        WHERE cum >= CEIL(CAST(nc_total + 1 AS DOUBLE)
                          * {1.0 - CONF_ALPHA!r})
    ), evagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
               COALESCE(CAST(SUM(CASE WHEN nc <= COALESCE(q0, 1.0)
                             THEN 1 ELSE 0 END) AS BIGINT), 0)
                   AS n_covered,
               COALESCE(MAX(q0), 1.0) AS q_hat
        FROM ev CROSS JOIN th
    )
    SELECT n_cal, n_eval, {CONF_ALPHA!r} AS alpha, q_hat, n_covered,
           CAST(n_covered AS DOUBLE) / NULLIF(CAST(n_eval AS DOUBLE), 0.0)
               AS coverage
    FROM evagg CROSS JOIN totals
"""


def _finalize_sql_conformal() -> str:
    calib_dot = sql_dot(
        "list_transform(embedding, e -> CAST(e AS DOUBLE))", _CALIB_WLIST
    )
    return SQL_CONFORMAL_THRESHOLD.format(calib_dot=calib_dot)


SQL_CONFORMAL_THRESHOLD = _finalize_sql_conformal()


# --- Hill tail-index estimator (round 11) ------------------------------------

HILL_K = 100  # top-K order statistics feed the estimator


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index over order values
    (Hill, Annals of Statistics 1975): alpha-hat = ((1/(k−1)) ·
    Σ_{i<k} ln(x_(i)/x_(k)))⁻¹ over the top-K order statistics — the
    heavy-tail diagnostic that tells a capacity planner whether the
    revenue distribution has finite variance (alpha > 2) before any
    mean-based forecast is trusted. zipf_fit ranks token frequencies;
    this measures the tail of a VALUE distribution.

    Determinism: the top-K set is exact under the (value, orderkey)
    total order (TakeOrderedAndProject); each ln(x_i/x_k) term rounds
    through DECIMAL(38,6) BEFORE the sum (the tfidf ln-rounding
    contract) so the sum is order-free; alpha is one double division.

    Scale shape (100 TB): the global top-K is Spark's
    TakeOrderedAndProject (per-partition partial top-K, K rows per
    partition to the driver-side merge — the only sane global-order
    shape at scale); everything downstream runs on the K-row frame."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("x")
    )
    topk = orders.orderBy(
        F.col("x").desc(), F.col("o_orderkey").asc()
    ).limit(HILL_K)
    w_all = W.partitionBy()
    staged = topk.select(
        "x",
        F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
        F.min("x").over(w_all).alias("x_k"),
    )
    term = F.log(F.col("x") / F.col("x_k")).cast("decimal(38,6)")
    agg = staged.groupBy("k", "x_k").agg(
        F.sum(term).cast("double").alias("log_sum")
    )
    return agg.select(
        "k",
        F.col("x_k").alias("threshold"),
        "log_sum",
        F.try_divide(
            (F.col("k") - F.lit(1)).cast("double"), F.col("log_sum")
        ).alias("hill_alpha"),
    )


SQL_HILL_TAIL_INDEX = f"""
    WITH topk AS (
        SELECT o_totalprice AS x
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT {HILL_K}
    ), staged AS (
        SELECT x,
               CAST(COUNT(*) OVER () AS BIGINT) AS k,
               MIN(x) OVER () AS x_k
        FROM topk
    )
    SELECT k, x_k AS threshold,
           CAST(SUM(CAST(LN(x / x_k) AS DECIMAL(38,6))) AS DOUBLE)
               AS log_sum,
           CAST(k - 1 AS DOUBLE)
               / NULLIF(CAST(SUM(CAST(LN(x / x_k) AS DECIMAL(38,6)))
                             AS DOUBLE), 0.0) AS hill_alpha
    FROM staged
    GROUP BY k, x_k
"""


# --- Theil-Sen robust trend (round 11) ---------------------------------------


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly order revenue (Theil 1950 /
    Sen 1968): slope = MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−
    x_i), intercept = median residual at that slope — the
    outlier-robust companion to ols_trend's least squares (one wild
    month moves OLS, not the pairwise median). One-row report.

    Determinism: monthly revenue is exact integer micro-dollars; each
    pairwise slope is ONE division of exact ints (identical doubles
    both engines); medians use the exact-rank definition under
    (value, i, j) total orders — no interpolation beyond the even-n
    two-element mean, a single fixed double expression.

    NULL contract (round 15, the r14 rank/quantile convention): the
    trend runs on the NON-NULL o_totalprice space — the isNotNull
    filter is pushed to the scan on BOTH engines. Without it, a month
    whose every o_totalprice is NULL (reachable only at extreme NULL
    density — the 90% slice found it) yields a NULL monthly sum, hence
    NULL pairwise slopes, and the two engines order NULLs differently
    in the median's ORDER BY (Spark FIRST, DuckDB LAST) — the exact
    class the r14 sweep pinned for the other 13 rank entries. An
    all-NULL month now drops from the month frame on both engines
    (inner-join-drop convention).

    Scale shape (100 TB): the pair frame is |months|² — REPORTING
    grain (dozens of months → thousands of pairs), built by one
    self-join of the month-bounded aggregate; nothing here scales with
    row count. The cross-month self-join would be wrong on a data-
    scale frame; it is deliberate and safe on a calendar-bounded one."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            (
                F.year("o_orderdate") * F.lit(12)
                + F.month("o_orderdate")
                - F.lit(1)
            ).alias("x"),
            "o_totalprice",
        )
    )
    monthly = orders.groupBy("x").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("ymic")
    )
    a = monthly.select(
        F.col("x").alias("xi"), F.col("ymic").alias("yi")
    )
    b = monthly.select(
        F.col("x").alias("xj"), F.col("ymic").alias("yj")
    )
    pairs = a.join(b, F.col("xi") < F.col("xj")).select(
        "xi",
        "xj",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi")).cast("double")
        ).alias("slope"),
    )

    def median_of(df: DataFrame, col: str, order: list) -> DataFrame:
        w = W.orderBy(*order)
        w_all = W.partitionBy()
        ranked = df.select(
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        lo = (F.col("n") + 1) / F.lit(2)
        return ranked.groupBy("n").agg(
            (
                (
                    F.max(F.when(F.col("rn") == F.floor(lo), F.col(col)))
                    + F.max(F.when(F.col("rn") == F.ceil(lo), F.col(col)))
                )
                / F.lit(2.0)
            ).alias("med")
        )

    slope_med = median_of(
        pairs, "slope", [F.col("slope"), F.col("xi"), F.col("xj")]
    ).select(
        F.col("n").alias("n_pairs"), F.col("med").alias("slope_mic")
    )
    resid = monthly.crossJoin(F.broadcast(slope_med)).select(
        "n_pairs",
        "slope_mic",
        (F.col("ymic").cast("double") - F.col("slope_mic") * F.col("x"))
        .alias("r"),
        "x",
    )
    w = W.orderBy(F.col("r"), F.col("x"))
    w_all = W.partitionBy()
    ranked = resid.select(
        "n_pairs",
        "slope_mic",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    lo = (F.col("n") + 1) / F.lit(2)
    agg = ranked.groupBy("n", "n_pairs", "slope_mic").agg(
        (
            (
                F.max(F.when(F.col("rn") == F.floor(lo), F.col("r")))
                + F.max(F.when(F.col("rn") == F.ceil(lo), F.col("r")))
            )
            / F.lit(2.0)
        ).alias("int_mic")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (F.col("slope_mic") / F.lit(1000000.0)).alias("slope"),
        (F.col("int_mic") / F.lit(1000000.0)).alias("intercept"),
    )


SQL_THEIL_SEN_TREND = """
    WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000
                    AS HUGEINT) AS ymic
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
    ), pairs AS (
        SELECT a.x AS xi, b.x AS xj,
               CAST(b.ymic - a.ymic AS DOUBLE)
                   / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM monthly a JOIN monthly b ON a.x < b.x
    ), ranked AS (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, xi, xj) AS rn,
               COUNT(*) OVER () AS n
        FROM pairs
    ), slope_med AS (
        SELECT CAST(n AS BIGINT) AS n_pairs,
               (MAX(CASE WHEN rn = FLOOR((n + 1) / 2.0) THEN slope END)
                + MAX(CASE WHEN rn = CEIL((n + 1) / 2.0) THEN slope END))
               / 2.0 AS slope_mic
        FROM ranked GROUP BY n
    ), resid AS (
        SELECT s.n_pairs, s.slope_mic,
               CAST(m.ymic AS DOUBLE) - s.slope_mic * m.x AS r,
               m.x
        FROM monthly m CROSS JOIN slope_med s
    ), rranked AS (
        SELECT n_pairs, slope_mic, r,
               ROW_NUMBER() OVER (ORDER BY r, x) AS rn,
               COUNT(*) OVER () AS n
        FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           n_pairs,
           slope_mic / 1000000.0 AS slope,
           (MAX(CASE WHEN rn = FLOOR((n + 1) / 2.0) THEN r END)
            + MAX(CASE WHEN rn = CEIL((n + 1) / 2.0) THEN r END))
           / 2.0 / 1000000.0 AS intercept
    FROM rranked
    GROUP BY n, n_pairs, slope_mic
"""


# --- long-tail category collapse (round 11) ----------------------------------

RARE_MIN_COUNT = 5  # categories below this collapse into OTHER


def q_group_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail categorical collapse over part types — the feature-
    engineering step every encoder (target_encode, woe_iv) should run
    behind: categories with fewer than RARE_MIN_COUNT members fold
    into a single OTHER level, and the report shows each FINAL level's
    row count, how many source categories it absorbed, and its share —
    the cardinality-vs-coverage tradeoff a feature reviewer signs off.

    Determinism: counts are exact ints; shares are one int/int double
    division; level names are exact strings.

    Scale shape (100 TB): one scan collapses map-side to the
    |categories|-bounded frame; the collapse and re-aggregate run on
    that bounded frame; the total is a window over it."""
    parts = load_table(spark, sf_dir, "part")
    per_cat = parts.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    folded = per_cat.select(
        F.when(F.col("c") >= RARE_MIN_COUNT, F.col("p_type"))
        .otherwise(F.lit("OTHER"))
        .alias("level"),
        "c",
    )
    w_all = W.partitionBy()
    agg = folded.groupBy("level").agg(
        F.sum("c").cast("long").alias("n_parts"),
        F.count(F.lit(1)).cast("long").alias("n_source_categories"),
    )
    return (
        agg.select(
            "level",
            "n_parts",
            "n_source_categories",
            (
                F.col("n_parts").cast("double")
                / F.sum("n_parts").over(w_all).cast("double")
            ).alias("share"),
        )
        .orderBy(F.col("n_parts").desc(), F.col("level").asc())
    )


SQL_GROUP_RARE_COLLAPSE = f"""
    WITH per_cat AS (
        SELECT p_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM part GROUP BY p_type
    ), folded AS (
        SELECT CASE WHEN c >= {RARE_MIN_COUNT} THEN p_type
                    ELSE 'OTHER' END AS level,
               c
        FROM per_cat
    ), agg AS (
        SELECT level,
               CAST(SUM(c) AS BIGINT) AS n_parts,
               CAST(COUNT(*) AS BIGINT) AS n_source_categories
        FROM folded GROUP BY level
    )
    SELECT level, n_parts, n_source_categories,
           CAST(n_parts AS DOUBLE)
               / CAST(SUM(n_parts) OVER () AS DOUBLE) AS share
    FROM agg
    ORDER BY n_parts DESC, level ASC
"""


# --- per-source Spearman rank correlation (round 11) ---------------------------


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rank correlation (Spearman 1904) between
    document length (n_chars) and lexical richness (distinct word
    count) — the monotone-association readout that survives the heavy
    length tails Pearson chokes on. A source where richness stops
    tracking length is template/boilerplate-heavy; the curation
    counterpart to corpus_diversity.

    Tie handling is the textbook mid-rank: avg rank = RANK() +
    (|ties|-1)/2. To keep every moment EXACT we carry DOUBLED ranks
    r2 = 2*RANK() + |ties| - 1 (always integer); Pearson is invariant
    under the affine map r -> 2r, so rho over r2 IS Spearman rho.

    Determinism: r2 moments are exact integer DECIMAL(38,6) sums; rho
    is ONE fixed double expression rounded through decimal(38,6);
    zero-variance sources yield NULL via the sqrt-guard. The raw rank
    moments cross the 2^53 double line around 1.3e5 docs PER SOURCE
    (sxx ~ 4n^3) — past that the class is the documented 1-ulp
    intermediate wiggle, absorbed by the final 6dp rounding away from
    midpoints (the ab_test_report z_score convention: ratio outputs
    reviewed, not dsum4-rounded).

    Scale shape (100 TB): ranks come from windows PARTITIONED BY
    source (and source,value for tie counts) — per-source scale, never
    one global sort; the moment aggregate collapses map-side to
    |sources| rows. Exact per-source ranking is the inherent cost of
    exact Spearman; a corpus whose single source exceeds partition
    memory should use the binned approximation (gains_curve/ks_drift
    grid discipline) instead."""
    from .wordcount import tokens_col

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.col("n_chars").cast("long").alias("x"),
            F.size(F.array_distinct(tokens_col(F.col("text"))))
            .cast("long")
            .alias("y"),
        )
        # Spearman over a NULL measurement is undefined; the rank
        # windows also order NULLs differently across engines
        # (round-14 null-sweep class)
        .filter(F.col("x").isNotNull())
    )

    def r2(col: str) -> F.Column:
        w_rank = W.partitionBy("source").orderBy(F.col(col))
        w_tie = W.partitionBy("source", col)
        return (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        ).cast("long")

    ranked = docs.select(
        "source", r2("x").alias("rx"), r2("y").alias("ry")
    )
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        d(F.col("rx")).alias("sx"),
        d(F.col("ry")).alias("sy"),
        d(F.col("rx") * F.col("rx")).alias("sxx"),
        d(F.col("ry") * F.col("ry")).alias("syy"),
        d(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n_docs").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    rho = F.when(
        F.sqrt(vx * vy) > F.lit(0.0), cov / F.sqrt(vx * vy)
    )
    return agg.select(
        "source",
        "n_docs",
        rho.cast("decimal(38,6)").cast("double").alias("spearman_rho"),
    ).orderBy("source")


_SQL_SPEARMAN_TOKENS = (
    "list_filter(string_split_regex(lower(text), '\\W+'), t -> t != '')"
)

SQL_SPEARMAN_CORR = f"""
    WITH base AS (
        SELECT source,
               CAST(n_chars AS BIGINT) AS x,
               CAST(length(list_distinct({_SQL_SPEARMAN_TOKENS}))
                    AS BIGINT) AS y
        FROM documents
        WHERE n_chars IS NOT NULL
    ), ranked AS (
        SELECT source,
               2 * RANK() OVER (PARTITION BY source ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY source, x) - 1 AS rx,
               2 * RANK() OVER (PARTITION BY source ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY source, y) - 1 AS ry
        FROM base
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(rx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rx * rx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry * ry AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(rx * ry AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM ranked GROUP BY source
    )
    SELECT source, n_docs,
           CASE WHEN sqrt((sxx - sx * sx / n_docs)
                          * (syy - sy * sy / n_docs)) > 0.0
                THEN CAST(CAST(
                    (sxy - sx * sy / n_docs)
                    / sqrt((sxx - sx * sx / n_docs)
                           * (syy - sy * sy / n_docs))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS spearman_rho
    FROM agg
    ORDER BY source
"""


# --- Murphy/Brier decomposition of the calibration probe (round 11) ------------


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973) for the
    shared logistic probe: BRIER = RELIABILITY − RESOLUTION +
    UNCERTAINTY over the same 10 confidence bins as calibration_bins.
    ECE says "the probe is miscalibrated"; this says WHERE the score
    goes — a probe can be perfectly calibrated (REL=0) and still
    useless (RES=0). The probabilistic-forecast sibling of auc_report.

    Determinism: the probe score is the shared 6dp-rounded sigmoid;
    BRIER comes from exact decimal sums (Σs² at scale 12 per 6dp
    score, re-rounded to scale 6 before the double cast — the dsum4
    rule: raw scale-12 units cross 2^53 near 9e3 rows); per-bin REL/RES
    terms are 6dp-rounded doubles decimal-summed over the 10-bin frame
    (no order-dependent double sum); UNC is one fixed expression of
    the exact base rate.

    Scale shape (100 TB): identical to calibration_bins — one 64-wide
    fold per row, a 10-key map-side-combinable aggregate, 1-row
    output."""
    wts = F.array(*[F.lit(w) for w in CALIB_WEIGHTS])
    z = dot(as_double(F.col("embedding")), wts)
    s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = load_table(spark, sf_dir, "embeddings").select(
        s.alias("s"), (F.col("label") % 2).cast("long").alias("y")
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("s") * CALIB_BINS).cast("int"),
            F.lit(CALIB_BINS - 1),
        ).alias("bin"),
        "s",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum(F.col("s").cast("decimal(38,6)")), 4)
        .cast("double")
        .alias("s_sum"),
        F.round(
            F.sum((F.col("s") * F.col("s")).cast("decimal(38,12)")), 6
        )
        .cast("double")
        .alias("ss_sum"),
        F.round(
            F.sum(
                F.when(F.col("y") == 1, F.col("s"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            ),
            4,
        )
        .cast("double")
        .alias("sy_sum"),
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    totals = per_bin.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("n_pos").cast("long").alias("pos_total"),
        F.sum(F.col("ss_sum").cast("decimal(38,6)"))
        .cast("double")
        .alias("ss_total"),
        F.sum(F.col("sy_sum").cast("decimal(38,6)"))
        .cast("double")
        .alias("sy_total"),
    )
    conf = F.col("s_sum") / F.col("n").cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    ybar = F.col("pos_total").cast("double") / F.col("n_total").cast("double")
    terms = per_bin.crossJoin(F.broadcast(totals)).select(
        "n_total",
        "pos_total",
        "ss_total",
        "sy_total",
        rnd((conf - acc) * (conf - acc) * F.col("n").cast("double")).alias(
            "rel_term"
        ),
        rnd((acc - ybar) * (acc - ybar) * F.col("n").cast("double")).alias(
            "res_term"
        ),
    )
    agg = terms.groupBy("n_total", "pos_total", "ss_total", "sy_total").agg(
        F.sum(F.col("rel_term").cast("decimal(38,6)"))
        .cast("double")
        .alias("rel_sum"),
        F.sum(F.col("res_term").cast("decimal(38,6)"))
        .cast("double")
        .alias("res_sum"),
    )
    n = F.col("n_total").cast("double")
    ybar2 = F.col("pos_total").cast("double") / n
    return agg.select(
        F.col("n_total").alias("n"),
        rnd(
            (
                F.col("ss_total")
                - F.lit(2.0) * F.col("sy_total")
                + F.col("pos_total").cast("double")
            )
            / n
        ).alias("brier"),
        rnd(F.col("rel_sum") / n).alias("reliability"),
        rnd(F.col("res_sum") / n).alias("resolution"),
        rnd(ybar2 * (F.lit(1.0) - ybar2)).alias("uncertainty"),
    )


SQL_BRIER_DECOMPOSITION = f"""
    WITH scored AS (
        SELECT round(1.0 / (1.0 + exp(
                   -{sql_dot('list_transform(embedding, e -> CAST(e AS DOUBLE))', _CALIB_WLIST)}
               )), 6) AS s,
               CAST(label % 2 AS BIGINT) AS y
        FROM embeddings
    ), binned AS (
        SELECT LEAST(CAST(FLOOR(s * {CALIB_BINS}) AS INTEGER),
                     {CALIB_BINS - 1}) AS bin, s, y
        FROM scored
    ), per_bin AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,6))), 4) AS DOUBLE)
                   AS s_sum,
               CAST(ROUND(SUM(CAST(s * s AS DECIMAL(38,12))), 6) AS DOUBLE)
                   AS ss_sum,
               CAST(ROUND(SUM(CAST(CASE WHEN y = 1 THEN s ELSE 0.0 END
                    AS DECIMAL(38,6))), 4) AS DOUBLE) AS sy_sum
        FROM binned GROUP BY bin
    ), totals AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(n_pos) AS BIGINT) AS pos_total,
               CAST(SUM(CAST(ss_sum AS DECIMAL(38,6))) AS DOUBLE)
                   AS ss_total,
               CAST(SUM(CAST(sy_sum AS DECIMAL(38,6))) AS DOUBLE)
                   AS sy_total
        FROM per_bin
    ), terms AS (
        SELECT n_total, pos_total, ss_total, sy_total,
               CAST(CAST(
                   (s_sum / CAST(n AS DOUBLE)
                    - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                   * (s_sum / CAST(n AS DOUBLE)
                      - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                   * CAST(n AS DOUBLE)
                   AS DECIMAL(38,6)) AS DOUBLE) AS rel_term,
               CAST(CAST(
                   (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
                   * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
                   * CAST(n AS DOUBLE)
                   AS DECIMAL(38,6)) AS DOUBLE) AS res_term
        FROM per_bin CROSS JOIN totals
    )
    SELECT n_total AS n,
           CAST(CAST((ss_total - 2.0 * sy_total + CAST(pos_total AS DOUBLE))
                / CAST(n_total AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
               AS brier,
           CAST(CAST(CAST(SUM(CAST(rel_term AS DECIMAL(38,6))) AS DOUBLE)
                / CAST(n_total AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
               AS reliability,
           CAST(CAST(CAST(SUM(CAST(res_term AS DECIMAL(38,6))) AS DOUBLE)
                / CAST(n_total AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
               AS resolution,
           CAST(CAST(
               (CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
               * (1.0 - CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE))
               AS DECIMAL(38,6)) AS DOUBLE) AS uncertainty
    FROM terms
    GROUP BY n_total, pos_total, ss_total, sy_total
"""


# --- Cramer's V association strength (round 11) ---------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V (1946) of the market-segment x order-priority
    contingency — the [0,1] association strength that makes
    chi2_independence's per-cell decomposition comparable across
    tables of different size and shape: V = sqrt(chi2 / (N * (min(r,c)
    - 1))). A chi2 that is 'significant' on 1e9 rows can still be a
    V=0.01 nothing; this is the number that says so.

    Determinism: counts/margins exact integers; each cell's chi-square
    term is a fixed double expression rounded to 6dp then
    decimal-summed (no order-dependent double sum across cells); V is
    one sqrt of exact-derived doubles, rounded to 6dp.

    Scale shape (100 TB): one scan collapses to the |segments| x
    |priorities| cell frame; margins are bounded re-aggregations;
    everything after is scalar math on that frame."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("seg")
    )
    cells = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("seg", F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql import Window as W

    w_seg = W.partitionBy("seg")
    w_prio = W.partitionBy("prio")
    w_all = W.partitionBy()
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    margins = cells.select(
        "seg",
        "prio",
        "c",
        F.sum("c").over(w_seg).cast("long").alias("row_tot"),
        F.sum("c").over(w_prio).cast("long").alias("col_tot"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    terms = margins.select(
        "n",
        rnd(
            (F.col("c").cast("double") - exp)
            * (F.col("c").cast("double") - exp)
            / exp
        ).alias("term"),
        "seg",
        "prio",
    )
    dims = terms.agg(
        F.max("n").alias("n"),
        F.count_distinct("seg").cast("long").alias("n_rows"),
        F.count_distinct("prio").cast("long").alias("n_cols"),
        F.sum(F.col("term").cast("decimal(38,6)"))
        .cast("double")
        .alias("chi2_total"),
    )
    mindim = F.least(F.col("n_rows"), F.col("n_cols")) - F.lit(1)
    return dims.select(
        F.col("n").cast("long").alias("n"),
        "n_rows",
        "n_cols",
        rnd(F.col("chi2_total")).alias("chi2_total"),
        F.when(
            (mindim > 0) & (F.col("n") > 0),
            rnd(
                F.sqrt(
                    F.col("chi2_total")
                    / (F.col("n").cast("double") * mindim.cast("double"))
                )
            ),
        ).alias("cramers_v"),
    )


SQL_CRAMERS_V = """
    WITH cells AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS prio,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), margins AS (
        SELECT seg, prio, c,
               CAST(SUM(c) OVER (PARTITION BY seg) AS BIGINT) AS row_tot,
               CAST(SUM(c) OVER (PARTITION BY prio) AS BIGINT) AS col_tot,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM cells
    ), terms AS (
        SELECT n, seg, prio,
               CAST(CAST(
                   (CAST(c AS DOUBLE)
                    - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * (CAST(c AS DOUBLE)
                      - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   AS DECIMAL(38,6)) AS DOUBLE) AS term
        FROM margins
    ), dims AS (
        SELECT MAX(n) AS n,
               CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT prio) AS BIGINT) AS n_cols,
               CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
                   AS chi2_total
        FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n, n_rows, n_cols,
           CAST(CAST(chi2_total AS DECIMAL(38,6)) AS DOUBLE) AS chi2_total,
           CASE WHEN LEAST(n_rows, n_cols) - 1 > 0 AND n > 0 THEN
               CAST(CAST(sqrt(chi2_total
                    / (CAST(n AS DOUBLE)
                       * CAST(LEAST(n_rows, n_cols) - 1 AS DOUBLE)))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS cramers_v
    FROM dims
"""
