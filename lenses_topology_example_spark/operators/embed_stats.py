"""Corpus-level embedding statistics (training-data tier, SURVEY.md
§2.6): diversity measurement and fixed-centroid clustering assignment.

- `q_corpus_diversity`  mean pairwise cosine similarity across the WHOLE
  corpus in ONE pass via the sum-vector identity: for unit-normalized
  vectors û,  Σ_{i≠j} cos(i,j) = ||Σ û||² − N,  so
  mean = (||Σ û||² − N) / (N(N−1)). The naive form is N² pairs (10¹⁸ at
  10⁹ vectors); this is a per-dimension aggregation — the measure
  SemDeDup-style curation tracks before/after pruning.
- `q_kmeans_assign`     nearest-centroid assignment against K fixed
  centroids (the K lowest vec_ids — deterministic, so the oracle
  reproduces them). One broadcast join + per-vector top-1; the full
  Lloyd iteration composes by re-deriving centroids from the assignment
  and repeating (the dedup_cluster fixpoint pattern); a single exact
  assignment pass is the oracle-checkable unit.

Float discipline (the repo standard): all vector math is double after an
explicit element cast, folds are sequential left-folds identical to the
oracle's list_reduce (operators/similarity.py), cross-engine
accumulation-order hazards (per-dim component sums, per-centroid cosine
means) go through DECIMAL(38,6) per-row so the aggregation is exact and
order-independent, and final scalars round-trip decimal like lm_score's
logs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..memo import cached
from .similarity import cosine_prenorm, dot, emb_base, sql_dot

KMEANS_K = 4


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus report: vector count and exact mean pairwise
    cosine via the sum-vector identity (docstring above).

    Exactness across engines: each normalized component (one IEEE
    divide per element, identical both sides) is rounded to
    DECIMAL(38,6) BEFORE the per-dimension sum, so the only
    order-sensitive aggregation is exact; the identity's remaining
    math is a fixed scalar expression. The decimal rounding perturbs
    the mean by O(1e-6/√N) — both engines perturb identically, which
    is the property the driver hash needs.

    Scale shape: normalize per-row (no shuffle), posexplode to
    (dim, component) — the one corpus-scale exchange, keyed by dim and
    collapsed by partial aggregation to |dims| rows per partition
    before it — then |dims|-row scalar math. Zero-norm vectors are
    excluded (they have no defined cosine to anything).
    """
    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    comps = emb.select(
        F.posexplode(
            F.transform(F.col("v"), lambda x: x / F.col("nrm"))
        ).alias("dim", "x")
    ).select("dim", F.col("x").cast("decimal(38,6)").alias("xd"))
    dim_sums = comps.groupBy("dim").agg(F.sum("xd").alias("s"))
    sq = dim_sums.select(
        (F.col("s").cast("double") * F.col("s").cast("double"))
        .cast("decimal(38,6)")
        .alias("s2")
    )
    total = sq.agg(F.sum("s2").cast("double").alias("ss"))
    n = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    # 1-row x 1-row cross join: the repo's deliberate scalar pattern
    return n.crossJoin(F.broadcast(total)).select(
        "n_vecs",
        (
            (F.col("ss") - F.col("n_vecs"))
            / (F.col("n_vecs") * (F.col("n_vecs") - F.lit(1.0)))
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("mean_pairwise_cos"),
    )


SQL_CORPUS_DIVERSITY = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (
        SELECT vec_id, list_transform(v, x -> x / nrm) AS u
        FROM nn WHERE nrm > 0
    ), comps AS (
        SELECT unnest(generate_series(1, len(u))) AS dim,
               CAST(unnest(u) AS DECIMAL(38,6)) AS xd
        FROM f
    ), dim_sums AS (
        SELECT dim, SUM(xd) AS s FROM comps GROUP BY dim
    ), sq AS (
        SELECT CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    AS DECIMAL(38,6)) AS s2
        FROM dim_sums
    ), total AS (SELECT CAST(SUM(s2) AS DOUBLE) AS ss FROM sq),
    cnt AS (SELECT COUNT(*) AS n_vecs FROM f)
    SELECT n_vecs,
           CAST(CAST((ss - n_vecs) / (n_vecs * (n_vecs - 1.0))
                AS DECIMAL(38,6)) AS DOUBLE) AS mean_pairwise_cos
    FROM cnt CROSS JOIN total
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to its nearest of KMEANS_K fixed
    centroids (the K lowest vec_ids) by cosine; report per-centroid
    membership count and mean cosine. Ties break to the lowest
    centroid id — cosines are bit-identical across engines (same fold,
    operators/similarity.py), so the argmax is too.

    Scale shape: the K-row centroid frame broadcasts; scoring is K
    prenorm folds per vector with no shuffle; the per-vector top-1
    window is partitioned by vec_id and Catalyst's WindowGroupLimit
    keeps one row per vector per partition ahead of the exchange; the
    final aggregate is K-row bounded. The cosine mean goes through
    per-row DECIMAL(38,6) so the sum is order-independent, then one
    division (lm_score discipline)."""
    from pyspark.sql import Window as W

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        cosine_prenorm(
            F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("centroid_id").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.lit(1))
        .select(
            "vec_id",
            "centroid_id",
            F.col("cos_sim").cast("decimal(38,6)").alias("cos_d"),
        )
    )
    return best.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        (F.sum("cos_d").cast("double") / F.count(F.lit(1))).alias("mean_cos"),
    )


SQL_KMEANS_ASSIGN = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm
        FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {KMEANS_K}
    ), p AS (
        SELECT f.vec_id, c.centroid_id,
               {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm) AS cos_sim
        FROM f CROSS JOIN c
    ), b AS (
        SELECT vec_id, centroid_id,
               CAST(cos_sim AS DECIMAL(38,6)) AS cos_d
        FROM p
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY cos_sim DESC, centroid_id ASC) = 1
    )
    SELECT centroid_id,
           COUNT(*) AS n_assigned,
           CAST(SUM(cos_d) AS DOUBLE) / COUNT(*) AS mean_cos
    FROM b
    GROUP BY centroid_id
"""


def q_silhouette_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette over the kmeans_assign
    clustering (Rousseeuw 1987's medoid-free variant — the form every
    large-scale clustering validity check uses, because the classic
    all-pairs silhouette is O(n²)): per vector, a = cosine distance
    (1 − cos) to its own nearest centroid, b = distance to the
    runner-up centroid, s = (b − a) / max(a, b) ∈ [0, 1] under
    nearest-assignment (a ≤ b by construction). Per-cluster mean and
    min — the cohesion/separation readout kmeans_elbow (inertia) and
    cluster_purity (labels) deliberately cannot see.

    Determinism: cosines are the shared prenorm fold (bit-identical);
    the top-2 window breaks ties on centroid_id; s is one fixed double
    expression of two identical cosines, rounded through DECIMAL(38,6)
    per row before the order-free mean (kmeans mean_cos discipline);
    min is exact on identical doubles; a degenerate a=b=0 row yields
    NULL s via try_divide and drops from both mean legs identically.

    Scale shape (100 TB): the K-row centroid frame broadcasts; scoring
    is K prenorm folds per vector, no shuffle; the top-2 window is
    partitioned by vec_id (WindowGroupLimit keeps 2 rows per vector
    per partition ahead of the exchange); the final aggregate is
    K-row bounded."""
    from pyspark.sql import Window as W

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        cosine_prenorm(
            F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("centroid_id").asc()
    )
    top2 = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= F.lit(2)
    )
    per_vec = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("centroid_id"))).alias(
            "centroid_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("cos_sim"))).alias("cos1"),
        F.max(F.when(F.col("rn") == 2, F.col("cos_sim"))).alias("cos2"),
    )
    a = F.lit(1.0) - F.col("cos1")
    b = F.lit(1.0) - F.col("cos2")
    sil = F.try_divide(F.col("cos1") - F.col("cos2"), F.greatest(a, b))
    staged = per_vec.select(
        "centroid_id",
        sil.cast("decimal(38,6)").alias("sil_d"),
        sil.alias("sil_raw"),
    )
    return (
        staged.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.try_divide(
                F.sum("sil_d").cast("double"),
                F.count("sil_d").cast("double"),
            ).alias("mean_sil"),
            F.min("sil_raw").alias("min_sil"),
        )
        .orderBy("centroid_id")
    )


SQL_SILHOUETTE_REPORT = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {KMEANS_K}
    ), p AS (
        SELECT f.vec_id, c.centroid_id,
               {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm) AS cos_sim
        FROM f CROSS JOIN c
    ), t AS (
        SELECT vec_id, centroid_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC,
                                           centroid_id ASC) AS rn
        FROM p QUALIFY rn <= 2
    ), pv AS (
        SELECT vec_id,
               MAX(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
               MAX(CASE WHEN rn = 1 THEN cos_sim END) AS cos1,
               MAX(CASE WHEN rn = 2 THEN cos_sim END) AS cos2
        FROM t GROUP BY vec_id
    ), s AS (
        SELECT centroid_id,
               CAST((cos1 - cos2)
                    / NULLIF(GREATEST(1.0 - cos1, 1.0 - cos2), 0.0)
                    AS DECIMAL(38,6)) AS sil_d,
               (cos1 - cos2)
                   / NULLIF(GREATEST(1.0 - cos1, 1.0 - cos2), 0.0)
                   AS sil_raw
        FROM pv
    )
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(sil_d) AS DOUBLE)
               / NULLIF(CAST(COUNT(sil_d) AS DOUBLE), 0.0) AS mean_sil,
           MIN(sil_raw) AS min_sil
    FROM s
    GROUP BY centroid_id
    ORDER BY centroid_id
"""


# --- int8 scalar quantization error report -----------------------------------------


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide error report for symmetric int8 scalar quantization
    (per-vector absmax scale — the layout ANN indexes and KV caches
    ship at scale: 4x smaller vectors, distance math in int8). One row:
    vector count, mean per-vector MAE, and the corpus max absolute
    reconstruction error.

    Rounding is floor(x*127/s + 0.5) — explicit half-up in identical
    IEEE order on both engines (native round() half-mode differs
    between engines). Per-vector folds are sequential (deterministic);
    the cross-vector mean goes through DECIMAL(38,6); the max is exact.

    Scale shape: one scan, per-row expression work, then a 1-row global
    aggregate (partial aggregation collapses each partition to one
    row). The absmax scale is an outer expression referenced inside
    interpreted lambdas — re-evaluated per element, O(d^2) arithmetic
    per row, which at d=64 is ~4k flops/row: cheap, flagged here so a
    10k-dim corpus knows to materialize the scale column first (same
    CollapseProject hazard pmi_collocations hit with the tokenizer,
    operators/text.py)."""
    emb = emb_base(spark, sf_dir).select("vec_id", "v")
    s = F.array_max(F.transform(F.col("v"), F.abs))
    emb = emb.withColumn("s", s).filter(F.col("s") > F.lit(0.0))
    err = F.transform(
        F.col("v"),
        lambda x: F.abs(
            F.floor(x * F.lit(127.0) / F.col("s") + F.lit(0.5)).cast("double")
            * F.col("s")
            / F.lit(127.0)
            - x
        ),
    )
    per_vec = emb.select(
        F.try_divide(
            F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x),
            F.size(F.col("v")),
        )
        .cast("decimal(38,6)")
        .alias("mae_d"),
        F.array_max(err).alias("vmax"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("mae_d").cast("double") / F.count(F.lit(1))).alias("mean_abs_err"),
        F.max("vmax").alias("max_abs_err"),
    )


_SQL_Q_ERR = (
    "list_transform(v, x -> abs("
    "CAST(floor(x * 127.0 / s + 0.5) AS DOUBLE) * s / 127.0 - x))"
)

SQL_EMBED_QUANTIZE = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), sc AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS s
        FROM e
    ), f AS (SELECT * FROM sc WHERE s > 0),
    per_vec AS (
        SELECT CAST(list_reduce(list_prepend(0.0::DOUBLE, {_SQL_Q_ERR}),
                    (acc, x) -> acc + x) / len(v) AS DECIMAL(38,6)) AS mae_d,
               list_max({_SQL_Q_ERR}) AS vmax
        FROM f
    )
    SELECT COUNT(*) AS n_vecs,
           CAST(SUM(mae_d) AS DOUBLE) / COUNT(*) AS mean_abs_err,
           MAX(vmax) AS max_abs_err
    FROM per_vec
"""


# --- one Lloyd iteration: recompute centroids, reassign ----------------------------


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration on top of the fixed seed assignment:
    (1) assign every vector to its nearest seed centroid (the
    q_kmeans_assign plan), (2) recompute each centroid as the
    per-dimension MEAN of its members, (3) reassign every vector to the
    nearest REFINED centroid. Output: per refined centroid, member
    count and decimal-exact mean cosine. Iterating to convergence is
    this plan in the dedup_cluster fixpoint loop; one iteration is the
    oracle-checkable unit (no recursion needed — a fixed chain of CTEs).

    Exactness: centroid recomputation is the one cross-engine hazard —
    per-(centroid, dim) component sums go through DECIMAL(38,6)
    (order-free), then ONE double division by the member count, so both
    engines derive bit-identical refined centroids; all cosine math
    then reuses the deterministic fold discipline.

    Scale shape: assignment is the broadcast+window plan of
    q_kmeans_assign; recomputation is one (K x dims)-keyed aggregate
    (partial agg collapses each partition to K*dims rows); the refined
    centroid table is K rows and broadcasts back for reassignment. Two
    corpus passes per iteration — the Lloyd minimum."""
    from pyspark.sql import Window as W

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent0 = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )

    def assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy(
            F.col("cos_sim").desc(), F.col("cid").asc()
        )
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "v",
                "nrm",
                "cid",
                cosine_prenorm(
                    F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
                ).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == F.lit(1))
            .drop("rn")
        )

    a1 = assign(emb, cent0)
    comps = a1.select(
        "cid", F.posexplode(F.col("v")).alias("dim", "x")
    ).select("cid", "dim", F.col("x").cast("decimal(38,6)").alias("xd"))
    cent1 = (
        comps.groupBy("cid", "dim")
        .agg(
            (F.sum("xd").cast("double") / F.count(F.lit(1))).alias("m")
        )
        .groupBy("cid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ).alias("dm")
        )
        .select(
            "cid",
            F.transform(F.col("dm"), lambda s: s.getField("m")).alias("cv"),
        )
        .withColumn("cnrm", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        .filter(F.col("cnrm") > F.lit(0.0))
    )
    a2 = assign(emb, cent1)
    return a2.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        (
            F.sum(F.col("cos_sim").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cos"),
    )


SQL_KMEANS_REFINE = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c0 AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {KMEANS_K}
    ), a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT f.vec_id, f.v, c0.cid,
                   {sql_dot('f.v', 'c0.cv')} / (f.nrm * c0.cnrm) AS cos_sim
            FROM f CROSS JOIN c0
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, cid ASC) = 1
    ), comps AS (
        SELECT cid,
               unnest(generate_series(1, len(v))) AS dim,
               CAST(unnest(v) AS DECIMAL(38,6)) AS xd
        FROM a1
    ), means AS (
        SELECT cid, dim, CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS m
        FROM comps GROUP BY cid, dim
    ), c1 AS (
        SELECT cid, list(m ORDER BY dim) AS cv FROM means GROUP BY cid
    ), c1n AS (
        SELECT cid, cv, sqrt({sql_dot('cv', 'cv')}) AS cnrm
        FROM c1
        WHERE sqrt({sql_dot('cv', 'cv')}) > 0
    ), a2 AS (
        SELECT vec_id, cid, cos_sim FROM (
            SELECT f.vec_id, c1n.cid,
                   {sql_dot('f.v', 'c1n.cv')} / (f.nrm * c1n.cnrm) AS cos_sim
            FROM f CROSS JOIN c1n
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, cid ASC) = 1
    )
    SELECT cid AS centroid_id,
           COUNT(*) AS n_assigned,
           CAST(SUM(CAST(cos_sim AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS mean_cos
    FROM a2
    GROUP BY cid
"""

def kmeans_fit(
    spark: SparkSession, sf_dir: str, max_iters: int = 25
) -> tuple[DataFrame, int, bool]:
    """Full Lloyd iteration run to the assignment FIXPOINT — the
    composition q_kmeans_refine's docstring promises ("iterating to
    convergence is this plan in the dedup_cluster fixpoint loop").
    Returns (labels, n_iters, converged): labels is the eager
    (vec_id, centroid_id) membership at the fixpoint, n_iters counts
    completed Lloyd iterations (recompute + reassign), converged is
    False only when max_iters ran out while assignments still moved.

    The loop is the resolve_clusters protocol (operators/dedup.py):
    driver-side iteration over DISTRIBUTED rounds, one scalar `count`
    action per round as the convergence check, and localCheckpoint on
    every membership frame so the lineage does not re-derive all prior
    rounds (Lloyd's plan doubles per iteration otherwise). Nothing
    data-sized touches the driver — each round is one broadcast-join
    assignment pass plus one (K x dims)-keyed partial-aggregating
    recompute, exactly the q_kmeans_refine shapes.

    Determinism (the property the fixpoint test pins): every quantity
    on the path — the prenorm cosine folds, the (cos DESC, cid ASC)
    argmax, the per-(cid, dim) DECIMAL(38,6) component sums and their
    single double division — is bit-deterministic and order-free, so
    the iteration TRAJECTORY (not just the final state) is exactly
    reproducible by a sequential replica. Clusters that lose every
    member simply drop out of the centroid frame (standard Lloyd
    behavior); zero-norm refined centroids are filtered like their
    seed counterparts.

    Scale shape (100 TB): two corpus passes per iteration (the Lloyd
    minimum), both shuffle-light — assignment exchanges only the
    WindowGroupLimit-trimmed one-row-per-vector frame, recompute
    partial-aggregates to K*dims rows per partition; the K-row
    centroid frame broadcasts both ways. O(diameter)-style round count
    is bounded by max_iters.
    """
    from pyspark.sql import Window as W

    emb = (
        emb_base(spark, sf_dir)
        .select("vec_id", "v", F.col("norm").alias("nrm"))
        .filter(F.col("nrm") > F.lit(0.0))
        .localCheckpoint()
    )

    def assign(cents: DataFrame) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy(
            F.col("cos_sim").desc(), F.col("cid").asc()
        )
        return (
            emb.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "cid",
                cosine_prenorm(
                    F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
                ).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == F.lit(1))
            .select("vec_id", "cid")
        )

    def recompute(labels: DataFrame) -> DataFrame:
        comps = (
            emb.join(labels, "vec_id")
            .select("cid", F.posexplode(F.col("v")).alias("dim", "x"))
            .select(
                "cid", "dim", F.col("x").cast("decimal(38,6)").alias("xd")
            )
        )
        return (
            comps.groupBy("cid", "dim")
            .agg((F.sum("xd").cast("double") / F.count(F.lit(1))).alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("m")))
                ).alias("dm")
            )
            .select(
                "cid",
                F.transform(F.col("dm"), lambda s: s.getField("m")).alias(
                    "cv"
                ),
            )
            .withColumn("cnrm", F.sqrt(dot(F.col("cv"), F.col("cv"))))
            .filter(F.col("cnrm") > F.lit(0.0))
        )

    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    labels = assign(cent).localCheckpoint()
    for it in range(1, max_iters + 1):
        cur = assign(recompute(labels)).localCheckpoint()
        n_changed = (
            labels.alias("p")
            .join(cur.alias("c"), "vec_id")
            .filter(F.col("p.cid") != F.col("c.cid"))
            .count()
        )
        labels = cur
        if n_changed == 0:
            return labels.withColumnRenamed("cid", "centroid_id"), it, True
    return labels.withColumnRenamed("cid", "centroid_id"), max_iters, False


# --- cluster composition / label purity report -------------------------------------


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster composition report over the fixed-centroid assignment
    (q_kmeans_assign's plan): member count, corpus share, majority
    label, and purity (majority fraction). The topic-balance check a
    cluster-curated corpus runs after SemDeDup-style pruning — skewed
    shares mean the sampler must rebalance, low purity means the
    clustering is too coarse for label-stratified work.

    Determinism: cosines are the deterministic fold (similarity.py), so
    the per-vector argmax matches the oracle; majority ties break to
    the LOWEST label id; share/purity are single IEEE divisions of
    exact ints.

    Scale shape: identical to q_kmeans_assign up to the per-vector
    top-1 (broadcast centroids, WindowGroupLimit); then one
    (centroid, label)-keyed count — K x |labels| rows out of the
    partial agg — and every remaining window (member totals, corpus
    total, majority rank) runs over that K x |labels| frame, never the
    corpus."""
    from pyspark.sql import Window as W

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "label", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("centroid_id").asc()
    )
    best = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "centroid_id",
            cosine_prenorm(
                F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.lit(1))
    )
    by_label = best.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cl = W.partitionBy("centroid_id")
    w_rank = W.partitionBy("centroid_id").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    return (
        by_label.withColumn("n_assigned", F.sum("c").over(w_cl))
        .withColumn("total", F.sum("c").over(W.partitionBy()))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == F.lit(1))
        .select(
            "centroid_id",
            "n_assigned",
            (F.col("n_assigned") / F.col("total")).alias("share"),
            F.col("label").alias("top_label"),
            (F.col("c") / F.col("n_assigned")).alias("purity"),
        )
    )


SQL_CLUSTER_PURITY = f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, label, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {KMEANS_K}
    ), b AS (
        SELECT vec_id, label, centroid_id FROM (
            SELECT f.vec_id, f.label, c.centroid_id,
                   {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm) AS cos_sim
            FROM f CROSS JOIN c
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, centroid_id ASC) = 1
    ), bl AS (
        SELECT centroid_id, label, COUNT(*) AS c
        FROM b GROUP BY centroid_id, label
    ), t AS (
        SELECT centroid_id, label, c,
               SUM(c) OVER (PARTITION BY centroid_id) AS n_assigned,
               SUM(c) OVER () AS total
        FROM bl
    )
    SELECT centroid_id,
           CAST(n_assigned AS BIGINT) AS n_assigned,
           CAST(n_assigned AS BIGINT) / CAST(total AS BIGINT) AS share,
           label AS top_label,
           c / CAST(n_assigned AS BIGINT) AS purity
    FROM t
    QUALIFY ROW_NUMBER() OVER (PARTITION BY centroid_id
                               ORDER BY c DESC, label ASC) = 1
"""


# --- embedding outlier report ------------------------------------------------------

OUTLIER_BOTTOM_K = 20


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTLIER_BOTTOM_K vectors least aligned with the corpus mean
    direction — mislabeled, corrupt, or off-distribution embeddings
    surface at the bottom of cos(v, centroid); pruning them is the
    counterpart to SemDeDup's pruning of the over-aligned. Output:
    rank, vec_id, label, cosine to the mean direction.

    Determinism: the centroid is the per-dimension mean of the UNIT
    vectors with each component DECIMAL(38,6)-rounded before the sum
    (order-free — the corpus_diversity discipline) and ONE double
    division, so both engines derive the bit-identical centroid; the
    ranking sorts the decimal-rounded cosine with vec_id tie-break.

    Scale shape: one pass to normalize + posexplode into the
    (dim, component) aggregate (|dims| rows out), centroid re-assembled
    from the |dims|-row frame and broadcast back as a 1-row constant;
    scoring is one prenorm fold per vector with no shuffle, and the
    bottom-k is TakeOrderedAndProject (per-partition k, never a global
    sort)."""
    emb = emb_base(spark, sf_dir).select(
        "vec_id", "label", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    comps = emb.select(
        F.posexplode(
            F.transform(F.col("v"), lambda x: x / F.col("nrm"))
        ).alias("dim", "x")
    ).select("dim", F.col("x").cast("decimal(38,6)").alias("xd"))
    n = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    cent = (
        comps.groupBy("dim")
        .agg(F.sum("xd").alias("s"))
        .crossJoin(F.broadcast(n))
        .select(
            "dim", (F.col("s").cast("double") / F.col("n_vecs")).alias("m")
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ).alias("dm")
        )
        .select(
            F.transform(F.col("dm"), lambda s: s.getField("m")).alias("cv")
        )
        .withColumn("cnrm", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        .filter(F.col("cnrm") > F.lit(0.0))
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        cosine_prenorm(F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm"))
        .cast("decimal(38,6)")
        .alias("cos_d"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy().orderBy(F.col("cos_d").asc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("cos_d").asc(), F.col("vec_id").asc())
        .limit(OUTLIER_BOTTOM_K)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "vec_id",
            "label",
            F.col("cos_d").cast("double").alias("cos_to_centroid"),
        )
    )


SQL_EMBED_OUTLIERS = f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, label, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    comps AS (
        SELECT unnest(generate_series(1, len(v))) AS dim,
               CAST(unnest(list_transform(v, x -> x / nrm))
                    AS DECIMAL(38,6)) AS xd
        FROM f
    ), cnt AS (SELECT COUNT(*) AS n_vecs FROM f),
    means AS (
        SELECT dim, CAST(SUM(xd) AS DOUBLE) / n_vecs AS m
        FROM comps CROSS JOIN cnt GROUP BY dim, n_vecs
    ), c AS (
        SELECT list(m ORDER BY dim) AS cv FROM means
    ), cn AS (
        SELECT cv, sqrt({sql_dot('cv', 'cv')}) AS cnrm FROM c
        WHERE sqrt({sql_dot('cv', 'cv')}) > 0
    ), scored AS (
        SELECT f.vec_id, f.label,
               CAST({sql_dot('f.v', 'cn.cv')} / (f.nrm * cn.cnrm)
                    AS DECIMAL(38,6)) AS cos_d
        FROM f CROSS JOIN cn
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos_d ASC, vec_id ASC) AS INT)
               AS rank,
           vec_id, label, CAST(cos_d AS DOUBLE) AS cos_to_centroid
    FROM scored
    ORDER BY cos_d ASC, vec_id ASC
    LIMIT {OUTLIER_BOTTOM_K}
"""


def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    by TWO unrolled power-iteration matvecs — the distributed shape of
    spectral corpus analysis (PCA whitening, spectral outlier screens).

    Each matvec w = EᵀE·v is two keyed aggregations, never a DxD
    matrix: dot_i = Σ_d E[i,d]·v[d] (groupBy vec_id) then
    w[d] = Σ_i E[i,d]·dot_i (groupBy dim). Both sums go through
    DECIMAL(38,6) per-row, so every accumulation is exact and
    order-independent; the remaining scalars (sqrt norm, divisions,
    the sign fix on dim 0) are single IEEE ops evaluated in the same
    order as the oracle — cross-engine parity needs no tolerance.
    The iteration starts from the all-ones vector (its scale cancels
    in the first normalization), v1 = normalize(EᵀE·1), and reports
    v2 = sign-fixed normalize(EᵀE·v1) with λ = ||EᵀE·v1|| (a Rayleigh
    estimate since v1 is unit). More iterations compose by repeating
    the two aggregations (the kmeans_refine / dedup_cluster fixpoint
    pattern); two already separate the synthetic data's top eigenvalue.

    Scale shape (100 TB): the exploded frame shuffles only keyed
    partial aggregates (|vecs| keys then |dims| keys); v broadcasts at
    |dims| rows; dot_i joins back co-partitioned on vec_id under AQE.
    Zero driver-side collection — the eigenvector is a DataFrame.

    Iteration state is memo-persisted (r16 standing plan-audit gate:
    w1/w2 are |dims|-row frames with 2-3 consumers each whose cache
    closes the re-derivation chain — without it the plan re-derived the
    whole two-iteration chain per consumer).

    r18 rewrite (guide §2.3/§2.4 — aggregate before you shuffle,
    remove shuffles outright): the matvec no longer round-trips
    through an exploded (vec_id, dim, val) table. dot_i = Σ_d E[i,d]
    is a PER-ROW decimal(38,6) fold over the embedding array (exact
    decimal addition is order-free, per-element CAST is the identical
    half-up rounding, so the value is bit-equal to the grouped SUM
    over exploded rows), which deletes the groupBy(vec_id) exchange
    AND the e⋈d1 / e⋈d2 vec_id-keyed joins — the dot rides the row
    into one posexplode straight into the |dims|-keyed aggregate
    (64 cells, map-side partial collapse). Iteration 2 aligns v1 by
    zipping the embedding array with the dim-sorted v1 vector
    (array_sort(collect_list(struct(dim, vv))) — dims are unique, so
    the sort is total) instead of a dim-keyed join: only the two
    64-cell dim aggregates shuffle at all. Interleaved warm A/B
    (n=5, noop): min 1.31 s -> 0.74 s, and the exploded-table memo
    (640k-row cache) is gone. Output row-identical (collect
    compared); oracle SQL twin unchanged."""
    emb = emb_base(spark, sf_dir).select("vec_id", "v")

    def dsum6(col: F.Column) -> F.Column:
        return F.sum(col.cast("decimal(38,6)")).cast("double")

    def fold6(arr: F.Column) -> F.Column:
        # per-row twin of dsum6-over-exploded-rows: same per-element
        # decimal(38,6) cast, exact (order-free) decimal accumulation
        return F.aggregate(
            arr,
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, x: acc + x.cast("decimal(38,6)"),
        ).cast("double")

    def build_w1() -> DataFrame:
        e1 = emb.withColumn("dot", fold6(F.col("v"))).select(
            "dot", F.posexplode("v").alias("dim", "val")
        )
        return e1.groupBy("dim").agg(
            dsum6(F.col("val") * F.col("dot")).alias("w")
        ).persist()

    def build_w2() -> DataFrame:
        w1 = cached(spark, sf_dir, "pca_w1", build_w1)
        n1 = w1.agg(F.sqrt(dsum6(F.col("w") * F.col("w"))).alias("nrm"))
        v1 = w1.crossJoin(F.broadcast(n1)).select(
            "dim", (F.col("w") / F.col("nrm")).alias("vv")
        )
        v1_arr = v1.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "vv"))),
                lambda s: s["vv"],
            ).alias("vv_arr")
        )
        e2 = (
            emb.crossJoin(F.broadcast(v1_arr))
            .withColumn(
                "dot", fold6(F.zip_with("v", "vv_arr", lambda a, b: a * b))
            )
            .select("dot", F.posexplode("v").alias("dim", "val"))
        )
        return e2.groupBy("dim").agg(
            dsum6(F.col("val") * F.col("dot")).alias("w")
        ).persist()

    w2 = cached(spark, sf_dir, "pca_w2", build_w2)
    lam = w2.agg(F.sqrt(dsum6(F.col("w") * F.col("w"))).alias("eigenvalue"))
    sgn = w2.filter(F.col("dim") == 0).select(
        F.when(F.col("w") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s")
    )
    return (
        w2.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(sgn))
        .select(
            "dim",
            (F.col("s") * (F.col("w") / F.col("eigenvalue"))).alias("component"),
            "eigenvalue",
        )
        .orderBy("dim")
    )


SQL_EMBED_PCA_POWER = """
    WITH e AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    d1 AS (
        SELECT vec_id, CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) AS dot
        FROM e GROUP BY vec_id
    ),
    w1 AS (
        SELECT dim,
               CAST(SUM(CAST(e.val * d1.dot AS DECIMAL(38,6))) AS DOUBLE) AS w
        FROM e JOIN d1 USING (vec_id) GROUP BY dim
    ),
    n1 AS (
        SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS nrm
        FROM w1
    ),
    v1 AS (SELECT dim, w / nrm AS vv FROM w1 CROSS JOIN n1),
    d2 AS (
        SELECT vec_id,
               CAST(SUM(CAST(e.val * v1.vv AS DECIMAL(38,6))) AS DOUBLE) AS dot
        FROM e JOIN v1 USING (dim) GROUP BY vec_id
    ),
    w2 AS (
        SELECT dim,
               CAST(SUM(CAST(e.val * d2.dot AS DECIMAL(38,6))) AS DOUBLE) AS w
        FROM e JOIN d2 USING (vec_id) GROUP BY dim
    ),
    lam AS (
        SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE))
               AS eigenvalue
        FROM w2
    ),
    sgn AS (
        SELECT CASE WHEN w >= 0 THEN 1.0 ELSE -1.0 END AS s
        FROM w2 WHERE dim = 0
    )
    SELECT dim, s * (w / eigenvalue) AS component, eigenvalue
    FROM w2 CROSS JOIN lam CROSS JOIN sgn
    ORDER BY dim
"""


# --- embedding-space drift monitor (round 9) ---------------------------------


def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between an incoming batch and the base
    corpus — the semantic complement of text.q_corpus_drift (same
    md5-parity batch/base slices as embed_dedup_incremental, so the
    continuous-ingestion operators see consistent splits): assign every
    vector to its nearest of KMEANS_K fixed centroids and compare the
    base vs batch assignment histograms per centroid (counts, shares,
    absolute share shift). A centroid whose batch share moves is the
    drift signal a SemDeDup-style pipeline alerts on before accepting a
    day's embeddings.

    Determinism: assignment argmax ties break to the lowest centroid id
    over bit-identical cosines (kmeans_assign discipline); shares are
    single IEEE divisions of exact int64 counts, identical on both
    engines; the share-shift |a-b| is one subtraction of those doubles.

    Scale shape: K-row centroid broadcast, per-vector prenorm fold with
    zero shuffle, WindowGroupLimit top-1 per vector, then ONE K-row
    bounded aggregate carrying two conditional counts (no second scan);
    batch totals are windows over the K-row aggregated frame."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    emb = emb_base(spark, sf_dir).select(
        "vec_id",
        (md5_hash64(F.col("vec_id").cast("string")) % 2).alias("p"),
        "v",
        F.col("norm").alias("nrm"),
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(KMEANS_K)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "p",
        "centroid_id",
        cosine_prenorm(
            F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
        ).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("centroid_id").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.lit(1))
        .select("vec_id", "p", "centroid_id")
    )
    hist = best.groupBy("centroid_id").agg(
        F.sum((F.col("p") == 0).cast("long")).alias("c_base"),
        F.sum((F.col("p") == 1).cast("long")).alias("c_batch"),
    )
    wt = W.partitionBy()
    hist = hist.withColumn("n_base", F.sum("c_base").over(wt)).withColumn(
        "n_batch", F.sum("c_batch").over(wt)
    )
    share_base = F.col("c_base").cast("double") / F.col("n_base").cast(
        "double"
    )
    share_batch = F.col("c_batch").cast("double") / F.col("n_batch").cast(
        "double"
    )
    return hist.select(
        "centroid_id",
        "c_base",
        "c_batch",
        share_base.alias("share_base"),
        share_batch.alias("share_batch"),
        F.abs(share_batch - share_base).alias("share_shift"),
    ).orderBy("centroid_id")


_SQL_EMBED_DRIFT_P = "(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)"

SQL_EMBED_DRIFT = f"""
    WITH e AS (
        SELECT vec_id,
               ({_SQL_EMBED_DRIFT_P} % 2) AS p,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, p, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {KMEANS_K}
    ), b AS (
        SELECT vec_id, p, centroid_id
        FROM (
            SELECT f.vec_id, f.p, c.centroid_id,
                   {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm) AS cos_sim
            FROM f CROSS JOIN c
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id
            ORDER BY cos_sim DESC, centroid_id ASC) = 1
    ), hist AS (
        SELECT centroid_id,
               CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_base,
               CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_batch
        FROM b GROUP BY centroid_id
    ), tot AS (
        SELECT centroid_id, c_base, c_batch,
               SUM(c_base) OVER () AS n_base,
               SUM(c_batch) OVER () AS n_batch
        FROM hist
    )
    SELECT centroid_id, c_base, c_batch,
           CAST(c_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS share_base,
           CAST(c_batch AS DOUBLE) / CAST(n_batch AS DOUBLE) AS share_batch,
           abs(CAST(c_batch AS DOUBLE) / CAST(n_batch AS DOUBLE)
               - CAST(c_base AS DOUBLE) / CAST(n_base AS DOUBLE))
               AS share_shift
    FROM tot
    ORDER BY centroid_id
"""


# --- K-selection elbow audit (round 9) ---------------------------------------

# nested candidate centroid sets: the K lowest vec_ids for each K (the
# kmeans_assign convention), so the sets are prefixes of one another and
# ONE scored frame answers every K
ELBOW_KS = (2, 4, 8, 16)


def q_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-selection elbow curve: total cosine-distance inertia
    Σ_v min_{c in C_K} (1 − cos(v, c)) for each candidate K — the
    measure-don't-guess audit that chooses K before committing a full
    Lloyd run (the clustering analogue of ann_recall choosing between
    ANN layouts). Because the candidate centroid sets are NESTED
    prefixes (C_2 ⊂ C_4 ⊂ C_8 ⊂ C_16), inertia is provably
    non-increasing in K — a property the tests pin — and one scored
    frame serves all four curves.

    Determinism: cosines are the bit-identical prenorm expressions of
    kmeans_assign; per-vector minima select among bit-identical doubles
    (no arithmetic); each minimum rounds to DECIMAL(38,6) before the
    global sum, so accumulation order cannot drift; the improvement
    column is one subtraction of those exact sums over a 4-row frame.

    Scale shape: ONE |Kmax|-row centroid broadcast onto the corpus scan
    (never re-scanned per K), per-vector conditional minima collapse in
    the same keyed aggregation, then a single 1-row global fold and a
    4-row stack + lag window (the documented tiny-frame class)."""
    from pyspark.sql import Window as W

    kmax = max(ELBOW_KS)
    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") < F.lit(kmax)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        (
            F.lit(1.0)
            - cosine_prenorm(
                F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
            )
        ).alias("dist"),
    )
    per_vec = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.when(F.col("centroid_id") < F.lit(k), F.col("dist"))
            ).alias(f"d{k}")
            for k in ELBOW_KS
        ]
    )
    tot = per_vec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        *[
            F.sum(F.col(f"d{k}").cast("decimal(38,6)"))
            .cast("double")
            .alias(f"i{k}")
            for k in ELBOW_KS
        ],
    )
    stack_args = ", ".join(f"{k}, i{k}" for k in ELBOW_KS)
    rows = tot.select(
        "n_vectors",
        F.expr(
            f"stack({len(ELBOW_KS)}, {stack_args}) AS (k, inertia)"
        ),
    ).select(F.col("k").cast("int").alias("k"), "inertia", "n_vectors")
    wl = W.orderBy("k")
    return rows.select(
        "k",
        "n_vectors",
        "inertia",
        F.coalesce(
            F.lag("inertia").over(wl) - F.col("inertia"), F.lit(0.0)
        ).alias("improvement"),
    ).orderBy("k")


def _build_sql_kmeans_elbow() -> str:
    kmax = max(ELBOW_KS)
    mins = ",\n               ".join(
        f"MIN(CASE WHEN centroid_id < {k} THEN dist END) AS d{k}"
        for k in ELBOW_KS
    )
    sums = ",\n               ".join(
        f"CAST(SUM(CAST(d{k} AS DECIMAL(38,6))) AS DOUBLE) AS i{k}"
        for k in ELBOW_KS
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT {k} AS k, n_vectors, i{k} AS inertia FROM tot"
        for k in ELBOW_KS
    )
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM e
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
        FROM f WHERE vec_id < {kmax}
    ), scored AS (
        SELECT f.vec_id, c.centroid_id,
               1.0::DOUBLE - {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm)
                   AS dist
        FROM f CROSS JOIN c
    ), per_vec AS (
        SELECT vec_id,
               {mins}
        FROM scored GROUP BY vec_id
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               {sums}
        FROM per_vec
    ), rows_k AS (
        {unions}
    )
    SELECT CAST(k AS INTEGER) AS k, n_vectors, inertia,
           COALESCE(LAG(inertia) OVER (ORDER BY k) - inertia, 0.0::DOUBLE)
               AS improvement
    FROM rows_k
    ORDER BY k
"""


SQL_KMEANS_ELBOW = _build_sql_kmeans_elbow()


# --- rank-sum AUC audit (round 9) --------------------------------------------

AUC_POS_LABEL = 0  # positives = the label of centroid 0's class
AUC_CENTROID = 0  # score = cosine similarity to this fixed centroid


def q_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of "cosine to centroid 0" as a classifier for label 0 —
    the Mann-Whitney rank-sum form, exactly: AUC = (R_pos −
    n_pos(n_pos+1)/2) / (n_pos·n_neg) with ranks from the (score,
    vec_id) TOTAL order. The classifier-evaluation primitive the
    quality/similarity tiers lacked: kmeans_assign gives you a score,
    cluster_purity a confusion-style readout — this is the
    threshold-free quality number a model card reports.

    Rank definition note (part of the operator contract): ranks are
    row_number over the total order, not midranks — with continuous
    cosine scores ties have measure zero, and the vec_id tiebreak
    makes the statistic deterministic on any engine.

    Determinism: scores are bit-identical prenorm cosines; ranks and
    both counts are exact int64; AUC is ONE division of exact ints,
    decimal-rounded.

    Scale shape: one broadcast of the single centroid vector, one
    rank window (global by AUC's nature — the documented audit cost;
    a production run subsamples, same plan), one 1-row aggregate."""
    from pyspark.sql import Window as W

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "label", "v", F.col("norm").alias("nrm")
    ).filter(F.col("nrm") > F.lit(0.0))
    cent = emb.filter(F.col("vec_id") == F.lit(AUC_CENTROID)).select(
        F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        (F.col("label") == F.lit(AUC_POS_LABEL)).cast("int").alias("pos"),
        cosine_prenorm(
            F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")
        ).alias("score"),
    )
    w = W.orderBy(F.col("score").asc(), F.col("vec_id").asc())
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    agg = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("rnk")).otherwise(0))
        .cast("long")
        .alias("rank_sum_pos"),
    )
    auc = (
        (
            F.col("rank_sum_pos").cast("double")
            - F.col("n_pos").cast("double")
            * (F.col("n_pos").cast("double") + F.lit(1.0))
            / F.lit(2.0)
        )
        / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "rank_sum_pos",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            auc.cast("decimal(38,6)").cast("double"),
        ).alias("auc"),
    )


SQL_AUC_REPORT = f"""
    WITH emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               label
        FROM embeddings
    ), nn AS (
        SELECT vec_id, v, label, sqrt({sql_dot('v', 'v')}) AS nrm FROM emb
    ), f AS (SELECT * FROM nn WHERE nrm > 0),
    c AS (
        SELECT v AS cv, nrm AS cnrm FROM f WHERE vec_id = {AUC_CENTROID}
    ), scored AS (
        SELECT vec_id,
               CAST(label = {AUC_POS_LABEL} AS INTEGER) AS pos,
               {sql_dot('f.v', 'c.cv')} / (f.nrm * c.cnrm) AS score
        FROM f CROSS JOIN c
    ), ranked AS (
        SELECT pos,
               ROW_NUMBER() OVER (ORDER BY score ASC, vec_id ASC) AS rnk
        FROM scored
    ), agg AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
               CAST(SUM(CASE WHEN pos = 1 THEN rnk ELSE 0 END) AS BIGINT)
                   AS rank_sum_pos
        FROM ranked
    )
    SELECT n_pos, n_neg, rank_sum_pos,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST(CAST(
                   (CAST(rank_sum_pos AS DOUBLE)
                    - CAST(n_pos AS DOUBLE)
                      * (CAST(n_pos AS DOUBLE) + 1.0::DOUBLE)
                      / 2.0::DOUBLE)
                   / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                   AS DECIMAL(38,6)) AS DOUBLE) END AS auc
    FROM agg
"""


# --- per-dimension Fisher class separability (round 11) -------------------------


def q_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher discriminant screen of the embedding space
    (Fisher 1936 lineage): for every coordinate, the between-class
    variance of the per-label means against the pooled within-class
    variance — ratio >> 0 marks coordinates that actually separate the
    labels, ~0 marks dead/noise dimensions. The feature-selection
    readout behind a truncation decision that mrl_truncation_audit
    evaluates wholesale: WHICH dimensions carry the labels.

    Determinism: components quantize to DECIMAL(38,6) before the only
    corpus-scale sums (the corpus_diversity discipline); per-class
    terms are 6dp-rounded doubles decimal-summed over the bounded
    (label x dim) frame; the final variances/ratio are RAW doubles of
    those exact sums (already bit-identical — rounding them would only
    re-introduce the decimal-midpoint tie class, which fired once at
    registration) with a zero-denominator guard. The scale-12 square
    sums cross the 2^53 double line near 9e3 vectors PER (label, dim)
    cell — past that the documented 1-ulp cast class applies (re-round
    coarser if a driver SF ever reaches it).

    Scale shape (100 TB): ONE posexplode keyed (label, dim) partial-
    combines to |labels| x |dims| cells per partition before the
    exchange; everything after runs on that bounded frame (windows
    per dim over <=|labels| rows). Output is |dims| rows."""
    emb = emb_base(spark, sf_dir).select("label", "v")
    comps = emb.select(
        "label", F.posexplode(F.col("v")).alias("dim", "x")
    ).select("label", "dim", F.col("x").cast("decimal(38,6)").alias("xd"))
    cells = comps.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("xd").alias("s_c"),  # stays DECIMAL: window-summed exactly
        # square in DOUBLE, then cast: a 6dp decimal's square IS an
        # exact 12dp decimal, and the double uniquely recovers it at
        # scale 12 on both engines — decimal*decimal instead would hit
        # Spark's precision-38 scale-reduction rules (registration
        # found a 3e-8 drift vs DuckDB's exact decimal multiply)
        F.sum(
            (F.col("xd").cast("double") * F.col("xd").cast("double"))
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("ss_c"),
    )
    from pyspark.sql import Window as W

    w_dim = W.partitionBy("dim")
    mu_c = F.col("s_c").cast("double") / F.col("n_c").cast("double")
    tot_n = F.sum("n_c").over(w_dim).cast("double")
    tot_s = F.sum("s_c").over(w_dim).cast("double")
    mu = tot_s / tot_n
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    terms = cells.select(
        "dim",
        "n_c",
        tot_n.alias("n"),
        rnd(F.col("n_c").cast("double") * (mu_c - mu) * (mu_c - mu)).alias(
            "bt"
        ),
        rnd(F.col("ss_c") - F.col("n_c").cast("double") * mu_c * mu_c).alias(
            "wt"
        ),
    )
    agg = terms.groupBy("dim", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("bt").cast("decimal(38,6)")).cast("double").alias("b"),
        F.sum(F.col("wt").cast("decimal(38,6)")).cast("double").alias("w"),
    )
    # b, w, n are exact (decimal sums / int counts), so the division
    # doubles are bit-identical cross-engine ALREADY — a final 6dp
    # round would only ADD the decimal-midpoint tie class (it fired at
    # sf0.001 registration: Spark HALF_UP vs DuckDB's double->decimal
    # path disagreed by exactly 1e-6 on one ratio). Emit raw doubles.
    between = F.col("b") / F.col("n")
    within = F.col("w") / F.col("n")
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        "n_classes",
        between.alias("between_var"),
        within.alias("within_var"),
        F.when(within > F.lit(0.0), between / within).alias(
            "fisher_ratio"
        ),
    ).orderBy("dim")


SQL_FISHER_SEPARABILITY = """
    WITH comps AS (
        SELECT label,
               unnest(generate_series(0, len(embedding) - 1)) AS dim,
               CAST(unnest(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))) AS DECIMAL(38,6)) AS xd
        FROM embeddings
    ), cells AS (
        SELECT label, dim,
               CAST(COUNT(*) AS BIGINT) AS n_c,
               SUM(xd) AS s_c,
               CAST(SUM(CAST(CAST(xd AS DOUBLE) * CAST(xd AS DOUBLE)
                    AS DECIMAL(38,12))) AS DOUBLE) AS ss_c
        FROM comps GROUP BY label, dim
    ), terms AS (
        SELECT dim, n_c,
               CAST(SUM(n_c) OVER (PARTITION BY dim) AS DOUBLE) AS n,
               CAST(CAST(
                   CAST(n_c AS DOUBLE)
                   * (CAST(s_c AS DOUBLE) / n_c
                      - CAST(SUM(s_c) OVER (PARTITION BY dim) AS DOUBLE)
                      / CAST(SUM(n_c) OVER (PARTITION BY dim) AS DOUBLE))
                   * (CAST(s_c AS DOUBLE) / n_c
                      - CAST(SUM(s_c) OVER (PARTITION BY dim) AS DOUBLE)
                      / CAST(SUM(n_c) OVER (PARTITION BY dim) AS DOUBLE))
                   AS DECIMAL(38,6)) AS DOUBLE) AS bt,
               CAST(CAST(ss_c
                    - CAST(n_c AS DOUBLE) * (CAST(s_c AS DOUBLE) / n_c)
                    * (CAST(s_c AS DOUBLE) / n_c)
                    AS DECIMAL(38,6)) AS DOUBLE) AS wt
        FROM cells
    ), agg AS (
        SELECT dim, n,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CAST(bt AS DECIMAL(38,6))) AS DOUBLE) AS b,
               CAST(SUM(CAST(wt AS DECIMAL(38,6))) AS DOUBLE) AS w
        FROM terms GROUP BY dim, n
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n,
           n_classes,
           b / n AS between_var,
           w / n AS within_var,
           CASE WHEN w / n > 0.0 THEN (b / n) / (w / n)
           END AS fisher_ratio
    FROM agg
    ORDER BY dim
"""
