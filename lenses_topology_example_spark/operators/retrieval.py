"""Hybrid retrieval (training-data tier, SURVEY.md §2.6): reciprocal-
rank fusion of the lexical (BM25) and semantic (cosine ANN) rankers —
the standard production retrieval stack (lexical recall + embedding
recall fused rank-wise, e.g. Elasticsearch/Vespa hybrid search, RRF per
Cormack & Clarke SIGIR'09). A curation pipeline uses exactly this to
pull topical slices whose phrasing differs from the query terms: BM25
alone misses paraphrases, cosine alone misses rare exact terms; RRF
needs no score calibration between the two scales because it consumes
only the RANKS.

Reference scope note: the reference (lensesio/lenses-topology-example)
exhibits only Kafka topology plumbing (kafka/App.java, PaymentsService
.java); retrieval operators are part of this repo's §2.6 extension
surface, built Spark-first.

Determinism contract (repo standard): both legs produce integer ranks
from total orders (score DESC, doc_id ASC — bit-identical scores, see
text.q_bm25_search and similarity.q_sim_topk whose plans these legs
reuse); the fused score is a fixed two-term double expression over
integer ranks (1/(K+r_lex) + 1/(K+r_sem), each term or 0.0, same
operation order both engines), so it is bit-identical cross-engine; the
final ordering tie-breaks on doc_id.

Scale shape (100 TB): each leg ends in a WindowGroupLimit partial top-k
over |queries| partitions, so the fusion join sees two |Q|·k-row
bounded frames — never corpus-scale. The BM25 leg's corpus-scale work
is one term-filtered explode (the IN-list evaluates in codegen ahead of
the shuffle); the semantic leg is the sim_topk broadcast join (fixed
plan size however many query vectors). The fusion itself is a bounded
full-outer hash join on (query_id, doc_id) + one rank window over |Q|
partitions.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..datamodel import literal_df
from ..memo import cached
from .similarity import cosine_prenorm, emb_base
from .text import (
    BM25_QUERIES,
    BM25_TOP_K,
    SQL_BM25_SEARCH,
)

# RRF smoothing constant (the canonical k=60 of Cormack & Clarke).
RRF_K = 60
# fused list depth; both legs feed their own top-BM25_TOP_K candidates
HYBRID_TOP_K = 5
# query_id -> the embedding that represents the query in the semantic
# leg. vec_id and doc_id are the aligned corpus ids (TESTDATA.md), so
# query i is embodied by vector i — deterministic and oracle-visible.
HYBRID_QUERY_VECS = tuple(
    (qid, i) for i, (qid, _terms) in enumerate(BM25_QUERIES)
)


def sem_topk_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared semantic (cosine) ranking frame (query_id, doc_id,
    rank), memo-persisted (r17). Three consumers execute this exact
    corpus-scale scoring pass — q_hybrid_rrf's semantic leg and
    q_retrieval_eval twice (its cosine arm + the rrf arm's semantic
    leg) — with zero exchange reuse across them (the r16 standing
    plan-audit class). |Q|·k rows; the write-once per-leg ranking
    table of the bm25_topk_memo contract, semantic side."""
    def build() -> DataFrame:
        emb = (
            emb_base(spark, sf_dir)
            .select("vec_id", "v", F.col("norm").alias("nrm"))
            .filter(F.col("nrm") > F.lit(0.0))
        )
        qmap = literal_df(
            spark, HYBRID_QUERY_VECS, "query_id string, qvec_id long"
        )
        qvec = qmap.join(
            emb.select(
                F.col("vec_id").alias("qvec_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"),
            ),
            "qvec_id",
        ).select("query_id", "qv", "qnrm")
        wsem = W.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("doc_id").asc()
        )
        return (
            emb.crossJoin(F.broadcast(qvec))
            .select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                cosine_prenorm(
                    F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
                ).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(wsem))
            .filter(F.col("rn") <= F.lit(BM25_TOP_K))
            .select("query_id", "doc_id", F.col("rn").alias("rank"))
        ).persist()

    return cached(spark, sf_dir, "sem_topk", build)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused top-k per query: rrf = Σ_leg 1/(RRF_K + rank_leg), summed
    over the legs that retrieved the doc (absent leg contributes 0.0).
    Emits the fused rank plus each leg's rank (0 = not retrieved by
    that leg) so downstream consumers can see WHY a doc surfaced.

    Both legs read the shared memo-persisted ranking frames
    (text.bm25_topk_memo / sem_topk_memo, r17) instead of re-deriving
    the corpus-scale scoring passes — the fusion itself was always a
    bounded |Q|·k-row join."""
    from .text import bm25_topk_memo

    lex = bm25_topk_memo(spark, sf_dir).select(
        "query_id",
        "doc_id",
        F.col("rank").alias("lex_rank"),
    )
    sem = sem_topk_memo(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("sem_rank")
    )

    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce(F.col("sem_rank"), F.lit(0)).cast("int").alias("sem_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("lex_rank")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("sem_rank")),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    wf = W.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= F.lit(HYBRID_TOP_K))
        .select(
            "query_id", "rank", "doc_id", "rrf_score", "lex_rank", "sem_rank"
        )
    )


_SQL_QVECS = ", ".join(f"('{q}', {i})" for q, i in HYBRID_QUERY_VECS)


def _build_sql_hybrid_rrf() -> str:
    from .similarity import sql_dot

    return f"""
    WITH lex AS (
        SELECT query_id, doc_id, rank AS lex_rank
        FROM ({SQL_BM25_SEARCH})
    ), qmap(query_id, qvec_id) AS (VALUES {_SQL_QVECS}),
    emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nrmd AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM emb
    ), f AS (SELECT * FROM nrmd WHERE nrm > 0),
    qvec AS (
        SELECT qmap.query_id, f.v AS qv, f.nrm AS qnrm
        FROM qmap JOIN f ON f.vec_id = qmap.qvec_id
    ), sem AS (
        SELECT query_id, doc_id, rn AS sem_rank
        FROM (
            SELECT qvec.query_id, f.vec_id AS doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qvec.query_id
                       ORDER BY {sql_dot('qvec.qv', 'f.v')}
                                / (qvec.qnrm * f.nrm) DESC,
                                f.vec_id ASC) AS rn
            FROM f CROSS JOIN qvec
        )
        WHERE rn <= {BM25_TOP_K}
    ), fused AS (
        SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
               COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               CAST(COALESCE(lex.lex_rank, 0) AS INTEGER) AS lex_rank,
               CAST(COALESCE(sem.sem_rank, 0) AS INTEGER) AS sem_rank,
               COALESCE(1.0::DOUBLE / ({RRF_K}.0::DOUBLE + lex.lex_rank),
                        0.0::DOUBLE)
                   + COALESCE(1.0::DOUBLE
                              / ({RRF_K}.0::DOUBLE + sem.sem_rank),
                              0.0::DOUBLE)
                   AS rrf_score
        FROM lex FULL OUTER JOIN sem
          ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
    )
    SELECT query_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS rank,
           doc_id, rrf_score, lex_rank, sem_rank
    FROM fused
    QUALIFY rank <= {HYBRID_TOP_K}
"""


SQL_HYBRID_RRF = _build_sql_hybrid_rrf()


# --- ranker evaluation harness (round 9) -------------------------------------

# DCG discount for rank r and ideal-DCG prefix sums, precomputed in
# Python so BOTH engines consume the identical IEEE double literals
# (no cross-engine log2 evaluation at all)
_DCG_AT = {r: 1.0 / math.log2(r + 1) for r in range(1, BM25_TOP_K + 1)}
_IDCG_AT = {
    m: sum(_DCG_AT[r] for r in range(1, m + 1))
    for m in range(1, BM25_TOP_K + 1)
}


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-eval harness over the three rankers this repo ships (BM25
    lexical, cosine semantic, RRF hybrid): per method, mean
    precision@5 / MRR / NDCG@5 against label relevance (a doc is
    relevant to a query iff it carries the query vector's label — the
    weak-supervision relevance the knn_classify tier is built on).
    The measure-don't-guess audit that justifies shipping the fusion:
    if rrf does not beat its legs here, hybrid_rrf is complexity for
    nothing.

    Determinism: ranks are the rankers' own total-order integers;
    every DCG discount and ideal-DCG prefix is a PRECOMPUTED Python
    double literal identical in both engines (no runtime log2);
    per-query metrics round through DECIMAL(38,6) before the per-
    method mean (an exact sum of exact 1e-6 multiples).

    Scale shape: all three rankers end in WindowGroupLimit top-k, so
    the eval joins see 3·|Q|·k rows; labels join against that tiny
    broadcast frame; per-label corpus counts are one bounded
    aggregate."""
    from .text import bm25_topk_memo

    emb = emb_base(spark, sf_dir).select(
        "vec_id", "v", "label", F.col("norm").alias("nrm")
    )
    qmap = literal_df(
        spark, HYBRID_QUERY_VECS, "query_id string, qvec_id long"
    )
    # all three ranker arms read the shared memo-persisted ranking
    # frames (r17): the cosine arm and the rrf arm's semantic leg both
    # consume sem_topk_memo; the bm25 arm and the rrf arm's lexical leg
    # both consume text.bm25_topk_memo — previously each arm re-derived
    # its corpus-scale scoring pass with zero exchange reuse.
    cosine_ranked = sem_topk_memo(spark, sf_dir).select(
        F.lit("cosine").alias("method"), "query_id", "rank", "doc_id"
    )
    lex_ranked = bm25_topk_memo(spark, sf_dir).select(
        F.lit("bm25").alias("method"), "query_id", "rank", "doc_id"
    )
    rrf_ranked = q_hybrid_rrf(spark, sf_dir).select(
        F.lit("rrf").alias("method"), "query_id", "rank", "doc_id"
    )
    ranked = lex_ranked.unionByName(cosine_ranked).unionByName(rrf_ranked)

    labels = emb.select(F.col("vec_id").alias("doc_id"), "label")
    qlabels = qmap.join(
        emb.select(F.col("vec_id").alias("qvec_id"),
                   F.col("label").alias("qlabel")),
        "qvec_id",
    ).select("query_id", "qlabel")
    label_counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    scored = (
        labels.join(F.broadcast(ranked), "doc_id")
        .join(F.broadcast(qlabels), "query_id")
        .select(
            "method",
            "query_id",
            "rank",
            (F.col("label") == F.col("qlabel")).cast("int").alias("rel"),
            "qlabel",
        )
    )
    dcg_term = F.lit(0.0)
    for r, dr in sorted(_DCG_AT.items()):
        dcg_term = F.when(F.col("rank") == r, F.lit(dr)).otherwise(dcg_term)
    per_q = (
        scored.groupBy("method", "query_id", "qlabel")
        .agg(
            F.sum("rel").alias("n_rel_ret"),
            F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias(
                "first_rel"
            ),
            F.sum(
                (F.col("rel").cast("double") * dcg_term).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("dcg"),
        )
        .join(
            F.broadcast(label_counts.select(
                F.col("label").alias("qlabel"), "n_relevant")),
            "qlabel",
        )
    )
    idcg = F.lit(0.0)
    for m, cm in sorted(_IDCG_AT.items()):
        idcg = F.when(
            F.least(F.col("n_relevant"), F.lit(BM25_TOP_K)) == m, F.lit(cm)
        ).otherwise(idcg)
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    per_q = per_q.select(
        "method",
        rnd(
            F.col("n_rel_ret").cast("double") / F.lit(float(BM25_TOP_K))
        ).alias("p_at_k"),
        rnd(
            F.coalesce(
                F.lit(1.0) / F.col("first_rel").cast("double"), F.lit(0.0)
            )
        ).alias("mrr"),
        rnd(F.try_divide(F.col("dcg"), idcg)).alias("ndcg"),
    )
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    return (
        per_q.groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            rnd(d(F.col("p_at_k")) / F.count(F.lit(1))).alias("mean_p_at_k"),
            rnd(d(F.col("mrr")) / F.count(F.lit(1))).alias("mean_mrr"),
            rnd(d(F.col("ndcg")) / F.count(F.lit(1))).alias("mean_ndcg"),
        )
        .orderBy("method")
    )


def _build_sql_retrieval_eval() -> str:
    from .similarity import sql_dot

    dcg_case = " ".join(
        f"WHEN rank = {r} THEN {dr!r}::DOUBLE"
        for r, dr in sorted(_DCG_AT.items())
    )
    idcg_case = " ".join(
        f"WHEN LEAST(n_relevant, {BM25_TOP_K}) = {m} THEN {cm!r}::DOUBLE"
        for m, cm in sorted(_IDCG_AT.items())
    )
    return f"""
    WITH emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               label
        FROM embeddings
    ), nrmd AS (
        SELECT vec_id, v, label, sqrt({sql_dot('v', 'v')}) AS nrm FROM emb
    ), f AS (SELECT * FROM nrmd WHERE nrm > 0),
    qmap(query_id, qvec_id) AS (VALUES {_SQL_QVECS}),
    qvec AS (
        SELECT qmap.query_id, f.v AS qv, f.nrm AS qnrm
        FROM qmap JOIN f ON f.vec_id = qmap.qvec_id
    ), cosine_ranked AS (
        SELECT 'cosine' AS method, query_id, rank, doc_id
        FROM (
            SELECT qvec.query_id, f.vec_id AS doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qvec.query_id
                       ORDER BY {sql_dot('qvec.qv', 'f.v')}
                                / (qvec.qnrm * f.nrm) DESC,
                                f.vec_id ASC) AS rank
            FROM f CROSS JOIN qvec
        )
        WHERE rank <= {BM25_TOP_K}
    ), lex_ranked AS (
        SELECT 'bm25' AS method, query_id, rank, doc_id
        FROM ({SQL_BM25_SEARCH})
    ), rrf_ranked AS (
        SELECT 'rrf' AS method, query_id, rank, doc_id
        FROM ({SQL_HYBRID_RRF})
    ), ranked AS (
        SELECT * FROM lex_ranked
        UNION ALL SELECT * FROM cosine_ranked
        UNION ALL SELECT * FROM rrf_ranked
    ), qlabels AS (
        SELECT qmap.query_id, emb.label AS qlabel
        FROM qmap JOIN emb ON emb.vec_id = qmap.qvec_id
    ), label_counts AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_relevant
        FROM emb GROUP BY label
    ), scored AS (
        SELECT r.method, r.query_id, r.rank, q.qlabel,
               CAST(e.label = q.qlabel AS INTEGER) AS rel
        FROM ranked r
        JOIN emb e ON e.vec_id = r.doc_id
        JOIN qlabels q ON q.query_id = r.query_id
    ), per_q0 AS (
        SELECT method, query_id, qlabel,
               SUM(rel) AS n_rel_ret,
               MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
               CAST(SUM(CAST(CAST(rel AS DOUBLE)
                    * (CASE {dcg_case} ELSE 0.0::DOUBLE END)
                    AS DECIMAL(38,6))) AS DOUBLE) AS dcg
        FROM scored GROUP BY method, query_id, qlabel
    ), per_q AS (
        SELECT method,
               CAST(CAST(CAST(n_rel_ret AS DOUBLE)
                    / {float(BM25_TOP_K)!r}::DOUBLE
                    AS DECIMAL(38,6)) AS DOUBLE) AS p_at_k,
               CAST(CAST(COALESCE(1.0::DOUBLE
                    / CAST(first_rel AS DOUBLE), 0.0::DOUBLE)
                    AS DECIMAL(38,6)) AS DOUBLE) AS mrr,
               CAST(CAST(dcg / (CASE {idcg_case} ELSE NULL END)
                    AS DECIMAL(38,6)) AS DOUBLE) AS ndcg
        FROM per_q0 JOIN label_counts lc ON lc.label = per_q0.qlabel
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(CAST(SUM(CAST(p_at_k AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS mean_p_at_k,
           CAST(CAST(CAST(SUM(CAST(mrr AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS mean_mrr,
           CAST(CAST(CAST(SUM(CAST(ndcg AS DECIMAL(38,6))) AS DOUBLE)
                / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS mean_ndcg
    FROM per_q
    GROUP BY method
    ORDER BY method
"""


SQL_RETRIEVAL_EVAL = _build_sql_retrieval_eval()


# --- MMR diversified re-ranking (round 9) ------------------------------------

MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes redundancy
MMR_CANDIDATES = 10  # cosine top-C candidate pool per query
MMR_K = 5  # diversified picks


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversified retrieval a RAG pipeline runs so five
    near-duplicate passages don't fill the context window: from each
    query's cosine top-MMR_CANDIDATES pool, greedily pick MMR_K docs
    maximizing λ·rel(d) − (1−λ)·max_{p∈picked} sim(d, p).

    Plan split along the data's own boundary: candidate selection and
    EVERY cosine are distributed JVM expressions (the sim_topk
    broadcast join + WindowGroupLimit, then the |Q|·C² pairwise frame
    — bit-identical prenorm folds, so cross-engine exactness is
    decided before Python sees anything); the greedy loop itself is
    per-query LOCAL work over ≤C² scalars, which is exactly the
    applyInPandas grouped-map contract (grouped_map_norm discipline).
    A first cut unrolled the greedy into MMR_K dataframe stages
    instead — correct, but 30+ scheduler stages for a 30-row frame
    (12.7 s at sf0.1 vs ~2 s this way); per-query re-rank is local by
    nature and the plan should say so.

    Determinism: the pandas stage performs only comparisons and the
    fixed λ·rel − (1−λ)·red scalar expression on JVM-computed doubles
    — the same IEEE sequence the oracle's unrolled CTEs evaluate;
    argmax ties break to the lowest doc_id on both engines; scores
    stay raw pass-through doubles."""
    # the candidate pool is memo-persisted (r16 standing plan-audit
    # gate: the full-corpus broadcast-scoring pass + WindowGroupLimit
    # ran TWICE — once per self-join side of `edges` — with zero
    # exchange reuse, embeddings scanned 4x). Cached it is |Q|·C rows;
    # at any corpus scale it is the write-once candidate table the
    # pairwise stage reads.
    def build_cands() -> DataFrame:
        emb = (
            emb_base(spark, sf_dir)
            .select("vec_id", "v", F.col("norm").alias("nrm"))
            .filter(F.col("nrm") > F.lit(0.0))
        )
        qmap = literal_df(
            spark, HYBRID_QUERY_VECS, "query_id string, qvec_id long"
        )
        qvec = qmap.join(
            emb.select(
                F.col("vec_id").alias("qvec_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"),
            ),
            "qvec_id",
        ).select("query_id", "qv", "qnrm")
        wsem = W.partitionBy("query_id").orderBy(
            F.col("rel").desc(), F.col("doc_id").asc()
        )
        return (
            emb.crossJoin(F.broadcast(qvec))
            .select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                F.col("v").alias("dv"),
                F.col("nrm").alias("dnrm"),
                cosine_prenorm(
                    F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
                ).alias("rel"),
            )
            .withColumn("crn", F.row_number().over(wsem))
            .filter(F.col("crn") <= F.lit(MMR_CANDIDATES))
            .select("query_id", "doc_id", "dv", "dnrm", "rel")
        ).persist()

    cands = cached(spark, sf_dir, "mmr_cands", build_cands)
    # pairwise sims inside the pool (|Q|·C² rows, bounded), JVM folds.
    # Self-pairs stay IN: they carry each candidate's rel into the
    # grouped map even when a query's pool has a single member (a
    # no-self-edges frame would drop that group entirely), and the
    # greedy never consults sims[(d, d)] because picked docs are
    # skipped before scoring.
    edges = (
        cands.alias("a")
        .join(cands.alias("b"), "query_id")
        .select(
            "query_id",
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.rel").alias("rel"),
            F.col("b.doc_id").alias("other_id"),
            cosine_prenorm(
                F.col("a.dv"), F.col("b.dv"),
                F.col("a.dnrm"), F.col("b.dnrm"),
            ).alias("sim"),
        )
    )

    lam = MMR_LAMBDA
    one_m = 1.0 - MMR_LAMBDA

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        rel = {}
        sims = {}
        for d, r, o, s_ in zip(
            pdf["doc_id"], pdf["rel"], pdf["other_id"], pdf["sim"]
        ):
            rel[int(d)] = float(r)
            sims[(int(d), int(o))] = float(s_)
        picked: list = []
        scores: list = []
        while len(picked) < MMR_K and len(picked) < len(rel):
            best, best_score = None, None
            for d in sorted(rel):
                if d in picked:
                    continue
                if picked:
                    red = max(sims[(d, p)] for p in picked)
                    sc = lam * rel[d] - one_m * red
                else:
                    sc = rel[d]
                if best_score is None or sc > best_score:
                    best, best_score = d, sc
            picked.append(best)
            scores.append(best_score)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picked),
                "step": list(range(1, len(picked) + 1)),
                "doc_id": picked,
                "mmr_score": scores,
            }
        )

    return (
        edges.groupBy("query_id")
        .applyInPandas(
            greedy,
            schema="query_id string, step int, doc_id long, mmr_score double",
        )
        .orderBy("query_id", "step")
    )



def _build_sql_mmr_rerank() -> str:
    from .similarity import sql_dot

    steps = []
    prev_picked = "p1"
    steps.append(f"""
    p1 AS (
        SELECT query_id, doc_id AS picked_id, rel AS mmr_score, 1 AS step
        FROM (
            SELECT query_id, doc_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, doc_id ASC) AS rn
            FROM pool
        ) WHERE rn = 1
    )""")
    picked_union = "SELECT * FROM p1"
    for t in range(2, MMR_K + 1):
        steps.append(f"""
    s{t} AS (
        SELECT pool.query_id, pool.doc_id, pool.rel,
               {MMR_LAMBDA!r}::DOUBLE * pool.rel
                   - {1.0 - MMR_LAMBDA!r}::DOUBLE * COALESCE(r.max_sim,
                       0.0::DOUBLE) AS mmr
        FROM pool
        LEFT JOIN (
            SELECT ps.query_id, ps.doc_id, MAX(ps.sim) AS max_sim
            FROM pair_sims ps
            JOIN ({picked_union}) pk
              ON pk.query_id = ps.query_id AND pk.picked_id = ps.other_id
            GROUP BY ps.query_id, ps.doc_id
        ) r ON r.query_id = pool.query_id AND r.doc_id = pool.doc_id
        WHERE NOT EXISTS (
            SELECT 1 FROM ({picked_union}) pk2
            WHERE pk2.query_id = pool.query_id
              AND pk2.picked_id = pool.doc_id)
    ),
    p{t} AS (
        SELECT query_id, doc_id AS picked_id, mmr AS mmr_score, {t} AS step
        FROM (
            SELECT query_id, doc_id, mmr,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY mmr DESC, doc_id ASC) AS rn
            FROM s{t}
        ) WHERE rn = 1
    )""")
        picked_union += f" UNION ALL SELECT * FROM p{t}"
        prev_picked = f"p{t}"
    all_steps = ",".join(steps)
    return f"""
    WITH emb AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nrmd AS (
        SELECT vec_id, v, sqrt({sql_dot('v', 'v')}) AS nrm FROM emb
    ), f AS (SELECT * FROM nrmd WHERE nrm > 0),
    qmap(query_id, qvec_id) AS (VALUES {_SQL_QVECS}),
    qvec AS (
        SELECT qmap.query_id, f.v AS qv, f.nrm AS qnrm
        FROM qmap JOIN f ON f.vec_id = qmap.qvec_id
    ), cands AS (
        SELECT query_id, doc_id, dv, dnrm, rel
        FROM (
            SELECT qvec.query_id, f.vec_id AS doc_id, f.v AS dv,
                   f.nrm AS dnrm,
                   {sql_dot('qvec.qv', 'f.v')} / (qvec.qnrm * f.nrm) AS rel,
                   ROW_NUMBER() OVER (
                       PARTITION BY qvec.query_id
                       ORDER BY {sql_dot('qvec.qv', 'f.v')}
                                / (qvec.qnrm * f.nrm) DESC,
                                f.vec_id ASC) AS crn
            FROM f CROSS JOIN qvec
        ) WHERE crn <= {MMR_CANDIDATES}
    ), pool AS (
        SELECT query_id, doc_id, rel FROM cands
    ), pair_sims AS (
        SELECT a.query_id, a.doc_id, b.doc_id AS other_id,
               {sql_dot('a.dv', 'b.dv')} / (a.dnrm * b.dnrm) AS sim
        FROM cands a JOIN cands b
          ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
    ),{all_steps}
    SELECT query_id, CAST(step AS INTEGER) AS step,
           picked_id AS doc_id, mmr_score
    FROM ({picked_union})
    ORDER BY query_id, step
"""


SQL_MMR_RERANK = _build_sql_mmr_rerank()
