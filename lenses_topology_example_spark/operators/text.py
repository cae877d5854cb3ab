"""Text analysis for training-data pipelines (north-star extension,
SURVEY.md §2.6): language-ID heuristic, quality scoring, token counting,
document fingerprinting.

All per-document — embarrassingly parallel map work with no shuffle
except the final stats aggregations; everything is Catalyst expressions
(regexp/array/string built-ins), zero Python in the loop, so at 100 TB
these run at parquet-scan speed inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..datamodel import literal_df
from ..functions.texthash import (
    SQL_MD5_HASH64,
    polynomial_fingerprint,
    sql_polynomial_fingerprint,
)
from ..memo import cached
from ..tables import load_table
from .dedup import SQL_TOKS
from .wordcount import tokens_col

# --- token counting -----------------------------------------------------------


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-ish (\\W+) token count + a BPE-ish subword proxy:
    ceil(chars/4) per token, the standard rough tokens-per-document
    estimate when no tokenizer vocabulary is loaded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    bpe_ish = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)),
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        bpe_ish.alias("n_subwords"),
        # try_divide: a token-less doc (punct-only) must yield NULL, not
        # an ANSI DIVIDE_BY_ZERO job abort (DuckDB's x/0 is NULL too)
        F.try_divide(F.length("text"), F.size(toks)).alias("chars_per_token"),
    )


SQL_TOKEN_COUNT = f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, s -> CAST(ceil(length(s) / 4.0) AS BIGINT))),
               (acc, v) -> acc + v) AS n_subwords,
           length(text) / len(toks) AS chars_per_token
    FROM t
"""


# --- language ID ----------------------------------------------------------------

# Marker stopwords per language; argmax with fixed tie order (en,de,es,zh).
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "zh": ("de", "le", "shi", "wo", "ni"),
}


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit scores as reusable expressions over any
    text column (q_lang_id and the fused curation composites share
    them — the composites must compute language on the SAME scan as
    quality, not join a second lang frame back on doc_id)."""
    toks = tokens_col(text)

    def score(lang: str) -> Column:
        markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))

    return {lang: score(lang) for lang in _LANG_MARKERS}


def pred_lang_col(text: Column) -> Column:
    """Argmax language prediction with the fixed tie order (en,de,es,zh)."""
    sc = lang_scores(text)
    return (
        F.when(
            (sc["en"] >= sc["de"]) & (sc["en"] >= sc["es"]) & (sc["en"] >= sc["zh"]),
            F.lit("en"),
        )
        .when((sc["de"] >= sc["es"]) & (sc["de"] >= sc["zh"]), F.lit("de"))
        .when(sc["es"] >= sc["zh"], F.lit("es"))
        .otherwise(F.lit("zh"))
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword-heuristic language ID: score = #tokens hitting each
    language's marker list, predict argmax (deterministic tie order).
    A real deployment swaps the marker lists for character-n-gram
    profiles; the dataflow (per-doc map, no shuffle) is identical."""
    from .dedup import _parallel_scan

    # parallel-guarded (r18, measured on the 100x doc slice): the four
    # per-row language-score folds are heavy map work, and the slice
    # ships as ONE file with 5 row groups, so the scan capped at 5
    # tasks — 31-33 s at c32 with a c8/c32 ratio of ~1 (serial), vs
    # guarded parallel scoring. A no-op on any multi-split scan.
    docs = _parallel_scan(spark, load_table(spark, sf_dir, "documents"))
    sc = lang_scores(F.col("text"))
    best = pred_lang_col(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        sc["en"].alias("score_en"),
        sc["de"].alias("score_de"),
        sc["es"].alias("score_es"),
        sc["zh"].alias("score_zh"),
        best.alias("pred_lang"),
    )


def _sql_lang_score_over(lang: str, toks_expr: str) -> str:
    """Marker-score SQL over an arbitrary token-list expression — the
    single source of the scoring expression (q_lang_id's oracle and the
    corpus_report oracle both delegate here so they cannot drift)."""
    markers = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter({toks_expr}, "
        f"x -> list_contains([{markers}], x))) AS INTEGER)"
    )


def _sql_lang_score(lang: str) -> str:
    return _sql_lang_score_over(lang, "toks")


SQL_LANG_ID = f"""
    WITH t AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id, lang,
               {_sql_lang_score('en')} AS score_en,
               {_sql_lang_score('de')} AS score_de,
               {_sql_lang_score('es')} AS score_es,
               {_sql_lang_score('zh')} AS score_zh
        FROM t
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_zh,
           CASE
             WHEN score_en >= score_de AND score_en >= score_es
                  AND score_en >= score_zh THEN 'en'
             WHEN score_de >= score_es AND score_de >= score_zh THEN 'de'
             WHEN score_es >= score_zh THEN 'es'
             ELSE 'zh'
           END AS pred_lang
    FROM s
"""


# --- quality scoring -------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "it", "you", "that")


def quality_components(text: Column) -> dict[str, Column]:
    """The quality heuristic as reusable expressions over any text col
    (batch query below + the streaming curation twin both build on it).
    try_divide on both ratios: token-less / empty docs yield NULL
    component scores (and NULL quality) instead of an ANSI job abort."""
    toks = tokens_col(text)
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_ratio = F.try_divide(
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))), F.size(toks)
    )
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.lower(text), "[^a-z ]", "")),
        F.length(text),
    )
    quality = (
        F.lit(0.3) * len_score + F.lit(0.4) * stop_ratio + F.lit(0.3) * alpha_ratio
    )
    return {
        "len_score": len_score,
        "stop_ratio": stop_ratio,
        "alpha_ratio": alpha_ratio,
        "quality": quality,
    }


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation + stopword ratio +
    alphabetic ratio, combined 0.3/0.4/0.3. Single-pass per-doc exprs;
    each component is one IEEE op chain, identical in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    c = quality_components(F.col("text"))
    return docs.select(
        "doc_id",
        c["len_score"].alias("len_score"),
        c["stop_ratio"].alias("stop_ratio"),
        c["alpha_ratio"].alias("alpha_ratio"),
        c["quality"].alias("quality"),
    )


def _sql_stoplist() -> str:
    return "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"


SQL_QUALITY_SCORE = f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           LEAST(length(text) / 500.0, 1.0) AS len_score,
           len(list_filter(toks, t -> list_contains({_sql_stoplist()}, t)))
               / len(toks) AS stop_ratio,
           length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
               / length(text) AS alpha_ratio,
           0.3 * LEAST(length(text) / 500.0, 1.0)
             + 0.4 * (len(list_filter(toks, t -> list_contains({_sql_stoplist()}, t)))
                      / len(toks))
             + 0.3 * (length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
                      / length(text)) AS quality
    FROM t
"""


# --- fingerprinting ---------------------------------------------------------------


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fingerprints per doc: md5 of the normalized token stream
    (whitespace-insensitive exact fingerprint) and a rolling polynomial
    hash over tokens (functions/texthash.py) — both engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    normalized = F.array_join(toks, " ")
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fp_md5"),
        polynomial_fingerprint(toks).alias("fp_poly"),
    )


SQL_DOC_FINGERPRINT = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(toks, ' ')) AS fp_md5,
           {sql_polynomial_fingerprint('toks')} AS fp_poly
    FROM t
"""


# --- corpus stats ------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — the groupBy(lang) rollup a data
    curation run reports. Decimal-sum determinism as everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    dsum = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")
    per_doc = docs.select(
        "lang",
        F.col("n_chars").cast("double").alias("chars"),
        F.size(toks).cast("double").alias("n_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (dsum(F.col("chars")) / F.count(F.lit(1))).alias("avg_chars"),
        (dsum(F.col("n_tokens")) / F.count(F.lit(1))).alias("avg_tokens"),
    )


SQL_TEXT_STATS = f"""
    WITH t AS (
        SELECT lang, CAST(n_chars AS DOUBLE) AS chars,
               CAST(len({SQL_TOKS}) AS DOUBLE) AS n_tokens
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(CAST(n_tokens AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM t GROUP BY lang
"""


# --- vocabulary head / n-gram stats ------------------------------------------------


def q_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: top-50 words by document frequency. The Zipf
    head this surfaces is exactly what the capped dedup variant and skew
    salting defend against. Partial agg bounds the shuffle by |vocab|;
    TakeOrderedAndProject ships 50 rows to the driver."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return (
        docs.select(F.explode(F.array_distinct(toks)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("word"))
        .limit(50)
    )


SQL_TOPK_WORDS = f"""
    SELECT word, COUNT(*) AS df
    FROM (
        SELECT doc_id, unnest(list_distinct({SQL_TOKS})) AS word FROM documents
    )
    GROUP BY word
    ORDER BY df DESC, word
    LIMIT 50
"""


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bigram counts over the corpus (n-gram LM statistics, the
    classic training-data analysis pass). Bigrams derive from the
    PROJECTED token array via the shared slice+zip shingle helper —
    Generate-shaped fan-out, shuffle bounded by |distinct bigrams|.
    Top-100 head."""
    from .dedup import shingles_col

    docs = load_table(spark, sf_dir, "documents")
    # tokens PROJECTED once before the fan-out — inlining the regex
    # split into a per-element lambda re-evaluated it per token
    # (6.7 s -> ~0.4 s at sf0.1, the round-12 full-bench-gate find)
    toks = docs.select(tokens_col(F.col("text")).alias("t"))
    return (
        toks.select(F.explode(shingles_col(F.col("t"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


SQL_BIGRAM_COUNTS = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    SELECT bigram, COUNT(*) AS n
    FROM (
        SELECT unnest(CASE WHEN len(toks) >= 2 THEN
                   list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1])
               ELSE []::VARCHAR[] END) AS bigram
        FROM t
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 100
"""


def q_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-curation pattern screens per document: counts of digit runs,
    ALL-CAPS words, and long tokens — the regex features a quality
    filter thresholds on. Patterns kept dialect-neutral (no \\d, no
    classes that differ between Java regex and RE2)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("regexp_count(text, '[0-9]+')").alias("n_digit_runs"),
        F.expr("regexp_count(text, '[A-Z][A-Z]+')").alias("n_caps_words"),
        F.expr("regexp_count(text, '[a-z]{10,}')").alias("n_long_tokens"),
        F.expr("length(regexp_replace(text, '[ -~]', ''))").alias("n_nonascii"),
    )


SQL_PATTERN_COUNTS = r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER)
               AS n_digit_runs,
           CAST(len(regexp_extract_all(text, '[A-Z][A-Z]+')) AS INTEGER)
               AS n_caps_words,
           CAST(len(regexp_extract_all(text, '[a-z]{10,}')) AS INTEGER)
               AS n_long_tokens,
           CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS INTEGER)
               AS n_nonascii
    FROM documents
"""


# --- composite curation pipeline ---------------------------------------------------


CURATION_MIN_QUALITY = 0.5


def curation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE `documents` projection carrying every curation signal as a
    column — quality, predicted language, md5 fingerprint — plus the
    min-doc_id keeper window over fp. This is the shared base of
    q_curation_pipeline and q_curation_funnel.

    Scale shape: one corpus FileScan; the only data-scale exchange is
    the fp-window hash partitioning (unavoidable — exact-dup membership
    is a global property). Round-3 verdict: the previous form joined
    three per-row expression frames back to `documents` on doc_id —
    Spark has no cross-branch common-subplan elimination, so that
    planned FOUR corpus scans and three corpus-scale joins. Pinned by
    tests/test_plans.py::test_curation_*_single_scan."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    c = quality_components(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        c["quality"].alias("quality"),
        pred_lang_col(F.col("text")).alias("pred_lang"),
        F.md5(F.col("text")).alias("fp"),
    )
    return base.withColumn(
        "keeper_id", F.min("doc_id").over(W.partitionBy("fp"))
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pass, composed from this
    module's screens in ONE plan (a single corpus scan feeds quality +
    language + dedup — see curation_flags; no joins, no intermediate
    materialization):

      keep a doc iff  quality >= 0.5
                  AND predicted language agrees with the labeled one
                  AND it is the min-doc_id representative of its exact-
                      content (md5) duplicate class.

    The dedup membership is a window min over fp — computed on the same
    scan, no self-join. Output: the kept corpus with its audit columns,
    the exact shape a downstream tokenizer job consumes."""
    return (
        curation_flags(spark, sf_dir)
        .filter(
            (F.col("quality") >= F.lit(CURATION_MIN_QUALITY))
            & (F.col("pred_lang") == F.col("lang"))
            & (F.col("doc_id") == F.col("keeper_id"))
        )
        .select("doc_id", "lang", "n_chars", "quality")
    )


SQL_CURATION_PIPELINE = f"""
    WITH q AS ({SQL_QUALITY_SCORE}),
    l AS ({SQL_LANG_ID}),
    k AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        FROM documents
    )
    SELECT d.doc_id, d.lang, d.n_chars, q.quality
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    JOIN l ON l.doc_id = d.doc_id
    JOIN k ON k.doc_id = d.doc_id
    WHERE q.quality >= {CURATION_MIN_QUALITY}
      AND l.pred_lang = d.lang
      AND d.doc_id = k.keeper_id
"""


# --- BPE-style regex tokenizer -----------------------------------------------------

# GPT2-flavored pre-tokenization, ASCII-reduced so Java regex and RE2
# agree: contractions | space-prefixed words | numbers | punct runs.
BPE_PATTERN = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization (the brief's 'BPE-ish regex'): the
    GPT2-shaped alternation over lowercased text, counted per doc with
    the mean token byte-length. regexp_extract_all is codegen'd — this
    is the cheap first stage every real tokenizer job runs before vocab
    lookup (which would be the mapInPandas stage)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f'regexp_extract_all(lower(text), "{BPE_PATTERN}", 0)')
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.try_divide(
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            ),
            F.size(toks),
        ).alias("mean_tok_len"),
    )


SQL_BPE_TOKEN_COUNT = """
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text),
                   '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_bpe_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, s -> CAST(length(s) AS BIGINT))),
               (a, b) -> a + b) / len(toks) AS mean_tok_len
    FROM t
"""


# --- TF-IDF keyword extraction --------------------------------------------------

TFIDF_TOP_K = 5


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k keywords per document by TF-IDF (idf = ln(N/df)).

    Shape at scale: one explode + two keyed aggregations (term-doc tf,
    term df), the corpus size N is a 1-row broadcast, and the per-doc
    top-k is a rank window that Catalyst executes as WindowGroupLimit
    (partial top-k before the shuffle). No step materializes the full
    |docs| x |vocab| matrix — only (doc, term-in-doc) pairs exist.

    Determinism: tf/df/N are exact integers; the single float op
    tf * ln(N/df) is ROUNDed to 4 decimals on BOTH engines because libm
    ln differs by 1 ulp between them on ~5% of inputs (measured); ties
    break by term ascending."""
    from pyspark.sql import Window as W

    from .dedup import _parallel_scan

    docs = load_table(spark, sf_dir, "documents")
    # parallel-guarded tokenize+explode (r18, measured on the 100x doc
    # slice: the map stage capped at the slice's 5 row groups — 36-57 s
    # at c32, c8/c32 ~1). The 1-row N aggregate keeps the plain scan
    # (counting rows needs no spread).
    td = (
        _parallel_scan(spark, docs)
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = td.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        td.join(df_t, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df_term")),
                4,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df_term", "tfidf")
    )


SQL_TFIDF = f"""
    WITH td AS (
        SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM td GROUP BY doc_id, term
    ), df_t AS (
        SELECT term, COUNT(*) AS df_term FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf, df_term,
           ROUND(tf * ln(n_docs::DOUBLE / df_term), 4) AS tfidf
    FROM tf JOIN df_t USING (term) CROSS JOIN n
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) <= {TFIDF_TOP_K}
"""


# --- text normalization -----------------------------------------------------------


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cleaning pass every curation pipeline starts with:
    lowercase, strip non-alphanumerics to spaces, collapse whitespace,
    trim. Pure per-row codegen string ops — parquet-scan speed, no
    shuffle; at 100 TB this is the map stage in front of dedup/quality."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9\\s]", " "),
            "\\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
    )


SQL_TEXT_NORMALIZE = r"""
    WITH t AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
        FROM documents
    )
    SELECT doc_id, norm_text,
           CAST(length(text) AS INTEGER) AS n_chars_raw,
           CAST(length(norm_text) AS INTEGER) AS n_chars_norm
    FROM t
"""


# --- sequence packing --------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per packed training sequence
N_PACK_SHARDS = 8


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are hashed to shards,
    ordered by doc_id within a shard, and assigned the pack (training
    sequence) their cumulative token count starts in — the standard
    pretraining batch-assembly op.

    Scale shape: the cumulative sum is a window per SHARD, so packing
    parallelizes across shards (one sort per shard partition, never a
    global order-by); shard count scales with the cluster, and the
    output is integer-exact on any engine. A doc straddling a boundary
    belongs to the pack it starts in (concat-and-chunk semantics)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % F.lit(N_PACK_SHARDS)).alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        base.withColumn("cum_tok", F.sum("n_tok").over(w))
        .withColumn(
            "pack_id",
            F.expr(f"(cum_tok - n_tok) div {PACK_BUDGET}"),
        )
        .select("doc_id", "shard", "n_tok", "pack_id")
    )


SQL_SEQ_PACKING = f"""
    WITH t AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT doc_id, shard, n_tok,
           -- both engines: non-negative ints, so // == div == floor.
           -- CAST: DuckDB integer window-SUM is HUGEINT -> pandas float64;
           -- the driver hash is dtype-sensitive, so pin BIGINT output.
           CAST((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tok)
               // {PACK_BUDGET} AS BIGINT) AS pack_id
    FROM t
"""


# --- repetition signals (Gopher-style quality rules) -------------------------------


def top_run_col(arr_col: str) -> Column:
    """Max occurrence count of any element in a string-array column,
    computed as the longest equal run of the SORTED array with one
    O(k log k) aggregate fold — the shuffle-free, length-robust form
    (a per-distinct-element count-filter fold would be O(k^2))."""
    return F.expr(
        f"""
        aggregate(
            array_sort({arr_col}),
            named_struct('prev', CAST(NULL AS STRING),
                         'run', CAST(0 AS BIGINT),
                         'best', CAST(0 AS BIGINT)),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                          acc.run + 1L, 1L),
                'best', GREATEST(acc.best,
                          IF(acc.prev IS NOT NULL AND x = acc.prev,
                             acc.run + 1L, 1L))),
            acc -> acc.best)
        """
    )


def dup_frac_col(toks_col_name: str) -> Column:
    """Duplicate-token fraction 1 - distinct/total over a token-array
    column — the single source of the signal (q_repetition_stats and
    q_corpus_report both delegate here so they cannot drift). NULL
    (not ANSI abort) on token-less docs via try_divide."""
    return F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(toks_col_name)), F.size(toks_col_name)
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals, the Gopher/C4-style filter inputs:
    duplicate-token fraction (1 - distinct/total) and top-bigram
    fraction (occurrences of the most frequent word bigram / total
    bigrams). Repetitious documents (boilerplate, keyword stuffing,
    decode loops) score high and get dropped before training.

    Scale shape: ZERO shuffles — both signals are per-row expressions.
    The top-bigram count deliberately avoids explode+groupBy(doc,
    bigram) (which shuffles every bigram occurrence); instead the
    bigram array is sorted per-doc and the longest equal run is found
    with one O(k log k) aggregate fold, so a 100 TB corpus runs this at
    parquet-scan speed inside codegen. (A naive per-distinct-bigram
    count-filter fold would be O(k^2) per doc — quadratic in document
    length — which is why the sorted-run form is the contract.)"""
    from .dedup import shingles_col

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens_col(F.col("text")).alias("t"),
    ).withColumn("bg", shingles_col(F.col("t"), 2))
    best_run = top_run_col("bg")
    return base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        # single IEEE division each — bit-identical to the oracle; NULL
        # (not ANSI abort) on token-less / bigram-less docs on BOTH sides
        dup_frac_col("t").alias("dup_token_frac"),
        F.try_divide(best_run, F.size("bg")).alias("top_bigram_frac"),
    )


_SQL_BIGRAMS = r"""
    CASE WHEN len(t) >= 2 THEN
        list_transform(generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1])
    ELSE []::VARCHAR[] END
"""

# Oracle counts bigram occurrences the plain-SQL way (unnest + GROUP BY +
# MAX); the Spark side must produce the identical numbers from its
# shuffle-free sorted-run fold.
SQL_REPETITION_STATS = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    b AS (SELECT doc_id, t, {_SQL_BIGRAMS} AS bg FROM t),
    m AS (
        SELECT doc_id, MAX(cnt) AS best FROM (
            SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(bg) AS g FROM b)
            GROUP BY doc_id, g
        ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           1.0 - (len(list_distinct(t)) / len(t)) AS dup_token_frac,
           m.best / len(bg) AS top_bigram_frac
    FROM b LEFT JOIN m USING (doc_id)
"""


# --- corpus mix (training-mixture weights) -----------------------------------------


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) corpus composition: doc count, token count,
    and each cell's share of all corpus tokens — the table a training-
    mix planner turns into sampling weights (e.g. up-sample low-resource
    languages, cap a crawl source at x% of tokens).

    Scale shape: one partial+final agg shuffle keyed by (source, lang);
    the global-total window then runs over the AGGREGATED frame
    (|sources| x |langs| rows, not data-scale), so its single-partition
    exchange moves a few hundred bytes. Integer token sums are
    order-independent; the share is one bigint/bigint IEEE division."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            "lang",
            F.size(tokens_col(F.col("text"))).cast("long").alias("n"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    return per.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.try_divide(
            F.col("n_tokens"), F.sum("n_tokens").over(W.partitionBy())
        ).alias("token_share"),
    )


SQL_CORPUS_MIX = f"""
    WITH t AS (
        SELECT source, lang, CAST(len({SQL_TOKS}) AS BIGINT) AS n
        FROM documents
    ), g AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM t GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           -- HUGEINT window-SUM stays INSIDE the division (double out);
           -- only OUTPUT columns need the BIGINT pin
           n_tokens / SUM(n_tokens) OVER () AS token_share
    FROM g
"""


# --- curation funnel (stage survival accounting) -----------------------------------


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survival counts for the curation pipeline
    (q_curation_pipeline's exact predicates, cumulatively applied):
    total -> quality_ok -> +lang_agrees -> +dedup_keeper. The funnel is
    what a pipeline operator actually watches: where documents die.

    Scale shape: the same single corpus scan as the pipeline
    (curation_flags — one FileScan, one fp-window exchange, no joins),
    all four counts in ONE global aggregate (partial sums per
    partition, one 1-row exchange), then stack() unpivots the 1-row
    result driver-side — no per-stage rescans."""
    flags = curation_flags(spark, sf_dir).select(
        (F.col("quality") >= F.lit(CURATION_MIN_QUALITY)).alias("q_ok"),
        (F.col("pred_lang") == F.col("lang")).alias("l_ok"),
        (F.col("doc_id") == F.col("keeper_id")).alias("k_ok"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("q_ok").cast("long")).alias("s_quality"),
        F.sum((F.col("q_ok") & F.col("l_ok")).cast("long")).alias("s_lang"),
        F.sum(
            (F.col("q_ok") & F.col("l_ok") & F.col("k_ok")).cast("long")
        ).alias("s_keeper"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'total', total, 'quality_ok', s_quality, "
            "'lang_agrees', s_lang, 'dedup_keeper', s_keeper) "
            "AS (stage, n_docs)"
        )
    )


SQL_CURATION_FUNNEL = f"""
    WITH q AS ({SQL_QUALITY_SCORE}),
    l AS ({SQL_LANG_ID}),
    k AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        FROM documents
    ), flags AS (
        SELECT q.quality >= {CURATION_MIN_QUALITY} AS q_ok,
               l.pred_lang = d.lang AS l_ok,
               d.doc_id = k.keeper_id AS k_ok
        FROM documents d
        JOIN q ON q.doc_id = d.doc_id
        JOIN l ON l.doc_id = d.doc_id
        JOIN k ON k.doc_id = d.doc_id
    ), agg AS (
        SELECT COUNT(*) AS total,
               CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS s_quality,
               CAST(SUM(CASE WHEN q_ok AND l_ok THEN 1 ELSE 0 END) AS BIGINT) AS s_lang,
               CAST(SUM(CASE WHEN q_ok AND l_ok AND k_ok THEN 1 ELSE 0 END) AS BIGINT) AS s_keeper
        FROM flags
    )
    SELECT 'total' AS stage, total AS n_docs FROM agg
    UNION ALL SELECT 'quality_ok', s_quality FROM agg
    UNION ALL SELECT 'lang_agrees', s_lang FROM agg
    UNION ALL SELECT 'dedup_keeper', s_keeper FROM agg
"""


# --- funnel threshold sweep (quality-bar calibration) ------------------------------

# The calibration grid a curation operator actually sweeps before fixing
# CURATION_MIN_QUALITY: how many docs the FULL pipeline (quality bar +
# lang agreement + dedup keeper) would keep at each candidate bar.
SWEEP_QUALITY_BARS = (0.3, 0.4, 0.5, 0.6, 0.7)


def q_funnel_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration for the curation pipeline: survivor counts
    of the full keep-predicate at every candidate quality bar, computed
    WITHOUT re-running the pipeline per bar. The naive form runs one
    filtered aggregate per threshold — T corpus scans; this plans the
    same single scan / single global aggregate as q_curation_funnel
    (one conditional sum per bar, partial map-side sums, a 1-row
    exchange) and unpivots the 1-row result with stack(). Adding a
    candidate bar costs one more column, never another scan.

    Output: (min_quality, n_docs) — the curve an operator reads to
    pick the bar that hits a target token budget."""
    flags = curation_flags(spark, sf_dir).select(
        "quality",
        (F.col("pred_lang") == F.col("lang")).alias("l_ok"),
        (F.col("doc_id") == F.col("keeper_id")).alias("k_ok"),
    )
    agg = flags.agg(
        *[
            F.sum(
                (
                    (F.col("quality") >= F.lit(t))
                    & F.col("l_ok")
                    & F.col("k_ok")
                ).cast("long")
            ).alias(f"s_{i}")
            for i, t in enumerate(SWEEP_QUALITY_BARS)
        ]
    )
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), s_{i}" for i, t in enumerate(SWEEP_QUALITY_BARS)
    )
    return agg.select(
        F.expr(
            f"stack({len(SWEEP_QUALITY_BARS)}, {stack_args}) "
            "AS (min_quality, n_docs)"
        )
    )


_SWEEP_SUMS = ",\n               ".join(
    f"CAST(SUM(CASE WHEN quality >= {t} AND l_ok AND k_ok THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS s_{i}"
    for i, t in enumerate(SWEEP_QUALITY_BARS)
)
_SWEEP_UNPIVOT = "\n    UNION ALL ".join(
    f"SELECT CAST({t} AS DOUBLE) AS min_quality, s_{i} AS n_docs FROM agg"
    for i, t in enumerate(SWEEP_QUALITY_BARS)
)

SQL_FUNNEL_SWEEP = f"""
    WITH q AS ({SQL_QUALITY_SCORE}),
    l AS ({SQL_LANG_ID}),
    k AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
        FROM documents
    ), flags AS (
        SELECT q.quality AS quality,
               l.pred_lang = d.lang AS l_ok,
               d.doc_id = k.keeper_id AS k_ok
        FROM documents d
        JOIN q ON q.doc_id = d.doc_id
        JOIN l ON l.doc_id = d.doc_id
        JOIN k ON k.doc_id = d.doc_id
    ), agg AS (
        SELECT {_SWEEP_SUMS}
        FROM flags
    )
    {_SWEEP_UNPIVOT}
"""


# --- PII redaction screen ----------------------------------------------------------

# RE2- and Java-safe patterns (no \d, no lookaround, no backreferences —
# the cross-engine regex discipline established by BPE_PATTERN): the
# same literal compiles identically under Spark's Java regex and
# DuckDB's RE2. Redaction order is fixed (email -> phone -> ip) and the
# replacement tokens contain no digits/dots, so later passes can never
# match inside an earlier pass's output.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_PHONE = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


def pii_redact_col(text: Column) -> Column:
    """Redacted text: every email/phone/IPv4 occurrence replaced by a
    typed placeholder. Chained regexp_replace — pure codegen'd per-row
    work, the production surface for any text column."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IP, "<IP>")


def pii_count_cols(text: Column) -> dict[str, Column]:
    """Per-category occurrence counts (the audit columns a curation run
    reports before dropping/redacting)."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL)),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE)),
        "n_ips": F.regexp_count(text, F.lit(PII_IP)),
    }


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction screen: occurrence counts + redacted text for
    emails, phone numbers, and IPv4 addresses.

    The synthetic corpus is PII-free (lowercase word soup — every
    pattern would match zero times and the check could not fail), so
    the catalog entry scrubs a DETERMINISTICALLY CONSTRUCTED contact
    string derived from customer keys — the construction is part of
    both the query and the oracle, same contract as the multimodal
    fake-codec entries. Production callers apply pii_redact_col /
    pii_count_cols to any real text column.

    Scale shape: zero shuffles — per-row regex work in codegen at
    parquet-scan speed."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    em = F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com"))
    ph = F.concat(
        F.lit("555-"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."),
        (key % 256).cast("string"),
        F.lit(".0."),
        ((key * 7) % 256).cast("string"),
    )
    contact = F.concat(
        F.col("c_name"),
        F.when(key % 3 > 0, F.concat(F.lit(" "), em)).otherwise(F.lit("")),
        F.lit(" "),
        ph,
        F.when(key % 5 == 0, F.concat(F.lit(" "), ip)).otherwise(F.lit("")),
    )
    base = cust.select("c_custkey", contact.alias("contact"))
    counts = pii_count_cols(F.col("contact"))
    return base.select(
        "c_custkey",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        pii_redact_col(F.col("contact")).alias("redacted"),
    )


# plain string, not f-string: regex quantifier braces stay literal
SQL_PII_SCRUB = """
    WITH c AS (
        SELECT c_custkey,
               c_name
               || CASE WHEN c_custkey % 3 > 0
                       THEN ' user' || CAST(c_custkey AS VARCHAR) || '@example.com'
                       ELSE '' END
               || ' 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || CASE WHEN c_custkey % 5 = 0
                       THEN ' 10.' || CAST(c_custkey % 256 AS VARCHAR)
                            || '.0.' || CAST((c_custkey * 7) % 256 AS VARCHAR)
                       ELSE '' END AS contact
        FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(contact,
               '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(contact,
               '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS INTEGER) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(contact,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
               '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g'),
             '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g') AS redacted
    FROM c
"""


# --- corpus-LM quality scoring (unigram cross-entropy) -----------------------------


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with the corpus itself as the
    language model: score each document by its mean negative log
    probability under the corpus UNIGRAM distribution. Rare-token-heavy
    documents (gibberish, codes, boilerplate markup) score high and get
    dropped/bucketed; a production run swaps the in-corpus unigram LM
    for a pretrained KenLM — the dataflow (vocab table join + per-doc
    aggregate) is identical.

    Scale shape: two passes over the corpus by nature (build the LM,
    then score with it). One explode+groupBy(token) builds the vocab
    table (bounded by |V|, not corpus size); the global token total is
    a SUM window over the AGGREGATED vocab frame (corpus_mix pattern —
    a single-partition exchange of |V| rows, NOT a second corpus agg:
    Spark has no cross-branch CSE, so a separate `vocab.agg(sum)`
    branch would re-scan and re-aggregate the whole corpus). The
    per-token logp lookup then BROADCAST-joins the vocab into the
    exploded corpus (a web-scale vocab is ~10^7 rows — still
    broadcastable; were it not, the same plan downgrades to a shuffle
    join on the token), then one doc_id-keyed aggregate. Per-token
    -ln p goes through DECIMAL(38,6) before the per-doc sum so the
    result is accumulation-order-independent (the repo's standard
    double-sum discipline)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    vocab = (
        exploded.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("n", F.sum("c").over(W.partitionBy()))
    )
    scored = exploded.join(F.broadcast(vocab), "token").select(
        "doc_id",
        (-F.log(F.col("c") / F.col("n"))).cast("decimal(38,6)").alias("nl"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        # single decimal->double cast + one IEEE division, oracle-identical
        (F.sum("nl").cast("double") / F.count(F.lit(1))).alias("avg_neg_logp"),
    )


SQL_LM_SCORE = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS token FROM t),
    v AS (SELECT token, COUNT(*) AS c FROM e GROUP BY token),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM v),
    s AS (
        SELECT e.doc_id,
               CAST(-ln(v.c / n.n) AS DECIMAL(38,6)) AS nl
        FROM e JOIN v USING (token) CROSS JOIN n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(nl) AS DOUBLE) / COUNT(*) AS avg_neg_logp
    FROM s GROUP BY doc_id
"""


# --- per-doc token entropy (zero-shuffle sorted-run fold) --------------------------


def entropy_sum_col(arr_col: str) -> Column:
    """sum over distinct elements of c*ln(c) (c = occurrence count),
    computed from the SORTED array with one O(k log k) aggregate fold —
    the same shuffle-free machinery as top_run_col. Each run's
    c*ln(c) is cast to DECIMAL(38,6) before accumulation so the sum is
    order-independent and bit-identical to the oracle's per-group SUM."""
    return F.expr(
        f"""
        aggregate(
            array_sort({arr_col}),
            named_struct('prev', CAST(NULL AS STRING),
                         'run', CAST(0 AS BIGINT),
                         's', CAST(0 AS DECIMAL(38,6))),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                          acc.run + 1L, 1L),
                's', CAST(IF(acc.prev IS NOT NULL AND x <> acc.prev,
                             acc.s + CAST(acc.run * ln(acc.run)
                                          AS DECIMAL(38,6)),
                             acc.s) AS DECIMAL(38,6))),
            acc -> CAST(acc.s + CAST(IF(acc.run > 0,
                                        acc.run * ln(acc.run), 0.0)
                                     AS DECIMAL(38,6)) AS DECIMAL(38,6)))
        """
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (Shannon) entropy in nats:
    H = ln(n) - sum_c(c*ln(c))/n over token occurrence counts c — low
    entropy = repetitious/templated text, high = diverse vocabulary;
    the Gopher-style diversity filter signal complementing
    repetition_stats.

    Scale shape: ZERO shuffles — the occurrence counts come from the
    per-row sorted-run fold (entropy_sum_col), never an
    explode+groupBy(doc, token) exchange; runs at parquet-scan speed in
    codegen. The oracle deliberately computes the same numbers the
    plain unnest+GROUP BY way, so the fold is independently checked on
    every parity run (same contract as repetition_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("t")
    ).filter(F.size("t") > 0)
    n = F.size("t").cast("long")
    # ln(n) round-trips through DECIMAL(38,6): Java Math.log and
    # DuckDB's libm disagree in the last ulp for some inputs (measured:
    # ln(48) differs by 1 ulp), so a bare double ln can never be
    # hash-compared cross-engine. 6-decimal truncation is identical on
    # both sides and far above the filter signal's needed precision.
    lnn = F.log(n).cast("decimal(38,6)").cast("double")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        (lnn - entropy_sum_col("t").cast("double") / n).alias("entropy"),
    )


SQL_TOKEN_ENTROPY = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS token FROM t),
    g AS (SELECT doc_id, token, COUNT(*) AS c FROM e GROUP BY doc_id, token),
    s AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               SUM(CAST(c * ln(c) AS DECIMAL(38,6))) AS sd
        FROM g GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens,
           -- DECIMAL round-trip on ln(n): see q_token_entropy (libm ulp)
           CAST(CAST(ln(n) AS DECIMAL(38,6)) AS DOUBLE)
               - CAST(sd AS DOUBLE) / n AS entropy
    FROM s
"""


# --- bigram-LM quality scoring (conditional cross-entropy) -------------------------


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring: mean negative log CONDITIONAL
    probability -ln p(cur | prev) over each document's word bigrams,
    with the corpus itself as the LM (p = c(prev,cur) / c(prev,*)).
    The stronger companion to q_lm_score — catches locally-improbable
    word sequences (shuffled text, keyword stuffing) that unigram
    frequency misses. Docs with < 2 tokens have no bigrams and are
    excluded (identically in the oracle).

    Scale shape: ONE corpus-scale bigram aggregation; the conditional
    denominator c(prev,*) is a SUM window partitioned by prefix over
    the AGGREGATED |distinct bigrams| frame (never a second corpus
    pass — no cross-branch CSE, same discipline as lm_score); the
    -ln p lookup join carries NO broadcast hint — a bigram vocab is
    orders of magnitude larger than the unigram vocab and can exceed
    the broadcast ceiling, so the planner/AQE picks broadcast when the
    table is small (it is at test scale) and falls back to a shuffle
    join when it isn't (a forced hint would instead abort the job at
    the 8 GB limit); then one doc_id-keyed aggregate. Decimal-routed
    addends keep the per-doc sum order-independent."""
    from pyspark.sql import Window as W

    from .dedup import shingles_col

    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        F.explode(shingles_col(tokens_col(F.col("text")), 2)).alias("bg"),
    )
    lm = (
        exploded.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cb"))
        .withColumn("prefix", F.split(F.col("bg"), " ")[0])
        .withColumn("cp", F.sum("cb").over(W.partitionBy("prefix")))
    )
    scored = exploded.join(lm.select("bg", "cb", "cp"), "bg").select(
        "doc_id",
        (-F.log(F.col("cb") / F.col("cp"))).cast("decimal(38,6)").alias("nl"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum("nl").cast("double") / F.count(F.lit(1))).alias(
            "avg_neg_logp_bigram"
        ),
    )


SQL_BIGRAM_LM_SCORE = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    e AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
                   list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1])
               ELSE []::VARCHAR[] END) AS bg
        FROM t
    ),
    lm AS (
        SELECT bg, COUNT(*) AS cb FROM e GROUP BY bg
    ),
    lm2 AS (
        SELECT bg, cb,
               SUM(cb) OVER (PARTITION BY string_split(bg, ' ')[1]) AS cp
        FROM lm
    ),
    s AS (
        SELECT e.doc_id,
               CAST(-ln(lm2.cb / lm2.cp) AS DECIMAL(38,6)) AS nl
        FROM e JOIN lm2 USING (bg)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nl) AS DOUBLE) / COUNT(*) AS avg_neg_logp_bigram
    FROM s GROUP BY doc_id
"""




# --- corpus health report (per-source fused composite) -----------------------------


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: doc/token volume, mean
    quality, mean unigram entropy, duplicate-token fraction, and
    labeled-language agreement — the one table a curation operator
    reviews before touching thresholds.

    Scale shape: every signal is computed as a column of ONE documents
    projection (quality_components, pred_lang_col, the entropy decimal
    fold — the same single-scan discipline the round-3 verdict forced
    on the curation composites; no signal is joined back), then ONE
    source-keyed aggregate with map-side partials. Per-doc doubles
    route through DECIMAL(38,6) before summing, so every mean is
    accumulation-order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n = F.size("t").cast("long")
    # Per-doc entropy in EXACT integer picounits: hd_pico =
    # lnn_micro*1e6 - (sd_micro*1e6 div n). The previous form rounded
    # the double (lnn - sd/n) to DECIMAL(38,6) per doc — but sd/n with a
    # 2^a*5^b token count terminates EXACTLY on a .xxxxxx5 boundary, and
    # Spark (rounds the binary value) vs DuckDB (rounds the decimal
    # rendering) disagree on boundary-adjacent doubles. Found by the
    # round-8 sf0.1 sweep: 13 docs, e.g. raw 2.8152044999999997 ->
    # 2.815204 (Spark) vs 2.815205 (DuckDB). Integer div has no boundary
    # at all. Bound: sd_micro*1e6 fits int64 for docs up to ~6e5 tokens
    # (n*ln n <= 9.2e6); widen to DECIMAL(38,0) beyond that.
    # Latent same-class hazard: qd/dupd below are also rounded ratios
    # with terminating k/n structure — a divergence needs the TRUE value
    # to be an exact 7-decimal tie that is not binary-representable
    # (engines agree on binary-exact ties, tested round 8), which needs
    # token counts with large 2^a*5^b denominators; none exist in any
    # current SF. The per-round sf0.1 sweep (verify skill) is the canary.
    lnn_micro = (F.log(n).cast("decimal(38,6)") * 1_000_000).cast("long")
    per_doc = docs.select(
        "source",
        quality_components(F.col("text"))["quality"].alias("q"),
        (pred_lang_col(F.col("text")) == F.col("lang")).alias("lang_ok"),
        toks.alias("t"),
    ).select(
        "source",
        F.col("q").cast("decimal(38,6)").alias("qd"),
        "lang_ok",
        n.alias("n_tokens"),
        F.when(n > 0, lnn_micro).alias("lnn_micro"),
        F.when(
            n > 0, (entropy_sum_col("t") * 1_000_000).cast("long")
        ).alias("sd_micro"),
        F.when(n > 0, dup_frac_col("t")).cast("decimal(38,6)").alias("dupd"),
    ).withColumn(
        "hd_pico",
        F.expr("lnn_micro * 1000000L - (sd_micro * 1000000L) div n_tokens"),
    )
    c = F.count(F.lit(1))
    return per_doc.groupBy("source").agg(
        c.alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.sum("qd").cast("double") / F.count("qd")).alias("avg_quality"),
        (
            F.sum(F.col("hd_pico").cast("decimal(38,0)")).cast("double")
            / F.count("hd_pico").cast("double")
            / F.lit(1e12)
        ).alias("avg_entropy"),
        (F.sum("dupd").cast("double") / F.count("dupd")).alias("avg_dup_frac"),
        (F.sum(F.col("lang_ok").cast("long")).cast("double") / c).alias(
            "lang_agree_share"
        ),
    )


SQL_CORPUS_REPORT = f"""
    WITH t AS (
        SELECT doc_id, source, lang, text, {SQL_TOKS} AS t FROM documents
    ), e AS (
        SELECT doc_id, unnest(t) AS token FROM t
    ), g AS (
        SELECT doc_id, token, COUNT(*) AS c FROM e GROUP BY doc_id, token
    ), ent AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               SUM(CAST(c * ln(c) AS DECIMAL(38,6))) AS sd
        FROM g GROUP BY doc_id
    ), per AS (
        SELECT t.source,
               CAST(0.3 * LEAST(length(t.text) / 500.0, 1.0)
                 + 0.4 * (len(list_filter(t.t, x -> list_contains({_sql_stoplist()}, x)))
                          / len(t.t))
                 + 0.3 * (length(regexp_replace(lower(t.text), '[^a-z ]', '', 'g'))
                          / length(t.text)) AS DECIMAL(38,6)) AS qd,
               (CASE
                  WHEN {_sql_lang_score_over('en', 't.t')} >= {_sql_lang_score_over('de', 't.t')}
                   AND {_sql_lang_score_over('en', 't.t')} >= {_sql_lang_score_over('es', 't.t')}
                   AND {_sql_lang_score_over('en', 't.t')} >= {_sql_lang_score_over('zh', 't.t')} THEN 'en'
                  WHEN {_sql_lang_score_over('de', 't.t')} >= {_sql_lang_score_over('es', 't.t')}
                   AND {_sql_lang_score_over('de', 't.t')} >= {_sql_lang_score_over('zh', 't.t')} THEN 'de'
                  WHEN {_sql_lang_score_over('es', 't.t')} >= {_sql_lang_score_over('zh', 't.t')} THEN 'es'
                  ELSE 'zh'
                END = t.lang) AS lang_ok,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CASE WHEN ent.n > 0 THEN
                 CAST(CAST(ln(ent.n) AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                     * 1000000
                   - (CAST(ent.sd * 1000000 AS BIGINT) * 1000000) // ent.n
               END AS hd_pico,
               CASE WHEN len(t.t) > 0 THEN
                 CAST(1.0 - (len(list_distinct(t.t)) / len(t.t)) AS DECIMAL(38,6))
               END AS dupd
        FROM t LEFT JOIN ent USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(qd) AS DOUBLE) / COUNT(qd) AS avg_quality,
           CAST(SUM(hd_pico) AS DOUBLE) / CAST(COUNT(hd_pico) AS DOUBLE)
               / 1000000000000.0 AS avg_entropy,
           CAST(SUM(dupd) AS DOUBLE) / COUNT(dupd) AS avg_dup_frac,
           CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT)
               / (COUNT(*) * 1.0) AS lang_agree_share
    FROM per GROUP BY source
"""


# --- word-variant detection (blocked edit-distance join) ---------------------------

VARIANT_MAX_DIST = 2
VARIANT_MIN_LEN = 2


def q_word_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant / typo pair detection over the corpus
    vocabulary: token pairs within Levenshtein distance
    VARIANT_MAX_DIST, with both occurrence counts — the normalization
    map builder (favours->favors, tokenizer-splitting artifacts) a
    curation pass applies before dedup/counting.

    Scale shape: the self-join runs over the VOCABULARY (corpus-size-
    independent; bounded further by a min-count cut in production), and
    the pair space is blocked EXACTLY by a length-band equi join —
    levenshtein(a,b) >= abs(len(a)-len(b)), so a is only joined to
    length buckets within +/-VARIANT_MAX_DIST (probe side exploded
    across its 2k+1 candidate lengths -> plain hash join, never a
    cartesian). The DuckDB oracle is the NAIVE quadratic self-join, so
    the driver hash check proves the blocking loses no pair. At web
    scale the same plan tightens with PassJoin-style segment blocking;
    the length band is the exactness-preserving first cut."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= VARIANT_MIN_LEN)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("len", F.length("tok"))
    )
    probe = vocab.select(
        F.col("tok").alias("tok_a"),
        F.col("n").alias("n_a"),
        F.explode(
            F.sequence(
                F.col("len") - F.lit(VARIANT_MAX_DIST),
                F.col("len") + F.lit(VARIANT_MAX_DIST),
            )
        ).alias("jl"),
    )
    build = vocab.select(
        F.col("tok").alias("tok_b"), F.col("n").alias("n_b"), F.col("len").alias("jl")
    )
    return (
        probe.join(build, "jl")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .withColumn("dist", F.levenshtein("tok_a", "tok_b"))
        .filter(F.col("dist") <= F.lit(VARIANT_MAX_DIST))
        .select("tok_a", "tok_b", "dist", "n_a", "n_b")
    )


SQL_WORD_VARIANTS = f"""
    WITH t AS (
        SELECT unnest({SQL_TOKS}) AS tok FROM documents
    ), v AS (
        SELECT tok, COUNT(*) AS n FROM t
        WHERE length(tok) >= {VARIANT_MIN_LEN} GROUP BY tok
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM v a JOIN v b ON a.tok < b.tok
    WHERE levenshtein(a.tok, b.tok) <= {VARIANT_MAX_DIST}
"""


# --- output shard planning (write-side balance audit) ------------------------------

# Shard count for the audit. At 100 TB this is the file/bucket count of
# the tokenizer-ready output (thousands); 16 keeps the toy frame
# readable while exercising the identical plan.
N_OUTPUT_SHARDS = 16


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side shard balance audit: assign every document its output
    shard by content-stable hash and report per-shard doc/token load
    plus the load ratio vs a perfectly uniform split. The pre-flight
    check before a `.repartition(N, shard).write` of tokenizer-ready
    data — a hot shard (ratio >> 1) means one writer task (and later
    one training-data reader) becomes the straggler.

    The shard key is md5-derived (functions/texthash), NOT Spark's
    hash(): reproducible across engines and runs, so the same doc lands
    in the same shard when the corpus is re-processed incrementally.

    Scale shape: single scan, one partial+final agg keyed by shard
    (N_OUTPUT_SHARDS groups), then the uniform-load window runs over
    the N-row AGGREGATED frame — the same already-aggregated-only
    window discipline as corpus_mix (bench.py note)."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            (md5_hash64(F.col("doc_id").cast("string")) % N_OUTPUT_SHARDS).alias(
                "shard"
            ),
            F.size(tokens_col(F.col("text"))).cast("long").alias("n"),
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        # exact-int numerator, ONE division — bit-identical to the oracle
        (
            (F.col("n_tokens") * F.lit(N_OUTPUT_SHARDS)).cast("double") / total
        ).alias("load_ratio"),
    )


SQL_SHARD_PLAN = f"""
    WITH t AS (
        SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % {N_OUTPUT_SHARDS} AS shard,
               CAST(len({SQL_TOKS}) AS BIGINT) AS n
        FROM documents
    ), g AS (
        SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM t GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens * {N_OUTPUT_SHARDS} AS DOUBLE)
             / SUM(n_tokens) OVER () AS load_ratio
    FROM g
"""


# --- corpus rebalancing (target-mix sampling rates) --------------------------------


def q_corpus_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling rates that rebalance the corpus toward a UNIFORM
    per-source token budget — the executable complement of corpus_mix:
    that query reports the mix, this one emits the per-source keep-rate
    a downstream `md5(doc_id) % M < rate*M` deterministic-sample pass
    applies. Down-sampling only (rate = min(1, target/actual)): an
    over-represented crawl source is cut to the uniform share; an
    under-represented one keeps rate 1.0 (up-sampling is an epoch
    multiplier at training time, not a data-prep filter).

    Scale shape: one agg shuffle keyed by source, then both windows
    (corpus total, source count) run over the |sources|-row aggregated
    frame. Float discipline: exact-int operands, fixed division order
    (target = total/n_src once, then /n_tokens), LEAST against exact
    1.0 — every engine computes the identical IEEE doubles."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source", F.size(tokens_col(F.col("text"))).cast("long").alias("n")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
    )
    w = W.partitionBy()
    total = F.sum("n_tokens").over(w)
    target = total.cast("double") / F.count(F.lit(1)).over(w)
    rate = F.least(F.lit(1.0), target / F.col("n_tokens"))
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total).alias("cur_share"),
        rate.alias("sample_rate"),
        (F.col("n_tokens") * rate).alias("sampled_tokens"),
    )


SQL_CORPUS_REBALANCE = f"""
    WITH t AS (
        SELECT source, CAST(len({SQL_TOKS}) AS BIGINT) AS n FROM documents
    ), g AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM t GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS cur_share,
           LEAST(1.0, (CAST(SUM(n_tokens) OVER () AS DOUBLE)
                         / COUNT(*) OVER ()) / n_tokens) AS sample_rate,
           n_tokens * LEAST(1.0, (CAST(SUM(n_tokens) OVER () AS DOUBLE)
                         / COUNT(*) OVER ()) / n_tokens) AS sampled_tokens
    FROM g
"""


# --- sequence-length histogram (packing-efficiency planning) -----------------------

LENGTH_BIN = 64  # tokens per histogram bin


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in fixed 64-token bins: the histogram a
    packing job reads before choosing max_seq_len (the seq_packing
    operator's input distribution — too many docs past the bin of the
    chosen length means truncation loss; too many tiny docs means
    padding loss without packing). Single scan, one agg keyed by the
    bin; bin edges are exact integer floor-division so the oracle bins
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(tokens_col(F.col("text"))).cast("long")
    return (
        docs.select(
            (F.floor(n / F.lit(LENGTH_BIN)) * F.lit(LENGTH_BIN))
            .cast("long")
            .alias("bin_lo"),
            n.alias("n"),
        )
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )


SQL_LENGTH_HISTOGRAM = f"""
    WITH t AS (
        SELECT CAST(len({SQL_TOKS}) AS BIGINT) AS n FROM documents
    )
    SELECT CAST((n // {LENGTH_BIN}) * {LENGTH_BIN} AS BIGINT) AS bin_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens
    FROM t GROUP BY 1
"""


# --- PMI collocations (statistically-bound word pairs) -----------------------------

PMI_MIN_COUNT = 5  # bigrams below this are PMI noise (classic cutoff)
PMI_TOP_K = 50


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: bigrams whose
    observed frequency most exceeds the independence expectation —
    surfacing multi-word units ("new york") that raw bigram counts bury
    under stopword pairs. PMI = ln(p(ab) / (p(a)p(b))) with p(ab) over
    the bigram space and p(a), p(b) over the token space.

    Determinism: counts are exact ints; the PMI argument is computed as
    one fixed expression tree of double multiplies/divides (identical
    text both engines → identical IEEE result) and the ln round-trips
    through DECIMAL(38,6) exactly like lm_score's logs, absorbing libm
    last-ulp differences.

    Scale shape: one corpus scan feeds the bigram agg; the unigram agg
    re-derives from the same scan branch (two aggs, both shuffling
    |vocab|-bounded keys); the PMI_MIN_COUNT-filtered bigram head then
    joins the unigram table twice WITHOUT a broadcast hint (r6 ADVICE:
    a vocab-sized forced broadcast risks driver OOM at web scale — AQE
    picks broadcast at test scale and a shuffle hash join when runtime
    stats say the vocab is big), and the final top-k is
    TakeOrderedAndProject. Scalar totals ride 1-row broadcast
    cross joins (the repo's deliberate 1-row pattern)."""
    # Build from the MEMOIZED token table, not inline tokens_col(text):
    # the gram transform references the token array inside a lambda
    # (F.size bound + element_at per gram), and LambdaFunction
    # expressions are interpreted, outside codegen's subexpression
    # elimination — with the tokenizer inlined, split+lower+filter
    # re-ran per element access, O(L²) per doc (the round-5 blowup
    # dedup.py documents; measured here: 8 s suite floor at sf0.1 vs
    # ~1 s from the materialized table).
    from .dedup import _doc_tokens

    docs = _doc_tokens(spark, sf_dir).select("doc_id", "t")
    toks = F.col("t")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    bi = (
        docs.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= F.lit(PMI_MIN_COUNT))
    )
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_t"))
    n_bi = docs.select(
        F.greatest(F.size(toks) - 1, F.lit(0)).cast("long").alias("nb")
    ).agg(F.sum("nb").alias("n_b"))

    a_side = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    b_side = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    joined = (
        bi.withColumn("tok_a", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("tok_b", F.expr("split_part(bigram, ' ', 2)"))
        # no broadcast hint on the vocab-sized unigram sides (r6
        # ADVICE): at web scale a forced vocab broadcast risks driver
        # OOM; left to AQE, the min_count-filtered bigram head joins
        # the vocab via whatever the runtime stats justify (broadcast
        # at test scale, shuffle hash join at corpus scale)
        .join(a_side, "tok_a")
        .join(b_side, "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi_arg = F.expr(
        "(cast(c_ab as double) * cast(n_t as double) * cast(n_t as double))"
        " / (cast(n_b as double) * cast(c_a as double) * cast(c_b as double))"
    )
    return (
        joined.select(
            "bigram",
            "c_ab",
            F.log(pmi_arg).cast("decimal(38,6)").cast("double").alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram"))
        .limit(PMI_TOP_K)
    )


SQL_PMI_COLLOCATIONS = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    bi AS (
        SELECT bigram, COUNT(*) AS c_ab
        FROM (
            SELECT unnest(CASE WHEN len(toks) >= 2 THEN
                       list_transform(generate_series(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i+1])
                   ELSE []::VARCHAR[] END) AS bigram
            FROM t
        )
        GROUP BY bigram HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ), uni AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest(toks) AS tok FROM t)
        GROUP BY tok
    ), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_t FROM uni),
    nb AS (
        SELECT CAST(SUM(CASE WHEN len(toks) >= 2
                             THEN len(toks) - 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM t
    )
    SELECT bigram, c_ab,
           CAST(CAST(ln(
               (CAST(c_ab AS DOUBLE) * CAST(n_t AS DOUBLE) * CAST(n_t AS DOUBLE))
               / (CAST(n_b AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
           ) AS DECIMAL(38,6)) AS DOUBLE) AS pmi
    FROM bi
    JOIN uni a ON a.tok = split_part(bigram, ' ', 1)
    JOIN uni b ON b.tok = split_part(bigram, ' ', 2)
    CROSS JOIN nt CROSS JOIN nb
    ORDER BY pmi DESC, bigram
    LIMIT {PMI_TOP_K}
"""


# --- corpus drift monitor (round 7) ------------------------------------------------


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between an incoming batch and the base corpus
    (the monitor a continuous-ingestion pipeline runs before accepting
    a day's crawl): smoothed unigram KL(batch ‖ base) and total
    variation distance. The batch/base split is the same md5 parity
    dedup_incremental uses, so the two continuous-ingestion operators
    see the same slices.

    Determinism: Laplace-smoothed probabilities (c+1)/(N+V) are single
    IEEE divisions of exact ints; each KL/TV term is a fixed expression
    whose ln round-trips through DECIMAL(38,6) (lm_score discipline)
    before the exact decimal sum, so accumulation order cannot drift.

    Scale shape: ONE corpus explode with a parity flag feeds ONE
    groupBy(token) carrying two conditional counts — no second scan,
    no vocab join; totals are windows over the AGGREGATED |V|-row
    frame (corpus_mix pattern); the final reduce is one |V|-row global
    aggregate."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64
    from .dedup import _doc_tokens

    toks = _doc_tokens(spark, sf_dir).select(
        "doc_id",
        (md5_hash64(F.col("doc_id").cast("string")) % 2).alias("p"),
        F.explode(F.col("t")).alias("token"),
    )
    vocab = toks.groupBy("token").agg(
        F.sum((F.col("p") == 0).cast("long")).alias("c_base"),
        F.sum((F.col("p") == 1).cast("long")).alias("c_batch"),
    )
    w = W.partitionBy()
    vocab = (
        vocab.withColumn("n_base", F.sum("c_base").over(w))
        .withColumn("n_batch", F.sum("c_batch").over(w))
        .withColumn("v", F.count(F.lit(1)).over(w))
    )
    p_base = (F.col("c_base") + F.lit(1)) / (F.col("n_base") + F.col("v"))
    p_batch = (F.col("c_batch") + F.lit(1)) / (F.col("n_batch") + F.col("v"))
    terms = vocab.select(
        "n_base",
        "n_batch",
        "v",
        (p_batch * F.log(p_batch / p_base)).cast("decimal(38,6)").alias("kl_t"),
        F.abs(p_batch - p_base).cast("decimal(38,6)").alias("tv_t"),
    )
    return terms.groupBy("n_base", "n_batch", F.col("v").alias("vocab")).agg(
        F.sum("kl_t").cast("double").alias("kl_divergence"),
        (F.lit(0.5) * F.sum("tv_t").cast("double")).alias("tv_distance"),
    )


_SQL_DRIFT_P = SQL_MD5_HASH64.format(x="CAST(doc_id AS VARCHAR)")

SQL_CORPUS_DRIFT = f"""
    WITH tok AS (
        SELECT doc_id, ({_SQL_DRIFT_P} % 2) AS p,
               unnest({SQL_TOKS}) AS token
        FROM documents
    ), vocab AS (
        SELECT token,
               CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_base,
               CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_batch
        FROM tok GROUP BY token
    ), tot AS (
        SELECT token, c_base, c_batch,
               SUM(c_base) OVER () AS n_base,
               SUM(c_batch) OVER () AS n_batch,
               COUNT(*) OVER () AS v
        FROM vocab
    ), terms AS (
        SELECT CAST(n_base AS BIGINT) AS n_base,
               CAST(n_batch AS BIGINT) AS n_batch,
               CAST(v AS BIGINT) AS vocab,
               CAST(((c_batch + 1) / (n_batch + v))
                    * ln(((c_batch + 1) / (n_batch + v))
                         / ((c_base + 1) / (n_base + v)))
                    AS DECIMAL(38,6)) AS kl_t,
               CAST(abs((c_batch + 1) / (n_batch + v)
                        - (c_base + 1) / (n_base + v))
                    AS DECIMAL(38,6)) AS tv_t
        FROM tot
    )
    SELECT n_base, n_batch, vocab,
           CAST(SUM(kl_t) AS DOUBLE) AS kl_divergence,
           0.5 * CAST(SUM(tv_t) AS DOUBLE) AS tv_distance
    FROM terms
    GROUP BY n_base, n_batch, vocab
"""


# --- context-window chunking -------------------------------------------------------

# Production values are tokenizer-context-sized (e.g. 2048/1536); the
# testdata docs are ~30 tokens, so 16/12 keeps every doc multi-chunk at
# every SF while the plan is width-independent.
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-token context-window
    chunks (stride < width ⇒ CHUNK_TOKENS−CHUNK_STRIDE tokens of
    overlap) — the artifact a tokenizer/embedding job consumes when
    documents exceed the model context. Emits one row per chunk with
    its 1-based id, token start offset, token count (the tail chunk may
    be short), and the md5 of the chunk text (the compact identity a
    chunk-grain dedup or lineage join keys on — the text itself stays
    reconstructable from (doc_id, chunk_start, chunk_tokens)).

    Chunk count is exact integer arithmetic on both engines:
    1 + ceil(max(L − C, 0) / S) via (x + S − 1) div S — every token is
    covered, the last chunk starts at most at L.

    Scale shape: zero shuffles — one explode of a per-row integer
    sequence over the MATERIALIZED token table, all chunk fields
    derived in the same codegen projection. Output is ~L/S rows per
    doc; the md5 runs over token slices, never re-tokenizing (the
    CollapseProject hazard is void because `t` is a persisted column).
    """
    from .dedup import _doc_tokens

    toks = _doc_tokens(spark, sf_dir).select("doc_id", "t")
    L = F.size(F.col("t"))
    n_chunks = F.when(
        L >= F.lit(1),
        F.lit(1)
        + F.floor(
            (F.greatest(L - F.lit(CHUNK_TOKENS), F.lit(0))
             + F.lit(CHUNK_STRIDE - 1))
            / F.lit(CHUNK_STRIDE)
        ).cast("int"),
    ).otherwise(F.lit(0))
    start = (F.col("chunk_id") - F.lit(1)) * F.lit(CHUNK_STRIDE) + F.lit(1)
    return (
        toks.select(
            "doc_id",
            "t",
            F.size(F.col("t")).alias("l"),
            F.explode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            start.alias("chunk_start"),
            F.least(
                F.lit(CHUNK_TOKENS), F.col("l") - start + F.lit(1)
            ).alias("chunk_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("t"), start, F.lit(CHUNK_TOKENS))
                )
            ).alias("chunk_md5"),
        )
    )


SQL_DOC_CHUNK = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    n AS (
        SELECT doc_id, toks, len(toks) AS l,
               CASE WHEN len(toks) >= 1 THEN
                   1 + CAST(floor(
                       (GREATEST(len(toks) - {CHUNK_TOKENS}, 0)
                        + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) AS INT)
               ELSE 0 END AS nc
        FROM t
    )
    SELECT doc_id,
           i AS chunk_id,
           (i - 1) * {CHUNK_STRIDE} + 1 AS chunk_start,
           LEAST({CHUNK_TOKENS}, l - ((i - 1) * {CHUNK_STRIDE} + 1) + 1)
               AS chunk_tokens,
           md5(array_to_string(
               toks[(i-1)*{CHUNK_STRIDE}+1 :
                    (i-1)*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ')) AS chunk_md5
    FROM n, unnest(generate_series(1, nc)) AS u(i)
"""


# --- n-gram novelty of an incoming batch -------------------------------------------

NOVELTY_MAX_N = 3


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much genuinely NEW text does an incoming batch contribute?
    Per n in 1..NOVELTY_MAX_N: the count of distinct n-grams in the
    batch slice, how many of them never occur in the base corpus, and
    the novelty rate. Complements q_corpus_drift (which measures
    distribution SHIFT of shared tokens) with a coverage measure — a
    crawl that is 99 % already-seen n-grams is not worth ingesting;
    the batch/base split is the same md5 parity dedup_incremental and
    corpus_drift use, so all three continuous-ingestion monitors see
    the same slices.

    Scale shape: ONE pass over the materialized token table builds all
    n orders in a single per-row array (flatten of per-n transforms —
    one explode, not NOVELTY_MAX_N scans); ONE groupBy (n, gram)
    carries two boolean presence flags out of the partial agg (the
    frame is distinct-bounded, Zipf-headed like every vocab artifact);
    the final rollup is NOVELTY_MAX_N rows. No join — presence of both
    slices collapses into MAX flags inside the same aggregation.
    """
    from ..functions.texthash import md5_hash64
    from .dedup import _doc_tokens

    def gram_arr(n: int):
        cnt = F.size(F.col("t")) - F.lit(n - 1)
        return F.when(
            cnt >= F.lit(1),
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(n))).alias(
                        "g"
                    ),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

    toks = _doc_tokens(spark, sf_dir).select(
        (md5_hash64(F.col("doc_id").cast("string")) % 2).alias("p"),
        F.explode(
            F.flatten(
                F.array(*[gram_arr(n) for n in range(1, NOVELTY_MAX_N + 1)])
            )
        ).alias("x"),
    ).select("p", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
    presence = toks.groupBy("n", "g").agg(
        F.max((F.col("p") == 0).cast("int")).alias("has_base"),
        F.max((F.col("p") == 1).cast("int")).alias("has_batch"),
    )
    return (
        presence.groupBy("n")
        .agg(
            F.sum("has_batch").cast("long").alias("batch_distinct"),
            F.sum(
                ((F.col("has_batch") == 1) & (F.col("has_base") == 0)).cast(
                    "long"
                )
            ).alias("unseen"),
        )
        .select(
            "n",
            "batch_distinct",
            "unseen",
            F.try_divide(F.col("unseen"), F.col("batch_distinct")).alias(
                "novelty_rate"
            ),
        )
    )


_SQL_NOVELTY_P = SQL_MD5_HASH64.format(x="CAST(doc_id AS VARCHAR)")

SQL_NGRAM_NOVELTY = f"""
    WITH t AS (
        SELECT ({_SQL_NOVELTY_P} % 2) AS p, {SQL_TOKS} AS toks
        FROM documents
    ), g AS (
        SELECT p, 1 AS n, unnest(toks) AS g FROM t
        UNION ALL
        SELECT p, 2 AS n, array_to_string(toks[i : i + 1], ' ') AS g
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        UNION ALL
        SELECT p, 3 AS n, array_to_string(toks[i : i + 2], ' ') AS g
        FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
    ), presence AS (
        SELECT n, g,
               MAX(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS has_base,
               MAX(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS has_batch
        FROM g GROUP BY n, g
    )
    SELECT n,
           CAST(SUM(has_batch) AS BIGINT) AS batch_distinct,
           CAST(SUM(CASE WHEN has_batch = 1 AND has_base = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS unseen,
           CAST(SUM(CASE WHEN has_batch = 1 AND has_base = 0
                         THEN 1 ELSE 0 END) AS BIGINT)
               / CAST(SUM(has_batch) AS BIGINT) AS novelty_rate
    FROM presence GROUP BY n
"""


# --- BM25 ranked retrieval ---------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
# Fixed query workload over the corpus vocabulary (the retrieval twin of
# tfidf's keyword extraction): query_id -> bag of terms.
BM25_QUERIES = (
    ("q_scan", ("table", "scan")),
    ("q_join", ("hash", "join", "merge")),
    ("q_sort", ("window", "sort")),
)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query set: rank documents
    by sum over query terms of idf(t) * tf*(k1+1) / (tf + k1*(1−b+b*
    dl/avgdl)), idf = ln(1 + (N−df+0.5)/(df+0.5)). The quality-aware
    search primitive a curation pipeline uses to pull topical slices
    out of a web corpus (tfidf ranks terms per doc; this ranks docs per
    query).

    Determinism: per-term scores are fixed double expressions (same
    operation order both engines — the lm_score ln contract) rounded to
    DECIMAL(38,6) BEFORE the per-(query, doc) sum, so accumulation
    order cannot drift; ranking sorts the exact decimal with doc_id as
    tie-break.

    Scale shape: the corpus-scale work is ONE explode of the
    materialized token table filtered to query terms — a ~|terms|-entry
    IN list evaluated in codegen ahead of the shuffle, so only matching
    (doc, term) rows reach the tf aggregation. df and the per-term
    score derive from windows over that (matching docs × terms) frame;
    corpus stats (N, Σdl) are ONE 1-row aggregate over the token table
    broadcast in (the repo's scalar crossJoin pattern); the query map
    is a literal frame broadcast into the term rows. Final top-k is
    row_number over |queries| partitions — WindowGroupLimit keeps k
    rows per partition ahead of the exchange.
    """
    from pyspark.sql import Window as W

    from .dedup import _doc_tokens

    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    qmap = literal_df(
        spark,
        [(q, t) for q, ts in BM25_QUERIES for t in ts],
        "query_id string, token string",
    )
    toks = _doc_tokens(spark, sf_dir).select("doc_id", "t")
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.col("t"))).alias("total_dl"),
    )
    tf = (
        toks.select(
            "doc_id",
            F.size(F.col("t")).alias("dl"),
            F.explode(F.col("t")).alias("token"),
        )
        .filter(F.col("token").isin(*all_terms))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B)
                        * F.col("dl")
                        / (F.col("total_dl") / F.col("n_docs"))
                    )
                )
            )
            .cast("decimal(38,6)")
            .alias("sd"),
        )
    )
    per_doc = (
        scored.join(F.broadcast(qmap), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("sd").alias("score_d"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score_d").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(BM25_TOP_K))
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.col("score_d").cast("double").alias("score"),
        )
    )


def bm25_topk_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared BM25 ranking frame (query_id, rank, doc_id, score),
    memo-persisted (r17). Four consumers execute this exact sub-plan —
    q_bm25_search itself, q_hybrid_rrf's lexical leg, and
    q_retrieval_eval twice (its lex arm + the rrf arm's lex leg) — and
    Spark reuses none of the exchanges across them (the r16 standing
    plan-audit class). The frame is |Q|·k rows; at any corpus scale it
    is the write-once ranking table a retrieval stack stores once and
    every fusion/eval pass reads — which is exactly how hybrid search
    engines persist per-leg rankings before fusing."""
    return cached(
        spark,
        sf_dir,
        "bm25_topk",
        lambda: q_bm25_search(spark, sf_dir).persist(),
    )


_SQL_BM25_TERMS = ", ".join(
    f"('{q}', '{t}')" for q, ts in BM25_QUERIES for t in ts
)
_SQL_BM25_IN = ", ".join(
    f"'{t}'" for t in sorted({t for _, ts in BM25_QUERIES for t in ts})
)

SQL_BM25_SEARCH = f"""
    WITH qmap(query_id, token) AS (VALUES {_SQL_BM25_TERMS}),
    t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS total_dl
        FROM t
    ), tf AS (
        SELECT doc_id, dl, token, COUNT(*) AS tf
        FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM t)
        WHERE token IN ({_SQL_BM25_IN})
        GROUP BY doc_id, dl, token
    ), scored AS (
        SELECT doc_id, token,
               CAST(
                   ln(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {BM25_K1 + 1.0})
                   / (tf + {BM25_K1}
                      * ({1.0 - BM25_B} + {BM25_B} * dl
                         / (stats.total_dl / stats.n_docs)))
                   AS DECIMAL(38,6)) AS sd
        FROM (SELECT *, COUNT(*) OVER (PARTITION BY token) AS df FROM tf)
        CROSS JOIN stats
    ), per_doc AS (
        SELECT query_id, doc_id, SUM(sd) AS score_d
        FROM scored JOIN qmap USING (token)
        GROUP BY query_id, doc_id
    )
    SELECT query_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score_d DESC, doc_id ASC) AS INT) AS rank,
           doc_id,
           CAST(score_d AS DOUBLE) AS score
    FROM per_doc
    QUALIFY rank <= {BM25_TOP_K}
"""


# --- tokenizer fertility statistics ------------------------------------------------


def q_tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer planning report: document count, word
    (\\W+) and BPE-style pre-token totals, character volume, and the
    two ratios a training-budget estimate runs on — fertility
    (BPE tokens per word: how much the subword tokenizer inflates the
    corpus) and chars-per-word. A source whose fertility is an outlier
    is mis-encoded, non-prose, or out-of-vocabulary-heavy, and its
    token budget is mispriced by the word-count proxy.

    Scale shape: ONE scan, all per-row counts (regexp token counts,
    lengths) in the same codegen projection, one |sources|-row
    aggregate; ratios are single IEEE divisions of exact int sums."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.expr(f'regexp_extract_all(lower(text), "{BPE_PATTERN}", 0)')
    per_row = docs.select(
        "source",
        F.size(tokens_col(F.col("text"))).alias("n_words"),
        F.size(bpe).alias("n_bpe"),
        F.length(F.col("text")).alias("n_chars"),
    )
    return (
        per_row.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_chars").alias("chars"),
        )
        .select(
            "source",
            "n_docs",
            "words",
            "bpe_tokens",
            "chars",
            F.try_divide(F.col("bpe_tokens"), F.col("words")).alias(
                "fertility"
            ),
            F.try_divide(F.col("chars"), F.col("words")).alias(
                "chars_per_word"
            ),
        )
    )


SQL_TOKENIZER_STATS = f"""
    WITH per_row AS (
        SELECT source,
               len({SQL_TOKS}) AS n_words,
               len(regexp_extract_all(lower(text),
                   '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpe,
               length(text) AS n_chars
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(n_bpe) AS BIGINT) / CAST(SUM(n_words) AS BIGINT)
               AS fertility,
           CAST(SUM(n_chars) AS BIGINT) / CAST(SUM(n_words) AS BIGINT)
               AS chars_per_word
    FROM per_row GROUP BY source
"""


# --- language-ID confusion matrix --------------------------------------------------


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language classifier against
    the labeled `lang` column: per (actual, predicted) cell, document
    count plus the cell's share of its actual-language row — the
    classifier audit a pipeline runs before trusting lang_id to route
    documents (the same measure-don't-guess contract as ann_recall and
    minhash_band_sweep, applied to the text tier).

    Scale shape: one scan computing the prediction in-row (shared
    pred_lang_col expressions — audit and classifier cannot drift), one
    (lang, pred_lang)-keyed count bounded by |langs|^2, and the row
    share from a window over that bounded frame."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", pred_lang_col(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return cells.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.try_divide(
            F.col("n_docs"), F.sum("n_docs").over(W.partitionBy("lang"))
        ).alias("row_share"),
    )


SQL_LANG_CONFUSION = f"""
    WITH t AS (SELECT lang, {SQL_TOKS} AS toks FROM documents),
    s AS (
        SELECT lang,
               {_sql_lang_score('en')} AS score_en,
               {_sql_lang_score('de')} AS score_de,
               {_sql_lang_score('es')} AS score_es,
               {_sql_lang_score('zh')} AS score_zh
        FROM t
    ), p AS (
        SELECT lang,
               CASE
                 WHEN score_en >= score_de AND score_en >= score_es
                      AND score_en >= score_zh THEN 'en'
                 WHEN score_de >= score_es AND score_de >= score_zh THEN 'de'
                 WHEN score_es >= score_zh THEN 'es'
                 ELSE 'zh'
               END AS pred_lang
        FROM s
    ), cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM p GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n_docs,
           n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS row_share
    FROM cells
"""


# --- exact length percentiles per source -------------------------------------------

LENGTH_PCTS = (50, 90, 99)


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-length percentiles per source (p50/p90/p99 + max):
    the sequence-length planning numbers a packing/truncation config is
    sized from, per source because length distributions differ by
    provenance. Percentile definition is EXPLICIT (value at rank
    ceil(p/100 * n) under (n_tokens, doc_id) order) rather than an
    engine quantile function — engine quantile interpolation rules
    differ, this definition is integer-exact and identical everywhere.

    Scale shape: token counts come from one scan (length of the
    tokenized array — no explode); the rank window sorts within each
    source partition (bounded by the largest source, the standard cost
    of exact per-group percentiles — a production run at petabyte scale
    subsamples per source first, which changes none of this plan); the
    final pivot is one |sources|-row aggregate of rank-matched values.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens_col(F.col("text"))).alias("n_tok")
    )
    w = W.partitionBy("source")
    ranked = (
        docs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy("n_tok", "doc_id")
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    agg = [F.max("n").alias("n_docs")]
    for p in LENGTH_PCTS:
        target = F.ceil(F.col("n") * F.lit(p) / F.lit(100.0))
        agg.append(
            F.max(F.when(F.col("rn") == target, F.col("n_tok"))).alias(
                f"p{p}"
            )
        )
    agg.append(F.max("n_tok").alias("max_tok"))
    return ranked.groupBy("source").agg(*agg)


_SQL_PCT_COLS = ",\n           ".join(
    f"MAX(CASE WHEN rn = CEIL(n * {p} / 100.0) THEN n_tok END) AS p{p}"
    for p in LENGTH_PCTS
)

SQL_LENGTH_PERCENTILES = f"""
    WITH d AS (
        SELECT doc_id, source, len({SQL_TOKS}) AS n_tok FROM documents
    ), ranked AS (
        SELECT source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_tok, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM d
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           {_SQL_PCT_COLS},
           MAX(n_tok) AS max_tok
    FROM ranked GROUP BY source
"""


ZIPF_TOP_N = 200


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of the Zipf law ln(freq) = a + b·ln(rank) over the
    top-200 corpus tokens — the standard sanity check that a crawl
    slice has natural-language frequency structure (a synthetic or
    template-heavy corpus shows a flattened head, |b| << 1).

    Determinism: token counts are exact integers; rank is a ROW_NUMBER
    with the (count DESC, token ASC) total order; both ln() calls
    round-trip DECIMAL(38,6) before ANY arithmetic (libm ln differs by
    1 ulp between engines — the lm_score discipline), so every OLS
    moment accumulates identical decimals and the closed-form
    slope/intercept/r2 are fixed-order IEEE scalar expressions.

    Scale shape: one corpus scan -> |vocab|-bounded count agg ->
    TakeOrderedAndProject(200) -> the regression runs on a 200-row
    frame (sub-millisecond anywhere). The rank window is
    window-above-aggregate over 200 rows (the documented tiny-frame
    WindowExec class, never the raw corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(ZIPF_TOP_N)
    )
    ranked = counts.select(
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), F.col("tok")))
        .alias("rank"),
        "c",
    ).select(
        F.log(F.col("rank").cast("double"))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("x"),
        F.log(F.col("c").cast("double"))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("y"),
    )

    def m(col: Column) -> Column:
        return F.sum(col.cast("decimal(38,6)")).cast("double")

    moms = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        m(F.col("x")).alias("sx"),
        m(F.col("y")).alias("sy"),
        m(F.col("x") * F.col("x")).alias("sxx"),
        m(F.col("x") * F.col("y")).alias("sxy"),
        m(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moms.select(
        F.col("n").cast("long").alias("n_tokens"),
        slope.cast("decimal(38,6)").cast("double").alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n"))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("intercept"),
        (
            ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("r2"),
    )


SQL_ZIPF_FIT = f"""
    WITH counts AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest({{toks}}) AS tok FROM documents)
        GROUP BY tok
        ORDER BY c DESC, tok
        LIMIT {ZIPF_TOP_N}
    ),
    xy AS (
        SELECT CAST(CAST(ln(CAST(ROW_NUMBER() OVER
                     (ORDER BY c DESC, tok) AS DOUBLE))
                   AS DECIMAL(38,6)) AS DOUBLE) AS x,
               CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))
                   AS DOUBLE) AS y
        FROM counts
    ),
    moms AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
               AS DECIMAL(38,6)) AS DOUBLE) AS zipf_slope,
           CAST(CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n AS DECIMAL(38,6)) AS DOUBLE) AS intercept,
           CAST(CAST(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy))
               AS DECIMAL(38,6)) AS DOUBLE) AS r2
    FROM moms
""".replace("{toks}", SQL_TOKS)


def q_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup keeper selection: within each connected
    near-dup cluster keep the HIGHEST-quality member, not the lowest
    doc_id. min-id-wins (q_dedup_cluster) is the right contract for
    exact dups (identical text -> identical quality), but near-dup
    members genuinely differ — a curation pipeline wants the best
    version of the page, not the first-crawled one.

    Composes two verified pieces: the capped-Jaccard cluster resolution
    (dedup.resolve_clusters over dedup.neardup_pairs — exact
    recursive-CTE oracle) and the quality_score expression. The keeper
    rank orders by DECIMAL(38,6)-rounded quality DESC then doc_id, so
    the argmax is engine-portable (both engines rank identical
    decimals; ties break on the id).

    Scale shape: the fixpoint labels frame is |near-dup docs| rows (a
    small fraction of the corpus); quality is a single-scan per-row
    expression joined on doc_id; the rank window partitions by
    cluster_id (bounded fan-in — the df-cap bounds component sizes).
    """
    from .dedup import cluster_labels

    labels = cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    c = quality_components(F.col("text"))
    qual = docs.select(
        "doc_id", c["quality"].cast("decimal(38,6)").alias("q")
    )
    members = labels.select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(qual, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.max(F.when(F.col("rn") == 1, F.col("q")))
            .cast("double")
            .alias("keeper_quality"),
            F.count(F.lit(1)).alias("n_members"),
            F.min("q").cast("double").alias("min_quality"),
        )
        .orderBy("cluster_id")
    )


def _sql_quality_expr(text: str, toks: str) -> str:
    """The q_quality_score combination as an inline SQL expression."""
    return (
        f"0.3 * LEAST(length({text}) / 500.0, 1.0) "
        f"+ 0.4 * (len(list_filter({toks}, t -> list_contains("
        f"{_sql_stoplist()}, t))) / len({toks})) "
        f"+ 0.3 * (length(regexp_replace(lower({text}), '[^a-z ]', '', 'g')) "
        f"/ length({text}))"
    )


SQL_DEDUP_KEEPER_QUALITY = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({{near_capped}})
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(doc, label) AS (
        SELECT DISTINCT src AS doc, src AS label FROM edges
        UNION
        SELECT e.dst AS doc, r.label
        FROM reach r JOIN edges e ON e.src = r.doc
    ), clusters AS (
        SELECT doc AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc
    ), t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
    q AS (
        SELECT doc_id,
               CAST({_sql_quality_expr('text', 'toks')} AS DECIMAL(38,6)) AS q
        FROM t
    ), m AS (
        SELECT c.cluster_id, c.doc_id, q.q,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.q DESC, c.doc_id) AS rn
        FROM clusters c JOIN q USING (doc_id)
    )
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
           CAST(MAX(CASE WHEN rn = 1 THEN q END) AS DOUBLE) AS keeper_quality,
           COUNT(*) AS n_members,
           CAST(MIN(q) AS DOUBLE) AS min_quality
    FROM m GROUP BY cluster_id
    ORDER BY cluster_id
"""


def _splice_near_capped() -> str:
    from .dedup import SQL_DEDUP_NEAR_CAPPED

    return SQL_DEDUP_KEEPER_QUALITY.replace(
        "{near_capped}", SQL_DEDUP_NEAR_CAPPED
    )


SQL_DEDUP_KEEPER_QUALITY = _splice_near_capped()


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration report: how unevenly tokens distribute over
    sources — Gini coefficient (sorted cumulative formula), the largest
    source's share, and the effective number of sources (inverse
    Herfindahl, 1/Σs²) — the one-row summary a rebalancing decision
    (corpus_rebalance) starts from.

    All inputs are exact integer token sums; the Gini uses
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending (x, source) order —
    rank products stay integers, the two divisions are single IEEE
    ops, and every reported ratio round-trips DECIMAL(38,6). The rank
    window runs over the |sources|-row aggregate (the documented
    window-above-aggregate class)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source", F.size(tokens_col(F.col("text"))).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("x"))
    )
    ranked = per_src.select(
        "x",
        F.row_number().over(W.orderBy("x", "source")).alias("i"),
    )
    rt = lambda c: c.cast("decimal(38,6)").cast("double")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").alias("total_tokens"),
        F.max("x").alias("max_tokens"),
        F.sum(F.col("i") * F.col("x")).alias("iw"),
        F.sum(F.col("x") * F.col("x")).alias("xx"),
    ).select(
        "n_sources",
        "total_tokens",
        rt(
            F.lit(2.0) * F.col("iw").cast("double")
            / (F.col("n_sources").cast("double") * F.col("total_tokens").cast("double"))
            - (F.col("n_sources").cast("double") + F.lit(1.0))
            / F.col("n_sources").cast("double")
        ).alias("gini"),
        rt(
            F.col("max_tokens").cast("double") / F.col("total_tokens").cast("double")
        ).alias("top_share"),
        rt(
            (F.col("total_tokens").cast("double") * F.col("total_tokens").cast("double"))
            / F.col("xx").cast("double")
        ).alias("effective_sources"),
    )


SQL_SOURCE_CONCENTRATION = f"""
    WITH per_src AS (
        SELECT source, CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS x
        FROM documents GROUP BY source
    ), ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, source) AS i FROM per_src
    ), m AS (
        SELECT COUNT(*) AS n_sources,
               CAST(SUM(x) AS BIGINT) AS total_tokens,
               CAST(MAX(x) AS BIGINT) AS max_tokens,
               CAST(SUM(i * x) AS BIGINT) AS iw,
               CAST(SUM(x * x) AS BIGINT) AS xx
        FROM ranked
    )
    SELECT n_sources, total_tokens,
           CAST(CAST(2.0 * CAST(iw AS DOUBLE)
                     / (CAST(n_sources AS DOUBLE) * CAST(total_tokens AS DOUBLE))
                     - (CAST(n_sources AS DOUBLE) + 1.0)
                       / CAST(n_sources AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS gini,
           CAST(CAST(CAST(max_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS top_share,
           CAST(CAST((CAST(total_tokens AS DOUBLE) * CAST(total_tokens AS DOUBLE))
                     / CAST(xx AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS effective_sources
    FROM m
"""


BUDGET_NUM, BUDGET_DEN = 3, 5  # budget = 60% of corpus tokens, exact int


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation: given a training budget
    B (here 3/5 of corpus tokens, computed in exact integer division),
    cap every source at the level c where Σ min(xᵢ, c) = B — small
    sources keep everything, big sources are clipped to a COMMON
    ceiling (the standard mixture-planning step under a fixed budget:
    proportional sampling over-weights the biggest crawl, uniform
    starves it; water-filling is the max-min-fair middle).

    The cap comes from the classic sorted-prefix argument: ascending
    by (x, source), the first row i where
    prefix_{i-1} + (n-i+1)·xᵢ >= B is where the water level lands;
    c = (B - prefix_{i-1}) / (n-i+1). The FEASIBILITY test is pure
    int64 (no float can flip it); only the reported cap/allocations
    are doubles, each one IEEE division then the DECIMAL(38,6)
    round-trip. Windows run over the |sources|-row aggregate (the
    documented tiny-frame class). If B >= Σx every source keeps
    everything and the cap reports NULL."""
    from pyspark.sql import Window as W

    per_src = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.size(tokens_col(F.col("text"))).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("x"))
    )
    totals = per_src.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("total")
    ).select(
        "n",
        "total",
        F.expr(f"(total * {BUDGET_NUM}) div {BUDGET_DEN}").alias("budget"),
    )
    w = W.orderBy("x", "source")
    ranked = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.sum("x").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .withColumn("prefix_prev", F.col("prefix") - F.col("x"))
        .withColumn(
            "feasible",
            F.col("prefix_prev")
            + (F.col("n") - F.col("i") + F.lit(1)) * F.col("x")
            >= F.col("budget"),
        )
    )
    wall = W.orderBy("x", "source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = ranked.withColumn(
        "f_i", F.min(F.when(F.col("feasible"), F.col("i"))).over(wall)
    ).withColumn(
        "cap",
        F.max(
            F.when(
                F.col("i") == F.col("f_i"),
                (F.col("budget") - F.col("prefix_prev")).cast("double")
                / (F.col("n") - F.col("i") + F.lit(1)).cast("double"),
            )
        ).over(wall),
    )
    rt = lambda c: c.cast("decimal(38,6)").cast("double")
    alloc = F.when(
        F.col("f_i").isNull() | (F.col("i") < F.col("f_i")),
        F.col("x").cast("double"),
    ).otherwise(F.col("cap"))
    return ranked.select(
        "source",
        F.col("x").alias("tokens"),
        rt(alloc).alias("allocation"),
        rt(alloc / F.col("x").cast("double")).alias("kept_frac"),
        rt(F.col("cap")).alias("cap"),
    ).orderBy("source")


SQL_TOKEN_BUDGET_PLAN = f"""
    WITH per_src AS (
        SELECT source, CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS x
        FROM documents GROUP BY source
    ), totals AS (
        SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS total,
               CAST((SUM(x) * {BUDGET_NUM}) // {BUDGET_DEN} AS BIGINT)
                   AS budget
        FROM per_src
    ), ranked AS (
        SELECT p.*, t.n, t.budget,
               ROW_NUMBER() OVER (ORDER BY x, source) AS i,
               CAST(SUM(x) OVER (ORDER BY x, source
                    ROWS UNBOUNDED PRECEDING) - x AS BIGINT) AS prefix_prev
        FROM per_src p CROSS JOIN totals t
    ), flagged AS (
        SELECT *,
               (prefix_prev + (n - i + 1) * x >= budget) AS feasible
        FROM ranked
    ), with_fi AS (
        SELECT *, MIN(CASE WHEN feasible THEN i END) OVER () AS f_i
        FROM flagged
    ), capped AS (
        SELECT *,
               MAX(CASE WHEN i = f_i
                        THEN CAST(budget - prefix_prev AS DOUBLE)
                             / CAST(n - i + 1 AS DOUBLE) END) OVER () AS cap
        FROM with_fi
    )
    SELECT source, x AS tokens,
           CAST(CAST(CASE WHEN f_i IS NULL OR i < f_i
                          THEN CAST(x AS DOUBLE) ELSE cap END
                AS DECIMAL(38,6)) AS DOUBLE) AS allocation,
           CAST(CAST((CASE WHEN f_i IS NULL OR i < f_i
                           THEN CAST(x AS DOUBLE) ELSE cap END)
                     / CAST(x AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS kept_frac,
           CAST(CAST(cap AS DECIMAL(38,6)) AS DOUBLE) AS cap
    FROM capped
    ORDER BY source
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise LEXICAL similarity of sources: Jaccard of their
    vocabularies (distinct-token sets) for every source pair — the
    style/domain-affinity matrix that complements cross_source_leak's
    shingle-containment view (two sources can share most of their
    vocabulary yet no 3-gram spans, and vice versa).

    Shape: one distinct (token, source) projection (|vocab|·|sources|
    bound), a self-join keyed on TOKEN (the inverted-index form — a
    token contributes |sources(token)|² pairs, bounded by |sources|²,
    never |docs|²), per-source vocab sizes from the same projection,
    then |sources|²/2 output cells. Counts are exact ints; the one
    division round-trips DECIMAL(38,6)."""
    ts = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col(F.col("text"))).alias("tok"), "source")
        .distinct()
    )
    sizes = ts.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = ts.select("tok", F.col("source").alias("source_a"))
    b = ts.select("tok", F.col("source").alias("source_b"))
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
                ).cast("double")
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("vocab_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SQL_SOURCE_VOCAB_OVERLAP = f"""
    WITH ts AS (
        SELECT DISTINCT unnest({SQL_TOKS}) AS tok, source FROM documents
    ), sizes AS (
        SELECT source, COUNT(*) AS vocab FROM ts GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM ts a JOIN ts b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_shared,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b,
           CAST(CAST(CAST(n_shared AS DOUBLE)
                     / CAST(sa.vocab + sb.vocab - n_shared AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS vocab_jaccard
    FROM inter
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
    ORDER BY source_a, source_b
"""


# Temperature-mix constants: tau is the standard multilingual-LLM
# sampling temperature (mT5/XLM-R alpha ~ 0.7 softens the head without
# starving the tail); the budget reuses token_budget_plan's 3/5 split.
MIX_TAU = 0.7
MIX_BUDGET_NUM, MIX_BUDGET_DEN = BUDGET_NUM, BUDGET_DEN


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the mT5/XLM-R alpha-sampling
    recipe): sampling share_i = x_i^tau / SUM x_j^tau with tau=0.7 —
    the OTHER standard mixture-planning answer next to
    q_token_budget_plan's water-filling (temperature compresses the
    head-to-tail ratio smoothly; water-filling clips it at a hard cap).
    Reports, per source: raw tokens, raw share, temperature share, the
    token allocation under the same 3/5 budget, and the epoch boost
    (allocation / raw tokens — >1 means the source repeats).

    Determinism: x_i are exact int64 token sums; each pow(x, tau)
    double is DECIMAL(38,6)-round-tripped BEFORE the denominator sum,
    so the sum is decimal-exact in any order; every ratio then does one
    IEEE division in the same operand order on both engines followed
    by the standard round-trip. The frame is |sources| rows end to end
    (one scan + one aggregate; the window-free shape)."""
    per_src = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.size(tokens_col(F.col("text"))).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("x"))
    )
    powed = per_src.select(
        "source",
        "x",
        F.pow(F.col("x").cast("double"), F.lit(MIX_TAU))
        .cast("decimal(38,6)")
        .alias("w_dec"),
    )
    totals = powed.agg(
        F.sum("w_dec").alias("wsum_dec"),
        F.sum("x").alias("total"),
    ).select(
        F.col("wsum_dec").cast("double").alias("wsum"),
        "total",
        F.expr(
            f"(total * {MIX_BUDGET_NUM}) div {MIX_BUDGET_DEN}"
        ).alias("budget"),
    )
    rt = lambda c: c.cast("decimal(38,6)").cast("double")
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("x").alias("n_tokens"),
            rt(
                F.col("x").cast("double") / F.col("total").cast("double")
            ).alias("raw_share"),
            rt(F.col("w_dec").cast("double") / F.col("wsum")).alias(
                "temp_share"
            ),
            F.floor(
                F.col("w_dec").cast("double")
                / F.col("wsum")
                * F.col("budget").cast("double")
            )
            .cast("long")
            .alias("alloc_tokens"),
            rt(
                (
                    F.col("w_dec").cast("double")
                    / F.col("wsum")
                    * F.col("budget").cast("double")
                )
                / F.col("x").cast("double")
            ).alias("epoch_boost"),
        )
        .orderBy("source")
    )


SQL_TEMPERATURE_MIX = f"""
    WITH per_src AS (
        SELECT source, CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS x
        FROM documents GROUP BY source
    ), powed AS (
        SELECT source, x,
               CAST(POWER(CAST(x AS DOUBLE), {MIX_TAU}) AS DECIMAL(38,6))
                   AS w_dec
        FROM per_src
    ), totals AS (
        SELECT CAST(SUM(w_dec) AS DOUBLE) AS wsum,
               CAST(SUM(x) AS BIGINT) AS total,
               CAST((SUM(x) * {MIX_BUDGET_NUM}) // {MIX_BUDGET_DEN}
                    AS BIGINT) AS budget
        FROM powed
    )
    SELECT source,
           x AS n_tokens,
           CAST(CAST(CAST(x AS DOUBLE) / CAST(total AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS raw_share,
           CAST(CAST(CAST(w_dec AS DOUBLE) / wsum
                AS DECIMAL(38,6)) AS DOUBLE) AS temp_share,
           CAST(FLOOR(CAST(w_dec AS DOUBLE) / wsum
                      * CAST(budget AS DOUBLE)) AS BIGINT) AS alloc_tokens,
           CAST(CAST((CAST(w_dec AS DOUBLE) / wsum
                      * CAST(budget AS DOUBLE)) / CAST(x AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS epoch_boost
    FROM powed CROSS JOIN totals
    ORDER BY source
"""


# --- BPE merge-candidate statistics (round 9) --------------------------------

BPE_MERGE_TOPK = 20


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE/WordPiece tokenizer-training inner loop as a corpus
    operator: frequency-weighted adjacent character-pair counts over
    the vocabulary, reporting the top merge candidates (the pair a BPE
    trainer would merge next is row 1; re-running after applying a
    merge yields the next, so the full training loop is this operator
    iterated). Complements bpe_token_count (which APPLIES a fixed
    tokenizer) with the statistic that BUILDS one.

    Determinism: pure integer counts over exact string slicing — no
    floats anywhere; the top-k selection totals its order on
    (pair_count DESC, pair ASC).

    Scale shape: the corpus-scale work is ONE token aggregation to the
    vocabulary (vocab-bounded output, partial agg collapses each
    partition first); pair explosion then runs over |vocab| rows, not
    the corpus — the word-frequency table IS the sufficient statistic,
    which is why real BPE trainers operate on it. Top-k is orderBy +
    limit => TakeOrderedAndProject (per-partition local top-k, no
    global window funnel — the cms_token_freq discipline)."""
    from .dedup import _doc_tokens

    vocab = (
        _doc_tokens(spark, sf_dir)
        .select(F.explode(F.col("t")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length(F.col("token")) >= 2)
    )
    pairs = vocab.select(
        "token",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").cast("long").alias("pair_count"),
            F.countDistinct("token").cast("long").alias("n_words"),
        )
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_MERGE_TOPK)
    )


SQL_BPE_MERGE_CANDIDATES = f"""
    WITH vocab AS (
        SELECT token, COUNT(*) AS freq
        FROM (
            SELECT unnest({SQL_TOKS}) AS token FROM documents
        )
        GROUP BY token
        HAVING length(token) >= 2
    ), pairs AS (
        SELECT token, freq,
               unnest(list_transform(range(1, length(token)),
                                     i -> substr(token, i, 2))) AS pair
        FROM vocab
    )
    SELECT pair,
           CAST(SUM(freq) AS BIGINT) AS pair_count,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_words
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair ASC
    LIMIT {BPE_MERGE_TOPK}
"""


# --- distinctive-term extraction (round 9) -----------------------------------

TOPIC_PRIOR = 0.5  # Dirichlet pseudo-count per (source, token)
TOPIC_TOPK = 5


def q_topic_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each source talk about that the others don't? The
    log-odds-ratio-with-Dirichlet-prior z-score of Monroe/Colaresi/
    Quinn ("Fightin' Words", Political Analysis 2008) per (source,
    token), top-TOPIC_TOPK per source — the statistically-grounded
    distinctive-term extractor (raw TF-IDF over-weights rare noise;
    the prior and the variance term fix exactly that). The corpus-mix
    complement: corpus_mix says how MUCH each source contributes,
    this says WHAT it contributes.

    Determinism: all inputs to the z expression are exact int64 counts
    plus the binary-exact 0.5 prior; delta and the variance are ONE
    fixed double expression written identically in both engines
    (lm_score ln discipline), and z rounds through DECIMAL(38,6)
    before the rank window's total order (z DESC, token ASC).

    Scale shape: one corpus-scale token aggregation to the
    (sources x vocab)-bounded count frame; source and token marginals
    are windows over that bounded frame; |V| broadcasts as the repo's
    1-row scalar; top-k per source is WindowGroupLimit."""
    from pyspark.sql import Window as W

    from .dedup import _doc_tokens

    toks = _doc_tokens(spark, sf_dir).select(
        "source", F.explode(F.col("t")).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("y")
    )
    vsize = counts.select("token").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    ws = W.partitionBy("source")
    wt = W.partitionBy("token")
    wall = W.partitionBy()
    staged = (
        counts.withColumn("n_s", F.sum("y").over(ws))
        .withColumn("y_all", F.sum("y").over(wt))
        .withColumn("n", F.sum("y").over(wall))
        .crossJoin(F.broadcast(vsize))
    )
    a = F.lit(TOPIC_PRIOR)
    big_a = a * F.col("v").cast("double")
    y = F.col("y").cast("double")
    y_rest = (F.col("y_all") - F.col("y")).cast("double")
    n_s = F.col("n_s").cast("double")
    n_rest = (F.col("n") - F.col("n_s")).cast("double")
    delta = F.log(
        (y + a) / (n_s + big_a - y - a)
    ) - F.log((y_rest + a) / (n_rest + big_a - y_rest - a))
    var = F.lit(1.0) / (y + a) + F.lit(1.0) / (y_rest + a)
    z = (delta / F.sqrt(var)).cast("decimal(38,6)").cast("double")
    wr = W.partitionBy("source").orderBy(
        F.col("z_score").desc(), F.col("token").asc()
    )
    return (
        staged.select("source", "token", "y", z.alias("z_score"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= F.lit(TOPIC_TOPK))
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("y").cast("long").alias("y"),
            "z_score",
        )
        .orderBy("source", "rank")
    )


SQL_TOPIC_KEYWORDS = f"""
    WITH toks AS (
        SELECT source, unnest({SQL_TOKS}) AS token FROM documents
    ), counts AS (
        SELECT source, token, COUNT(*) AS y
        FROM toks GROUP BY source, token
    ), vsize AS (
        SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM counts
    ), staged AS (
        SELECT source, token, y,
               SUM(y) OVER (PARTITION BY source) AS n_s,
               SUM(y) OVER (PARTITION BY token) AS y_all,
               SUM(y) OVER () AS n
        FROM counts
    ), scored AS (
        SELECT source, token, y,
               CAST(CAST(
                   (ln((CAST(y AS DOUBLE) + {TOPIC_PRIOR})
                       / (CAST(n_s AS DOUBLE)
                          + {TOPIC_PRIOR} * CAST(v AS DOUBLE)
                          - CAST(y AS DOUBLE) - {TOPIC_PRIOR}))
                    - ln((CAST(y_all - y AS DOUBLE) + {TOPIC_PRIOR})
                         / (CAST(n - n_s AS DOUBLE)
                            + {TOPIC_PRIOR} * CAST(v AS DOUBLE)
                            - CAST(y_all - y AS DOUBLE) - {TOPIC_PRIOR})))
                   / sqrt(1.0::DOUBLE / (CAST(y AS DOUBLE) + {TOPIC_PRIOR})
                          + 1.0::DOUBLE
                            / (CAST(y_all - y AS DOUBLE) + {TOPIC_PRIOR}))
                   AS DECIMAL(38,6)) AS DOUBLE) AS z_score
        FROM staged CROSS JOIN vsize
    )
    SELECT source, CAST(rank AS INTEGER) AS rank, token,
           CAST(y AS BIGINT) AS y, z_score
    FROM (
        SELECT source, token, y, z_score,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY z_score DESC, token ASC) AS rank
        FROM scored
    )
    WHERE rank <= {TOPIC_TOPK}
    ORDER BY source, rank
"""


# --- word2vec negative-sampling plan (round 10) --------------------------------

NEG_SAMPLE_POW = 0.75  # the word2vec unigram-distribution exponent
SUBSAMPLE_T = 0.001  # Mikolov frequent-word subsampling threshold


def q_negative_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec training-table plan (Mikolov et al., NIPS 2013):
    per vocabulary token, the negative-sampling probability
    f(w)^0.75 / Σ f^0.75 (the unigram distribution raised to 3/4 — the
    published constant that outperforms both uniform and raw-unigram)
    and the frequent-word subsampling keep probability
    min(1, (sqrt(f/(tN)) + 1) · tN/f) with t = 1e-3. This is the
    temperature_mix discipline applied at TOKEN grain — the plan an
    embedding trainer materializes before touching the corpus.

    Determinism: frequencies are exact int64; each pow(f, 0.75) double
    round-trips through DECIMAL(38,6) BEFORE the denominator sum (the
    temperature_mix contract) so the sum is order-free; sqrt is
    IEEE-exact on both engines; every ratio is one fixed-shape
    expression followed by the standard round-trip.

    Scale shape (100 TB): one corpus scan collapses to the
    |vocabulary|-bounded frame map-side; the pow/share/keep arithmetic
    runs on that bounded frame with a 1-row broadcast total."""
    from .dedup import _doc_tokens

    toks = _doc_tokens(spark, sf_dir).select(
        F.explode(F.col("t")).alias("token")
    )
    per_tok = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    powed = per_tok.select(
        "token",
        "f",
        F.pow(F.col("f").cast("double"), F.lit(NEG_SAMPLE_POW))
        .cast("decimal(38,6)")
        .alias("w_dec"),
    )
    # wsum re-rounds to scale 4 before the double cast (the
    # decayed_revenue 2^53 rule — r10 ADVICE: past 2^53 integer units
    # DuckDB's int128→double path double-rounds where Spark
    # single-rounds).
    totals = powed.agg(
        F.round(F.sum("w_dec"), 4).cast("double").alias("wsum"),
        F.sum("f").cast("long").alias("n_total"),
    )
    rt = lambda c: c.cast("decimal(38,6)").cast("double")
    tn = F.lit(SUBSAMPLE_T) * F.col("n_total").cast("double")
    keep_raw = (
        F.sqrt(F.col("f").cast("double") / tn) + F.lit(1.0)
    ) * tn / F.col("f").cast("double")
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "token",
            "f",
            rt(F.col("w_dec").cast("double") / F.col("wsum")).alias(
                "p_negative"
            ),
            rt(F.least(F.lit(1.0), keep_raw)).alias("keep_prob"),
        )
        .orderBy("token")
    )


SQL_NEGATIVE_SAMPLING_PLAN = f"""
    WITH toks AS (
        SELECT unnest({SQL_TOKS}) AS token FROM documents
    ), per_tok AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY token
    ), powed AS (
        SELECT token, f,
               CAST(POWER(CAST(f AS DOUBLE), {NEG_SAMPLE_POW})
                    AS DECIMAL(38,6)) AS w_dec
        FROM per_tok
    ), totals AS (
        SELECT CAST(ROUND(SUM(w_dec), 4) AS DOUBLE) AS wsum,
               CAST(SUM(f) AS BIGINT) AS n_total
        FROM powed
    )
    SELECT token, f,
           CAST(CAST(CAST(w_dec AS DOUBLE) / wsum AS DECIMAL(38,6))
                AS DOUBLE) AS p_negative,
           CAST(CAST(LEAST(1.0,
                (SQRT(CAST(f AS DOUBLE)
                      / ({SUBSAMPLE_T!r} * CAST(n_total AS DOUBLE))) + 1.0)
                * ({SUBSAMPLE_T!r} * CAST(n_total AS DOUBLE))
                / CAST(f AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
               AS keep_prob
    FROM powed CROSS JOIN totals
    ORDER BY token
"""


# --- per-source OOV rate against the corpus head vocabulary (round 11) --------

OOV_VOCAB_SIZE = 2000  # head vocabulary a tokenizer build would freeze


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary audit: freeze the corpus head
    vocabulary (top OOV_VOCAB_SIZE words by token frequency, ties
    broken lexicographically) and report each source's token volume,
    OOV token count and rate, plus its DISTINCT OOV type count — the
    readout that prices a fixed-vocab tokenizer against each source.
    A source with an outlier OOV rate is the one that blows up
    fertility (tokenizer_stats) and deserves its own vocab extension.

    Determinism: the vocab cut is a total order (count DESC, word ASC)
    so the 2000-boundary is tie-stable cross-engine; counts are exact
    ints; the rate is one int/int double division.

    Scale shape (100 TB): vocab build is the wordcount shape (token
    counts partial-combine to |vocab| per partition; TakeOrdered ships
    2000 rows); membership is a BROADCAST left join of the 2000-row
    vocab against the exploded token stream — no token-grain shuffle —
    followed by a |sources|-row aggregate. distinct OOV types re-use
    the same exploded frame with a (source, word)-grain partial
    distinct that is vocabulary-bounded, not corpus-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = corpus_head_vocab(docs)
    return oov_source_report(docs, vocab).orderBy("source")


def corpus_head_vocab(docs: DataFrame) -> DataFrame:
    """The frozen head vocabulary: top OOV_VOCAB_SIZE words by token
    frequency, ties lexicographic — shared by the batch audit above
    and the streaming OOV monitor (streaming/pipelines) so the two can
    never disagree on membership. Columns: (word, in_vocab=1)."""
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(OOV_VOCAB_SIZE)
        .select("word", F.lit(1).alias("in_vocab"))
    )


def oov_source_report(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-source OOV report of `docs` against a FROZEN (word,
    in_vocab) vocabulary frame — the shared core of q_oov_rate and the
    streaming twin. The vocab broadcasts; tokens never shuffle except
    at the (source, distinct-OOV-word) partial-distinct grain."""
    toks = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    tagged = toks.join(F.broadcast(vocab), "word", "left")
    per_source = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.count_distinct(
            F.when(F.col("in_vocab").isNull(), F.col("word"))
        )
        .cast("long")
        .alias("n_oov_types"),
    )
    return per_source.select(
        "source",
        "n_tokens",
        "n_oov",
        "n_oov_types",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        ).alias("oov_rate"),
    )


SQL_OOV_RATE = f"""
    WITH toks AS (
        SELECT source, unnest({SQL_TOKS}) AS word FROM documents
    ), vocab AS (
        SELECT word FROM toks
        GROUP BY word
        ORDER BY COUNT(*) DESC, word
        LIMIT {OOV_VOCAB_SIZE}
    ), tagged AS (
        SELECT t.source, t.word, v.word IS NOT NULL AS in_vocab
        FROM toks t LEFT JOIN vocab v ON t.word = v.word
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN word END)
               AS BIGINT) AS n_oov_types,
           CASE WHEN COUNT(*) > 0 THEN
               CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) END AS oov_rate
    FROM tagged
    GROUP BY source
    ORDER BY source
"""


# --- Heaps' law vocabulary-growth fit (round 11) -------------------------------

HEAPS_GRID = 32  # corpus-prefix grid cells


def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'/Herdan's law fit (Heaps 1978): vocabulary size grows as
    V(N) = K * N^beta with token count N. Fit ln V = ln K + beta ln N
    by OLS over a fixed HEAPS_GRID-cell prefix grid of the corpus in
    doc_id order, and report the 10x-corpus vocabulary prediction —
    the number that sizes a tokenizer/embedding table BEFORE the next
    crawl lands (at 100 TB you fit on a prefix and predict the rest).

    Determinism: prefix membership is integer-exact (the grid bucket
    ceil(G*id/max_id) is a FLOOR over an exact double division of
    ints < 2^53 written identically in both engines); every ln rounds
    through DECIMAL(38,6) at the call site (the tfidf contract); OLS
    moments are exact decimal sums of those 6dp values; beta/K/the
    prediction are fixed double expressions with sqrt-style guards.

    Scale shape (100 TB): one scan builds per-doc token counts (map
    work); a word-grain aggregate (vocabulary-bounded after partial
    combine) takes each word's FIRST occurrence; both collapse to the
    G-cell grid frame; cumulative sums, the OLS and the prediction are
    windows/aggregates over those G rows. No global document sort —
    doc_id itself is the prefix axis."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
    )
    mx = per_doc.agg(
        F.greatest(F.max("doc_id"), F.lit(1)).cast("long").alias("m")
    )
    g_of = lambda idc: F.greatest(  # noqa: E731
        F.lit(1),
        F.ceil(
            (idc.cast("double") * F.lit(float(HEAPS_GRID)))
            / F.col("m").cast("double")
        ).cast("long"),
    )
    doc_cells = (
        per_doc.crossJoin(F.broadcast(mx))
        .select(g_of(F.col("doc_id")).alias("g"), "n_toks")
        .groupBy("g")
        .agg(F.sum("n_toks").cast("long").alias("n_new"))
    )
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("w")
    ).groupBy("w").agg(F.min(F.col("doc_id").cast("long")).alias("first_occ"))
    word_cells = (
        words.crossJoin(F.broadcast(mx))
        .select(g_of(F.col("first_occ")).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("v_new"))
    )
    grid = spark.range(1, HEAPS_GRID + 1).select(F.col("id").alias("g"))
    cells = (
        grid.join(F.broadcast(doc_cells), "g", "left")
        .join(F.broadcast(word_cells), "g", "left")
        .select(
            "g",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
            F.coalesce(F.col("v_new"), F.lit(0)).alias("v_new"),
        )
    )
    w_cum = W.orderBy("g").rowsBetween(W.unboundedPreceding, W.currentRow)
    pts = cells.select(
        "g",
        F.sum("n_new").over(w_cum).cast("long").alias("cum_n"),
        F.sum("v_new").over(w_cum).cast("long").alias("cum_v"),
    ).filter((F.col("cum_n") > 0) & (F.col("cum_v") > 0))
    ln6 = lambda c: F.log(c).cast("decimal(38,6)")  # noqa: E731
    xy = pts.select(
        ln6(F.col("cum_n").cast("double")).alias("x"),
        ln6(F.col("cum_v").cast("double")).alias("y"),
        "cum_n",
        "cum_v",
        "g",
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.max(F.when(F.col("g") == HEAPS_GRID, F.col("cum_n"))).alias(
            "n_tokens"
        ),
        F.max(F.when(F.col("g") == HEAPS_GRID, F.col("cum_v"))).alias(
            "n_vocab"
        ),
    )
    n = F.col("n_cells").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    beta = F.when(
        (F.col("n_cells") > 1) & (denom != F.lit(0.0)),
        rnd((n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom),
    )
    fitted = mom.select(
        "n_cells", "n_tokens", "n_vocab", beta.alias("beta"), "sx", "sy"
    ).select(
        "n_cells",
        "n_tokens",
        "n_vocab",
        "beta",
        rnd(
            (F.col("sy") - F.col("beta") * F.col("sx"))
            / F.col("n_cells").cast("double")
        ).alias("ln_k"),
    )
    ln_10n = rnd(F.log(F.lit(10.0) * F.col("n_tokens").cast("double")))
    return fitted.select(
        "n_cells",
        "n_tokens",
        "n_vocab",
        "beta",
        rnd(F.exp(F.col("ln_k"))).alias("k"),
        F.when(
            F.col("beta").isNotNull() & (F.col("n_tokens") > 0),
            rnd(F.exp(F.col("ln_k") + F.col("beta") * ln_10n)),
        ).alias("v_pred_10x"),
    )


SQL_HEAPS_LAW_FIT = f"""
    WITH per_doc AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(length({SQL_TOKS}) AS BIGINT) AS n_toks
        FROM documents
    ), mx AS (
        SELECT GREATEST(MAX(doc_id), 1) AS m FROM per_doc
    ), doc_cells AS (
        SELECT GREATEST(1, CAST(CEIL(
                   CAST(doc_id AS DOUBLE) * {HEAPS_GRID}.0
                   / CAST(m AS DOUBLE)) AS BIGINT)) AS g,
               CAST(SUM(n_toks) AS BIGINT) AS n_new
        FROM per_doc CROSS JOIN mx GROUP BY 1
    ), words AS (
        SELECT w, MIN(CAST(doc_id AS BIGINT)) AS first_occ
        FROM (
            SELECT doc_id, unnest(list_distinct({SQL_TOKS})) AS w
            FROM documents
        ) GROUP BY w
    ), word_cells AS (
        SELECT GREATEST(1, CAST(CEIL(
                   CAST(first_occ AS DOUBLE) * {HEAPS_GRID}.0
                   / CAST(m AS DOUBLE)) AS BIGINT)) AS g,
               CAST(COUNT(*) AS BIGINT) AS v_new
        FROM words CROSS JOIN mx GROUP BY 1
    ), grid AS (
        SELECT unnest(range(1, {HEAPS_GRID} + 1)) AS g
    ), cells AS (
        SELECT grid.g,
               COALESCE(d.n_new, 0) AS n_new,
               COALESCE(w.v_new, 0) AS v_new
        FROM grid LEFT JOIN doc_cells d ON d.g = grid.g
                  LEFT JOIN word_cells w ON w.g = grid.g
    ), pts AS (
        SELECT g,
               CAST(SUM(n_new) OVER (ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_n,
               CAST(SUM(v_new) OVER (ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_v
        FROM cells
    ), xy AS (
        SELECT g, cum_n, cum_v,
               CAST(ln(CAST(cum_n AS DOUBLE)) AS DECIMAL(38,6)) AS x,
               CAST(ln(CAST(cum_v AS DOUBLE)) AS DECIMAL(38,6)) AS y
        FROM pts WHERE cum_n > 0 AND cum_v > 0
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               MAX(CASE WHEN g = {HEAPS_GRID} THEN cum_n END) AS n_tokens,
               MAX(CASE WHEN g = {HEAPS_GRID} THEN cum_v END) AS n_vocab
        FROM xy
    ), fitted AS (
        SELECT n_cells, n_tokens, n_vocab,
               CASE WHEN n_cells > 1
                     AND n_cells * sxx - sx * sx <> 0.0 THEN
                   CAST(CAST((n_cells * sxy - sx * sy)
                        / (n_cells * sxx - sx * sx)
                        AS DECIMAL(38,6)) AS DOUBLE) END AS beta,
               sx, sy
        FROM mom
    ), fitted2 AS (
        SELECT n_cells, n_tokens, n_vocab, beta,
               CAST(CAST((sy - beta * sx) / n_cells AS DECIMAL(38,6))
                    AS DOUBLE) AS ln_k
        FROM fitted
    )
    SELECT n_cells, n_tokens, n_vocab, beta,
           CAST(CAST(exp(ln_k) AS DECIMAL(38,6)) AS DOUBLE) AS k,
           CASE WHEN beta IS NOT NULL AND n_tokens > 0 THEN
               CAST(CAST(exp(ln_k + beta *
                   CAST(CAST(ln(10.0 * CAST(n_tokens AS DOUBLE))
                        AS DECIMAL(38,6)) AS DOUBLE))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS v_pred_10x
    FROM fitted2
"""


# --- head-term burstiness / dispersion (round 11) ------------------------------

BURST_TOP = 50  # head terms audited


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness audit of the BURST_TOP head terms (Church & Gale
    1995): a term's collection frequency says how often it appears, its
    variance-to-mean ratio across documents (VMR, Fisher's dispersion —
    1 under Poisson scatter, >>1 for bursty topical terms) says HOW it
    appears. Bursty head terms are topical/boilerplate markers; Poisson
    ones are function words — the distinction stopword lists guess at
    and this measures. Reports cf, df, per-doc mean, VMR, and df/cf
    (Church-Gale burstiness: fraction of occurrences that are a term's
    first in a doc).

    Determinism: cf/df/sum-of-squares are exact integer sums; mean/VMR
    are fixed double expressions of those ints over the exact doc count
    (zero-count docs enter through N, not through rows).

    Scale shape (100 TB): the per-(word,doc) count partial-combines
    map-side; the word-grain aggregate is vocabulary-bounded; the
    BURST_TOP cut is TakeOrderedAndProject; ranking happens on the
    50-row frame (tiny-frame unpartitioned-window convention); the doc
    count is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per_dw = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_word = per_dw.groupBy("w").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq"),
    )
    top = per_word.orderBy(F.col("cf").desc(), F.col("w")).limit(BURST_TOP)
    w_rank = W.orderBy(F.col("cf").desc(), F.col("w"))
    ranked = top.crossJoin(F.broadcast(n_docs)).select(
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.col("w").alias("word"),
        "cf",
        "df",
        (F.col("cf").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_per_doc"
        ),
        (
            F.col("ssq").cast("double") / F.col("cf").cast("double")
            - F.col("cf").cast("double") / F.col("n_docs").cast("double")
        ).alias("vmr"),
        (F.col("df").cast("double") / F.col("cf").cast("double")).alias(
            "df_cf_ratio"
        ),
    )
    return ranked.orderBy("rank")


SQL_TERM_BURSTINESS = f"""
    WITH per_dw AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents)
        GROUP BY doc_id, w
    ), per_word AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS cf,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(c * c) AS BIGINT) AS ssq
        FROM per_dw GROUP BY w
    ), top AS (
        SELECT * FROM per_word ORDER BY cf DESC, w LIMIT {BURST_TOP}
    ), nd AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS BIGINT) AS rank,
           w AS word, cf, df,
           CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_per_doc,
           CAST(ssq AS DOUBLE) / CAST(cf AS DOUBLE)
               - CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE) AS vmr,
           CAST(df AS DOUBLE) / CAST(cf AS DOUBLE) AS df_cf_ratio
    FROM top CROSS JOIN nd
    ORDER BY rank
"""


# --- token coverage curve of the head vocabulary (round 11) --------------------

COVERAGE_GRID = (16, 64, 256, 1024, 4096)  # head-vocab sizes audited


def q_token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary at fixed grid sizes
    k in COVERAGE_GRID — the direct size-vs-coverage tradeoff a
    tokenizer budget decision reads (oov_rate shows one frozen cut;
    this shows the whole curve). Each row: k, tokens covered by the
    top-k words, coverage share.

    Determinism: the head ranking is the total order (cf DESC, word);
    cumulative sums are exact ints; coverage is one int/int double
    division.

    Scale shape (100 TB): word counts partial-combine to the
    vocabulary-bounded frame; only max(COVERAGE_GRID) rows survive the
    TakeOrderedAndProject cut, so the ranking window and the running
    sum operate on a 4096-row bounded frame; the corpus token total is
    a 1-row broadcast. Grid points beyond the actual vocabulary are
    absent (a 3k-word corpus has no k=4096 row) — identically on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
    totals = toks.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    top = counts.orderBy(F.col("cf").desc(), F.col("w")).limit(
        max(COVERAGE_GRID)
    )
    w_rank = W.orderBy(F.col("cf").desc(), F.col("w"))
    w_cum = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = top.select(
        F.row_number().over(w_rank).cast("long").alias("k"),
        F.sum("cf").over(w_cum).cast("long").alias("top_k_tokens"),
    ).filter(F.col("k").isin(*[int(k) for k in COVERAGE_GRID]))
    return (
        ranked.crossJoin(F.broadcast(totals))
        .select(
            "k",
            "top_k_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.col("top_k_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
            ).alias("coverage"),
        )
        .orderBy("k")
    )


_COVERAGE_IN = ", ".join(str(int(k)) for k in COVERAGE_GRID)

SQL_TOKEN_COVERAGE_CURVE = f"""
    WITH toks AS (
        SELECT unnest({SQL_TOKS}) AS w FROM documents
    ), counts AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY w
    ), top AS (
        SELECT * FROM counts ORDER BY cf DESC, w LIMIT {max(COVERAGE_GRID)}
    ), ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, w) AS BIGINT) AS k,
               CAST(SUM(cf) OVER (ORDER BY cf DESC, w
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS top_k_tokens
        FROM top
    ), totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT k, top_k_tokens,
           CASE WHEN n_tokens > 0 THEN
               CAST(top_k_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           END AS coverage
    FROM ranked CROSS JOIN totals
    WHERE k IN ({_COVERAGE_IN})
    ORDER BY k
"""


# --- bigram conditional entropy rate (round 11) ---------------------------------


def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy RATE (Shannon 1951 lineage): the conditional
    entropy H(cur|prev) of the word bigram model next to the unigram
    entropy H(cur), in nats. Their gap is exactly the information a
    1-token context buys — the language-modelability number that
    separates real prose (big gap) from shuffled/templated text
    (H_rate ~ H_uni) where bigram_lm_score only scores documents.

    Determinism: the mutual_information ln discipline — every ln is
    decimal-round-tripped at the call site, multiplied by its EXACT
    integer count into a scale-6 decimal, decimal-summed; ONE division
    by the exact total at the end.

    Scale shape (100 TB): bigram and unigram counts partial-combine to
    their vocab-bounded frames; the per-prev totals are a window over
    the bigram frame PARTITIONED BY prev; two bounded aggregates end in
    a 1-row broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_t = F.size(toks)
    # slice+zip, NOT a per-position transform lambda: the lambda form
    # measured 6.3 s vs 0.63 s at sf0.1 (string building per element
    # outside codegen); zipping two array slices stays vectorized
    pairs = F.arrays_zip(
        F.slice(toks, 1, n_t - 1), F.slice(toks, 2, n_t - 1)
    )
    bi = (
        docs.filter(n_t >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("prev"), F.col("p.1").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_prev = W.partitionBy("prev")
    nl6 = lambda c: F.log(c).cast("decimal(38,6)")  # noqa: E731
    bi_terms = bi.select(
        "c",
        (
            nl6(
                F.col("c").cast("double")
                / F.sum("c").over(w_prev).cast("double")
            )
            * F.col("c")
        ).alias("t"),
    )
    bi_agg = bi_terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum("t").cast("double").alias("t_sum"),
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_all = W.partitionBy()
    uni_terms = uni.select(
        "c",
        (
            nl6(
                F.col("c").cast("double")
                / F.sum("c").over(w_all).cast("double")
            )
            * F.col("c")
        ).alias("t"),
    )
    uni_agg = uni_terms.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum("t").cast("double").alias("u_sum"),
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    h_rate = F.when(
        F.col("n_bigrams") > 0,
        rnd(-F.col("t_sum") / F.col("n_bigrams").cast("double")),
    )
    h_uni = F.when(
        F.col("n_tokens") > 0,
        rnd(-F.col("u_sum") / F.col("n_tokens").cast("double")),
    )
    return bi_agg.crossJoin(F.broadcast(uni_agg)).select(
        "n_distinct_bigrams",
        "n_bigrams",
        "n_tokens",
        h_rate.alias("entropy_rate"),
        h_uni.alias("unigram_entropy"),
        F.when(
            h_uni > F.lit(0.0), rnd(h_rate / h_uni)
        ).alias("conditional_ratio"),
    )


SQL_ENTROPY_RATE = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    bi AS (
        SELECT p[1] AS prev, p[2] AS cur,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT unnest(list_zip(toks[1:len(toks)-1],
                                   toks[2:len(toks)])) AS p
            FROM t WHERE len(toks) >= 2
        )
        GROUP BY 1, 2
    ), bi_terms AS (
        SELECT c,
               CAST(ln(CAST(c AS DOUBLE)
                    / CAST(SUM(c) OVER (PARTITION BY prev) AS DOUBLE))
                    AS DECIMAL(38,6)) * c AS term
        FROM bi
    ), bi_agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(term) AS DOUBLE) AS t_sum
        FROM bi_terms
    ), uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
    ), uni_terms AS (
        SELECT c,
               CAST(ln(CAST(c AS DOUBLE)
                    / CAST(SUM(c) OVER () AS DOUBLE))
                    AS DECIMAL(38,6)) * c AS term
        FROM uni
    ), uni_agg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(term) AS DOUBLE) AS u_sum
        FROM uni_terms
    )
    SELECT n_distinct_bigrams, n_bigrams, n_tokens,
           CASE WHEN n_bigrams > 0 THEN
               CAST(CAST(-t_sum / CAST(n_bigrams AS DOUBLE)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS entropy_rate,
           CASE WHEN n_tokens > 0 THEN
               CAST(CAST(-u_sum / CAST(n_tokens AS DOUBLE)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS unigram_entropy,
           CASE WHEN n_tokens > 0
                 AND CAST(CAST(-u_sum / CAST(n_tokens AS DOUBLE)
                     AS DECIMAL(38,6)) AS DOUBLE) > 0.0
                THEN CAST(CAST(
                    CAST(CAST(-t_sum / CAST(n_bigrams AS DOUBLE)
                         AS DECIMAL(38,6)) AS DOUBLE)
                    / CAST(CAST(-u_sum / CAST(n_tokens AS DOUBLE)
                           AS DECIMAL(38,6)) AS DOUBLE)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS conditional_ratio
    FROM bi_agg CROSS JOIN uni_agg
"""


# --- Good-Turing frequency-of-frequencies / unseen mass (round 11) --------------

GT_MAX_R = 10  # frequency grid reported


def q_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (Good 1953): for each
    occurrence count r <= GT_MAX_R, how many word types occur exactly r
    times and what share of the token mass they carry. Row r=1's mass
    share n_1/T IS the Good-Turing estimate of the UNSEEN-word
    probability mass — the number that says how much vocabulary the
    next crawl will surface (the probabilistic sibling of
    heaps_law_fit's extrapolation).

    Determinism: all counts are exact ints; mass shares are one
    int/int double division.

    Scale shape (100 TB): word counts partial-combine to the vocab
    frame; the frequency-of-frequencies aggregate collapses that to
    <= GT_MAX_R rows (counts above the grid are filtered before the
    final aggregate); the token total is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    fof = (
        counts.filter(F.col("c") <= GT_MAX_R)
        .groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    return (
        fof.crossJoin(F.broadcast(totals))
        .select(
            "r",
            "n_r",
            "n_types",
            (
                (F.col("r") * F.col("n_r")).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mass_share"),
            (
                F.col("n_r").cast("double") / F.col("n_types").cast("double")
            ).alias("type_share"),
        )
        .orderBy("r")
    )


SQL_GOOD_TURING_MASS = f"""
    WITH counts AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents)
        GROUP BY w
    ), totals AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM counts
    ), fof AS (
        SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM counts WHERE c <= {GT_MAX_R}
        GROUP BY c
    )
    SELECT r, n_r, n_types,
           CAST(r * n_r AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mass_share,
           CAST(n_r AS DOUBLE) / CAST(n_types AS DOUBLE) AS type_share
    FROM fof CROSS JOIN totals
    ORDER BY r
"""


# --- Cohen's kappa of the language classifier (round 11) -----------------------


def q_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960) of the heuristic language classifier
    against the labeled lang column — chance-corrected agreement,
    the one-number summary of lang_confusion's matrix: kappa = 
    (p_o − p_e)/(1 − p_e), with p_e from the marginal products. An
    accuracy of 0.9 on a 90%-English corpus is chance; kappa says so.

    Determinism: diagonal/margin sums are exact integers over the
    |langs|² cell frame; p_o/p_e/kappa are fixed double expressions of
    those integers rounded to 6dp; the degenerate p_e=1 case (a
    single-class corpus, perfectly predicted) yields NULL kappa.

    Scale shape (100 TB): the prediction is in-row (shared
    pred_lang_col — audit and classifier cannot drift); ONE
    |langs|²-bounded cell aggregate; margins and the products are
    bounded-frame re-aggregations (never a second corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", pred_lang_col(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rows = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("r"))
    cols = cells.groupBy("pred_lang").agg(
        F.sum("c").cast("long").alias("k")
    )
    marg = rows.join(
        cols, rows["lang"] == cols["pred_lang"], "full_outer"
    ).select(
        F.coalesce(F.col("r"), F.lit(0)).alias("r"),
        F.coalesce(F.col("k"), F.lit(0)).alias("k"),
    )
    pe_num = marg.agg(
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("k")).alias("rk")
    )
    totals = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("c")))
        .cast("long")
        .alias("n_agree"),
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    j = totals.crossJoin(F.broadcast(pe_num))
    nd = F.col("n").cast("double")
    po = F.coalesce(F.col("n_agree"), F.lit(0)).cast("double") / nd
    pe = F.col("rk").cast("double") / (nd * nd)
    return j.select(
        "n",
        F.coalesce(F.col("n_agree"), F.lit(0)).alias("n_agree"),
        rnd(po).alias("p_observed"),
        rnd(pe).alias("p_expected"),
        F.when(
            (F.col("n") > 0) & (pe < F.lit(1.0)),
            rnd((po - pe) / (F.lit(1.0) - pe)),
        ).alias("kappa"),
    )


SQL_KAPPA_AGREEMENT = f"""
    WITH t AS (SELECT lang, {SQL_TOKS} AS toks FROM documents),
    s AS (
        SELECT lang,
               {_sql_lang_score('en')} AS score_en,
               {_sql_lang_score('de')} AS score_de,
               {_sql_lang_score('es')} AS score_es,
               {_sql_lang_score('zh')} AS score_zh
        FROM t
    ), p AS (
        SELECT lang,
               CASE
                 WHEN score_en >= score_de AND score_en >= score_es
                      AND score_en >= score_zh THEN 'en'
                 WHEN score_de >= score_es AND score_de >= score_zh THEN 'de'
                 WHEN score_es >= score_zh THEN 'es'
                 ELSE 'zh'
               END AS pred_lang
        FROM s
    ), cells AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM p GROUP BY lang, pred_lang
    ), rws AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY lang
    ), cls AS (
        SELECT pred_lang, CAST(SUM(c) AS BIGINT) AS k
        FROM cells GROUP BY pred_lang
    ), marg AS (
        SELECT COALESCE(r, 0) AS r, COALESCE(k, 0) AS k
        FROM rws FULL OUTER JOIN cls ON rws.lang = cls.pred_lang
    ), pe_num AS (
        SELECT SUM(CAST(r AS DECIMAL(38,0)) * k) AS rk FROM marg
    ), totals AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang = pred_lang THEN c END) AS BIGINT)
                   AS n_agree
        FROM cells
    )
    SELECT n,
           COALESCE(n_agree, 0) AS n_agree,
           CAST(CAST(CAST(COALESCE(n_agree, 0) AS DOUBLE)
                / CAST(n AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE)
               AS p_observed,
           CAST(CAST(CAST(rk AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                AS DECIMAL(38,6)) AS DOUBLE) AS p_expected,
           CASE WHEN n > 0 AND CAST(rk AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
                THEN CAST(CAST(
                    (CAST(COALESCE(n_agree, 0) AS DOUBLE)
                     / CAST(n AS DOUBLE)
                     - CAST(rk AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    / (1.0 - CAST(rk AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS kappa
    FROM totals CROSS JOIN pe_num
"""
