"""The word-count topology, Spark-first.

Reference: three variants of the same dataflow —
- sparkstreaming App.java:66-85: kafka -> CAST(value AS STRING) ->
  flatMap(split " ") -> groupBy(value).count() -> kafka, update mode;
- kstreams App.java:96-112: stream -> flatMapValues(lowercase split \\W+)
  -> groupBy word -> count() KTable -> topic;
- akkastreams App.java:84-91: flatMap only (declared groupby/count nodes
  are metadata, SURVEY.md §2.7).

We standardize on the kstreams tokenizer (lowercase + split on \\W+) and
replace the reference's typed flatMap lambda — which would force object
deserialization out of Tungsten rows — with native explode(split(lower())),
keeping the whole pipeline inside whole-stage codegen.

Scale: groupBy(word) is the one shuffle; partial aggregation bounds the
exchange by |vocabulary| per map partition, and AQE skew-join/coalesce
handles the Zipf head ("the" et al.). At 100 TB the map-side combine is
the difference between shuffling ~100 TB of tokens and shuffling
|vocab|×partitions counts.

Batch twin runs over the `documents` testdata table; the 15-line golden
corpus (datamodel.CORPUS_LINES) is exercised in unit tests and the
streaming twin (streaming/pipelines.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datamodel import CORPUS_LINES, literal_df
from ..tables import load_table

# kstreams App.java:102 — lowercase, split on non-word runs.
TOKEN_PATTERN = r"\W+"


def tokens_col(col: F.Column) -> F.Column:
    """lower + split \\W+ -> array<string> with empty tokens removed
    (a leading delimiter yields a leading "" in both Spark and DuckDB)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_PATTERN), lambda t: t != F.lit("")
    )


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P6: tokenize + flatten. explode == flatMap for the row->rows case,
    but stays native (no Encoders round-trip, sparkstreaming App.java:74-77
    deliberately NOT imitated)."""
    return df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))


def q_tokenize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    )


SQL_TOKENIZE_EXPLODE = r"""
    SELECT doc_id, t.word AS word
    FROM documents,
         UNNEST(list_filter(string_split_regex(lower(text), '\W+'),
                            x -> x <> '')) AS t(word)
"""


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the word-count aggregate (sparkstreaming App.java:77,
    kstreams App.java:108-109) over the documents corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return tokenize(docs).groupBy("word").agg(F.count(F.lit(1)).alias("n"))


SQL_WORDCOUNT = rf"""
    SELECT word, COUNT(*) AS n FROM ({SQL_TOKENIZE_EXPLODE}) GROUP BY word
"""


def q_scan_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the fixed 15-line corpus source (sparkstreaming App.java:99-115;
    identical in kstreams/akkastreams) as a JVM LocalRelation
    (datamodel.literal_df), keyed by line_no for a stable compare."""
    return literal_df(spark, enumerate(CORPUS_LINES), "line_no int, line string")


SQL_SCAN_LINES = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}, '" + line.replace("'", "''") + "')"
        for i, line in enumerate(CORPUS_LINES)
    )
    + ") AS corpus(line_no, line)"
)


def wordcount_on(df: DataFrame, text_col: str = "value") -> DataFrame:
    """Reusable word count over any (streaming or batch) text frame —
    used by the golden-corpus unit test and the streaming twin."""
    return tokenize(df, text_col).groupBy("word").count()
