"""Dedup operators on a crafted corpus with known duplicates — the
synthetic testdata has no true dups, so these prove the operators
actually find what they claim to find."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lenses_topology_example_spark.operators.dedup import (
    q_dedup_exact,
    q_dedup_minhash,
    q_dedup_near_jaccard,
    shingles_col,
)
from lenses_topology_example_spark.operators.wordcount import tokens_col

_BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank today"
)
_NEAR = (
    "the quick brown fox jumps over the lazy dog near the river bank tonight"
)
_OTHER = "completely different words about spark query engines and columnar scans"


@pytest.fixture(scope="module")
def crafted_sf_dir(spark, tmp_path_factory):
    """A fake sf_dir containing a documents.parquet with known dups."""
    d = tmp_path_factory.mktemp("crafted")
    rows = [
        (0, _BASE, "en", "src0", len(_BASE)),
        (1, _BASE, "en", "src1", len(_BASE)),  # exact dup of 0
        (2, _NEAR, "en", "src2", len(_NEAR)),  # near dup of 0/1
        (3, _OTHER, "en", "src3", len(_OTHER)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_exact_dedup_finds_dup(spark, crafted_sf_dir):
    out = {r["keeper_id"]: r["n_copies"] for r in q_dedup_exact(spark, crafted_sf_dir).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, min-id wins
    assert out[2] == 1 and out[3] == 1


def test_jaccard_finds_near_dup(spark, crafted_sf_dir):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q_dedup_near_jaccard(spark, crafted_sf_dir).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical shingle sets
    assert pairs[(0, 2)] > 0.7  # one word differs
    assert (0, 3) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_finds_near_dup(spark, crafted_sf_dir):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in q_dedup_minhash(spark, crafted_sf_dir).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical signature
    assert pairs.get((0, 2), 0.0) >= 0.5  # near dup collides on most bands
    assert (0, 3) not in pairs


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = df.select(
        shingles_col(tokens_col(F.col("text"))).alias("sh")
    ).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == []  # < 3 tokens -> no shingles


def test_resolve_clusters_fixpoint_long_chain(spark):
    """The iterate-to-fixpoint form must collapse a path graph whose
    diameter (11) exceeds the catalog variant's bounded rounds (8) —
    the adversarial case the lazy plan documents as out of contract.
    (Diameter 11, not 19, since round 15: one-hop propagation costs
    O(diameter) Spark rounds at ~0.7 s each, and any diameter > 8
    proves the same property — r14 VERDICT ask #5, suite wall time.)"""
    from lenses_topology_example_spark.operators.dedup import resolve_clusters

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    labels = {r["doc"]: r["label"] for r in resolve_clusters(edges).collect()}
    assert labels == {i: 0 for i in range(12)}


def test_dedup_cluster_matches_fixpoint(spark, sf_dir):
    """Bounded-round LAZY variant == fixpoint-backed catalog entry on
    the real near-dup graph (components there are short chains, within
    the CLUSTER_PROP_ROUNDS contract)."""
    from lenses_topology_example_spark.operators.dedup import (
        neardup_pairs,
        q_dedup_cluster,
        q_dedup_cluster_bounded,
        resolve_clusters,
    )

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in q_dedup_cluster_bounded(spark, sf_dir).collect()
    }
    got_exact = {
        (r["doc_id"], r["cluster_id"])
        for r in q_dedup_cluster(spark, sf_dir).collect()
    }
    assert got == got_exact
    pairs = neardup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    want = {
        (r["doc"], r["label"]) for r in resolve_clusters(pairs).collect()
    }
    assert got == want
    # every cluster has exactly one keeper: its min doc_id
    keepers = {
        r["cluster_id"]
        for r in q_dedup_cluster(spark, sf_dir)
        .filter(F.col("is_keeper"))
        .collect()
    }
    assert keepers == {c for _, c in got}


def test_containment_catches_subset_jaccard_misses(spark, tmp_path):
    """A short doc fully quoted inside a much longer one: Jaccard =
    |A|/|B| falls below the near-dup threshold, but containment(A->B)
    is 1.0 — the case the directed operator exists for."""
    from lenses_topology_example_spark.operators.dedup import (
        q_dedup_containment,
        q_dedup_near_capped,
    )

    short = "alpha beta gamma delta epsilon zeta"
    # 6 tokens -> 4 shingles, all present in the long doc
    filler = " ".join(f"tok{i} tok{i}x tok{i}y" for i in range(12))
    long_doc = short + " " + filler  # >40 tokens: jaccard ~ 4/40 << 0.2
    rows = [
        (0, short, "en", "src1", len(short)),
        (1, long_doc, "en", "src2", len(long_doc)),
        (2, "unrelated words entirely different content here now", "en",
         "src3", 50),
    ]
    d = tmp_path / "contain"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    jac_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_near_capped(spark, str(d)).collect()
    }
    assert (0, 1) not in jac_pairs  # Jaccard blind to the subset

    contained = {
        (r["doc_id"], r["host_id"]): r["containment"]
        for r in q_dedup_containment(spark, str(d)).collect()
    }
    assert contained[(0, 1)] == 1.0  # every shingle of 0 is in 1
    assert (1, 0) not in contained  # the long host is NOT contained
    assert not any(2 in k for k in contained)


def test_dedup_lines_crafted(spark, crafted_sf_dir):
    """Line/segment-grain keeper semantics on known content: docs 0/1
    are exact copies and doc 2 differs only in the tail stub (dropped —
    shorter than a full segment), so all three share both 5-token
    segments; doc 0 (global min doc_id) keeps both, docs 1/2 keep none;
    doc 3's segments are unique."""
    from lenses_topology_example_spark.operators.dedup import q_dedup_lines

    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["dup_line_frac"])
        for r in q_dedup_lines(spark, crafted_sf_dir).collect()
    }
    assert out[0] == (2, 2, 0.0)
    assert out[1] == (2, 0, 1.0)
    assert out[2] == (2, 0, 1.0)
    assert out[3] == (2, 2, 0.0)


def test_token_segments_short_doc_empty(spark):
    """Docs shorter than the segment width must produce NO segments:
    Spark's sequence(1, 0) is the DESCENDING [1, 0] (step defaults to
    -1), so without the n_seg guard a short doc emitted a stub segment
    plus an empty-string segment — phantom rows the oracle's
    generate_series(1, 0) never produces (code-review find, round 4)."""
    from lenses_topology_example_spark.operators.dedup import token_segments_col
    from lenses_topology_example_spark.operators.wordcount import tokens_col

    df = spark.createDataFrame(
        [("one two three",), ("a b c d e f g",), ("",)], "text string"
    )
    out = df.select(
        token_segments_col(tokens_col(F.col("text")), 5).alias("segs")
    ).collect()
    assert out[0]["segs"] == []  # 3 tokens < w=5
    assert out[1]["segs"] == ["a b c d e"]  # 7 tokens -> one full segment
    assert out[2]["segs"] == []  # empty doc


def test_dedup_lines_near_crafted(spark, tmp_path):
    """Delete-one blocking + exact verify at segment grain: a
    one-token substitution (J = 4/6) must pair; sharing only 3 of 5
    tokens (J = 3/7, below both the threshold and the blocking reach)
    must not; exact copies collapse BEFORE pairing so the dup doc
    never inflates the pair set, and the canonical occurrence is the
    global-min (doc_id, pos)."""
    from lenses_topology_example_spark.operators.dedup import q_dedup_lines_near

    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "s0", 30),
        (1, "alpha beta gamma delta zeta", "en", "s1", 27),  # 1 sub -> J=4/6
        (2, "alpha beta gamma theta iota", "en", "s2", 27),  # J=3/7 < thr
        (3, "alpha beta gamma delta epsilon", "en", "s3", 30),  # exact dup of 0
    ]
    d = tmp_path / "segnear"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    out = {
        (r["doc_a"], r["pos_a"], r["doc_b"], r["pos_b"]): r["jaccard"]
        for r in q_dedup_lines_near(spark, str(d)).collect()
    }
    assert set(out) == {(0, 0, 1, 0)}  # doc 3 collapsed into doc 0's content
    assert abs(out[(0, 0, 1, 0)] - 4 / 6) < 1e-12


def test_dedup_lines_rebuild_crafted(spark, crafted_sf_dir):
    """Reconstruction consumes the keeper flags: doc 0 (global first)
    keeps both segments and rebuilds the segment-joined text; docs 1/2
    keep nothing and emit NO row (inner-join contract); doc 3's unique
    segments survive verbatim. Tail stubs (< one segment) are not part
    of the rebuilt text by segmentation definition."""
    from lenses_topology_example_spark.operators.dedup import q_dedup_lines_rebuild

    out = {
        r["doc_id"]: (r["n_kept"], r["kept_text"])
        for r in q_dedup_lines_rebuild(spark, crafted_sf_dir).collect()
    }
    assert set(out) == {0, 3}
    assert out[0] == (2, "the quick brown fox jumps over the lazy dog near")
    assert out[3] == (
        2,
        "completely different words about spark query engines and columnar scans",
    )


def test_newline_lines_col_production_segmentation(spark):
    """The production '\\n' segmentation: trimmed, empty lines dropped,
    order preserved — the path a newline-bearing corpus exercises in
    place of the testdata's token segments."""
    from lenses_topology_example_spark.operators.dedup import newline_lines_col

    df = spark.createDataFrame(
        [("  first line \n\n second\nthird  \n",), ("single",), ("",)],
        "text string",
    )
    out = [r["l"] for r in df.select(newline_lines_col(F.col("text")).alias("l")).collect()]
    assert out[0] == ["first line", "second", "third"]
    assert out[1] == ["single"]
    assert out[2] == []
