"""Property-based contracts (hypothesis): the shared expression library
must agree with independent Python reimplementations on arbitrary
printable-ASCII input, not just the fixtures. Examples are batched into
one DataFrame per case so each hypothesis example costs one Spark job."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from lenses_topology_example_spark.functions.texthash import MIX, MOD
from lenses_topology_example_spark.operators.wordcount import tokens_col

_ascii_line = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=80
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\W+", s.lower()) if t]


@_SETTINGS
@given(st.lists(_ascii_line, min_size=1, max_size=30))
def test_tokenizer_agrees_with_python(spark, lines):
    df = spark.createDataFrame([(s,) for s in lines], "text string")
    got = [r["t"] for r in df.select(tokens_col(F.col("text")).alias("t")).collect()]
    assert got == [_py_tokens(s) for s in lines]


def _py_poly_fp(tokens: list[str]) -> int:
    acc = 0
    for t in tokens:
        acc = (acc * MIX + (len(t) * 131 + ord(t[0]))) % MOD
    return acc


@_SETTINGS
@given(st.lists(_ascii_line, min_size=1, max_size=30))
def test_polynomial_fingerprint_agrees_with_python(spark, lines):
    from lenses_topology_example_spark.functions.texthash import (
        polynomial_fingerprint,
    )

    df = spark.createDataFrame([(s,) for s in lines], "text string")
    toks = tokens_col(F.col("text"))
    got = [
        r["fp"]
        for r in df.select(polynomial_fingerprint(toks).alias("fp")).collect()
    ]
    assert got == [_py_poly_fp(_py_tokens(s)) for s in lines]


def _py_top_run(tokens: list[str]) -> int:
    """Max occurrence count of any bigram — the Python reference for the
    sorted-run fold in q_repetition_stats."""
    bigrams = [f"{a} {b}" for a, b in zip(tokens, tokens[1:])]
    if not bigrams:
        return 0
    from collections import Counter

    return max(Counter(bigrams).values())


@_SETTINGS
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab", "xyz"]), max_size=40
        ),
        min_size=1,
        max_size=20,
    )
)
def test_sorted_run_fold_counts_top_bigram(spark, token_lists):
    """The zero-shuffle sorted-run fold must equal an independent Python
    Counter on arbitrary (small-alphabet, repetition-heavy) token lists —
    small alphabets maximize duplicate bigrams, the regime the fold's
    run-length logic must get right."""
    from lenses_topology_example_spark.operators.dedup import shingles_col
    from lenses_topology_example_spark.operators.text import top_run_col

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(token_lists)],
        "i long, t array<string>",
    ).withColumn("bg", shingles_col(F.col("t"), 2))
    best_run = top_run_col("bg")
    got = {
        r["i"]: r["best"]
        for r in df.select("i", best_run.alias("best")).collect()
    }
    assert got == {
        i: _py_top_run(toks) for i, toks in enumerate(token_lists)
    }


def _py_entropy_sum(tokens: list[str]) -> float:
    """Python reference for entropy_sum_col: sum of c*ln(c) over
    occurrence counts, each addend truncated the DECIMAL(38,6) way."""
    import math
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP

    s = Decimal(0)
    for c in Counter(tokens).values():
        s += Decimal(c * math.log(c)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    return float(s)


@_SETTINGS
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "xyz"]), max_size=40),
        min_size=1,
        max_size=12,
    )
)
def test_entropy_fold_agrees_with_counter(spark, token_lists):
    """The sorted-run decimal fold behind q_token_entropy must equal a
    Python Counter + per-count decimal rounding on arbitrary
    repetition-heavy inputs — the fold's run bookkeeping (run reset,
    final-run flush) is the part fixtures don't stress."""
    from lenses_topology_example_spark.operators.text import entropy_sum_col

    df = spark.createDataFrame(
        [(toks,) for toks in token_lists], "t array<string>"
    )
    got = [
        float(r["s"]) if r["s"] is not None else 0.0
        for r in df.select(entropy_sum_col("t").alias("s")).collect()
    ]
    want = [_py_entropy_sum(toks) for toks in token_lists]
    assert got == want


@_SETTINGS
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=23),
        min_size=1,
        max_size=8,
    )
)
def test_line_keep_flags_global_first_occurrence(spark, tmp_path_factory, token_lists):
    """line_keep_flags must keep EXACTLY the globally-first (min doc_id,
    then min pos) occurrence of every distinct segment — verified
    against a Python dict-ordered reimplementation on random corpora
    with heavy cross-doc segment collisions (5-symbol alphabet makes
    5-token segments collide often)."""
    from lenses_topology_example_spark.operators.dedup import (
        LINE_SEG_TOKENS,
        line_keep_flags,
    )

    d = tmp_path_factory.mktemp("lines_prop")
    rows = [(i, " ".join(toks), "en", "s", 0) for i, toks in enumerate(token_lists)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # Python reference: first (doc_id, pos) per segment wins
    seen: dict[str, tuple[int, int]] = {}
    expect: dict[tuple[int, int], bool] = {}
    for i, tl in enumerate(token_lists):
        n_seg = len(tl) // LINE_SEG_TOKENS
        for p in range(n_seg):
            seg = " ".join(tl[p * LINE_SEG_TOKENS:(p + 1) * LINE_SEG_TOKENS])
            if seg not in seen:
                seen[seg] = (i, p)
            expect[(i, p)] = seen[seg] == (i, p)

    got = {
        (r["doc_id"], r["pos"]): r["keep"]
        for r in line_keep_flags(spark, str(d)).collect()
    }
    assert got == expect


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # key
            st.integers(min_value=-10_000_00, max_value=10_000_00),  # delta in cents
            st.integers(min_value=0, max_value=1000),  # day offset
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[2]),  # one update per (key, day)
    )
)
def test_scd2_resolve_invariants(spark, entries):
    """scd2_resolve on ARBITRARY update logs: per key, versions =
    1 + #updates, intervals tile [epoch, inf) with exactly one open
    current row, and the final balance equals base + Σdeltas computed
    in exact decimal."""
    from datetime import datetime, timedelta
    from decimal import Decimal

    from lenses_topology_example_spark.streaming.pipelines import scd2_resolve

    dim = spark.createDataFrame(
        [(k, f"Customer#{k}", 0, 100.0, "SEG") for k in (1, 2, 3, 4)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    log_rows = [
        (k, cents / 100.0, datetime(1996, 1, 1) + timedelta(days=day))
        for k, cents, day in entries
    ]
    log = spark.createDataFrame(
        log_rows or [(None, None, None)],
        "o_custkey long, delta double, eff_ts timestamp",
    )
    if not log_rows:
        log = log.filter(F.col("o_custkey").isNotNull())

    rows = scd2_resolve(dim, log).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.c_custkey, []).append(r)

    updates_per_key: dict[int, list] = {}
    for k, cents, day in entries:
        updates_per_key.setdefault(k, []).append(cents)

    assert set(by_key) == {1, 2, 3, 4}
    for k, vers in by_key.items():
        n_up = len(updates_per_key.get(k, []))
        assert len(vers) == 1 + n_up
        vers.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in vers if r.is_current) == 1
        assert vers[-1].is_current and vers[-1].valid_to is None
        for a, b in zip(vers, vers[1:]):
            assert a.valid_to == b.valid_from
        want_final = float(
            Decimal("100.0")
            + sum(
                (Decimal(c) / Decimal(100) for c in updates_per_key.get(k, [])),
                Decimal(0),
            )
        )
        assert abs(vers[-1].acctbal - want_final) < 1e-9


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user_id
            st.integers(min_value=0, max_value=10_000), # epoch seconds
            st.sampled_from(["a", "b", "c"]),           # event_type
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interarrival_gaps_agree_with_python(spark, events):
    """q_interarrival_stats vs a pure-Python replica on arbitrary
    per-user streams: same (ts, event_id) total order, same
    later-event-type attribution, same decimal-round-tripped mean."""
    import datetime as dt
    from collections import defaultdict
    from decimal import Decimal

    import lenses_topology_example_spark.operators.windows as wmod

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec), uid, et)
        for i, (uid, sec, et) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    orig = wmod.load_table
    wmod.load_table = lambda _s, _d, _t: df
    try:
        got = {
            r.event_type: (r.n_gaps, r.mean_gap_s, r.min_gap_s, r.max_gap_s)
            for r in wmod.q_interarrival_stats(spark, "unused").collect()
        }
    finally:
        wmod.load_table = orig

    per_user = defaultdict(list)
    for i, (uid, sec, et) in enumerate(events):
        per_user[uid].append((sec, i, et))
    gaps = defaultdict(list)
    for seq in per_user.values():
        seq.sort()
        for (s0, _, _), (s1, _, et1) in zip(seq, seq[1:]):
            gaps[et1].append(float(s1 - s0))
    want = {}
    for et, gs in gaps.items():
        mean = float(
            Decimal(
                float(sum(Decimal(f"{g:.6f}") for g in gs)) / len(gs)
            ).quantize(Decimal("0.000001"))
        )
        want[et] = (len(gs), mean, min(gs), max(gs))
    assert got == want


@_SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=4), min_size=6, max_size=12),
)
def test_hard_negatives_property_random_labels(spark, sf_dir, labels):
    """On random labelings of the real embedding vectors: the mined set
    for each query must be exactly the brute-force top-k among
    different-label vectors (numpy replica), for every query id.

    The injected sf_dir is UNIQUE PER EXAMPLE: q_hard_negative_mining
    rides the memo-persisted similarity.emb_base frame (round 17), so a
    constant "unused" key would serve the FIRST labeling's cached
    vectors to every later hypothesis example; the memo entries built
    for the synthetic key are evicted afterwards so cached frames don't
    accumulate across examples."""
    import uuid

    import numpy as np

    import lenses_topology_example_spark.operators.similarity as smod
    from lenses_topology_example_spark import memo
    from lenses_topology_example_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )
    from lenses_topology_example_spark.tables import load_table

    base = load_table(spark, sf_dir, "embeddings").limit(len(labels)).collect()
    rows = [
        (r.vec_id, r.embedding, labels[i]) for i, r in enumerate(base)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = smod.load_table
    smod.load_table = lambda _s, _d, _t: df
    token = f"unused-hardneg-{uuid.uuid4().hex}"
    try:
        out = smod.q_hard_negative_mining(spark, token).collect()
    finally:
        smod.load_table = orig
        memo.drop(spark, token)

    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    labs = {r[0]: r[2] for r in rows}
    for qid in range(min(N_QUERIES, len(rows))):
        scored = sorted(
            (
                -float(
                    vecs[qid]
                    @ v
                    / (np.linalg.norm(vecs[qid]) * np.linalg.norm(v))
                ),
                vid,
            )
            for vid, v in vecs.items()
            if labs[vid] != labs[qid]
        )
        want = {vid for _, vid in scored[:TOP_K]}
        got = {r.neighbor_id for r in out if r.query_id == qid}
        assert got == want, (qid, got, want)
