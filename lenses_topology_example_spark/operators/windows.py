"""Event-time windowing + as-of join (SURVEY.md §2.5 extension surface).

The reference has no late-data/window story (processing order = Kafka
order, PaymentsSimulator.java:58 stamps wall-clock); these are the
Spark-native event-time operators a real deployment of the same pipeline
needs. Batch forms here are oracle-checked; the watermarked streaming
twins live in streaming/pipelines.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tables import load_table
from ..datamodel import CURRENCY_FOR_SQL, currency_for, literal_df

# --- time-window aggregations ------------------------------------------------


def q_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows x event_type. window().start for
    an epoch-aligned tumbling window == date_trunc, which is what the
    oracle computes. Partial agg collapses before the shuffle; in the
    streaming twin the same plan runs incrementally with watermark-bounded
    state."""
    events = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 day")
    return (
        events.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


SQL_TUMBLING_COUNT = """
    SELECT DATE_TRUNC('day', ts)::TIMESTAMP AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
"""


def q_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day, slide 12h): every event lands in exactly 2
    windows. Spark aligns window starts to the unix epoch; the oracle
    reproduces the alignment with a generated series + range predicate."""
    events = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 day", "12 hours")
    return (
        events.groupBy(win)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


# Series bounds chosen to cover the events table's ts range (2024-01).
SQL_SLIDING_COUNT = """
    WITH grid AS (
        SELECT unnest(generate_series(TIMESTAMP '2023-12-01 00:00:00',
                                      TIMESTAMP '2024-03-01 00:00:00',
                                      INTERVAL 12 HOUR)) AS window_start
    )
    SELECT window_start, COUNT(*) AS n
    FROM events JOIN grid
      ON ts >= window_start AND ts < window_start + INTERVAL 1 DAY
    GROUP BY window_start
"""


def q_session_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user sessions with a 30-minute inactivity gap
    (native session_window — merge-on-overlap state op in streaming; in
    batch a sort-within-user). Oracle is the classic gaps-and-islands
    rewrite, proving semantic equivalence."""
    events = load_table(spark, sf_dir, "events")
    sess = F.session_window(F.col("ts"), "30 minutes")
    return (
        events.groupBy(sess, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


SQL_SESSION_COUNT = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               -- Spark sessions are [start, last+gap): a gap of exactly
               -- 30min starts a NEW session, hence strict '<'.
               -- event_id tiebreak: same flag-then-cumsum two-pass shape
               -- that diverged in interval_merge at sf0.1 when the
               -- window order wasn't total — no (user_id, ts) ties exist
               -- in current testdata, but the order must be total by
               -- rule, not by luck.
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sess_id
"""


# --- as-of join ---------------------------------------------------------------

# Deterministic per-currency rate-change history: 8 changes per currency
# across the events table's January-2024 ts range. Pure int arithmetic so
# the Spark literal table and the oracle VALUES are identical.


def _rate_changes() -> list[tuple[str, str, float]]:
    rows = []
    currencies = ("GBP", "USD", "EUR", "CAN", "CHF")
    for ci, cur in enumerate(currencies):
        for j in range(8):
            day = 1 + j * 4  # Jan 1,5,...,29 — covers the whole ts range
            ts = f"2024-01-{day:02d} 00:00:00"
            # k/128 is binary-exact, so the Python literal, the Spark
            # double, and DuckDB's decimal-literal parse are all the
            # identical IEEE value (k/100 is not, and round-trips badly).
            rate = 1.0 + ((ci * 7 + j * 13) % 50) / 128.0
            rows.append((cur, ts, rate))
    return rows


def rate_changes_df(spark: SparkSession) -> DataFrame:
    # datamodel.literal_df: a JVM LocalRelation, no Python-RDD scan.
    return literal_df(
        spark, _rate_changes(), "currency string, rate_ts timestamp, rate double"
    )


def _rate_changes_values_sql() -> str:
    vals = ", ".join(
        f"('{c}', TIMESTAMP '{t}', {r!r}::DOUBLE)" for c, t, r in _rate_changes()
    )
    return f"(VALUES {vals}) AS rc(currency, rate_ts, rate)"


def asof_rate_frame(events: DataFrame, spark: SparkSession) -> DataFrame:
    """As-of join core (Spark has no native one) over any batch OR
    STREAMING frame with (event_id, currency, ts): each row picks the
    latest rate change at-or-before its timestamp for its currency.

    Implementation: collapse the (small) history into one sorted
    array<struct> per currency, broadcast-equi-join on currency, then a
    per-row O(k) array scan picks the as-of element. Shuffle-free on the
    fact side — and because the dim side is static, the same plan is a
    legal stream-static join (no watermark needed). For large histories
    the pattern is applyInPandas + pd.merge_asof per key (documented
    alternative; not needed for a 40-row dim).
    """
    rc = rate_changes_df(spark)
    packed = rc.groupBy("currency").agg(
        F.array_sort(F.collect_list(F.struct("rate_ts", "rate"))).alias("history")
    )
    joined = events.join(F.broadcast(packed), "currency", "inner")
    applicable = F.filter(
        F.col("history"), lambda h: h.getField("rate_ts") <= F.col("ts")
    )
    # drop events before the first rate change BEFORE element_at: the
    # oracle's inner ASOF JOIN omits them, and element_at(-1) on an empty
    # array would abort the job under Spark 4's default ANSI mode
    return (
        joined.withColumn("applicable", applicable)
        .filter(F.size("applicable") > 0)
        .select(
            "event_id",
            "currency",
            F.element_at(F.col("applicable"), -1)
            .getField("rate")
            .alias("asof_rate"),
        )
    )


def q_asof_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch as-of query over the events table (see asof_rate_frame)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", currency_for(F.col("user_id")).alias("currency"), "ts"
    )
    return asof_rate_frame(events, spark)


SQL_ASOF_RATE = f"""
    WITH ev AS (
        SELECT event_id, {CURRENCY_FOR_SQL} AS currency, ts FROM events
    )
    SELECT event_id, ev.currency AS currency, rate AS asof_rate
    FROM ev ASOF JOIN {_rate_changes_values_sql()}
      ON ev.currency = rc.currency AND ev.ts >= rc.rate_ts
"""


def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame: per user, events in the trailing
    1-hour event-time window (count + exact decimal sum). RANGE frames
    bound by *value distance* on the ORDER BY column — the time-based
    running analytics ROWS frames can't express. Peers (equal ts) share
    a frame, so the decimal sum keeps results order-independent."""
    return spark.sql(
        """
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_trailing_1h,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                   AS sum_trailing_1h
        FROM {events}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        events=load_table(spark, sf_dir, "events"),
    )


SQL_WINDOW_RANGE_INTERVAL = """
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_trailing_1h,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               AS sum_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 4-row moving average per user (ROWS frame). The decimal
    sum divided by the window count keeps it order-independent; the
    (ts, event_id) order is total so every engine frames identically."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    msum = F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
    return events.select(
        "user_id",
        "event_id",
        (msum / F.count(F.lit(1)).over(w)).alias("moving_avg_4"),
    )


SQL_MOVING_AVG = """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS moving_avg_4
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


SESSION_GAP_MIN = 30


def q_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap
    to the previous event exceeds SESSION_GAP_MIN minutes; session_id is
    the running count of session starts (lag + conditional cumulative
    sum — two window passes over ONE shuffle, since both windows share
    the (user_id, ts) partitioning/order). The standard formulation when
    session outputs must join back to individual rows. NOTE: gaps are
    floor-truncated to whole seconds and the test is strict `>`, so the
    exact-boundary semantics differ from session_window()'s (which
    splits at gap == SESSION_GAP_MIN, see q_session_count) — the two
    operators are deliberately separate, not interchangeable. The oracle
    mirrors the truncation with FLOOR(epoch(ts)): DuckDB's direct
    double->bigint CAST rounds-half-up while Spark's timestamp->long
    cast floors, a half-second disagreement that would flip session
    boundaries."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    is_start = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1
    ).otherwise(0)
    return (
        events.withColumn("is_start", is_start)
        .withColumn(
            "session_id",
            F.sum("is_start").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .select("user_id", "event_id", "is_start", "session_id")
    )


SQL_SESSIONIZE_LAG = f"""
    WITH g AS (
        SELECT user_id, event_id, ts,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        FROM events
    )
    SELECT user_id, event_id,
           CASE WHEN gap_s IS NULL OR gap_s > {SESSION_GAP_MIN * 60}
                THEN 1 ELSE 0 END AS is_start,
           -- DuckDB types integer window-SUM as HUGEINT, which lands in
           -- pandas as float64 (1.0 vs Spark's int64 1) — cast the OUTPUT
           CAST(SUM(CASE WHEN gap_s IS NULL OR gap_s > {SESSION_GAP_MIN * 60}
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
    FROM g
"""


# --- sequential conversion funnel (round 7) ----------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: per user, the
    first 'view', the first 'click' STRICTLY AFTER that view, and the
    first 'purchase' strictly after that click — the product-analytics
    primitive (a user who purchases before viewing does not convert).
    One row per user who entered the funnel, with the stage timestamps
    (NULL once the chain breaks) and the stage count reached.

    Scale shape: each stage is a type-filtered scan branch (the
    event_type predicate reaches the parquet scan) aggregated per
    user — partial min-aggs collapse before each exchange; stage
    frames shrink monotonically, and at production scale the
    user-bounded stage-k frame broadcasts into the stage-k+1 join.
    Timestamp comparisons are exact µs instants on both engines
    (tables.load_table normalizes)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        e.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        e.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("stage_reached"),
        )
    )


SQL_FUNNEL_CONVERSION = """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t_view
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           CAST(1 + CASE WHEN s2.t_click IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN s3.t_purchase IS NOT NULL THEN 1 ELSE 0 END
                AS INTEGER) AS stage_reached
    FROM s1
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
"""


# --- cohort retention (round 7) ----------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped into cohorts by first
    active day; for each (cohort_day, day_offset), the number of
    distinct cohort users active that day. Day boundaries are UTC
    (session TZ pinned by the contract) so both engines bucket
    identically.

    Scale shape: the cohort table is one min-agg per user (partial agg
    collapses to |users| rows); the activity table is a distinct over
    (user, day) — same user_id shuffle key, so AQE reuses the
    exchange; the final aggregate is bounded by cohorts x horizon, not
    by event volume."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    activity = e.distinct()
    return (
        activity.join(first, "user_id")
        .select(
            # ISO string, not DATE: DuckDB DATE surfaces as a midnight
            # datetime in pandas, so a date-typed column can never
            # canon-match across engines — strings do, losslessly
            F.date_format(F.col("cohort_d"), "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("cohort_d")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


SQL_COHORT_RETENTION = """
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS d FROM events
    ), first AS (
        SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, d FROM e
    )
    SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_day,
           CAST(a.d - f.cohort_d AS INTEGER) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN first f USING (user_id)
    GROUP BY f.cohort_d, day_offset
"""


# --- event-rate anomaly detection (round 7) ----------------------------------------

ANOMALY_Z = 2.0


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly screen: per (event_type, day) count,
    z-scored against that event type's own daily distribution; |z| >=
    ANOMALY_Z flags the day — the ops-side drift monitor an ingestion
    pipeline alarms on (a collapsed crawler halves a day's `view`
    volume; a bot flood doubles `click`).

    Determinism: per-cell counts are exact ints; per-type moments use
    exact integer sums (sum c, sum c^2 — bounded far below int64 at any
    realistic day-cell volume), so mean/variance are ONE fixed double
    expression per type, identical both engines; z is one subtract +
    divide; a zero-variance type yields NULL z (try_divide) and flags
    nothing.

    Scale shape: one scan feeds the (type, day)-keyed count (partial
    agg collapses map-side); every moment/z window runs over the
    (types x days)-bounded aggregated frame, never the event stream.
    Day boundaries are UTC (contract-pinned session TZ); days surface
    as ISO strings (the cohort_retention canon discipline)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    )
    cells = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = W.partitionBy("event_type")
    stats = (
        cells.withColumn("s1", F.sum("n_events").over(w))
        .withColumn(
            "s2", F.sum(F.col("n_events") * F.col("n_events")).over(w)
        )
        .withColumn("nd", F.count(F.lit(1)).over(w))
    )
    mean = F.col("s1") / F.col("nd")
    var = F.col("s2") / F.col("nd") - mean * mean
    # explicit sqrt(var) > 0 guard, NOT try_divide: a zero-variance
    # type's var can round to a tiny NEGATIVE double, where sqrt gives
    # NaN — `NaN > 0` is false on both engines (-> NULL z), while
    # try_divide(x, NaN) would yield NaN and diverge from the oracle
    z = F.when(
        F.sqrt(var) > F.lit(0.0),
        (F.col("n_events") - mean) / F.sqrt(var),
    )
    return stats.select(
        "event_type",
        "day",
        "n_events",
        z.alias("z_score"),
        F.coalesce(
            F.abs(z) >= F.lit(ANOMALY_Z), F.lit(False)
        ).alias("is_anomaly"),
    )


SQL_EVENT_RATE_ANOMALY = f"""
    WITH cells AS (
        SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, day, n_events,
               SUM(n_events) OVER (PARTITION BY event_type) AS s1,
               SUM(n_events * n_events) OVER (PARTITION BY event_type) AS s2,
               COUNT(*) OVER (PARTITION BY event_type) AS nd
        FROM cells
    )
    SELECT event_type, day, n_events,
           CASE WHEN sqrt(CAST(s2 AS BIGINT) / CAST(nd AS BIGINT)
                    - (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))
                      * (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))) > 0
                THEN (n_events - CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))
                     / sqrt(CAST(s2 AS BIGINT) / CAST(nd AS BIGINT)
                        - (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))
                          * (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT)))
           END AS z_score,
           COALESCE(abs(
               (n_events - CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))
               / sqrt(CAST(s2 AS BIGINT) / CAST(nd AS BIGINT)
                  - (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT))
                    * (CAST(s1 AS BIGINT) / CAST(nd AS BIGINT)))
           ) >= {ANOMALY_Z}, FALSE) AS is_anomaly
    FROM stats
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each consecutive
    event pair within a user's time-ordered stream, P(next_type |
    cur_type) — the sequence-mining statistic behind next-action
    prediction and bot detection (a scripted agent's matrix is
    near-deterministic; organic traffic is diffuse).

    Ordering is total ((ts, event_id) — ties on ts cannot reorder
    across runs or engines), the lag window partitions BY USER (state
    scales with one user's history, never the stream), the transition
    aggregate is |types|² keys, and the probability divides two counts
    from the SAME aggregate before a DECIMAL(38,6) round-trip."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("cur_type"),
    ).filter(F.col("cur_type").isNotNull())
    counts = seq.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = counts.groupBy("cur_type").agg(F.sum("n").alias("n_cur"))
    return (
        counts.join(row_tot, "cur_type")
        .select(
            "cur_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("n_cur").cast("double"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("p"),
        )
        .orderBy("cur_type", "next_type")
    )


SQL_MARKOV_TRANSITIONS = """
    WITH seq AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS cur_type,
               event_type AS next_type
        FROM events
    ), counts AS (
        SELECT cur_type, next_type, COUNT(*) AS n
        FROM seq WHERE cur_type IS NOT NULL
        GROUP BY cur_type, next_type
    ), row_tot AS (
        SELECT cur_type, CAST(SUM(n) AS BIGINT) AS n_cur
        FROM counts GROUP BY cur_type
    )
    SELECT c.cur_type, c.next_type, c.n,
           CAST(CAST(CAST(c.n AS DOUBLE) / CAST(t.n_cur AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS p
    FROM counts c JOIN row_tot t ON c.cur_type = t.cur_type
    ORDER BY c.cur_type, c.next_type
"""


TOP_PATHS_K = 25
TOP_PATHS_MAXLEN = 8


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the most frequent session-level event-type
    paths (first TOP_PATHS_MAXLEN steps), ranked by session count —
    the path-analysis view product teams read next to the funnel and
    the transition matrix (which see single steps; this sees whole
    routes).

    Sessions come from the same gaps-and-islands rule as
    q_sessionize_lag (shared SESSION_GAP_MIN, floor-second gaps,
    strict >). The path string assembles per (user, session) from a
    sorted struct collect — bounded by one session's events, truncated
    to MAXLEN steps so a runaway session cannot build an unbounded
    string — and the final ranking is TakeOrderedAndProject(K).
    Oracle note: DuckDB builds the same path with an ORDER BY inside
    string_agg over the row_number-limited frame."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
    is_start = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1
    ).otherwise(0)
    sess = (
        events.withColumn("is_start", is_start)
        .withColumn(
            "session_id",
            F.sum("is_start").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn(
            "step",
            F.row_number().over(
                W.partitionBy("user_id", "session_id").orderBy(
                    "ts", "event_id"
                )
            ),
        )
        .filter(F.col("step") <= TOP_PATHS_MAXLEN)
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("step", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(TOP_PATHS_K)
    )


SQL_TOP_PATHS = f"""
    WITH g AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS gap_s
        FROM events
    ), s AS (
        SELECT user_id, event_id, ts, event_type,
               SUM(CASE WHEN gap_s IS NULL
                        OR gap_s > {SESSION_GAP_MIN} * 60
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    ), stepped AS (
        SELECT user_id, session_id, ts, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS step
        FROM s
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY step) AS path
        FROM stepped
        WHERE step <= {TOP_PATHS_MAXLEN}
        GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {TOP_PATHS_K}
"""


def q_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog by SWEEP-LINE: each order contributes a
    +1 event at its order date and a -1 at its close (= the max
    shipdate of its lineitems); the running sum over day-grain net
    deltas is the number of orders open that day. The naive form is an
    interval-stabbing range join (|days| x |orders| candidate pairs);
    the sweep-line is two keyed aggregations and ONE window over the
    |days|-bounded frame — the classic concurrent-intervals trick
    (same family as concurrent-sessions counting), absent from the
    catalog's range-join and window tiers until now.

    Orders with no lineitems never close and are excluded up front so
    opened/closed tie out; orders whose max shipdate PRECEDES their
    order date (the synthetic generator emits ~2% such rows — exactly
    the anomaly a constraint_audit screen would flag) get their close
    CLAMPED to the open day (GREATEST), so every interval is valid and
    the sweep equals brute-force interval stabbing (pinned in tests).
    Day grain via date_trunc; the cumulative window orders by day over
    the aggregated frame (thousands of rows — the documented
    window-above-aggregate class, never the fact table)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    closed = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_ts"))
    orders = orders.join(
        closed, F.col("o_orderkey") == F.col("l_orderkey"), "inner"
    )
    open_day = F.date_trunc("day", F.col("o_orderdate"))
    close_day = F.greatest(F.date_trunc("day", F.col("close_ts")), open_day)
    opens = orders.select(
        open_day.alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    )
    closes = orders.select(
        close_day.alias("day"),
        F.lit(0).alias("opened"),
        F.lit(1).alias("closed"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(
            F.sum("opened").alias("opened"),
            F.sum("closed").alias("closed"),
        )
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w).alias("backlog"),
    ).orderBy("day")


SQL_ORDER_BACKLOG = """
    WITH closed AS (
        SELECT l_orderkey, MAX(l_shipdate) AS close_ts
        FROM lineitem GROUP BY l_orderkey
    ), o AS (
        SELECT o_orderdate, close_ts
        FROM orders JOIN closed ON o_orderkey = l_orderkey
    ), ev AS (
        SELECT date_trunc('day', o_orderdate) AS day, 1 AS opened, 0 AS closed
        FROM o
        UNION ALL
        SELECT GREATEST(date_trunc('day', close_ts),
                        date_trunc('day', o_orderdate)) AS day,
               0 AS opened, 1 AS closed
        FROM o
    ), daily AS (
        SELECT day, CAST(SUM(opened) AS BIGINT) AS opened,
               CAST(SUM(closed) AS BIGINT) AS closed
        FROM ev GROUP BY day
    )
    SELECT day, opened, closed,
           CAST(SUM(opened - closed) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
    FROM daily
    ORDER BY day
"""


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality: event volume and mean value per
    (day-of-week x hour) cell with each cell's share of total traffic —
    the capacity-planning heatmap behind batch-window scheduling and
    anomaly baselines (event_rate_anomaly screens days; this profiles
    the weekly cycle itself).

    One scan -> 168-cell aggregate; shares divide each cell by the
    broadcast scalar total; the mean is decimal-sum / count (one IEEE
    division). dayofweek is normalized to ISO (Mon=1..Sun=7) explicitly
    on both engines — Spark's dayofweek() is Sun=1 while DuckDB's
    isodow is Mon=1, an off-by-one that silently rotates the heatmap
    if either engine's native convention is trusted."""
    events = load_table(spark, sf_dir, "events")
    cells = events.select(
        # ISO dow from Spark's Sun=1 convention: ((dayofweek+5) % 7) + 1
        (((F.dayofweek("ts") + F.lit(5)) % F.lit(7)) + F.lit(1)).alias("dow"),
        F.hour("ts").alias("hour"),
        "value",
    ).groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    )
    total = cells.agg(F.sum("n_events").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "hour",
            "n_events",
            # RAW pass-through, not 6dp-rounded (round-14 null sweep:
            # a 168-cell count is often a power of two, so decimal-sum
            # / count lands on EXACT 6dp midpoints by construction —
            # 2848.34/64 = 44.5053125 — where HALF_UP and half-even
            # split; one IEEE division of deterministic inputs is
            # bit-identical on both engines — the corpus_report class
            # discipline)
            (F.col("sum_value") / F.col("n_events")).alias("mean_value"),
            (
                F.col("n_events").cast("double")
                / F.col("n_total").cast("double")
            ).alias("traffic_share"),
        )
        .orderBy("dow", "hour")
    )


SQL_SEASONALITY_PROFILE = """
    WITH cells AS (
        SELECT CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    ), total AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM cells)
    SELECT dow, hour, n_events,
           sum_value / n_events AS mean_value,
           CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS traffic_share
    FROM cells CROSS JOIN total
    ORDER BY dow, hour
"""


SHIP_WINDOW_DAYS = 7


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key interval UNION (merge overlapping/touching ranges): each
    shipment opens a 7-day activity window; overlapping windows per
    supplier merge into maximal disjoint islands, reported as island
    count, covered days, and raw shipment count — the classic
    gaps-and-islands generalization from points to RANGES (coverage
    accounting, maintenance-window consolidation, on-call overlap).

    Pure integer math end-to-end: days since epoch via datediff, an
    island starts where start > running max(end) over all EARLIER
    intervals (rowsBetween(-inf, -1) — lag(end) alone is WRONG when a
    long interval swallows its successors), touching intervals
    ([a,b),[b,c)) merge. Windows partition by supplier and the final
    aggregate is |suppliers| rows."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.lit("1990-01-01").cast("date")).alias(
            "start_d"
        ),
    )
    iv = li.withColumn("end_d", F.col("start_d") + F.lit(SHIP_WINDOW_DAYS))
    # (l_orderkey, l_linenumber) tiebreak makes the order TOTAL: same-day
    # shipments are full ties on (start_d, end_d), and an engine that
    # sorts the flag window and the numbering window in separate passes
    # (DuckDB's two CTEs) may permute a tie group differently per pass,
    # splitting it across islands — found by the round-8 sf0.1 sweep
    # (suppliers 62/555: identical island counts, days_covered inflated
    # by the split). Spark computes all three windows over ONE sort, so
    # it never diverged from the python replica — the tiebreak pins both
    # engines to the same total order.
    w = W.partitionBy("l_suppkey").orderBy(
        "start_d", "end_d", "l_orderkey", "l_linenumber"
    )
    iv = iv.withColumn(
        "prev_max_end",
        F.max("end_d").over(w.rowsBetween(W.unboundedPreceding, -1)),
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_end").isNull()
            | (F.col("start_d") > F.col("prev_max_end")),
            1,
        ).otherwise(0),
    )
    iv = iv.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    islands = iv.groupBy("l_suppkey", "island").agg(
        F.min("start_d").alias("s"),
        F.max("end_d").alias("e"),
        F.count(F.lit(1)).alias("n_ship"),
    )
    return (
        islands.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("e") - F.col("s")).alias("days_covered"),
            F.sum("n_ship").alias("n_shipments"),
        )
        .orderBy("l_suppkey")
    )


SQL_INTERVAL_MERGE = f"""
    WITH iv AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               datediff('day', DATE '1990-01-01', l_shipdate) AS start_d,
               datediff('day', DATE '1990-01-01', l_shipdate)
                 + {SHIP_WINDOW_DAYS} AS end_d
        FROM lineitem
    ), flagged AS (
        SELECT *,
               CASE WHEN MAX(end_d) OVER (PARTITION BY l_suppkey
                        ORDER BY start_d, end_d, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                      OR start_d > MAX(end_d) OVER (PARTITION BY l_suppkey
                        ORDER BY start_d, end_d, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), numbered AS (
        SELECT *,
               SUM(new_island) OVER (PARTITION BY l_suppkey
                   ORDER BY start_d, end_d, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), islands AS (
        SELECT l_suppkey, island, MIN(start_d) AS s, MAX(end_d) AS e,
               COUNT(*) AS n_ship
        FROM numbered GROUP BY l_suppkey, island
    )
    SELECT l_suppkey,
           COUNT(*) AS n_islands,
           CAST(SUM(e - s) AS BIGINT) AS days_covered,
           CAST(SUM(n_ship) AS BIGINT) AS n_shipments
    FROM islands
    GROUP BY l_suppkey
    ORDER BY l_suppkey
"""


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics over each user's
    time-ordered stream: for every consecutive event pair within a
    user, the gap in seconds, aggregated by the LATER event's type —
    the latency-profile input behind session-timeout tuning and
    arrival-process modeling (is `purchase` bursty or Poisson-ish?).

    Ordering is total ((ts, event_id) — same tiebreak discipline as
    q_markov_transitions) and the lag window partitions BY USER, so
    window state scales with one user's history, never the stream.
    The gap is epoch-seconds double arithmetic (both engines divide
    the same microsecond integer by 1e6); the mean goes through the
    DECIMAL(38,6) sum / count round-trip (engine-native AVG over
    doubles is order-dependent and banned); min/max over doubles are
    exact at any parallelism. Output is |event types| rows."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (
            F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gap_report(gaps)


def gap_report(gaps: DataFrame) -> DataFrame:
    """The (event_type, gap_s) -> per-type stats aggregate, shared by
    the batch operator above and the streaming twin
    (streaming/pipelines.streaming_interarrival_gaps) so their parity
    is the gap emission, never a reimplemented aggregation."""
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (
                F.sum(F.col("gap_s").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("mean_gap_s"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


SQL_INTERARRIVAL_STATS = """
    WITH seq AS (
        SELECT event_type,
               epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id))
                   AS gap_s
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_gaps,
           CAST(CAST(
               CAST(SUM(CAST(gap_s AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)
             AS DECIMAL(38,6)) AS DOUBLE) AS mean_gap_s,
           MIN(gap_s) AS min_gap_s,
           MAX(gap_s) AS max_gap_s
    FROM seq WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
"""


# --- marketing attribution (round 9) -----------------------------------------


def q_attribution_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch AND last-touch revenue attribution over the events
    stream: each purchase's value is credited to the user's first
    (respectively most recent) preceding non-purchase event type — the
    two classic marketing-attribution models, side by side so their
    disagreement (the thing attribution fights are made of) is visible
    per channel. Purchases with no preceding touch credit 'direct'.

    Determinism: the per-user window rides the (ts, event_id) total
    order (the interval_merge lesson); channel picks are first/last
    over that order with ignorenulls (matching DuckDB's IGNORE NULLS);
    revenue sums go through DECIMAL(38,6); shares are one decimal
    division of those exact sums.

    Scale shape: ONE user-partitioned window pass computes both touch
    columns (state per partition = one user's history); the two
    attribution views then unpivot into (channel, model) rows so a
    single |channels|-bounded aggregate carries both models; the share
    denominators are windows over that bounded frame."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != F.lit("purchase"), F.col("event_type")
    )
    purchases = (
        ev.withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == F.lit("purchase"))
        .select(
            F.coalesce(F.col("first_touch"), F.lit("direct")).alias("fch"),
            F.coalesce(F.col("last_touch"), F.lit("direct")).alias("lch"),
            "value",
        )
    )
    return attribution_report(purchases)


def attribution_report(purchases: DataFrame) -> DataFrame:
    """(fch, lch, value) touch log -> the per-channel two-model report.
    SHARED between the batch operator above and the streaming twin
    (streaming/pipelines.py streaming_attribution_touches): the
    stateful emitter produces the identical touch rows, so running this
    aggregate over its output is the parity claim the twin test pins
    (no arithmetic happens before this point — the values pass through
    the emitter untouched)."""
    from pyspark.sql import Window as W

    from .relational import dsum

    unpivoted = purchases.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("fch").alias("channel"),
                    F.lit("first").alias("model"),
                    F.col("value"),
                ),
                F.struct(
                    F.col("lch").alias("channel"),
                    F.lit("last").alias("model"),
                    F.col("value"),
                ),
            )
        ).alias("r")
    ).select("r.channel", "r.model", "r.value")
    agg = unpivoted.groupBy("channel").agg(
        F.sum(F.when(F.col("model") == "first", 1).otherwise(0))
        .cast("long")
        .alias("n_first"),
        dsum(F.when(F.col("model") == "first", F.col("value")).otherwise(0.0))
        .alias("rev_first"),
        F.sum(F.when(F.col("model") == "last", 1).otherwise(0))
        .cast("long")
        .alias("n_last"),
        dsum(F.when(F.col("model") == "last", F.col("value")).otherwise(0.0))
        .alias("rev_last"),
    )
    wt = W.partitionBy()
    # totals sum the DECIMAL view of the per-channel sums (exact 1e-6
    # multiples), so the |channels|-row fold is order-independent
    return (
        agg.withColumn(
            "tot_first",
            F.sum(F.col("rev_first").cast("decimal(38,6)")).over(wt)
            .cast("double"),
        )
        .withColumn(
            "tot_last",
            F.sum(F.col("rev_last").cast("decimal(38,6)")).over(wt)
            .cast("double"),
        )
        .select(
            "channel",
            "n_first",
            "rev_first",
            F.try_divide(F.col("rev_first"), F.col("tot_first"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("share_first"),
            "n_last",
            "rev_last",
            F.try_divide(F.col("rev_last"), F.col("tot_last"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("share_last"),
        )
        .orderBy("channel")
    )


def _build_sql_attribution_revenue() -> str:
    from .relational import dsum_sql

    first_val = 'CASE WHEN model = \'first\' THEN "value" ELSE 0.0 END'
    last_val = 'CASE WHEN model = \'last\' THEN "value" ELSE 0.0 END'
    return f"""
    WITH touched AS (
        SELECT event_type, "value",
               first_value(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS first_touch,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS last_touch
        FROM events
    ), purchases AS (
        SELECT COALESCE(first_touch, 'direct') AS fch,
               COALESCE(last_touch, 'direct') AS lch,
               "value"
        FROM touched WHERE event_type = 'purchase'
    ), unpiv AS (
        SELECT fch AS channel, 'first' AS model, "value" FROM purchases
        UNION ALL
        SELECT lch AS channel, 'last' AS model, "value" FROM purchases
    ), agg AS (
        SELECT channel,
               CAST(SUM(CASE WHEN model = 'first' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_first,
               {dsum_sql(first_val)}
                   AS rev_first,
               CAST(SUM(CASE WHEN model = 'last' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_last,
               {dsum_sql(last_val)}
                   AS rev_last
        FROM unpiv GROUP BY channel
    )
    SELECT channel, n_first, rev_first,
           CAST(CAST(rev_first /
                CAST(SUM(CAST(rev_first AS DECIMAL(38,6))) OVER ()
                     AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS share_first,
           n_last, rev_last,
           CAST(CAST(rev_last /
                CAST(SUM(CAST(rev_last AS DECIMAL(38,6))) OVER ()
                     AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS share_last
    FROM agg
    ORDER BY channel
"""


SQL_ATTRIBUTION_REVENUE = _build_sql_attribution_revenue()


# --- cohort lifetime-value curve (round 9) -----------------------------------


def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — cohort_retention's revenue-side companion:
    customers cohort by their FIRST order month; each later month's
    revenue accrues to (cohort, age_months); the running cumulative
    revenue divided by cohort size is the per-customer lifetime value
    a growth team projects forward. Month-grain on purpose (the
    reporting grain LTV curves are read at).

    Determinism: ages are exact month diffs of month-truncated dates;
    revenue sums and the running cumulative both fold DECIMAL(38,6)
    (the per-cell sums are exact 1e-6 multiples, so the cumulative is
    order-independent); the cumulative re-rounds to scale 4 before its
    double cast (cohort lifetime totals cross the scale-6 2^53 line at
    sf1.0 — the decayed_revenue rule); LTV is the RAW double quotient
    of two already-identical values (a 6dp round here fired the
    midpoint-tie class live at sf1.0 — BASELINE.md numeric class #3).

    Scale shape: orders aggregates twice, both keyed and map-side
    partial (first-order per customer, then revenue per (cohort, age)
    cell); the cumulative window runs over the (cohorts x ages)-bounded
    cell frame, partitioned by cohort; cohort sizes broadcast in."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        "o_totalprice",
    )
    first = orders.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    sizes = first.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    cells = (
        orders.join(first, "o_custkey")
        .select(
            "cohort_m",
            F.months_between(F.col("m"), F.col("cohort_m"))
            .cast("int")
            .alias("age_months"),
            "o_totalprice",
        )
        .groupBy("cohort_m", "age_months")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue")
        )
    )
    wc = (
        W.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        cells.withColumn(
            "cum_revenue",
            F.round(
                F.sum(F.col("revenue").cast("decimal(38,6)")).over(wc), 4
            ).cast("double"),
        )
        .join(F.broadcast(sizes), "cohort_m")
        .select(
            F.date_format("cohort_m", "yyyy-MM").alias("cohort_month"),
            "age_months",
            "revenue",
            "cum_revenue",
            "n_customers",
            # RAW double quotient — cum_revenue and n_customers are
            # already bit-identical cross-engine, so a final 6dp round
            # only ADDS the decimal-midpoint tie class (it fired live
            # at sf1.0: cum/n landing on ...5625 split HALF_UP vs
            # round-half-even — BASELINE.md numeric class #3).
            F.try_divide(F.col("cum_revenue"), F.col("n_customers"))
            .alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


SQL_LTV_CURVE = """
    WITH o AS (
        SELECT o_custkey,
               date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               o_totalprice
        FROM orders
    ), first AS (
        SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY o_custkey
    ), sizes AS (
        SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM first GROUP BY cohort_m
    ), cells AS (
        SELECT cohort_m,
               CAST(date_diff('month', cohort_m, m) AS INTEGER)
                   AS age_months,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS revenue
        FROM o JOIN first USING (o_custkey)
        GROUP BY cohort_m, CAST(date_diff('month', cohort_m, m) AS INTEGER)
    ), cum AS (
        SELECT cohort_m, age_months, revenue,
               CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,6))) OVER (
                   PARTITION BY cohort_m ORDER BY age_months
                   ROWS UNBOUNDED PRECEDING), 4) AS DOUBLE) AS cum_revenue
        FROM cells
    )
    SELECT strftime(cum.cohort_m, '%Y-%m') AS cohort_month,
           age_months, revenue, cum_revenue, n_customers,
           cum_revenue / CAST(n_customers AS DOUBLE) AS ltv_per_customer
    FROM cum JOIN sizes USING (cohort_m)
    ORDER BY cohort_month, age_months
"""


# --- deterministic A/B analysis (round 9) ------------------------------------


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout over purchase events: users split
    into arms by a seeded md5 coin (the dataset_split discipline — the
    assignment IS the experiment infrastructure), then the classic
    Welch readout on purchase value: per-arm n / mean / variance, the
    mean difference, and its z-score. The analysis layer every
    event-stream experimentation stack ends in.

    Determinism: moments come from DECIMAL(38,6) sums (corr_
    text_embedding discipline) so they are order-independent; mean /
    variance / z are ONE fixed double expression written identically
    in both engines; a degenerate arm (n < 2 or zero variance) yields
    NULL z via the sqrt-guard pattern of event_rate_anomaly.

    Scale shape: single scan, ONE conditional 1-row aggregate (six
    decimal sums + two counts), then scalar math — nothing after the
    map-side partial exceeds one row."""
    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    )
    arm = (
        md5_hash64(F.concat(F.lit("ab|"), F.col("user_id").cast("string")))
        % 2
    )
    x = F.col("value")
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    agg = ev.select(arm.alias("arm"), x.alias("x")).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        d(F.when(F.col("arm") == 0, F.col("x")).otherwise(0.0)).alias("s_0"),
        d(F.when(F.col("arm") == 1, F.col("x")).otherwise(0.0)).alias("s_1"),
        d(
            F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_0"),
        d(
            F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_1"),
    )
    mean0 = F.col("s_0") / F.col("n_0")
    mean1 = F.col("s_1") / F.col("n_1")
    var0 = (F.col("ss_0") - F.col("s_0") * F.col("s_0") / F.col("n_0")) / (
        F.col("n_0") - 1
    )
    var1 = (F.col("ss_1") - F.col("s_1") * F.col("s_1") / F.col("n_1")) / (
        F.col("n_1") - 1
    )
    se = F.sqrt(var0 / F.col("n_0") + var1 / F.col("n_1"))
    z = F.when(se > F.lit(0.0), (mean1 - mean0) / se)
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    return agg.select(
        "n_0",
        "n_1",
        F.when(F.col("n_0") > 0, rnd(mean0)).alias("mean_0"),
        F.when(F.col("n_1") > 0, rnd(mean1)).alias("mean_1"),
        F.when(
            (F.col("n_0") > 0) & (F.col("n_1") > 0), rnd(mean1 - mean0)
        ).alias("mean_diff"),
        F.when(
            (F.col("n_0") > 1) & (F.col("n_1") > 1), rnd(z)
        ).alias("z_score"),
    )


_SQL_AB_ARM = (
    "((('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))"
    "::BIGINT) % 2)"
)

SQL_AB_TEST_REPORT = f"""
    WITH p AS (
        SELECT {_SQL_AB_ARM} AS arm, "value" AS x
        FROM events WHERE event_type = 'purchase'
    ), agg AS (
        SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN x ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN x ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN x * x ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS ss_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN x * x ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS ss_1
        FROM p
    )
    SELECT n_0, n_1,
           CASE WHEN n_0 > 0 THEN CAST(CAST(s_0 / n_0 AS DECIMAL(38,6))
                AS DOUBLE) END AS mean_0,
           CASE WHEN n_1 > 0 THEN CAST(CAST(s_1 / n_1 AS DECIMAL(38,6))
                AS DOUBLE) END AS mean_1,
           CASE WHEN n_0 > 0 AND n_1 > 0 THEN
                CAST(CAST(s_1 / n_1 - s_0 / n_0 AS DECIMAL(38,6))
                     AS DOUBLE) END AS mean_diff,
           CASE WHEN n_0 > 1 AND n_1 > 1 AND
                sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                     + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1) > 0.0
                THEN CAST(CAST(
                    (s_1 / n_1 - s_0 / n_0)
                    / sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                           + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS z_score
    FROM agg
"""


# --- CUSUM change-point screen (round 9) -------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen over daily total event volume: the
    cumulative sum of deviations from the global daily mean peaks (in
    absolute value) at the most likely level-shift point — the
    classical offline change-point statistic, complementing
    event_rate_anomaly's per-day z-screen (which flags outlier DAYS;
    this localizes a persistent SHIFT).

    Determinism: integer-exact end-to-end — the statistic is carried as
    the int64 numerator nd·cum_x − k·s1 (cusum = numerator/nd), so the
    only float is ONE final division of exact ints (bit-identical both
    engines, no decimal-rounding boundary — the corpus_report r8 bug
    class cannot occur) and the argmax flag compares integers.

    Scale shape: one scan to the |days|-bounded daily frame (partial
    agg map-side); the ordered cumsum window runs over that bounded
    frame (the documented tiny-frame class)."""
    from pyspark.sql import Window as W

    daily = (
        load_table(spark, sf_dir, "events")
        .select(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    staged = (
        daily.withColumn("cum_x", F.sum("n_events").over(wcum))
        .withColumn("k", F.count(F.lit(1)).over(wcum))
        .withColumn("s1", F.sum("n_events").over(wall))
        .withColumn("nd", F.count(F.lit(1)).over(wall))
    )
    num = (F.col("nd") * F.col("cum_x") - F.col("k") * F.col("s1")).cast(
        "long"
    )
    staged = staged.withColumn("cusum_num", num).withColumn(
        "max_abs_num", F.max(F.abs(F.col("cusum_num"))).over(wall)
    )
    return staged.select(
        "day",
        "n_events",
        F.try_divide(
            F.col("cusum_num").cast("double"), F.col("nd").cast("double")
        ).alias("cusum"),
        (F.abs(F.col("cusum_num")) == F.col("max_abs_num")).alias(
            "is_changepoint"
        ),
    ).orderBy("day")


SQL_CUSUM_CHANGEPOINT = """
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ), staged AS (
        SELECT day, n_events,
               SUM(n_events) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS cum_x,
               COUNT(*) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS k,
               SUM(n_events) OVER () AS s1,
               COUNT(*) OVER () AS nd
        FROM daily
    ), scored AS (
        SELECT day, n_events, nd,
               CAST(nd * cum_x - k * s1 AS BIGINT) AS cusum_num
        FROM staged
    )
    SELECT day, n_events,
           CAST(cusum_num AS DOUBLE) / CAST(nd AS DOUBLE) AS cusum,
           abs(cusum_num) = MAX(abs(cusum_num)) OVER () AS is_changepoint
    FROM scored
    ORDER BY day
"""


# --- Holt linear-trend forecast (round 9) ------------------------------------

HOLT_ALPHA = 0.5  # level smoothing (binary-exact literal)
HOLT_BETA = 0.3  # trend smoothing (same literal -> same double both engines)
HOLT_HORIZON = 3


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over monthly order
    revenue, forecasting HOLT_HORIZON months ahead — the planning
    forecast every revenue dashboard bolts onto ltv_curve's history
    (seasonality_profile describes the past; this extrapolates).
    Standard init: level_1 = x_1, trend_1 = x_2 − x_1.

    Determinism: monthly revenues are DECIMAL(38,6)-exact doubles; the
    recurrence is a SEQUENTIAL left fold in explicit month order with
    the identical operation order on both engines (Spark F.aggregate
    over the sorted struct array vs DuckDB list_reduce — the
    token_entropy sorted-run-fold discipline), so level and trend are
    bit-identical; forecasts are raw pass-through doubles.

    Scale shape: one scan collapses to the |months|-bounded frame
    (partial agg map-side); the fold runs over ONE collected array of
    that bounded frame inside a 1-row aggregate — the history length
    is reporting-grain (dozens of months), never data-scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        "o_totalprice",
    )
    monthly = orders.groupBy("m").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("x")
    )
    packed = monthly.agg(
        F.array_sort(F.collect_list(F.struct("m", "x"))).alias("h"),
        F.max("m").alias("last_m"),
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    fold = F.aggregate(
        F.slice(F.col("h"), 2, F.greatest(F.size("h") - 1, F.lit(0))),
        F.struct(
            F.element_at(F.col("h"), 1).getField("x").alias("level"),
            F.when(
                F.size("h") >= 2,
                F.element_at(F.col("h"), 2).getField("x")
                - F.element_at(F.col("h"), 1).getField("x"),
            )
            .otherwise(F.lit(0.0))
            .alias("trend"),
        ),
        lambda acc, e: F.struct(
            (
                F.lit(a) * e.getField("x")
                + F.lit(1.0 - a) * (acc.getField("level") + acc.getField("trend"))
            ).alias("level"),
            (
                F.lit(b)
                * (
                    F.lit(a) * e.getField("x")
                    + F.lit(1.0 - a)
                    * (acc.getField("level") + acc.getField("trend"))
                    - acc.getField("level")
                )
                + F.lit(1.0 - b) * acc.getField("trend")
            ).alias("trend"),
        ),
    )
    fitted = packed.filter(F.size("h") >= 1).select(
        "last_m", fold.alias("f")
    )
    hs = literal_df(spark, [(h,) for h in range(1, HOLT_HORIZON + 1)], "h int")
    return (
        fitted.crossJoin(F.broadcast(hs))
        .select(
            "h",
            F.date_format(F.add_months(F.col("last_m"), F.col("h")), "yyyy-MM")
            .alias("forecast_month"),
            F.col("f").getField("level").alias("level"),
            F.col("f").getField("trend").alias("trend"),
            (
                F.col("f").getField("level")
                + F.col("h").cast("double") * F.col("f").getField("trend")
            ).alias("forecast"),
        )
        .orderBy("h")
    )


def _build_sql_holt_forecast() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    # DuckDB 1.0 hazard (probed, not folklore): inside a list_reduce
    # STRUCT accumulator, later struct_pack fields see the already-
    # updated earlier fields ([a := acc.a + acc.b, b := acc.a - ...]
    # reads the NEW a in b's expression). A LIST accumulator evaluates
    # its element expressions against the unmodified acc, so the state
    # rides as [level, trend] DOUBLE[2]; elements ride as [x, 0.0] to
    # satisfy the shared accumulator/element type. Operation order
    # matches the Spark fold exactly, incl. the inline-recomputed
    # level_new inside trend_new.
    step = (
        f"[{a!r}::DOUBLE * x[1]"
        f" + {1.0 - a!r}::DOUBLE * (acc[1] + acc[2]),"
        f" {b!r}::DOUBLE * ({a!r}::DOUBLE * x[1]"
        f" + {1.0 - a!r}::DOUBLE * (acc[1] + acc[2]) - acc[1])"
        f" + {1.0 - b!r}::DOUBLE * acc[2]]"
    )
    return f"""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
    ), packed AS (
        SELECT list_sort(list(struct_pack(m := m, x := x))) AS h,
               MAX(m) AS last_m
        FROM monthly
    ), fitted AS (
        SELECT last_m,
               list_reduce(
                   list_prepend(
                       [h[1].x,
                        CASE WHEN len(h) >= 2 THEN h[2].x - h[1].x
                             ELSE 0.0::DOUBLE END],
                       list_transform(h[2:], e -> [e.x, 0.0::DOUBLE])),
                   (acc, x) -> {step}) AS f
        FROM packed
        WHERE len(h) >= 1
    ), hs(hh) AS (VALUES (1), (2), (3))
    SELECT CAST(hh AS INTEGER) AS h,
           strftime(last_m + to_months(hh), '%Y-%m') AS forecast_month,
           f[1] AS level, f[2] AS trend,
           f[1] + CAST(hh AS DOUBLE) * f[2] AS forecast
    FROM fitted CROSS JOIN hs
    ORDER BY h
"""


SQL_HOLT_FORECAST = _build_sql_holt_forecast()


# --- CUPED variance-reduced A/B readout (round 9) ----------------------------

CUPED_SPLIT_TS = "2024-01-16 00:00:00"  # pre-period | experiment period


def q_cuped_ab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13) variance-reduced A/B readout —
    ab_test_report's production upgrade: each user's PRE-period mean
    event value is the covariate X; the experiment metric Y is their
    post-period purchase revenue; Y_adj = Y − θ(X − X̄) with
    θ = cov(X,Y)/var(X) pooled across arms removes the X-explained
    variance, shrinking the standard error without touching the
    treatment effect. Reports both readouts side by side plus the
    variance-reduction percentage — the number that justifies running
    CUPED at all. Population: users with at least one pre-period
    event (X is undefined otherwise — the standard CUPED triage);
    users without post purchases carry Y = 0.

    Determinism: per-user X/Y and every pooled moment fold
    DECIMAL(38,6); θ, both z-scores, and the reduction are fixed
    double expressions written identically in both engines; degenerate
    cases (an empty arm, zero var(X)) yield NULLs via the
    event_rate_anomaly guard pattern.

    Scale shape: one scan splits pre/post by timestamp into ONE
    per-user conditional aggregate (X, Y in the same pass); arms come
    from the md5 coin; everything after the user-grain aggregate is a
    1-row conditional moment fold."""
    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    split = F.lit(CUPED_SPLIT_TS).cast("timestamp")
    pre = F.col("ts") < split
    post_purchase = (~pre) & (F.col("event_type") == F.lit("purchase"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, 1).otherwise(0)).alias("n_pre"),
            F.sum(
                F.when(pre, F.col("value")).otherwise(0.0).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("s_pre"),
            F.sum(
                F.when(post_purchase, F.col("value"))
                .otherwise(0.0)
                .cast("decimal(38,6)")
            )
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("n_pre") > 0)
        .select(
            (
                md5_hash64(
                    F.concat(F.lit("ab|"), F.col("user_id").cast("string"))
                )
                % 2
            ).alias("arm"),
            (F.col("s_pre") / F.col("n_pre").cast("double")).alias("x"),
            "y",
        )
    )
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    arm0 = F.col("arm") == 0
    arm1 = F.col("arm") == 1
    agg = per_user.agg(
        F.sum(arm0.cast("long")).cast("long").alias("n_0"),
        F.sum(arm1.cast("long")).cast("long").alias("n_1"),
        F.count(F.lit(1)).cast("long").alias("n"),
        d(F.col("x")).alias("sx"),
        d(F.col("x") * F.col("x")).alias("sxx"),
        d(F.col("y")).alias("sy"),
        d(F.col("x") * F.col("y")).alias("sxy"),
        d(F.when(arm0, F.col("y")).otherwise(0.0)).alias("sy_0"),
        d(F.when(arm1, F.col("y")).otherwise(0.0)).alias("sy_1"),
        d(F.when(arm0, F.col("y") * F.col("y")).otherwise(0.0)).alias(
            "syy_0"
        ),
        d(F.when(arm1, F.col("y") * F.col("y")).otherwise(0.0)).alias(
            "syy_1"
        ),
        d(F.when(arm0, F.col("x")).otherwise(0.0)).alias("sx_0"),
        d(F.when(arm1, F.col("x")).otherwise(0.0)).alias("sx_1"),
        d(F.when(arm0, F.col("x") * F.col("y")).otherwise(0.0)).alias(
            "sxy_0"
        ),
        d(F.when(arm1, F.col("x") * F.col("y")).otherwise(0.0)).alias(
            "sxy_1"
        ),
        d(F.when(arm0, F.col("x") * F.col("x")).otherwise(0.0)).alias(
            "sxx_0"
        ),
        d(F.when(arm1, F.col("x") * F.col("x")).otherwise(0.0)).alias(
            "sxx_1"
        ),
    )
    n, n0, n1 = F.col("n"), F.col("n_0"), F.col("n_1")
    xbar = F.col("sx") / n
    var_x = F.col("sxx") / n - xbar * xbar
    cov_xy = F.col("sxy") / n - xbar * (F.col("sy") / n)
    theta = cov_xy / var_x
    mean_y0 = F.col("sy_0") / n0
    mean_y1 = F.col("sy_1") / n1
    var_y0 = (F.col("syy_0") - F.col("sy_0") * F.col("sy_0") / n0) / (n0 - 1)
    var_y1 = (F.col("syy_1") - F.col("sy_1") * F.col("sy_1") / n1) / (n1 - 1)
    se_raw = F.sqrt(var_y0 / n0 + var_y1 / n1)
    diff_raw = mean_y1 - mean_y0
    # adjusted per-arm moments of y_adj = y - theta*(x - xbar):
    # mean_adj_a = mean_y_a - theta*(mean_x_a - xbar)
    mean_adj0 = mean_y0 - theta * (F.col("sx_0") / n0 - xbar)
    mean_adj1 = mean_y1 - theta * (F.col("sx_1") / n1 - xbar)
    # var of y_adj within arm: var_y + theta^2 var_x_a - 2 theta cov_a
    # (sample forms, identical expression order both engines)
    var_x0 = (F.col("sxx_0") - F.col("sx_0") * F.col("sx_0") / n0) / (n0 - 1)
    var_x1 = (F.col("sxx_1") - F.col("sx_1") * F.col("sx_1") / n1) / (n1 - 1)
    cov0 = (F.col("sxy_0") - F.col("sx_0") * F.col("sy_0") / n0) / (n0 - 1)
    cov1 = (F.col("sxy_1") - F.col("sx_1") * F.col("sy_1") / n1) / (n1 - 1)
    var_adj0 = var_y0 + theta * theta * var_x0 - F.lit(2.0) * theta * cov0
    var_adj1 = var_y1 + theta * theta * var_x1 - F.lit(2.0) * theta * cov1
    se_adj = F.sqrt(var_adj0 / n0 + var_adj1 / n1)
    diff_adj = mean_adj1 - mean_adj0
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    ok = (n0 > 1) & (n1 > 1) & (var_x > F.lit(0.0))
    return agg.select(
        "n_0",
        "n_1",
        F.when(ok, rnd(theta)).alias("theta"),
        F.when(ok, rnd(diff_raw)).alias("diff_raw"),
        F.when(ok & (se_raw > 0.0), rnd(diff_raw / se_raw)).alias("z_raw"),
        F.when(ok, rnd(diff_adj)).alias("diff_adj"),
        F.when(ok & (se_adj > 0.0), rnd(diff_adj / se_adj)).alias("z_adj"),
        F.when(
            ok & (se_raw > 0.0),
            rnd(
                (F.lit(1.0) - (se_adj * se_adj) / (se_raw * se_raw))
                * F.lit(100.0)
            ),
        ).alias("var_reduction_pct"),
    )


def _build_sql_cuped_ab_report() -> str:
    arm = (
        "((('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))"
        "::BIGINT) % 2)"
    )
    dec = lambda e: f"CAST(SUM(CAST({e} AS DECIMAL(38,6))) AS DOUBLE)"  # noqa: E731
    moments = f"""
        SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(COUNT(*) AS BIGINT) AS n,
            {dec('x')} AS sx, {dec('x * x')} AS sxx,
            {dec('y')} AS sy, {dec('x * y')} AS sxy,
            {dec("CASE WHEN arm = 0 THEN y ELSE 0.0 END")} AS sy_0,
            {dec("CASE WHEN arm = 1 THEN y ELSE 0.0 END")} AS sy_1,
            {dec("CASE WHEN arm = 0 THEN y * y ELSE 0.0 END")} AS syy_0,
            {dec("CASE WHEN arm = 1 THEN y * y ELSE 0.0 END")} AS syy_1,
            {dec("CASE WHEN arm = 0 THEN x ELSE 0.0 END")} AS sx_0,
            {dec("CASE WHEN arm = 1 THEN x ELSE 0.0 END")} AS sx_1,
            {dec("CASE WHEN arm = 0 THEN x * y ELSE 0.0 END")} AS sxy_0,
            {dec("CASE WHEN arm = 1 THEN x * y ELSE 0.0 END")} AS sxy_1,
            {dec("CASE WHEN arm = 0 THEN x * x ELSE 0.0 END")} AS sxx_0,
            {dec("CASE WHEN arm = 1 THEN x * x ELSE 0.0 END")} AS sxx_1
        FROM per_user"""
    # scalar expression fragments, written once and substituted so the
    # operation order is visibly identical to the Spark column exprs
    xbar = "(sx / n)"
    var_x = f"(sxx / n - {xbar} * {xbar})"
    cov_xy = f"(sxy / n - {xbar} * (sy / n))"
    theta = f"({cov_xy} / {var_x})"
    mean_y0, mean_y1 = "(sy_0 / n_0)", "(sy_1 / n_1)"
    var_y0 = "((syy_0 - sy_0 * sy_0 / n_0) / (n_0 - 1))"
    var_y1 = "((syy_1 - sy_1 * sy_1 / n_1) / (n_1 - 1))"
    se_raw = f"sqrt({var_y0} / n_0 + {var_y1} / n_1)"
    diff_raw = f"({mean_y1} - {mean_y0})"
    mean_adj0 = f"({mean_y0} - {theta} * (sx_0 / n_0 - {xbar}))"
    mean_adj1 = f"({mean_y1} - {theta} * (sx_1 / n_1 - {xbar}))"
    var_x0 = "((sxx_0 - sx_0 * sx_0 / n_0) / (n_0 - 1))"
    var_x1 = "((sxx_1 - sx_1 * sx_1 / n_1) / (n_1 - 1))"
    cov0 = "((sxy_0 - sx_0 * sy_0 / n_0) / (n_0 - 1))"
    cov1 = "((sxy_1 - sx_1 * sy_1 / n_1) / (n_1 - 1))"
    var_adj0 = (
        f"({var_y0} + {theta} * {theta} * {var_x0}"
        f" - 2.0::DOUBLE * {theta} * {cov0})"
    )
    var_adj1 = (
        f"({var_y1} + {theta} * {theta} * {var_x1}"
        f" - 2.0::DOUBLE * {theta} * {cov1})"
    )
    se_adj = f"sqrt({var_adj0} / n_0 + {var_adj1} / n_1)"
    diff_adj = f"({mean_adj1} - {mean_adj0})"
    ok = f"(n_0 > 1 AND n_1 > 1 AND {var_x} > 0.0)"
    r = lambda e: f"CAST(CAST({e} AS DECIMAL(38,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH per_user0 AS (
        SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                        THEN 1 ELSE 0 END) AS n_pre,
               CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                        THEN "value" ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_pre,
               CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT_TS}'
                             AND event_type = 'purchase'
                        THEN "value" ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ), per_user AS (
        SELECT ({arm}) AS arm,
               (s_pre / CAST(n_pre AS DOUBLE)) AS x, y
        FROM per_user0 WHERE n_pre > 0
    ), agg AS ({moments})
    SELECT n_0, n_1,
           CASE WHEN {ok} THEN {r(theta)} END AS theta,
           CASE WHEN {ok} THEN {r(diff_raw)} END AS diff_raw,
           CASE WHEN {ok} AND {se_raw} > 0.0
                THEN {r(f'{diff_raw} / {se_raw}')} END AS z_raw,
           CASE WHEN {ok} THEN {r(diff_adj)} END AS diff_adj,
           CASE WHEN {ok} AND {se_adj} > 0.0
                THEN {r(f'{diff_adj} / {se_adj}')} END AS z_adj,
           CASE WHEN {ok} AND {se_raw} > 0.0
                THEN {r(f'(1.0::DOUBLE - ({se_adj} * {se_adj}) / ({se_raw} * {se_raw})) * 100.0::DOUBLE')}
                END AS var_reduction_pct
    FROM agg
"""


SQL_CUPED_AB_REPORT = _build_sql_cuped_ab_report()


# --- quantile treatment effects (round 9) ------------------------------------

QTE_PCTS = (25, 50, 75, 90)


def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects for the md5-coin experiment:
    per-arm exact purchase-value quantiles (the length_percentiles
    rank definition — value at rank ceil(p/100·n) under (value,
    event_id) order) and their differences — the distributional
    readout ab_test_report's mean difference hides (a treatment that
    helps the median but hurts the tail shows ZERO mean effect and a
    textbook QTE signature).

    Determinism: ranks and targets are exact integers; quantile
    values are raw pass-through doubles picked by rank; each QTE is
    one subtraction of those doubles.

    Scale shape: the rank window partitions by arm (two partitions —
    the exact-quantile audit cost, same caveat as length_percentiles:
    production subsamples per arm, identical plan); everything after
    is a 2·|pcts|-row pivot."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    ).select(
        (
            md5_hash64(F.concat(F.lit("ab|"), F.col("user_id").cast("string")))
            % 2
        ).alias("arm"),
        "event_id",
        F.col("value").cast("double").alias("x"),
        # quantile semantics skip NULL measurements (round-14
        # null-sweep class)
    ).filter(F.col("x").isNotNull())
    w = W.partitionBy("arm")
    ranked = p.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("arm").orderBy("x", "event_id")
        ),
    ).withColumn("n", F.count(F.lit(1)).over(w))
    per_arm = ranked.groupBy("arm").agg(
        F.max("n").cast("long").alias("n"),
        *[
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.col("n") * F.lit(pct) / F.lit(100.0)),
                    F.col("x"),
                )
            ).alias(f"p{pct}")
            for pct in QTE_PCTS
        ],
    )
    a0 = per_arm.filter(F.col("arm") == 0).drop("arm")
    a1 = per_arm.filter(F.col("arm") == 1).drop("arm")
    stacked0 = a0.select(
        F.expr(
            "stack({n}, {args}) AS (pct, v_control)".format(
                n=len(QTE_PCTS),
                args=", ".join(f"{p}, p{p}" for p in QTE_PCTS),
            )
        ),
        F.col("n").alias("n_control"),
    )
    stacked1 = a1.select(
        F.expr(
            "stack({n}, {args}) AS (pct, v_treatment)".format(
                n=len(QTE_PCTS),
                args=", ".join(f"{p}, p{p}" for p in QTE_PCTS),
            )
        ),
        F.col("n").alias("n_treatment"),
    )
    return (
        stacked0.join(stacked1, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            "n_control",
            "n_treatment",
            "v_control",
            "v_treatment",
            (F.col("v_treatment") - F.col("v_control")).alias("qte"),
        )
        .orderBy("pct")
    )


def _build_sql_qte() -> str:
    arm = (
        "((('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))"
        "::BIGINT) % 2)"
    )
    pct_cols = ",\n               ".join(
        f"MAX(CASE WHEN rn = CAST(CEIL(n * {p} / 100.0) AS BIGINT)"
        f" THEN x END) AS p{p}"
        for p in QTE_PCTS
    )
    unions0 = "\n        UNION ALL ".join(
        f"SELECT {p} AS pct, n AS n_control, p{p} AS v_control"
        f" FROM arm0"
        for p in QTE_PCTS
    )
    unions1 = "\n        UNION ALL ".join(
        f"SELECT {p} AS pct, n AS n_treatment, p{p} AS v_treatment"
        f" FROM arm1"
        for p in QTE_PCTS
    )
    return f"""
    WITH p AS (
        SELECT ({arm}) AS arm, event_id, CAST("value" AS DOUBLE) AS x
        FROM events WHERE event_type = 'purchase' AND "value" IS NOT NULL
    ), ranked AS (
        SELECT arm, x,
               ROW_NUMBER() OVER (PARTITION BY arm
                                  ORDER BY x, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY arm) AS n
        FROM p
    ), per_arm AS (
        SELECT arm, CAST(MAX(n) AS BIGINT) AS n,
               {pct_cols}
        FROM ranked GROUP BY arm
    ), arm0 AS (SELECT * FROM per_arm WHERE arm = 0),
    arm1 AS (SELECT * FROM per_arm WHERE arm = 1),
    s0 AS ({unions0}), s1 AS ({unions1})
    SELECT CAST(pct AS INTEGER) AS pct, n_control, n_treatment,
           v_control, v_treatment,
           v_treatment - v_control AS qte
    FROM s0 JOIN s1 USING (pct)
    ORDER BY pct
"""


SQL_QUANTILE_TREATMENT_EFFECT = _build_sql_qte()


# --- Kaplan-Meier repeat-purchase survival (round 10) --------------------------


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-repeat-purchase: each
    first-time buyer enters at their first order date; the EVENT is
    the second order (duration = days between them); buyers with no
    second order are RIGHT-CENSORED at the global last order date —
    the estimator that handles censoring correctly where a naive
    average-gap readout silently drops every loyal-but-slow customer
    (Kaplan & Meier, JASA 1958; the standard churn/retention curve).
    Emits one row per event time: days, at-risk count, events,
    censorings at that time, and S(t) = Π(1 − d_i/n_i).

    Determinism: durations and at-risk counts are exact integer
    date/count arithmetic; the survival products are a SEQUENTIAL left
    fold over the time-sorted event array with identical operation
    order on both engines (Spark F.aggregate building the
    prefix-product array vs DuckDB list_reduce over a DOUBLE[] list
    accumulator — the holt_forecast discipline, list accumulator
    because of the probed DuckDB struct-accumulator aliasing bug) —
    bit-identical doubles with NO libm anywhere (no exp(Σln)
    shortcut).

    Scale shape (100 TB): orders collapses to one row per customer in
    a single window+aggregate pass (rank rides the custkey partition);
    the per-time frame is bounded by |distinct durations| (a few
    thousand days), so the at-risk cumulative window and the 1-row
    fold run on reporting-grain frames — the same
    window-above-aggregate shape as order_backlog, never over raw
    orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    per_cust = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
    )
    window_end = orders.agg(F.max("d").alias("d_end"))
    subj = per_cust.crossJoin(F.broadcast(window_end)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
        )
        .otherwise(F.datediff(F.col("d_end"), F.col("d1")))
        .cast("long")
        .alias("t"),
        F.col("d2").isNotNull().cast("long").alias("ev"),
    )
    per_time = subj.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = per_time.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_risk"),
    ).filter(F.col("d") > 0)
    packed = at_risk.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "c", "n_risk"))
        ).alias("rows")
    )
    folded = packed.select(
        "rows",
        F.aggregate(
            F.col("rows"),
            F.array(F.lit(1.0)),
            lambda acc, x: F.array_append(
                acc,
                F.element_at(acc, -1)
                * (
                    F.lit(1.0)
                    - x["d"].cast("double") / x["n_risk"].cast("double")
                ),
            ),
        ).alias("s"),
    )
    return (
        folded.select(
            F.posexplode("rows").alias("i", "r"), F.col("s")
        )
        .select(
            F.col("r.t").alias("t_days"),
            F.col("r.n_risk").alias("n_risk"),
            F.col("r.d").alias("d_events"),
            F.col("r.c").alias("c_censored"),
            F.element_at(F.col("s"), F.col("i") + 2).alias("survival"),
        )
        .orderBy("t_days")
    )


SQL_SURVIVAL_CURVE = """
    WITH ranked AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY CAST(o_orderdate AS DATE),
                                           o_orderkey) AS rn
        FROM orders
    ), per_cust AS (
        SELECT o_custkey,
               MAX(CASE WHEN rn = 1 THEN d END) AS d1,
               MAX(CASE WHEN rn = 2 THEN d END) AS d2
        FROM ranked WHERE rn <= 2 GROUP BY o_custkey
    ), wend AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS d_end FROM orders
    ), subj AS (
        SELECT CASE WHEN d2 IS NOT NULL
                    THEN date_diff('day', d1, d2)
                    ELSE date_diff('day', d1, d_end) END AS t,
               CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_cust CROSS JOIN wend
    ), per_time AS (
        SELECT CAST(t AS BIGINT) AS t,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY 1
    ), at_risk AS (
        SELECT t, d, c,
               CAST(SUM(d + c) OVER ()
                    - COALESCE(SUM(d + c) OVER (
                          ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM per_time
    ), packed AS (
        SELECT list_sort(list(struct_pack(
                   t := t, d := d, c := c, n_risk := n_risk))) AS rows
        FROM at_risk WHERE d > 0
    ), folded AS (
        -- DOUBLE[] list accumulator (holt_forecast's probed DuckDB
        -- struct-accumulator aliasing workaround): prefix survival
        -- products in explicit time order
        SELECT rows,
               list_reduce(
                   list_prepend([1.0::DOUBLE],
                       list_transform(rows, e ->
                           [CAST(e.d AS DOUBLE), CAST(e.n_risk AS DOUBLE)])),
                   (acc, x) -> list_append(acc, acc[-1] * (1.0 - x[1] / x[2]))
               ) AS s
        FROM packed
    )
    SELECT rows[i].t AS t_days,
           rows[i].n_risk AS n_risk,
           rows[i].d AS d_events,
           rows[i].c AS c_censored,
           s[i + 1] AS survival
    FROM folded, unnest(generate_series(1, len(rows))) AS u(i)
    ORDER BY t_days
"""


# --- EWMA control chart over daily event counts (round 10) ---------------------

EWMA_ALPHA = 0.2
EWMA_POISSON_Z = 3.0


def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart per event type over daily counts: the
    forecast for day i is the exponentially-weighted moving average of
    days 1..i−1 (α = 0.2, init = day 1's count), and a day is flagged
    when |n_i − ewma| exceeds 3·sqrt(ewma) — the Poisson c-chart band
    (σ ≈ sqrt(mean) for counts; Roberts, Technometrics 1959). The
    one-sided complement to event_rate_anomaly's global z-score: EWMA
    adapts to drifting baselines, the z-score does not.

    Determinism: daily counts are exact ints; the EWMA recurrence is a
    sequential left fold over the day-sorted array with identical
    operation order on both engines (list accumulator — the
    holt_forecast/survival_curve discipline); sqrt is IEEE-exact; the
    flag compares identically-derived doubles.

    Scale shape (100 TB): one scan collapses to the |types|×|days|
    frame map-side; each type's fold runs over its bounded day array
    inside a |types|-row aggregate — reporting grain, never
    data-scale."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("rows")
    )
    # prefix EWMA list: s[1] = x1; s[i] = a*x_i + (1-a)*s[i-1]
    folded = packed.select(
        "event_type",
        "rows",
        F.aggregate(
            F.expr("slice(rows, 2, greatest(size(rows) - 1, 0))"),
            F.array(F.element_at(F.col("rows"), 1)["n"].cast("double")),
            lambda acc, x: F.array_append(
                acc,
                F.lit(EWMA_ALPHA) * x["n"].cast("double")
                + F.lit(1.0 - EWMA_ALPHA) * F.element_at(acc, -1),
            ),
        ).alias("s"),
    )
    exploded = folded.select(
        "event_type",
        F.posexplode("rows").alias("i", "r"),
        F.col("s"),
    ).filter(F.col("i") >= 1)
    forecast = F.element_at(F.col("s"), F.col("i"))  # ewma of days 1..i
    resid = F.col("r.n").cast("double") - forecast
    band = F.lit(EWMA_POISSON_Z) * F.sqrt(forecast)
    return exploded.select(
        "event_type",
        F.date_format(F.col("r.day"), "yyyy-MM-dd").alias("day"),
        F.col("r.n").alias("n"),
        forecast.alias("ewma_forecast"),
        resid.alias("resid"),
        (F.abs(resid) > band).alias("flagged"),
    ).orderBy("event_type", "day")


SQL_EWMA_ANOMALY = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), packed AS (
        SELECT event_type,
               list_sort(list(struct_pack(day := day, n := n))) AS rows
        FROM daily GROUP BY event_type
    ), folded AS (
        SELECT event_type, rows,
               list_reduce(
                   list_prepend([CAST(rows[1].n AS DOUBLE)],
                       list_transform(rows[2:],
                                      e -> [CAST(e.n AS DOUBLE)])),
                   (acc, x) -> list_append(acc,
                       {EWMA_ALPHA!r} * x[1]
                       + {1.0 - EWMA_ALPHA!r} * acc[-1])
               ) AS s
        FROM packed
    )
    SELECT event_type,
           strftime(rows[i].day, '%Y-%m-%d') AS day,
           rows[i].n AS n,
           s[i - 1] AS ewma_forecast,
           CAST(rows[i].n AS DOUBLE) - s[i - 1] AS resid,
           ABS(CAST(rows[i].n AS DOUBLE) - s[i - 1])
               > {EWMA_POISSON_Z!r} * SQRT(s[i - 1]) AS flagged
    FROM folded, unnest(generate_series(2, len(rows))) AS u(i)
    ORDER BY event_type, day
"""


# --- additive seasonal decomposition (round 10) ---------------------------------

SEAS_MA = 13  # centered moving-average span (months), odd so no half-weights


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of monthly revenue:
    trend = 13-month centered moving average (NULL where the window is
    incomplete), detrended = revenue − trend, seasonal = month-of-year
    mean of the detrended values, residual = detrended − seasonal —
    the decomposition (Macaulay/Census-method lineage) every
    seasonality dashboard draws, where seasonality_profile shows only
    the raw heatmap and holt_forecast only the level/trend. The odd
    13-month span avoids the 2×12 half-weight endpoints; documented
    simplification.

    Determinism (round-12 revision — the sf1.0 sweep fired two latent
    classes here): monthly revenue and its 13-month window sum are
    exact decimals RE-ROUNDED TO SCALE 4 before any double cast (the
    dsum4 rule: the window sum's scale-6 units cross 2^53 at sf1.0,
    where DuckDB's int128→double path mis-rounds); the seasonal mean
    is computed as ONE exact-decimal expression
    (13·Σrev4 − Σsum13_4) / (13n) rather than re-decimalizing the
    detrended DOUBLES — at 1e8 magnitude a double's ulp is 6e-8, so a
    6dp re-entry lands within half-ulp of a decimal midpoint for ~1%
    of values and the engines split (Spark rounds the shortest repr,
    DuckDB the exact binary — BASELINE.md round-12 note). detrended
    and residual are single subtractions of identically-derived
    doubles.

    Scale shape (100 TB): one scan collapses to the |months| frame
    map-side; every window (centered MA, month-of-year means via a
    12-row broadcast join-back) runs on that bounded reporting frame
    — the documented tiny-frame unpartitioned-window class."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        "o_totalprice",
    )
    monthly = orders.groupBy("m").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 4
        ).alias("rev4")
    )
    half = (SEAS_MA - 1) // 2
    w_ma = Window.orderBy("m").rowsBetween(-half, half)
    framed = monthly.select(
        "m",
        "rev4",
        F.col("rev4").cast("double").alias("revenue"),
        F.when(
            F.count(F.lit(1)).over(w_ma) == SEAS_MA,
            F.round(F.sum("rev4").over(w_ma), 4),
        ).alias("sum13_4"),
    ).select(
        "m",
        "rev4",
        "revenue",
        "sum13_4",
        (F.col("sum13_4").cast("double") / F.lit(float(SEAS_MA))).alias(
            "trend"
        ),
    ).withColumn("detrended", F.col("revenue") - F.col("trend"))
    seasonal = (
        framed.filter(F.col("sum13_4").isNotNull())
        .groupBy(F.month("m").alias("moy"))
        .agg(
            (
                (
                    F.lit(SEAS_MA) * F.sum("rev4") - F.sum("sum13_4")
                ).cast("double")
                / (
                    F.lit(float(SEAS_MA))
                    * F.count(F.lit(1)).cast("double")
                )
            ).alias("seasonal")
        )
    )
    return (
        framed.join(
            F.broadcast(seasonal), F.month("m") == F.col("moy"), "left"
        )
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "revenue",
            "trend",
            "detrended",
            "seasonal",
            (F.col("detrended") - F.col("seasonal")).alias("residual"),
        )
        .orderBy("month")
    )


SQL_SEASONAL_DECOMPOSE = f"""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4) AS rev4
        FROM orders GROUP BY 1
    ), framed AS (
        SELECT m, rev4,
               CAST(rev4 AS DOUBLE) AS revenue,
               CASE WHEN COUNT(*) OVER w = {SEAS_MA}
                    THEN ROUND(SUM(rev4) OVER w, 4)
               END AS sum13_4
        FROM monthly
        WINDOW w AS (ORDER BY m ROWS BETWEEN {(SEAS_MA - 1) // 2} PRECEDING
                                         AND {(SEAS_MA - 1) // 2} FOLLOWING)
    ), det AS (
        SELECT m, rev4, revenue, sum13_4,
               CAST(sum13_4 AS DOUBLE) / {float(SEAS_MA)!r} AS trend,
               revenue - CAST(sum13_4 AS DOUBLE) / {float(SEAS_MA)!r}
                   AS detrended
        FROM framed
    ), seasonal AS (
        SELECT month(m) AS moy,
               CAST({SEAS_MA} * SUM(rev4) - SUM(sum13_4) AS DOUBLE)
                   / ({float(SEAS_MA)!r} * CAST(COUNT(*) AS DOUBLE))
                   AS seasonal
        FROM det WHERE sum13_4 IS NOT NULL GROUP BY 1
    )
    SELECT strftime(d.m, '%Y-%m') AS month,
           d.revenue, d.trend, d.detrended, s.seasonal,
           d.detrended - s.seasonal AS residual
    FROM det d LEFT JOIN seasonal s ON month(d.m) = s.moy
    ORDER BY month
"""


# --- exponential time-decay customer value (round 10) ----------------------------

DECAY_HALF_LIFE_DAYS = 180.0
DECAY_ANCHOR = "2002-01-01"  # the RFM reporting anchor
# 0.5^(r/180) for r in 0..179 — Python literals shared by both engines
DECAY_FRAC: list[float] = [
    0.5 ** (r / DECAY_HALF_LIFE_DAYS) for r in range(int(DECAY_HALF_LIFE_DAYS))
]


def q_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted revenue per market segment: each order
    contributes price · 0.5^(age_days/180) at the fixed reporting
    anchor — the exponential-decay customer-value weighting CRM
    scoring uses where ltv_curve reports undecayed history and
    rfm_segments only quartiles recency. Reports raw vs decayed
    revenue and the decay ratio per segment.

    Determinism: age is exact integer datediff; each pow(0.5, age/h)
    round-trips DECIMAL(38,6) immediately (the temperature_mix libm
    contract); the weighted contribution re-enters DECIMAL(38,6)
    before the segment sum, so accumulation order cannot drift; ratios
    are single divisions.

    Scale shape (100 TB): orders joins the customer dimension on
    custkey (AQE SMJ) and collapses map-side to |segments| rows —
    one scan, one bounded aggregate, no windows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    age = F.datediff(
        F.lit(DECAY_ANCHOR).cast("date"), F.to_date("o_orderdate")
    )
    # NO query-time pow: 0.5^(age/180) factors as 2^-(age div 180)
    # (an EXACT power of two via integer shiftleft + one exact
    # division) times 0.5^(r/180) for r = age mod 180, whose 180
    # possible values are PYTHON-COMPUTED literals shared verbatim
    # with the oracle (the BENFORD_SHARES rule). Registration probing
    # caught BOTH weaker forms: a w*price double hit a .xxxxxx5
    # decimal boundary (corpus_report class), and query-time pow()
    # itself diverged across libms at a 6dp midpoint among the ~2500
    # distinct day ages. The weight double is now bit-identical by
    # construction; it enters DECIMAL(9,6) once and multiplies the
    # DECIMAL(12,2) price in exact decimal.
    q_halves = F.floor(age / F.lit(int(DECAY_HALF_LIFE_DAYS))).cast("int")
    r_days = age % F.lit(int(DECAY_HALF_LIFE_DAYS))
    frac = F.element_at(
        F.array(*[F.lit(v) for v in DECAY_FRAC]), r_days.cast("int") + 1
    )
    w_dec = (
        frac
        / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), q_halves) AS DOUBLE)")
    ).cast("decimal(9,6)")
    joined = (
        orders.join(cust, "o_custkey")
        .withColumn("q_halves", q_halves)
        .select(
            "c_mktsegment",
            "o_totalprice",
            (w_dec * F.col("o_totalprice").cast("decimal(12,2)")).alias(
                "wv"
            ),
        )
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # same scale-4 re-round as revenue_decayed below: the
            # per-segment whole-history total crosses the scale-6 2^53
            # line at sf1.0 (round-11 exposure audit)
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 4)
            .cast("double")
            .alias("revenue_raw"),
            # scale-4 re-round BEFORE the double cast: the scale-8 sum's
            # integer units exceed 2^53, where DuckDB's int128-decimal ->
            # double goes through TWO roundings (int->double, then /10^8)
            # while Spark's BigDecimal rounds once — a real 1-ulp
            # cross-engine divergence this wave's sf0.1 probe caught. At
            # scale 4 the units fit in 2^53, so both engines round once.
            F.sum("wv").cast("decimal(38,4)").cast("double")
            .alias("revenue_decayed"),
        )
        .withColumn(
            "decay_ratio",
            F.try_divide(F.col("revenue_decayed"), F.col("revenue_raw")),
        )
        .orderBy("c_mktsegment")
    )


SQL_DECAYED_REVENUE_TPL = f"""
    WITH aged AS (
        SELECT c_mktsegment, o_totalprice,
               date_diff('day', CAST(o_orderdate AS DATE),
                         DATE '{DECAY_ANCHOR}') AS age
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), joined AS (
        SELECT c_mktsegment, o_totalprice,
               CAST(({{frac_list}})[CAST(age % 180 AS INTEGER) + 1]
                    / CAST((CAST(1 AS BIGINT)
                            << CAST(age // 180 AS INTEGER)) AS DOUBLE)
                    AS DECIMAL(9,6))
               * CAST(o_totalprice AS DECIMAL(12,2)) AS wv
        FROM aged
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 4) AS DOUBLE)
               AS revenue_raw,
           -- explicit round(): DuckDB's decimal->decimal CAST truncates
           -- where Spark's rounds HALF_UP
           CAST(CAST(round(SUM(wv), 4) AS DECIMAL(38,4)) AS DOUBLE)
               AS revenue_decayed,
           CAST(CAST(round(SUM(wv), 4) AS DECIMAL(38,4)) AS DOUBLE)
               / NULLIF(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))),
                                   4) AS DOUBLE), 0.0) AS decay_ratio
    FROM joined
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


SQL_DECAYED_REVENUE = SQL_DECAYED_REVENUE_TPL.format(
    frac_list="[" + ", ".join(repr(v) for v in DECAY_FRAC) + "]"
)


# --- time-ordered dataset split + deterministic bandit readout (round 11) ----

TEMPORAL_TRAIN_PCT = 0.8
TEMPORAL_VAL_PCT = 0.9  # train < 0.8 <= val < 0.9 <= test


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered train/val/test holdout per event type — the split
    a forecasting or sequence-model pipeline needs where the hash
    split (dataset_split) would leak the future into training: the
    FIRST 80% of each type's events by time go to train, the next 10%
    to val, the last 10% to test. Report per (event_type, split):
    count and the time range it covers — the artifact a reviewer
    checks for boundary sanity before a temporal eval is trusted.

    Determinism: the order is the (ts, event_id) total order; split
    boundaries are exact integer rank comparisons against floor(n·p)
    (no float assignment per row); min/max timestamps are exact.

    Scale shape (100 TB): ONE rank window partitioned by event_type
    (the exact-percentile cost class interp_quantiles already pays —
    per-type, not global), one |types|-keyed count join via window
    (count over the same partition, no second scan), then a
    |types|×3-bounded aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts"
    )
    w_rank = W.partitionBy("event_type").orderBy("ts", "event_id")
    w_type = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "ts",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_type).alias("n"),
    )
    train_cut = F.floor(
        F.col("n").cast("double") * F.lit(TEMPORAL_TRAIN_PCT)
    ).cast("long")
    val_cut = F.floor(
        F.col("n").cast("double") * F.lit(TEMPORAL_VAL_PCT)
    ).cast("long")
    assigned = ranked.select(
        "event_type",
        "ts",
        F.when(F.col("rn") <= train_cut, F.lit(0))
        .when(F.col("rn") <= val_cut, F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
        .alias("split_id"),
    )
    return (
        assigned.groupBy("event_type", "split_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
        )
        .select(
            "event_type",
            "split_id",
            F.when(F.col("split_id") == 0, F.lit("train"))
            .when(F.col("split_id") == 1, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
            "n_events",
            "ts_min",
            "ts_max",
        )
        .orderBy("event_type", "split_id")
    )


SQL_TEMPORAL_SPLIT = f"""
    WITH ranked AS (
        SELECT event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), assigned AS (
        SELECT event_type, ts,
               CAST(CASE
                   WHEN rn <= CAST(FLOOR(CAST(n AS DOUBLE)
                                         * {TEMPORAL_TRAIN_PCT!r}) AS BIGINT)
                       THEN 0
                   WHEN rn <= CAST(FLOOR(CAST(n AS DOUBLE)
                                         * {TEMPORAL_VAL_PCT!r}) AS BIGINT)
                       THEN 1
                   ELSE 2
               END AS INTEGER) AS split_id
        FROM ranked
    )
    SELECT event_type, split_id,
           CASE split_id WHEN 0 THEN 'train'
                         WHEN 1 THEN 'val'
                         ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS ts_min,
           MAX(ts) AS ts_max
    FROM assigned
    GROUP BY event_type, split_id
    ORDER BY event_type, split_id
"""


BANDIT_ARMS = 3
BANDIT_CONV_THRESHOLD = 50.0  # purchase value at/above this converts


def q_bandit_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UCB1 bandit readout (Auer et al., ML 2002) over
    purchase events: users hash into BANDIT_ARMS arms (the ab_test
    seeded-md5 discipline at 3 arms), each arm's reward is its binary
    conversion rate (value ≥ threshold), and the report scores each
    arm mean + sqrt(2·ln N / n) — the allocation rule an
    experimentation platform runs BETWEEN batches. Thompson sampling
    is the randomized cousin; UCB1 is its deterministic, oracle-
    checkable counterpart.

    Determinism: counts are exact ints; the mean is one int/int double
    division; ln and sqrt are single libm calls on identical exact
    inputs (the sigmoid precedent, calibration_bins); chosen_arm is an
    integer-tied rank over the |arms|-bounded frame.

    Scale shape (100 TB): single scan, ONE conditional |arms|-row
    map-side-combinable aggregate, then scalar math and a 3-row
    window."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    )
    arm = (
        md5_hash64(
            F.concat(F.lit("bandit|"), F.col("user_id").cast("string"))
        )
        % BANDIT_ARMS
    )
    per_arm = (
        ev.select(
            arm.alias("arm"),
            (F.col("value") >= F.lit(BANDIT_CONV_THRESHOLD))
            .cast("long")
            .alias("conv"),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    return ucb_report(per_arm)


def ucb_report(per_arm: DataFrame) -> DataFrame:
    """UCB1 scoring over an (arm, n, n_conv) count frame — the SHARED
    report builder: q_bandit_ucb feeds it the one-shot batch counts,
    the streaming twin (streaming/pipelines.bandit_ucb_batch) feeds it
    the cumulative counts at each micro-batch, so stream and batch can
    never drift."""
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    staged = per_arm.select(
        "arm",
        "n",
        "n_conv",
        F.sum("n").over(w_all).alias("n_total"),
    )
    mean = F.col("n_conv").cast("double") / F.col("n").cast("double")
    ucb = mean + F.sqrt(
        F.lit(2.0)
        * F.log(F.col("n_total").cast("double"))
        / F.col("n").cast("double")
    )
    scored = staged.select(
        "arm",
        "n",
        "n_conv",
        mean.alias("conv_rate"),
        ucb.alias("ucb_score"),
    )
    w_pick = W.orderBy(F.col("ucb_score").desc(), F.col("arm").asc())
    return (
        scored.withColumn(
            "chosen", F.row_number().over(w_pick) == F.lit(1)
        )
        .orderBy("arm")
    )


_SQL_BANDIT_ARM = (
    "((('0x' || substr(md5('bandit|' || CAST(user_id AS VARCHAR)), 1, 15))"
    f"::BIGINT) % {BANDIT_ARMS})"
)

SQL_BANDIT_UCB = f"""
    WITH per_arm AS (
        SELECT {_SQL_BANDIT_ARM} AS arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value >= {BANDIT_CONV_THRESHOLD!r}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
    ), staged AS (
        SELECT arm, n, n_conv, SUM(n) OVER () AS n_total FROM per_arm
    ), scored AS (
        SELECT arm, n, n_conv,
               CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE) AS conv_rate,
               CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE)
               + SQRT(2.0 * LN(CAST(n_total AS DOUBLE))
                      / CAST(n AS DOUBLE)) AS ucb_score
        FROM staged
    )
    SELECT arm, n, n_conv, conv_rate, ucb_score,
           ROW_NUMBER() OVER (ORDER BY ucb_score DESC, arm ASC) = 1
               AS chosen
    FROM scored
    ORDER BY arm
"""


# --- rolling-origin forecast backtest (round 11) -----------------------------

BT_CUTOFFS = 6  # one-step-ahead evaluations at the last 6 months


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the Holt forecaster — the evaluation
    harness holt_forecast itself cannot provide: for each of the last
    BT_CUTOFFS months, fit Holt on the STRICT prefix of monthly
    revenue history and forecast that month one step ahead; report
    actual vs forecast and the absolute percentage error. The MAPE a
    planning team reads before trusting the live forecast.

    Determinism: the per-cutoff fit is the IDENTICAL sequential
    decimal-exact fold as holt_forecast (same init, same operation
    order, same DuckDB DOUBLE[2]-list accumulator workaround for the
    struct-aliasing bug documented there), run over a prefix slice of
    the one sorted month array; APE is one double expression.

    Scale shape (100 TB): one scan collapses to the |months|-bounded
    frame; the 6 backtest rows explode from a broadcast cutoff list;
    each fold runs over a bounded prefix array inside a 6-row frame —
    the history length is reporting-grain, never data-scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        "o_totalprice",
    )
    monthly = orders.groupBy("m").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("x")
    )
    packed = monthly.agg(
        F.array_sort(F.collect_list(F.struct("m", "x"))).alias("h")
    )
    offs = literal_df(spark, [(o,) for o in range(1, BT_CUTOFFS + 1)], "o int")
    rows = (
        packed.crossJoin(F.broadcast(offs))
        .select(
            (F.size("h") - F.lit(BT_CUTOFFS) + F.col("o")).alias("p"),
            "h",
        )
        .filter(F.col("p") >= 3)
    )
    hist = F.slice(F.col("h"), 1, F.col("p") - 1)
    a, b = HOLT_ALPHA, HOLT_BETA
    fold = F.aggregate(
        F.slice(hist, 2, F.greatest(F.col("p") - 2, F.lit(0))),
        F.struct(
            F.element_at(hist, 1).getField("x").alias("level"),
            (
                F.element_at(hist, 2).getField("x")
                - F.element_at(hist, 1).getField("x")
            ).alias("trend"),
        ),
        lambda acc, e: F.struct(
            (
                F.lit(a) * e.getField("x")
                + F.lit(1.0 - a)
                * (acc.getField("level") + acc.getField("trend"))
            ).alias("level"),
            (
                F.lit(b)
                * (
                    F.lit(a) * e.getField("x")
                    + F.lit(1.0 - a)
                    * (acc.getField("level") + acc.getField("trend"))
                    - acc.getField("level")
                )
                + F.lit(1.0 - b) * acc.getField("trend")
            ).alias("trend"),
        ),
    )
    scored = rows.select(
        F.date_format(
            F.element_at(F.col("h"), F.col("p")).getField("m"), "yyyy-MM"
        ).alias("target_month"),
        F.element_at(F.col("h"), F.col("p")).getField("x").alias("actual"),
        (fold.getField("level") + fold.getField("trend")).alias("forecast"),
    )
    return scored.select(
        "target_month",
        "actual",
        "forecast",
        F.try_divide(
            F.abs(F.col("forecast") - F.col("actual")), F.col("actual")
        ).alias("ape"),
    ).orderBy("target_month")


def _build_sql_forecast_backtest() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    # DOUBLE[2]-list accumulator — see _build_sql_holt_forecast's note
    # on DuckDB's struct-accumulator aliasing bug.
    step = (
        f"[{a!r}::DOUBLE * x[1]"
        f" + {1.0 - a!r}::DOUBLE * (acc[1] + acc[2]),"
        f" {b!r}::DOUBLE * ({a!r}::DOUBLE * x[1]"
        f" + {1.0 - a!r}::DOUBLE * (acc[1] + acc[2]) - acc[1])"
        f" + {1.0 - b!r}::DOUBLE * acc[2]]"
    )
    return f"""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
    ), packed AS (
        SELECT list_sort(list(struct_pack(m := m, x := x))) AS h
        FROM monthly
    ), offs(o) AS (VALUES (1), (2), (3), (4), (5), (6)),
    rows_ AS (
        SELECT len(h) - {BT_CUTOFFS} + o AS p, h
        FROM packed CROSS JOIN offs
        WHERE len(h) - {BT_CUTOFFS} + o >= 3
    ), fitted AS (
        SELECT p, h,
               list_reduce(
                   list_prepend(
                       [h[1].x, h[2].x - h[1].x],
                       list_transform(h[2:p-1], e -> [e.x, 0.0::DOUBLE])),
                   (acc, x) -> {step}) AS f
        FROM rows_
    )
    SELECT strftime(h[p].m, '%Y-%m') AS target_month,
           h[p].x AS actual,
           f[1] + f[2] AS forecast,
           ABS(f[1] + f[2] - h[p].x) / NULLIF(h[p].x, 0.0) AS ape
    FROM fitted
    ORDER BY target_month
"""


SQL_FORECAST_BACKTEST = _build_sql_forecast_backtest()


# --- user-grain permutation test (round 11) -----------------------------------

PERM_B = 64  # permutation replicates; p-value resolution 1/(B+1)


def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style permutation test for the ab_test_report experiment:
    the observed arm split (the same seeded `ab|user` coin) is compared
    against PERM_B re-randomizations of the USER-grain assignment
    (`perm|b|user` coins), and the p-value is the Monte-Carlo rank of
    |observed mean diff| among the permuted |mean diffs| with the
    +1 smoothing of Phipson & Smyth 2010: p = (1 + #{|d_b| >= |d_obs|})
    / (B + 1). The distribution-free companion to the Welch z of
    ab_test_report — the readout a reviewer asks for when normality of
    per-user purchase value is in doubt.

    Determinism: every coin is an md5 expression both engines compute
    identically; per-seed sums are conditional DECIMAL(38,6)
    aggregates (order-independent); each mean diff is ONE fixed double
    expression rounded through decimal(38,6) BEFORE the >= comparison,
    so the rank count is integer-exact cross-engine.

    Scale shape (100 TB): randomization is at USER grain, so the plan
    pre-aggregates to one (n_events, Σvalue) row per user FIRST — a
    standard partial-agg shuffle of |users| keys — and only then
    explodes ×B and evaluates the B md5 coins per USER instead of per
    EVENT. The r17 rewrite: the prior form evaluated 64 md5 coins per
    event map-side (no shuffle, but 64·|events| hashes — and on a
    single-row-group input layout all of it on ONE task); this form
    hashes 64·|users|, an events-per-user factor less compute, spread
    over the post-exchange parallelism, for one extra |users|-row
    exchange. The per-user decimal sums re-sum exactly (DECIMAL(38,6)
    is associative), so every reported value is bit-identical to the
    per-event form — oracle-verified at rewrite time."""
    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    )
    uid = F.col("user_id").cast("string")
    obs_arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731

    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sv"),
    )
    zero_sv = F.lit(0).cast(per_user.schema["sv"].dataType)

    def diff_of(frame, arm_col, keys):
        agg = frame.groupBy(*keys).agg(
            F.sum(F.when(arm_col == 0, F.col("n_ev")).otherwise(0))
            .cast("long")
            .alias("n_0"),
            F.sum(F.when(arm_col == 1, F.col("n_ev")).otherwise(0))
            .cast("long")
            .alias("n_1"),
            F.sum(F.when(arm_col == 0, F.col("sv")).otherwise(zero_sv))
            .cast("double")
            .alias("s_0"),
            F.sum(F.when(arm_col == 1, F.col("sv")).otherwise(zero_sv))
            .cast("double")
            .alias("s_1"),
        )
        return agg.select(
            *keys,
            "n_0",
            "n_1",
            F.when(
                (F.col("n_0") > 0) & (F.col("n_1") > 0),
                rnd(F.col("s_1") / F.col("n_1") - F.col("s_0") / F.col("n_0")),
            ).alias("diff"),
        )

    obs = diff_of(
        per_user.select(obs_arm.alias("arm"), "n_ev", "sv"),
        F.col("arm"),
        [],
    )

    seeded = per_user.select(
        F.explode(F.sequence(F.lit(0), F.lit(PERM_B - 1))).alias("b"),
        "user_id",
        "n_ev",
        "sv",
    ).select(
        "b",
        (
            md5_hash64(
                F.concat(
                    F.lit("perm|"), F.col("b").cast("string"), F.lit("|"), uid
                )
            )
            % 2
        ).alias("arm"),
        "n_ev",
        "sv",
    )
    perms = diff_of(seeded, F.col("arm"), ["b"])

    joined = perms.crossJoin(
        F.broadcast(
            obs.select(
                F.col("n_0").alias("obs_n_0"),
                F.col("n_1").alias("obs_n_1"),
                F.col("diff").alias("obs_diff"),
            )
        )
    )
    return joined.groupBy("obs_n_0", "obs_n_1", "obs_diff").agg(
        F.count(F.lit(1)).cast("long").alias("n_perms"),
        F.sum(
            F.when(
                F.abs(F.col("diff")) >= F.abs(F.col("obs_diff")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
    ).select(
        F.col("obs_n_0").alias("n_0"),
        F.col("obs_n_1").alias("n_1"),
        "obs_diff",
        "n_perms",
        "n_extreme",
        (
            (F.col("n_extreme") + F.lit(1)).cast("double")
            / (F.col("n_perms") + F.lit(1)).cast("double")
        ).alias("p_value"),
    )


_SQL_PERM_ARM = (
    "((('0x' || substr(md5('perm|' || CAST(b AS VARCHAR) || '|'"
    " || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % 2)"
)

SQL_PERMUTATION_TEST = f"""
    WITH p AS (
        SELECT user_id, "value" FROM events WHERE event_type = 'purchase'
    ), obs AS (
        SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS obs_n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS obs_n_1,
            CAST(CAST(
                CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                     AS DECIMAL(38,6))) AS DOUBLE)
                / NULLIF(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0)
                - CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                       AS DECIMAL(38,6))) AS DOUBLE)
                / NULLIF(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)
                AS DECIMAL(38,6)) AS DOUBLE) AS obs_diff
        FROM (SELECT {_SQL_AB_ARM} AS arm, "value" FROM p)
    ), perms AS (
        SELECT b,
            CAST(CAST(
                CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                     AS DECIMAL(38,6))) AS DOUBLE)
                / NULLIF(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0)
                - CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                       AS DECIMAL(38,6))) AS DOUBLE)
                / NULLIF(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0)
                AS DECIMAL(38,6)) AS DOUBLE) AS diff,
            SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS pn_0,
            SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS pn_1
        FROM (
            SELECT s.b AS b, {_SQL_PERM_ARM} AS arm, "value"
            FROM p CROSS JOIN (SELECT unnest(range({PERM_B})) AS b) s
        )
        GROUP BY b
    )
    SELECT obs_n_0 AS n_0, obs_n_1 AS n_1, obs_diff,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN pn_0 > 0 AND pn_1 > 0 AND obs_n_0 > 0
                          AND obs_n_1 > 0
                          AND abs(diff) >= abs(obs_diff)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST(SUM(CASE WHEN pn_0 > 0 AND pn_1 > 0 AND obs_n_0 > 0
                          AND obs_n_1 > 0
                          AND abs(diff) >= abs(obs_diff)
                     THEN 1 ELSE 0 END) + 1 AS DOUBLE)
               / (COUNT(*) + 1) AS p_value
    FROM perms CROSS JOIN obs
    GROUP BY obs_n_0, obs_n_1, obs_diff
"""


# --- Benjamini-Hochberg FDR across per-segment experiments (round 11) ----------

FDR_Z_SCALE = 1.702  # logistic approximation to the normal CDF


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control across per-segment experiment readouts:
    one Welch z per event_type (the ab_test_report statistic, sliced),
    a two-sided p via the logistic approximation of the normal CDF
    (Phi(x) ~ 1/(1+exp(-1.702 x)), Bowling et al. 2009 — closed-form
    and engine-portable where erf is not), then Benjamini-Hochberg
    step-up adjusted q-values (Benjamini & Hochberg 1995):
    q_i = min_{j>=i} p_(j) * m / j, capped at 1. The report every
    metrics platform needs the moment it tests more than one segment —
    per-segment z alone inflates the false-discovery rate m-fold.

    Determinism: per-segment moments are conditional DECIMAL(38,6)
    sums; z is ONE fixed double expression rounded to 6dp; p rounds to
    6dp immediately after the single exp() call (the tfidf ln-rounding
    contract: a 1-ulp libm divergence cannot survive the rounding away
    from midpoints); the BH running min operates on products of those
    rounded p's with exact int ratios. Degenerate segments (an empty
    arm, zero variance) carry NULL z/p and are EXCLUDED from m and the
    ranking, re-joined with NULL q and reject_05=FALSE (the nullable-
    BOOLEAN canon hazard group_sequential documents).

    Scale shape (100 TB): one scan collapses map-side to the
    |event_type| x 2 conditional-sum cells; ranking and the step-up
    running min are windows over that bounded frame (the theil_sen
    tiny-frame unpartitioned-window convention)."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    x = F.col("value")
    agg = ev.select(
        "event_type", arm.alias("arm"), x.alias("x")
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        d(F.when(F.col("arm") == 0, F.col("x")).otherwise(0.0)).alias("s_0"),
        d(F.when(F.col("arm") == 1, F.col("x")).otherwise(0.0)).alias("s_1"),
        d(
            F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_0"),
        d(
            F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_1"),
    )
    var0 = (F.col("ss_0") - F.col("s_0") * F.col("s_0") / F.col("n_0")) / (
        F.col("n_0") - 1
    )
    var1 = (F.col("ss_1") - F.col("s_1") * F.col("s_1") / F.col("n_1")) / (
        F.col("n_1") - 1
    )
    se = F.sqrt(var0 / F.col("n_0") + var1 / F.col("n_1"))
    z_raw = F.when(
        (F.col("n_0") > 1) & (F.col("n_1") > 1) & (se > F.lit(0.0)),
        (F.col("s_1") / F.col("n_1") - F.col("s_0") / F.col("n_0")) / se,
    )
    scored = agg.select(
        "event_type",
        "n_0",
        "n_1",
        rnd(z_raw).alias("z_score"),
    ).select(
        "event_type",
        "n_0",
        "n_1",
        "z_score",
        rnd(
            F.lit(2.0)
            / (
                F.lit(1.0)
                + F.exp(F.lit(FDR_Z_SCALE) * F.abs(F.col("z_score")))
            )
        ).alias("p_value"),
    )
    tested = scored.filter(F.col("p_value").isNotNull())
    w_rank = W.orderBy(F.col("p_value"), F.col("event_type"))
    w_all = W.partitionBy()
    ranked = tested.select(
        "event_type",
        "p_value",
        F.row_number().over(w_rank).alias("p_rank"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("m"),
    )
    w_step = W.orderBy(F.col("p_rank").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    rnd_q = ranked.select(
        "event_type",
        F.col("p_rank").cast("long").alias("p_rank"),
        rnd(
            F.least(
                F.lit(1.0),
                F.min(
                    F.col("p_value") * F.col("m") / F.col("p_rank")
                ).over(w_step),
            )
        ).alias("q_value"),
    )
    return (
        scored.join(rnd_q, "event_type", "left")
        .select(
            "event_type",
            "n_0",
            "n_1",
            "z_score",
            "p_value",
            "p_rank",
            "q_value",
            F.coalesce(
                F.col("q_value") <= F.lit(0.05), F.lit(False)
            ).alias("reject_05"),
        )
        .orderBy("event_type")
    )


SQL_FDR_BH = f"""
    WITH agg AS (
        SELECT event_type,
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_1
        FROM (SELECT event_type, {_SQL_AB_ARM} AS arm, "value" FROM events)
        GROUP BY event_type
    ), scored0 AS (
        SELECT event_type, n_0, n_1,
            CASE WHEN n_0 > 1 AND n_1 > 1 AND
                sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                     + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1) > 0.0
                THEN CAST(CAST(
                    (s_1 / n_1 - s_0 / n_0)
                    / sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                           + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS z_score
        FROM agg
    ), scored AS (
        SELECT event_type, n_0, n_1, z_score,
            CAST(CAST(2.0 / (1.0 + exp({FDR_Z_SCALE} * abs(z_score)))
                 AS DECIMAL(38,6)) AS DOUBLE) AS p_value
        FROM scored0
    ), ranked AS (
        SELECT event_type, p_value,
            ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS p_rank,
            CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM scored WHERE p_value IS NOT NULL
    ), stepped AS (
        SELECT event_type, CAST(p_rank AS BIGINT) AS p_rank,
            CAST(CAST(LEAST(1.0,
                MIN(p_value * m / p_rank) OVER (
                    ORDER BY p_rank DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                AS DECIMAL(38,6)) AS DOUBLE) AS q_value
        FROM ranked
    )
    SELECT s.event_type, s.n_0, s.n_1, s.z_score, s.p_value,
           t.p_rank, t.q_value,
           COALESCE(t.q_value <= 0.05, FALSE) AS reject_05
    FROM scored s LEFT JOIN stepped t ON s.event_type = t.event_type
    ORDER BY s.event_type
"""


# --- group-sequential experiment monitoring (round 11) --------------------------

GS_C_OBF = 2.24  # O'Brien-Fleming-shaped constant, two-sided alpha~0.05


def q_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring of the ab experiment (Pocock 1977 /
    O'Brien & Fleming 1979 lineage): the cumulative-through-day Welch z
    of purchase value against the OBF-SHAPED boundary
    GS_C_OBF / sqrt(information fraction) — wide early, narrowing to
    ~GS_C_OBF at full information. The daily peeking readout an
    experimentation platform shows INSTEAD of the fixed-horizon z
    (peeking at ab_test_report daily inflates alpha; the boundary is
    what makes daily looks legitimate). The fixed-constant boundary is
    the textbook OBF SHAPE — a production platform would calibrate C
    by alpha-spending; C is a literal here so both engines agree
    exactly.

    Determinism: per-day conditional moments are exact decimal cell
    sums; cumulative sums ride ordered windows over the bounded |days|
    frame; z and the boundary are fixed double expressions rounded to
    6dp (sqrt is IEEE-correctly-rounded on an identical int-ratio
    input); early degenerate days (an arm with n<2 or zero variance)
    yield NULL z and crossed=FALSE (a day without a valid test cannot
    cross; a nullable BOOLEAN would also hit the canon's None-vs-NaN
    dtype asymmetry — the driver hazard this FALSE convention avoids).

    Scale shape (100 TB): one scan collapses map-side to |days| cells;
    everything after is windows over that bounded calendar frame (the
    order_backlog convention). No per-event state: the cumulative
    moments ARE the sufficient statistic."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    )
    uid = F.col("user_id").cast("string")
    arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    cells = ev.select(
        F.to_date("ts").alias("d"), arm.alias("arm"), F.col("value").alias("x")
    ).groupBy("d").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("x"))
            .otherwise(0.0)
            .cast("decimal(38,6)")
        ).alias("s0"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("x"))
            .otherwise(0.0)
            .cast("decimal(38,6)")
        ).alias("s1"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("x") * F.col("x"))
            .otherwise(0.0)
            .cast("decimal(38,6)")
        ).alias("ss0"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("x") * F.col("x"))
            .otherwise(0.0)
            .cast("decimal(38,6)")
        ).alias("ss1"),
    )
    w_cum = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    cum = cells.select(
        "d",
        F.sum("n0").over(w_cum).cast("long").alias("cn0"),
        F.sum("n1").over(w_cum).cast("long").alias("cn1"),
        F.sum("s0").over(w_cum).cast("double").alias("cs0"),
        F.sum("s1").over(w_cum).cast("double").alias("cs1"),
        F.sum("ss0").over(w_cum).cast("double").alias("css0"),
        F.sum("ss1").over(w_cum).cast("double").alias("css1"),
        (F.sum("n0").over(w_all) + F.sum("n1").over(w_all))
        .cast("long")
        .alias("n_final"),
    )
    scored = gs_readout(cum)
    return scored.select(
        F.date_format("d", "yyyy-MM-dd").alias("event_date"),
        F.col("cn0").alias("n_cum_0"),
        F.col("cn1").alias("n_cum_1"),
        "z_cum",
        "info_frac",
        "boundary",
        "crossed",
    ).orderBy("event_date")


def gs_readout(cum: DataFrame) -> DataFrame:
    """z / OBF-boundary / crossed columns from cumulative moment
    columns (cn0, cn1, cs0, cs1, css0, css1, n_final) — the SHARED
    scoring core of q_group_sequential and the streaming twin
    (streaming/pipelines.gs_batch), so the two can never drift. The
    batch operator's n_final is the realized total (a retrospective
    view); the stream passes its PLANNED sample size — the live
    group-sequential convention."""
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    var0 = (F.col("css0") - F.col("cs0") * F.col("cs0") / F.col("cn0")) / (
        F.col("cn0") - 1
    )
    var1 = (F.col("css1") - F.col("cs1") * F.col("cs1") / F.col("cn1")) / (
        F.col("cn1") - 1
    )
    se = F.sqrt(var0 / F.col("cn0") + var1 / F.col("cn1"))
    z = F.when(
        (F.col("cn0") > 1) & (F.col("cn1") > 1) & (se > F.lit(0.0)),
        rnd(
            (F.col("cs1") / F.col("cn1") - F.col("cs0") / F.col("cn0")) / se
        ),
    )
    info = (F.col("cn0") + F.col("cn1")).cast("double") / F.col(
        "n_final"
    ).cast("double")
    boundary = rnd(F.lit(GS_C_OBF) / F.sqrt(info))
    return cum.select(
        "*",
        z.alias("z_cum"),
        info.alias("info_frac"),
        boundary.alias("boundary"),
        F.coalesce(F.abs(z) > boundary, F.lit(False)).alias("crossed"),
    )


SQL_GROUP_SEQUENTIAL = f"""
    WITH cells AS (
        SELECT CAST(ts AS DATE) AS d,
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                AS DECIMAL(38,6))) AS s0,
            SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                AS DECIMAL(38,6))) AS s1,
            SUM(CAST(CASE WHEN arm = 0 THEN "value" * "value" ELSE 0.0 END
                AS DECIMAL(38,6))) AS ss0,
            SUM(CAST(CASE WHEN arm = 1 THEN "value" * "value" ELSE 0.0 END
                AS DECIMAL(38,6))) AS ss1
        FROM (SELECT ts, {_SQL_AB_ARM} AS arm, "value"
              FROM events WHERE event_type = 'purchase')
        GROUP BY 1
    ), cum AS (
        SELECT d,
            CAST(SUM(n0) OVER w AS BIGINT) AS cn0,
            CAST(SUM(n1) OVER w AS BIGINT) AS cn1,
            CAST(SUM(s0) OVER w AS DOUBLE) AS cs0,
            CAST(SUM(s1) OVER w AS DOUBLE) AS cs1,
            CAST(SUM(ss0) OVER w AS DOUBLE) AS css0,
            CAST(SUM(ss1) OVER w AS DOUBLE) AS css1,
            CAST(SUM(n0) OVER () + SUM(n1) OVER () AS BIGINT) AS n_final
        FROM cells
        WINDOW w AS (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS event_date,
           cn0 AS n_cum_0, cn1 AS n_cum_1,
           CASE WHEN cn0 > 1 AND cn1 > 1 AND
                sqrt((css0 - cs0 * cs0 / cn0) / (cn0 - 1) / cn0
                     + (css1 - cs1 * cs1 / cn1) / (cn1 - 1) / cn1) > 0.0
                THEN CAST(CAST(
                    (cs1 / cn1 - cs0 / cn0)
                    / sqrt((css0 - cs0 * cs0 / cn0) / (cn0 - 1) / cn0
                           + (css1 - cs1 * cs1 / cn1) / (cn1 - 1) / cn1)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS z_cum,
           CAST(cn0 + cn1 AS DOUBLE) / CAST(n_final AS DOUBLE) AS info_frac,
           CAST(CAST({GS_C_OBF} / sqrt(CAST(cn0 + cn1 AS DOUBLE)
                / CAST(n_final AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
               AS boundary,
           COALESCE(CASE WHEN cn0 > 1 AND cn1 > 1 AND
                sqrt((css0 - cs0 * cs0 / cn0) / (cn0 - 1) / cn0
                     + (css1 - cs1 * cs1 / cn1) / (cn1 - 1) / cn1) > 0.0
                THEN abs(CAST(CAST(
                    (cs1 / cn1 - cs0 / cn0)
                    / sqrt((css0 - cs0 * cs0 / cn0) / (cn0 - 1) / cn0
                           + (css1 - cs1 * cs1 / cn1) / (cn1 - 1) / cn1)
                    AS DECIMAL(38,6)) AS DOUBLE))
                > CAST(CAST({GS_C_OBF} / sqrt(CAST(cn0 + cn1 AS DOUBLE)
                      / CAST(n_final AS DOUBLE)) AS DECIMAL(38,6))
                      AS DOUBLE)
           END, FALSE) AS crossed
    FROM cum
    ORDER BY event_date
"""


# --- minimum-detectable-effect calculator (round 11) ----------------------------

# z_{alpha/2} + z_{power} for alpha=0.05 two-sided, power=0.8 — Python
# literals (the no-query-time-constant-math rule); 1.959964 + 0.841621
MDE_Z_SUM = 2.801585


def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per event_type for the ab experiment
    at its CURRENT sample sizes (alpha=0.05 two-sided, power=0.8):
    MDE = (z_a/2 + z_b) * sqrt(var0/n0 + var1/n1), absolute and
    relative to the control mean. The pre-readout every experiment
    review starts with — a segment whose MDE exceeds any plausible
    effect is underpowered and its ab_test_report/fdr_bh rows are
    noise, however small their p.

    Determinism: the z-constant sum is a Python literal; moments are
    conditional DECIMAL(38,6) sums; MDE/means are fixed double
    expressions rounded to 6dp; degenerate segments yield NULLs via
    the sqrt-guard.

    Scale shape (100 TB): one scan, one |event_type| x 2 conditional
    cell aggregate, scalar math on the bounded frame."""
    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    d = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    agg = ev.select(
        "event_type", arm.alias("arm"), F.col("value").alias("x")
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        d(F.when(F.col("arm") == 0, F.col("x")).otherwise(0.0)).alias("s_0"),
        d(
            F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_0"),
        d(
            F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_1"),
        d(F.when(F.col("arm") == 1, F.col("x")).otherwise(0.0)).alias("s_1"),
    )
    var0 = (F.col("ss_0") - F.col("s_0") * F.col("s_0") / F.col("n_0")) / (
        F.col("n_0") - 1
    )
    var1 = (F.col("ss_1") - F.col("s_1") * F.col("s_1") / F.col("n_1")) / (
        F.col("n_1") - 1
    )
    se = F.sqrt(var0 / F.col("n_0") + var1 / F.col("n_1"))
    mean0 = F.col("s_0") / F.col("n_0")
    mde = F.when(
        (F.col("n_0") > 1) & (F.col("n_1") > 1) & (se > F.lit(0.0)),
        rnd(F.lit(MDE_Z_SUM) * se),
    )
    return agg.select(
        "event_type",
        "n_0",
        "n_1",
        F.when(F.col("n_0") > 0, rnd(mean0)).alias("mean_0"),
        mde.alias("mde_abs"),
        F.when(
            mde.isNotNull() & (mean0 != F.lit(0.0)), rnd(mde / mean0)
        ).alias("mde_rel"),
    ).orderBy("event_type")


SQL_POWER_MDE = f"""
    WITH agg AS (
        SELECT event_type,
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_1
        FROM (SELECT event_type, {_SQL_AB_ARM} AS arm, "value" FROM events)
        GROUP BY event_type
    ), scored AS (
        SELECT event_type, n_0, n_1,
            CASE WHEN n_0 > 0 THEN
                CAST(CAST(s_0 / n_0 AS DECIMAL(38,6)) AS DOUBLE)
            END AS mean_0,
            CASE WHEN n_0 > 1 AND n_1 > 1 AND
                sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                     + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1) > 0.0
                THEN CAST(CAST({MDE_Z_SUM}
                    * sqrt((ss_0 - s_0 * s_0 / n_0) / (n_0 - 1) / n_0
                           + (ss_1 - s_1 * s_1 / n_1) / (n_1 - 1) / n_1)
                    AS DECIMAL(38,6)) AS DOUBLE) END AS mde_abs,
            s_0
        FROM agg
    )
    SELECT event_type, n_0, n_1, mean_0, mde_abs,
           CASE WHEN mde_abs IS NOT NULL AND s_0 / n_0 <> 0.0 THEN
               CAST(CAST(mde_abs / (s_0 / n_0) AS DECIMAL(38,6)) AS DOUBLE)
           END AS mde_rel
    FROM scored
    ORDER BY event_type
"""


# --- Mann-Whitney U rank test + Cliff's delta (round 11) ------------------------


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney/Wilcoxon rank-sum test per event_type for the ab
    experiment (Mann & Whitney 1947): U from mid-rank sums over the
    pooled arms, the tie-corrected normal approximation z, and Cliff's
    delta = 2U/(n0*n1) − 1 — the distribution-free companion to
    ab_test_report's Welch z and the ordinal effect size a reviewer
    wants when value is heavy-tailed (permutation_test resamples the
    mean; this ranks).

    Determinism: DOUBLED mid-ranks r2 = 2*RANK + |ties| − 1 keep every
    rank sum an exact integer (the spearman_corr device); the tie
    correction Σ(t³−t) is an exact integer sum over the per-(type,
    value) tie counts; U/z/delta are fixed double expressions rounded
    to 6dp with degenerate-arm NULL guards.

    Scale shape (100 TB): rank windows PARTITION BY event_type (the
    exact-rank per-type class temporal_split documents — per-type
    scale, never one global sort); tie counts ride the same window
    pass; everything after collapses map-side to |event_type| cells.
    The doubled rank sum crosses int64 near 2e9 rows PER TYPE — the
    same per-type exact-ranking ceiling spearman_corr documents (bin
    to a grid past it, the ks_drift compromise)."""
    from pyspark.sql import Window as W

    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    base = ev.select(
        "event_type", arm.alias("arm"), F.col("value").alias("x")
        # rank-sum semantics skip NULL measurements (engines order
        # NULLs differently in the rank window — round-14 null-sweep
        # class)
    ).filter(F.col("x").isNotNull())
    w_rank = W.partitionBy("event_type").orderBy(F.col("x"))
    w_tie = W.partitionBy("event_type", "x")
    ranked = base.select(
        "event_type",
        "arm",
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        ).cast("long").alias("r2"),
        F.count(F.lit(1)).over(w_tie).cast("long").alias("t"),
    )
    cells = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        F.sum(F.when(F.col("arm") == 1, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r1_2"),
        # each tie group of size t contributes t*(t^2-1); every member
        # row carries t, so summing (t^2-1) per row gives exactly that.
        # t^2 rides DECIMAL(38,0): a BIGINT square overflows once a
        # single (type, value) tie group passes ~3e9 rows
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") - 1
        ).alias("tie_term"),
    )
    n0 = F.col("n_0").cast("double")
    n1 = F.col("n_1").cast("double")
    n = n0 + n1
    u = (F.col("r1_2") - F.col("n_1") * (F.col("n_1") + 1)).cast(
        "double"
    ) / F.lit(2.0)
    var = (
        n0 * n1 / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie_term").cast("double") / (n * (n - F.lit(1.0))))
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    z = F.when(
        (F.col("n_0") > 0) & (F.col("n_1") > 0) & (n > F.lit(1.0))
        & (var > F.lit(0.0)),
        rnd((u - n0 * n1 / F.lit(2.0)) / F.sqrt(var)),
    )
    delta = F.when(
        (F.col("n_0") > 0) & (F.col("n_1") > 0),
        rnd(F.lit(2.0) * u / (n0 * n1) - F.lit(1.0)),
    )
    return cells.select(
        "event_type",
        "n_0",
        "n_1",
        F.when((F.col("n_0") > 0) & (F.col("n_1") > 0), rnd(u)).alias(
            "u_stat"
        ),
        z.alias("z_score"),
        delta.alias("cliffs_delta"),
    ).orderBy("event_type")


SQL_MANN_WHITNEY = f"""
    WITH ranked AS (
        SELECT event_type, arm,
               2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2,
               COUNT(*) OVER (PARTITION BY event_type, x) AS t
        FROM (SELECT event_type, {_SQL_AB_ARM} AS arm, "value" AS x
              FROM events WHERE "value" IS NOT NULL)
    ), cells AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_1,
               CAST(SUM(CASE WHEN arm = 1 THEN r2 ELSE 0 END) AS BIGINT)
                   AS r1_2,
               SUM(CAST(t AS DECIMAL(38,0)) * t - 1) AS tie_term
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_0, n_1,
           CASE WHEN n_0 > 0 AND n_1 > 0 THEN
               CAST(CAST(CAST(r1_2 - n_1 * (n_1 + 1) AS DOUBLE) / 2.0
                    AS DECIMAL(38,6)) AS DOUBLE) END AS u_stat,
           CASE WHEN n_0 > 0 AND n_1 > 0 AND n_0 + n_1 > 1 AND
                CAST(n_0 AS DOUBLE) * CAST(n_1 AS DOUBLE) / 12.0
                * ((CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) + 1.0)
                   - CAST(tie_term AS DOUBLE)
                     / ((CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE))
                        * (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE)
                           - 1.0))) > 0.0
                THEN CAST(CAST(
                    (CAST(r1_2 - n_1 * (n_1 + 1) AS DOUBLE) / 2.0
                     - CAST(n_0 AS DOUBLE) * CAST(n_1 AS DOUBLE) / 2.0)
                    / sqrt(CAST(n_0 AS DOUBLE) * CAST(n_1 AS DOUBLE) / 12.0
                        * ((CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) + 1.0)
                           - CAST(tie_term AS DOUBLE)
                             / ((CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE))
                                * (CAST(n_0 AS DOUBLE)
                                   + CAST(n_1 AS DOUBLE) - 1.0))))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS z_score,
           CASE WHEN n_0 > 0 AND n_1 > 0 THEN
               CAST(CAST(2.0 * (CAST(r1_2 - n_1 * (n_1 + 1) AS DOUBLE)
                    / 2.0) / (CAST(n_0 AS DOUBLE) * CAST(n_1 AS DOUBLE))
                    - 1.0 AS DECIMAL(38,6)) AS DOUBLE)
           END AS cliffs_delta
    FROM cells
    ORDER BY event_type
"""


# --- distribution-free median confidence interval (round 11) --------------------

MEDIAN_CI_Z = 1.959964  # two-sided 95% normal quantile, Python literal


def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-rank median with a distribution-free 95% confidence
    interval per event_type: the CI bounds are ORDER STATISTICS at the
    binomial-normal-approximation ranks l = floor((n − z√n)/2) and
    u = ceil(1 + (n + z√n)/2), clamped to [1, n] (Conover 1980 §3.2 —
    no distributional assumption on value at all, unlike the
    mean±z·se band). The robust companion every heavy-tailed metric
    report should carry next to percentiles.

    Determinism: ranks are exact integers under the (value, event_id)
    total order; the approximation ranks are FLOOR/CEIL of one fixed
    double expression of n and the literal z; bound values are
    conditional MAX picks at integer rank equality; the median uses
    the exact-rank even/odd definition (theil_sen discipline).

    Scale shape (100 TB): ONE rank window PARTITIONED BY event_type
    (the per-type exact-ranking class, ceiling documented at
    spearman_corr/mann_whitney), then an |event_type|-cell conditional
    aggregate. No global sort."""
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("value").alias("x"), "event_id")
        # order statistics skip NULL measurements (engines order NULLs
        # differently in the rank window — round-14 null-sweep class)
        .filter(F.col("x").isNotNull())
    )
    w_rank = W.partitionBy("event_type").orderBy(
        F.col("x"), F.col("event_id")
    )
    w_all = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    nd = F.col("n").cast("double")
    half = F.lit(MEDIAN_CI_Z) * F.sqrt(nd)
    lo_r = F.greatest(
        F.lit(1).cast("long"),
        F.floor((nd - half) / F.lit(2.0)).cast("long"),
    )
    hi_r = F.least(
        F.col("n").cast("long"),
        F.ceil(F.lit(1.0) + (nd + half) / F.lit(2.0)).cast("long"),
    )
    med_lo = (F.col("n") + 1) / F.lit(2)
    agg = ranked.groupBy("event_type", "n").agg(
        F.max(F.when(F.col("rn") == F.floor(med_lo), F.col("x"))).alias(
            "m_lo"
        ),
        F.max(F.when(F.col("rn") == F.ceil(med_lo), F.col("x"))).alias(
            "m_hi"
        ),
        F.max(F.when(F.col("rn") == lo_r, F.col("x"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_r, F.col("x"))).alias("ci_hi"),
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        rnd((F.col("m_lo") + F.col("m_hi")) / F.lit(2.0)).alias("median"),
        F.col("ci_lo").alias("ci_lo"),
        F.col("ci_hi").alias("ci_hi"),
    ).orderBy("event_type")


SQL_MEDIAN_CI = f"""
    WITH ranked AS (
        SELECT event_type, "value" AS x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY "value", event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE "value" IS NOT NULL
    ), agg AS (
        SELECT event_type, n,
               MAX(CASE WHEN rn = FLOOR((n + 1) / 2.0) THEN x END) AS m_lo,
               MAX(CASE WHEN rn = CEIL((n + 1) / 2.0) THEN x END) AS m_hi,
               MAX(CASE WHEN rn = GREATEST(1, CAST(FLOOR(
                   (CAST(n AS DOUBLE)
                    - {MEDIAN_CI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)
                   AS BIGINT)) THEN x END) AS ci_lo,
               MAX(CASE WHEN rn = LEAST(CAST(n AS BIGINT), CAST(CEIL(
                   1.0 + (CAST(n AS DOUBLE)
                          + {MEDIAN_CI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)
                   AS BIGINT)) THEN x END) AS ci_hi
        FROM ranked GROUP BY event_type, n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(CAST((m_lo + m_hi) / 2.0 AS DECIMAL(38,6)) AS DOUBLE)
               AS median,
           ci_lo, ci_hi
    FROM agg
    ORDER BY event_type
"""


# --- standardized effect sizes (round 11) ---------------------------------------

HEDGES_J_NUM = 3.0  # J ~ 1 - 3/(4*df - 1), Hedges & Olkin 1985


def q_effect_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes per event_type for the ab experiment:
    Cohen's d on the pooled standard deviation and the small-sample
    bias-corrected Hedges' g = J*d, J = 1 − 3/(4·df − 1). The
    magnitude readout that travels across metrics where ab_test's z
    only answers "is it noise" and power_mde "could we even see it".

    Determinism: conditional decimal moments; d/g are fixed double
    expressions rounded to 6dp; degenerate segments (an arm with n<2,
    zero pooled variance) yield NULLs via the sqrt-guard.

    Scale shape (100 TB): one scan, one |event_type| x 2 conditional
    cell aggregate, scalar math on the bounded frame."""
    from ..functions.texthash import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    arm = md5_hash64(F.concat(F.lit("ab|"), uid)) % 2
    d6 = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    agg = ev.select(
        "event_type", arm.alias("arm"), F.col("value").alias("x")
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        d6(F.when(F.col("arm") == 0, F.col("x")).otherwise(0.0)).alias(
            "s_0"
        ),
        d6(F.when(F.col("arm") == 1, F.col("x")).otherwise(0.0)).alias(
            "s_1"
        ),
        d6(
            F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_0"),
        d6(
            F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0.0)
        ).alias("ss_1"),
    )
    n0 = F.col("n_0").cast("double")
    n1 = F.col("n_1").cast("double")
    sq0 = F.col("ss_0") - F.col("s_0") * F.col("s_0") / n0
    sq1 = F.col("ss_1") - F.col("s_1") * F.col("s_1") / n1
    df = n0 + n1 - F.lit(2.0)
    sp = F.sqrt((sq0 + sq1) / df)
    d_raw = (F.col("s_1") / n1 - F.col("s_0") / n0) / sp
    ok = (
        (F.col("n_0") > 1) & (F.col("n_1") > 1) & (sp > F.lit(0.0))
    )
    j = F.lit(1.0) - F.lit(HEDGES_J_NUM) / (F.lit(4.0) * df - F.lit(1.0))
    return agg.select(
        "event_type",
        "n_0",
        "n_1",
        F.when(ok, rnd(d_raw)).alias("cohens_d"),
        F.when(ok, rnd(j * d_raw)).alias("hedges_g"),
    ).orderBy("event_type")


SQL_EFFECT_SIZE_REPORT = f"""
    WITH agg AS (
        SELECT event_type,
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" ELSE 0.0 END
                 AS DECIMAL(38,6))) AS DOUBLE) AS s_1,
            CAST(SUM(CAST(CASE WHEN arm = 0 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_0,
            CAST(SUM(CAST(CASE WHEN arm = 1 THEN "value" * "value"
                 ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ss_1
        FROM (SELECT event_type, {_SQL_AB_ARM} AS arm, "value" FROM events)
        GROUP BY event_type
    )
    SELECT event_type, n_0, n_1,
        CASE WHEN n_0 > 1 AND n_1 > 1 AND
            sqrt(((ss_0 - s_0 * s_0 / n_0) + (ss_1 - s_1 * s_1 / n_1))
                 / (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) - 2.0)) > 0.0
            THEN CAST(CAST(
                (s_1 / n_1 - s_0 / n_0)
                / sqrt(((ss_0 - s_0 * s_0 / n_0)
                        + (ss_1 - s_1 * s_1 / n_1))
                       / (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) - 2.0))
                AS DECIMAL(38,6)) AS DOUBLE) END AS cohens_d,
        CASE WHEN n_0 > 1 AND n_1 > 1 AND
            sqrt(((ss_0 - s_0 * s_0 / n_0) + (ss_1 - s_1 * s_1 / n_1))
                 / (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) - 2.0)) > 0.0
            THEN CAST(CAST(
                (1.0 - {HEDGES_J_NUM}
                 / (4.0 * (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE) - 2.0)
                    - 1.0))
                * ((s_1 / n_1 - s_0 / n_0)
                   / sqrt(((ss_0 - s_0 * s_0 / n_0)
                           + (ss_1 - s_1 * s_1 / n_1))
                          / (CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE)
                             - 2.0)))
                AS DECIMAL(38,6)) AS DOUBLE) END AS hedges_g
    FROM agg
    ORDER BY event_type
"""


# --- autocorrelation function of monthly revenue (round 11) ---------------------

ACF_MAX_LAG = 12


def q_acf_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of monthly order revenue at lags
    1..ACF_MAX_LAG with the cumulative Ljung-Box Q statistic (Ljung &
    Box 1978) — the diagnostic that says whether seasonal_decompose /
    holt_forecast left structure on the table, and the input to any
    "is this series white noise yet" decision.

    r_k = sum_t (y_t−ȳ)(y_{t+k}−ȳ) / sum_t (y_t−ȳ)², expanded so every
    cross-product sum is EXACT decimal integer arithmetic in
    micro-dollars (sum y_t y_{t+k}, sum y_t, sum y_{t+k} at each lag);
    ȳ and the final ratio are fixed double expressions rounded to 6dp;
    Q terms are 6dp-rounded then decimal-summed cumulatively.

    Scale shape (100 TB): the month frame is calendar-bounded (the
    theil_sen convention) — the lag join is |months| x 12 on that
    bounded broadcast frame; nothing scales with row count after the
    monthly aggregate."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).alias("x"),
        "o_totalprice",
    )
    monthly = orders.groupBy("x").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("y")
    )
    totals = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = monthly.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = monthly.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = (
        lags.join(
            F.broadcast(a.crossJoin(F.broadcast(b))),
            F.col("xa") + F.col("lag") == F.col("xb"),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("ya") * F.col("yb"))
            .cast("decimal(38,0)")
            .alias("sab"),
            F.sum("ya").cast("decimal(38,0)").alias("sa"),
            F.sum("yb").cast("decimal(38,0)").alias("sb"),
        )
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    joined = pairs.crossJoin(F.broadcast(totals))
    nd = F.col("n").cast("double")
    ybar = F.col("sy").cast("double") / nd
    denom = F.col("syy").cast("double") - F.col("sy").cast("double") * ybar
    num = (
        F.col("sab").cast("double")
        - ybar * (F.col("sa").cast("double") + F.col("sb").cast("double"))
        + F.col("n_pairs").cast("double") * ybar * ybar
    )
    acf = F.when(denom > F.lit(0.0), rnd(num / denom))
    scored = joined.select(
        "lag",
        "n_pairs",
        "n",
        acf.alias("acf"),
    )
    w_cum = W.orderBy("lag").rowsBetween(W.unboundedPreceding, W.currentRow)
    q_term = F.when(
        F.col("n") > F.col("lag"),
        rnd(
            F.col("acf") * F.col("acf")
            / (F.col("n") - F.col("lag")).cast("double")
        ),
    )
    return scored.select(
        "lag",
        "n_pairs",
        "acf",
        rnd(
            F.col("n").cast("double")
            * (F.col("n") + 2).cast("double")
            * F.sum(q_term.cast("decimal(38,6)")).over(w_cum).cast("double")
        ).alias("lb_q"),
    ).orderBy("lag")


SQL_ACF_MONTHLY = f"""
    WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000
                    AS DECIMAL(38,0)) AS y
        FROM orders GROUP BY 1
    ), totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        FROM monthly
    ), lags AS (
        SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS lag
    ), pairs AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.y * b.y) AS DECIMAL(38,0)) AS sab,
               CAST(SUM(a.y) AS DECIMAL(38,0)) AS sa,
               CAST(SUM(b.y) AS DECIMAL(38,0)) AS sb
        FROM lags JOIN monthly a ON TRUE
                  JOIN monthly b ON a.x + lag = b.x
        GROUP BY lag
    ), scored AS (
        SELECT lag, n_pairs, n,
               CASE WHEN CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE)
                           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0
                    THEN CAST(CAST(
                        (CAST(sab AS DOUBLE)
                         - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                         + CAST(n_pairs AS DOUBLE)
                           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                        / (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                        AS DECIMAL(38,6)) AS DOUBLE) END AS acf
        FROM pairs CROSS JOIN totals
    )
    SELECT lag, n_pairs, acf,
           CAST(CAST(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                * CAST(SUM(CAST(CASE WHEN n > lag THEN
                      CAST(CAST(acf * acf / CAST(n - lag AS DOUBLE)
                           AS DECIMAL(38,6)) AS DOUBLE) END
                      AS DECIMAL(38,6))) OVER (ORDER BY lag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                AS DECIMAL(38,6)) AS DOUBLE) AS lb_q
    FROM scored
    ORDER BY lag
"""


# --- Wald-Wolfowitz runs test on daily revenue (round 11) -----------------------


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (1940) for randomness of daily
    purchase revenue about its median: too FEW runs of
    above/below-median days means trending/clustered behavior, too
    MANY means oscillation — the randomness screen that tells you
    whether ewma_anomaly/cusum_changepoint have anything to find.
    Ties with the median are excluded (the textbook convention).

    Determinism: daily revenue is an exact decimal sum; the median is
    the exact-rank definition over the bounded day frame; run counting
    is a lag window over exact integer signs; E[R]/Var[R]/z are fixed
    double expressions of exact integer counts rounded to 6dp.

    Scale shape (100 TB): one scan collapses map-side to |days| cells;
    the median rank pass, the lag window, and the 1-row report all run
    on that bounded calendar frame (the order_backlog convention)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == F.lit("purchase")
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("rev")
    )
    w_rank = W.orderBy(F.col("rev"), F.col("d"))
    w_all = W.partitionBy()
    ranked = daily.select(
        "d",
        "rev",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    lo = (F.col("n_days") + 1) / F.lit(2)
    med = ranked.groupBy("n_days").agg(
        (
            (
                F.max(F.when(F.col("rn") == F.floor(lo), F.col("rev")))
                + F.max(F.when(F.col("rn") == F.ceil(lo), F.col("rev")))
            )
            / F.lit(2.0)
        ).alias("med")
    )
    signed = (
        daily.crossJoin(F.broadcast(med.select("med")))
        .filter(F.col("rev") != F.col("med"))
        .select(
            "d",
            F.when(F.col("rev") > F.col("med"), 1).otherwise(0).alias("s"),
        )
    )
    w_d = W.orderBy("d")
    runs = signed.select(
        "s",
        F.when(
            F.lag("s").over(w_d).isNull()
            | (F.lag("s").over(w_d) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    n = n1 + n2
    e_r = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    var_r = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (n * n * (n - F.lit(1.0)))
    )
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (n > F.lit(1.0))
    return agg.select(
        "n_above",
        "n_below",
        "n_runs",
        F.when(ok, rnd(e_r)).alias("expected_runs"),
        F.when(
            ok & (var_r > F.lit(0.0)),
            rnd((F.col("n_runs").cast("double") - e_r) / F.sqrt(var_r)),
        ).alias("z_score"),
    )


SQL_RUNS_TEST = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               SUM(CAST("value" AS DECIMAL(38,6))) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), ranked AS (
        SELECT d, rev,
               ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
               COUNT(*) OVER () AS n_days
        FROM daily
    ), med AS (
        SELECT (MAX(CASE WHEN rn = FLOOR((n_days + 1) / 2.0) THEN rev END)
                + MAX(CASE WHEN rn = CEIL((n_days + 1) / 2.0) THEN rev END))
               / 2.0 AS med
        FROM ranked GROUP BY n_days
    ), signed AS (
        SELECT d, CASE WHEN rev > med THEN 1 ELSE 0 END AS s
        FROM daily CROSS JOIN med
        WHERE rev <> med
    ), runs AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                     OR LAG(s) OVER (ORDER BY d) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM signed
    ), agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS n_above,
               CAST(SUM(1 - s) AS BIGINT) AS n_below,
               CAST(SUM(new_run) AS BIGINT) AS n_runs
        FROM runs
    )
    SELECT n_above, n_below, n_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                 AND n_above + n_below > 1 THEN
               CAST(CAST(2.0 * n_above * n_below
                    / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                    + 1.0 AS DECIMAL(38,6)) AS DOUBLE)
           END AS expected_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                 AND n_above + n_below > 1
                 AND 2.0 * n_above * n_below
                     * (2.0 * n_above * n_below
                        - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE))
                     / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                        * (CAST(n_above AS DOUBLE)
                           + CAST(n_below AS DOUBLE))
                        * (CAST(n_above AS DOUBLE)
                           + CAST(n_below AS DOUBLE) - 1.0)) > 0.0
                THEN CAST(CAST(
                    (CAST(n_runs AS DOUBLE)
                     - (2.0 * n_above * n_below
                        / (CAST(n_above AS DOUBLE)
                           + CAST(n_below AS DOUBLE)) + 1.0))
                    / sqrt(2.0 * n_above * n_below
                        * (2.0 * n_above * n_below
                           - CAST(n_above AS DOUBLE)
                           - CAST(n_below AS DOUBLE))
                        / ((CAST(n_above AS DOUBLE)
                            + CAST(n_below AS DOUBLE))
                           * (CAST(n_above AS DOUBLE)
                              + CAST(n_below AS DOUBLE))
                           * (CAST(n_above AS DOUBLE)
                              + CAST(n_below AS DOUBLE) - 1.0)))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS z_score
    FROM agg
"""


# --- paired sign test of month-over-month growth (round 11) ---------------------


def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign test (Arbuthnott 1710 lineage) of month-over-month revenue
    direction: of the consecutive month pairs, how many went UP vs
    DOWN (exact ties dropped), and the binomial normal-approximation
    z for "up and down are equally likely" — the assumption-free
    growth verdict next to ols_trend's slope and theil_sen's robust
    slope.

    Determinism: monthly revenue is exact integer micro-dollars; the
    up/down comparison is integer-exact; z is one fixed double
    expression of exact counts rounded to 6dp.

    Scale shape (100 TB): everything after the monthly aggregate runs
    on the calendar-bounded month frame (one lag window, one 1-row
    report)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        ).alias("x"),
        "o_totalprice",
    )
    monthly = orders.groupBy("x").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * F.lit(1000000))
        .cast("decimal(38,0)")
        .alias("y")
    )
    w_x = W.orderBy("x")
    diffs = monthly.select(
        (F.col("y") - F.lag("y").over(w_x)).alias("dy"),
        (F.col("x") - F.lag("x").over(w_x)).alias("dx"),
    ).filter(F.col("dx") == 1)
    agg = diffs.agg(
        F.sum(F.when(F.col("dy") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("dy") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    n = (F.col("n_up") + F.col("n_down")).cast("double")
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    z = F.when(
        n > F.lit(0.0),
        rnd(
            (F.col("n_up").cast("double") - n / F.lit(2.0))
            / F.sqrt(n / F.lit(4.0))
        ),
    )
    return agg.select(
        "n_up",
        "n_down",
        z.alias("z_score"),
    )


SQL_SIGN_TEST = """
    WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000
                    AS DECIMAL(38,0)) AS y
        FROM orders GROUP BY 1
    ), diffs AS (
        SELECT y - LAG(y) OVER (ORDER BY x) AS dy,
               x - LAG(x) OVER (ORDER BY x) AS dx
        FROM monthly
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
               CAST(SUM(CASE WHEN dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down
        FROM diffs WHERE dx = 1
    )
    SELECT n_up, n_down,
           CASE WHEN n_up + n_down > 0 THEN
               CAST(CAST(
                   (CAST(n_up AS DOUBLE)
                    - (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) / 2.0)
                   / sqrt((CAST(n_up AS DOUBLE)
                           + CAST(n_down AS DOUBLE)) / 4.0)
                   AS DECIMAL(38,6)) AS DOUBLE) END AS z_score
    FROM agg
"""


# --- trend / seasonal strength of the decomposition (round 11) ------------------


def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman-Athanasopoulos strength-of-components summary (FPP3
    §4.5) computed ON q_seasonal_decompose's own output frame:
    trend strength F_T = max(0, 1 − Var(R)/Var(T+R)) and seasonal
    strength F_S = max(0, 1 − Var(R)/Var(S+R)) over the months where
    the trend window is complete — the two [0,1] numbers that say
    whether seasonal_decompose found anything and whether acf_monthly
    should even bother. Stream and batch CANNOT drift: this operator
    consumes the decomposition operator itself, not a re-derivation.

    Determinism: the component columns are the decomposition's own
    6dp-disciplined doubles; variances come from per-row 6dp-rounded
    values decimal-summed (order-free) with ONE division by the exact
    month count; strengths are fixed double expressions rounded to 6dp.

    Scale shape (100 TB): the input is the calendar-bounded month
    frame; this is a 1-row aggregate over it."""
    comp = q_seasonal_decompose(spark, sf_dir).filter(
        F.col("residual").isNotNull()
    )
    q6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    vals = comp.select(
        q6(F.col("residual")).alias("r"),
        q6(F.col("revenue") - F.col("trend")).alias("sr"),
        q6(F.col("revenue") - F.col("seasonal")).alias("tr"),
    )
    agg = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("r").cast("double").alias("s_r"),
        F.sum(q6(F.col("r").cast("double") * F.col("r").cast("double")))
        .cast("double")
        .alias("ss_r"),
        F.sum("sr").cast("double").alias("s_sr"),
        F.sum(q6(F.col("sr").cast("double") * F.col("sr").cast("double")))
        .cast("double")
        .alias("ss_sr"),
        F.sum("tr").cast("double").alias("s_tr"),
        F.sum(q6(F.col("tr").cast("double") * F.col("tr").cast("double")))
        .cast("double")
        .alias("ss_tr"),
    )
    nd = F.col("n_months").cast("double")
    var_r = F.col("ss_r") - F.col("s_r") * F.col("s_r") / nd
    var_sr = F.col("ss_sr") - F.col("s_sr") * F.col("s_sr") / nd
    var_tr = F.col("ss_tr") - F.col("s_tr") * F.col("s_tr") / nd
    rnd = lambda c: c.cast("decimal(38,6)").cast("double")  # noqa: E731
    f_t = F.when(
        (F.col("n_months") > 1) & (var_sr > F.lit(0.0)),
        rnd(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_sr)),
    )
    f_s = F.when(
        (F.col("n_months") > 1) & (var_tr > F.lit(0.0)),
        rnd(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_tr)),
    )
    return agg.select(
        "n_months",
        f_t.alias("trend_strength"),
        f_s.alias("seasonal_strength"),
    )


def _build_sql_seasonal_strength() -> str:
    return f"""
    WITH comp AS ({SQL_SEASONAL_DECOMPOSE}),
    vals AS (
        SELECT CAST(residual AS DECIMAL(38,6)) AS r,
               CAST(revenue - trend AS DECIMAL(38,6)) AS sr,
               CAST(revenue - seasonal AS DECIMAL(38,6)) AS tr
        FROM comp WHERE residual IS NOT NULL
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(r) AS DOUBLE) AS s_r,
               CAST(SUM(CAST(CAST(r AS DOUBLE) * CAST(r AS DOUBLE)
                    AS DECIMAL(38,6))) AS DOUBLE) AS ss_r,
               CAST(SUM(sr) AS DOUBLE) AS s_sr,
               CAST(SUM(CAST(CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
                    AS DECIMAL(38,6))) AS DOUBLE) AS ss_sr,
               CAST(SUM(tr) AS DOUBLE) AS s_tr,
               CAST(SUM(CAST(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
                    AS DECIMAL(38,6))) AS DOUBLE) AS ss_tr
        FROM vals
    )
    SELECT n_months,
           CASE WHEN n_months > 1 AND
                ss_sr - s_sr * s_sr / CAST(n_months AS DOUBLE) > 0.0
                THEN CAST(CAST(GREATEST(0.0,
                    1.0 - (ss_r - s_r * s_r / CAST(n_months AS DOUBLE))
                        / (ss_sr - s_sr * s_sr
                           / CAST(n_months AS DOUBLE)))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS trend_strength,
           CASE WHEN n_months > 1 AND
                ss_tr - s_tr * s_tr / CAST(n_months AS DOUBLE) > 0.0
                THEN CAST(CAST(GREATEST(0.0,
                    1.0 - (ss_r - s_r * s_r / CAST(n_months AS DOUBLE))
                        / (ss_tr - s_tr * s_tr
                           / CAST(n_months AS DOUBLE)))
                    AS DECIMAL(38,6)) AS DOUBLE) END AS seasonal_strength
    FROM agg
"""


SQL_SEASONAL_STRENGTH = _build_sql_seasonal_strength()
