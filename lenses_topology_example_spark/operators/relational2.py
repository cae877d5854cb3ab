"""Relational breadth tier 2: pivot/unpivot, grouping sets, filtered
aggregates, exact percentiles, extended string/date/window function
surface, and the SQL-API entry path (SURVEY.md §2.5).

Same determinism contract as relational.py. Where Spark and DuckDB
disagree on a function's *convention* (dayofweek origin, epoch return
type), the oracle adapts the convention — never the value semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..memo import cached
from ..tables import load_table
from .relational import dsum, dsum_sql


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts + revenue per priority x status. Explicit
    value list => single-pass pivot aggregate, no second job to discover
    pivot values (that discovery scan is the classic pivot perf trap)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .withColumnsRenamed({"O": "n_open", "F": "n_filled", "P": "n_partial"})
        .na.fill(0, ["n_open", "n_filled", "n_partial"])
    )


SQL_PIVOT_STATUS = """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
    FROM orders GROUP BY o_orderpriority
"""


def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt via stack(): wide part attributes -> long (key,val).
    stack is a Generate (flatMap-shaped), zero shuffle."""
    part = load_table(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), "
        "'retailprice', p_retailprice) AS (metric, val)",
    )


SQL_UNPIVOT_PART = """
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() disambiguation — the general form
    of rollup/cube, via the SQL API (same Catalyst Expand plan).
    DataFrame interpolation ({li}) instead of createOrReplaceTempView:
    fixed-name temp views in a shared session clobber user views and
    cross-wire concurrent builds."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               COUNT(*) AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        li=load_table(spark, sf_dir, "lineitem"),
    )


SQL_GROUPING_SETS = """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
           CAST(grouping(l_linestatus) AS TINYINT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER-clause semantics) — one pass over
    events computing per-type slices without separate scans."""
    events = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    is_error = F.col("event_type") == "error"
    return events.groupBy(F.col("user_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(is_purchase, 1)).alias("n_purchases"),
        dsum(F.when(is_purchase, F.col("value")).otherwise(F.lit(0.0))).alias(
            "purchase_value"
        ),
        F.count(F.when(is_error, 1)).alias("n_errors"),
        F.max(F.when(is_purchase, F.col("value"))).alias("max_purchase"),
    )


SQL_FILTERED_AGG = f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           {dsum_sql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")}
               AS purchase_value,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           MAX(value) FILTER (WHERE event_type = 'purchase') AS max_purchase
    FROM events GROUP BY user_id
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile`;
    oracle quantile_cont — both the standard linear interpolation).
    At 100 TB swap to percentile_approx (t-digest sketch, mergeable,
    one pass) — kept exact here because the oracle is exact.

    The interpolated outputs are 6dp-rounded on BOTH engines (the
    class-#3 convention, BASELINE.md): lo + frac*(hi-lo) is evaluated
    in a different association order by the two engines, and the
    round-13 docs10 parity sweep caught a live 1-ulp p99 split
    (230.53 vs 230.53000000000003) once the 10x-duplicated slice put
    the p99 cut position between unequal neighbors. 2dp inputs at the
    sweep's frac grid can't produce a .xxxxxx5 decimal midpoint, so
    the round is tie-safe."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


SQL_PERCENTILES = """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
"""


def q_string_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string library over part names — all codegen'd."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.rpad("p_type", 20, ".").alias("type_padded"),
        F.translate("p_brand", "#", "_").alias("brand_tr"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
        F.expr("split_part(p_type, ' ', 1)").alias("type_head"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.instr(F.col("p_name"), "o").alias("first_o"),
        F.repeat(F.lit("-"), F.col("p_size") % 5).alias("dashes"),
        F.initcap(F.lit("hello world")).alias("cap"),
    )


SQL_STRING_FNS2 = r"""
    SELECT p_partkey,
           regexp_extract(p_name, '(\w+)$', 1) AS last_word,
           lpad(p_brand, 12, '*') AS brand_padded,
           rpad(p_type, 20, '.') AS type_padded,
           translate(p_brand, '#', '_') AS brand_tr,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
           split_part(p_type, ' ', 1) AS type_head,
           reverse(p_brand) AS brand_rev,
           CAST(strpos(p_name, 'o') AS INTEGER) AS first_o,
           repeat('-', CAST(p_size % 5 AS INTEGER)) AS dashes,
           'Hello World' AS cap
    FROM part
"""


def q_date_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date/time library over orders. Convention bridges: Spark
    dayofweek is 1=Sunday (oracle adds 1 to DuckDB's 0=Sunday); epoch is
    bigint (oracle casts)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.add_months(F.col("o_orderdate"), 1).cast("timestamp").alias("next_month"),
        F.last_day(F.col("o_orderdate")).cast("timestamp").alias("month_end"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("plus30"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
    )


SQL_DATE_FNS2 = """
    SELECT o_orderkey,
           (o_orderdate + INTERVAL 1 MONTH)::TIMESTAMP AS next_month,
           last_day(o_orderdate)::TIMESTAMP AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS epoch_s,  -- FLOOR: Spark's
           -- ts->long floors; DuckDB's double CAST rounds (no-op here, dates are
           -- midnight-aligned, but keeps the truncation convention uniform)
           (o_orderdate::DATE + 30)::TIMESTAMP AS plus30,  -- date+int, not
           -- +INTERVAL 30 DAY: DuckDB 1.0 CSE treats INTERVAL 1 MONTH ==
           -- INTERVAL 30 DAY (month normalized to 30d) and merges it with
           -- next_month's expression, yielding the wrong date
           CAST(date_diff('day', o_orderdate, DATE '2002-01-01') AS INTEGER)
               AS days_to_2002
    FROM orders
"""


def q_window_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/distribution window functions under a total order
    (value desc, event_id) so every engine agrees on ties."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    frame = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return events.select(
        "event_type",
        "event_id",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.first_value(F.col("event_id")).over(frame).alias("top_event"),
        F.last_value(F.col("event_id")).over(frame).alias("bottom_event"),
        F.lead(F.col("event_id"), 1).over(w).alias("next_event"),
    )


SQL_WINDOW_FNS2 = """
    SELECT event_type, event_id,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS prank,
           CUME_DIST() OVER w AS cdist,
           FIRST_VALUE(event_id) OVER wf AS top_event,
           LAST_VALUE(event_id) OVER wf AS bottom_event,
           LEAD(event_id, 1) OVER w AS next_event
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id),
           wf AS (PARTITION BY event_type ORDER BY value DESC, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: revenue lost to returned items per customer,
    top 20. Join order matters at scale: lineitem is filtered on the
    scan (returnflag pushdown) BEFORE the orders join, and
    customer/nation are the small build sides — Catalyst+AQE picks
    broadcast for both at this SF; at 100 TB customer becomes a
    shuffle join while nation stays broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_ITEMS = f"""
    SELECT c_custkey, c_name, n_name,
           {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share in one month. The
    two-aggregate ratio is a single pass (conditional sum / total sum);
    part is the broadcast build side."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * dsum(promo) / dsum(revenue)).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_PROMO_REVENUE = f"""
    SELECT 100.0 * {dsum_sql(
        "CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) "
        "ELSE 0.0 END")}
           / {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS promo_pct,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-02-01'
"""


def q_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-flavored (adapted: testdata has no commit/receipt dates):
    per order priority, lineitems shipped more than 60 days after the
    order date vs on-time — one joined pass, conditional counts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(lag_days > 60, 1)).alias("n_late"),
            F.count(F.when(lag_days <= 60, 1)).alias("n_ontime"),
        )
        .orderBy("o_orderpriority")
    )


SQL_LATE_SHIPMENTS = """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE date_diff('day', o_orderdate, l_shipdate) > 60)
               AS n_late,
           COUNT(*) FILTER (WHERE date_diff('day', o_orderdate, l_shipdate) <= 60)
               AS n_ontime
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def q_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type + higher-order function surface: str_to_map over a built
    key=value projection, map_keys/values, element access, and a
    transform/filter/exists chain over the token array — all codegen'd
    lambda expressions, no Python.

    Array-typed intermediates are serialized with array_join before they
    leave the query: the driver's comparator value-hashes every result
    cell, and raw array cells are unhashable there (round-1 CORRECTNESS
    failure). The HOF surface is still fully exercised — only the output
    encoding changed."""
    part = load_table(spark, sf_dir, "part")
    kv = F.concat(
        F.lit("brand="), F.col("p_brand"), F.lit(",size="), F.col("p_size")
    )
    m = F.expr("str_to_map(kv, ',', '=')")
    words = F.split(F.col("p_name"), " ")
    return part.select("p_partkey", kv.alias("kv"), words.alias("w")).select(
        "p_partkey",
        F.array_join(F.map_keys(m), " ").alias("ks"),
        m.getItem("brand").alias("brand"),
        m.getItem("size").cast("int").alias("size"),
        F.array_join(
            F.transform(F.col("w"), lambda x: F.upper(x)), " "
        ).alias("w_upper"),
        F.array_join(
            F.filter(F.col("w"), lambda x: F.length(x) > 5), " "
        ).alias("w_long"),
        F.exists(F.col("w"), lambda x: x == F.lit("green")).alias("has_green"),
        F.array_max(F.transform(F.col("w"), lambda x: F.length(x))).alias(
            "longest"
        ),
    )


SQL_MAP_FNS = """
    WITH t AS (
        SELECT p_partkey,
               'brand=' || p_brand || ',size=' || p_size AS kv,
               string_split(p_name, ' ') AS w
        FROM part
    )
    SELECT p_partkey,
           array_to_string(['brand', 'size'], ' ') AS ks,
           map_extract(map_from_entries(list_transform(string_split(kv, ','),
               s -> {k: string_split(s, '=')[1], v: string_split(s, '=')[2]})),
               'brand')[1] AS brand,
           CAST(map_extract(map_from_entries(list_transform(string_split(kv, ','),
               s -> {k: string_split(s, '=')[1], v: string_split(s, '=')[2]})),
               'size')[1] AS INTEGER) AS size,
           COALESCE(array_to_string(list_transform(w, x -> upper(x)), ' '),
                    '') AS w_upper,
           -- COALESCE: duckdb's array_to_string is NULL on an empty list,
           -- Spark's array_join is '' — pin to the Spark convention
           COALESCE(array_to_string(list_filter(w, x -> length(x) > 5), ' '),
                    '') AS w_long,
           len(list_filter(w, x -> x = 'green')) > 0 AS has_green,
           list_max(list_transform(w, x -> CAST(length(x) AS INTEGER)))
               AS longest
    FROM t
"""


def q_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as an equi join (the 100 TB form): events are
    joined to month-granularity rate periods. A naive `BETWEEN` range
    join plans as BroadcastNestedLoopJoin — O(N*M) compares; deriving the
    bucket key (month) on both sides turns it into a hash join. This is
    the standard interval-bucketing rewrite every range join at scale
    needs (finer intervals -> explode each period into its buckets)."""
    events = load_table(spark, sf_dir, "events")
    # rate periods: one per (month, event_type-independent) with a
    # deterministic uplift factor
    months = spark.sql(
        "SELECT explode(sequence(to_timestamp('2024-01-01'), "
        "to_timestamp('2024-12-01'), interval 1 month)) AS m_start"
    ).select(
        "m_start",
        (F.month("m_start") * F.lit(0.01) + F.lit(1.0)).alias("uplift"),
    )
    ev = events.withColumn("m_start", F.date_trunc("month", F.col("ts")))
    return (
        ev.join(F.broadcast(months), "m_start", "inner")
        .select(
            "event_id",
            F.col("m_start").alias("period_start"),
            (F.col("value") * F.col("uplift")).alias("value_uplifted"),
        )
    )


SQL_RANGE_JOIN_BUCKETS = """
    WITH months AS (
        SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-12-01',
                                      INTERVAL 1 MONTH)) AS m_start
    ), rates AS (
        SELECT m_start, month(m_start) * 0.01 + 1.0 AS uplift FROM months
    )
    SELECT event_id, m_start AS period_start,
           value * uplift AS value_uplifted
    FROM events JOIN rates ON date_trunc('month', ts) = m_start
"""


def q_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator null semantics: posexplode_outer keeps rows whose array
    is empty (pos/word NULL) — the flatMap edge case the plain explode
    drops. Exercised on name-token arrays filtered to a mix of empty and
    non-empty."""
    part = load_table(spark, sf_dir, "part")
    toks = F.expr("filter(split(p_name, ' '), x -> length(x) > 6)")
    return part.select("p_partkey", toks.alias("t")).select(
        "p_partkey",
        F.posexplode_outer(F.col("t")).alias("pos", "word"),
    )


SQL_EXPLODE_VARIANTS = """
    WITH t AS (
        SELECT p_partkey,
               list_filter(string_split(p_name, ' '), x -> length(x) > 6) AS t
        FROM part
    )
    SELECT p_partkey,
           CAST(u.i - 1 AS INTEGER) AS pos,
           t.t[u.i] AS word
    FROM t LEFT JOIN LATERAL (
        SELECT UNNEST(generate_series(1, len(t.t))) AS i
    ) u ON TRUE
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17-shaped): orders above their
    own customer's average order value. Catalyst de-correlates this into
    an aggregate + join — same plan the hand-written join form gets."""
    # the customer average goes through an exact decimal sum (a native
    # double AVG is accumulation-order-dependent — boundary rows would
    # flip between engines/parallelism levels)
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS totalprice
        FROM {orders} o
        WHERE o_totalprice > 1.5 * (
            SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*)
            FROM {orders} o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """,
        orders=orders,
    )


SQL_SCALAR_SUBQUERY = """
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (
        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*)
        FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
"""


def q_sql_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API path end-to-end (temp views + correlated EXISTS +
    ORDER BY/LIMIT with tiebreak) — Catalyst plans it identically to the
    DataFrame form; declared separately to pin the SQL surface."""
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spend
        FROM {cust} JOIN {orders} ON o_custkey = c_custkey
        WHERE EXISTS (
            SELECT 1 FROM {orders} o2
            WHERE o2.o_custkey = c_custkey AND o2.o_orderpriority = '1-URGENT'
        )
        GROUP BY c_custkey, c_name
        ORDER BY spend DESC, c_custkey
        LIMIT 20
        """,
        cust=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_SQL_TOP_CUSTOMERS = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spend
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c_custkey AND o2.o_orderpriority = '1-URGENT'
    )
    GROUP BY c_custkey, c_name
    ORDER BY spend DESC, c_custkey
    LIMIT 20
"""


def q_outer_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join completeness: every customer x their order count,
    keeping order-less customers (NULL side) AND orders referencing no
    customer row. NULL-side discipline — coalesce on the join key, typed
    zero-fills — is the classic outer-join correctness trap; pinned here
    against the oracle. At scale: same SMJ as inner, both sides shuffle
    (an outer join cannot broadcast its null-producing side)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.col("c_custkey").isNull().alias("customer_missing"),
        F.col("o_custkey").isNull().alias("orderless"),
    )


SQL_OUTER_JOIN_NULLS = """
    WITH per_cust AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_mktsegment AS mktsegment,
           COALESCE(n_orders, 0) AS n_orders,
           c_custkey IS NULL AS customer_missing,
           o_custkey IS NULL AS orderless
    FROM customer FULL OUTER JOIN per_cust ON c_custkey = o_custkey
"""


def q_null_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar library: coalesce/nullif/nvl2/nanvl and
    null-safe equality (<=>), the operators every dirty-data pipeline
    leans on. Derived null columns keep the oracle deterministic."""
    events = load_table(spark, sf_dir, "events")
    maybe = F.when(F.col("value") > 50.0, F.col("value"))  # NULL below 50
    return events.select(
        "event_id",
        maybe.alias("maybe_value"),
        F.coalesce(maybe, F.lit(-1.0)).alias("coalesced"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        F.expr("nvl2(CASE WHEN value > 50.0 THEN value END, 'high', 'low')").alias(
            "nvl2_label"
        ),
        (F.col("event_type") == F.lit("error")).alias("plain_eq"),
        F.col("event_type").eqNullSafe(
            F.nullif(F.col("event_type"), F.lit("error"))
        ).alias("nullsafe_eq"),
    )


SQL_NULL_FNS = """
    SELECT event_id,
           CASE WHEN value > 50.0 THEN value END AS maybe_value,
           COALESCE(CASE WHEN value > 50.0 THEN value END, -1.0) AS coalesced,
           NULLIF(event_type, 'error') AS type_or_null,
           CASE WHEN (CASE WHEN value > 50.0 THEN value END) IS NOT NULL
                THEN 'high' ELSE 'low' END AS nvl2_label,
           event_type = 'error' AS plain_eq,
           event_type IS NOT DISTINCT FROM NULLIF(event_type, 'error')
               AS nullsafe_eq
    FROM events
"""


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact column moments per event type: mean and population variance
    from DECIMAL sums of x and x^2 — order-independent at any
    parallelism, unlike the engine-native stddev/variance aggregates
    whose float accumulation order varies with partitioning. The single
    pass computes both moments (no second scan)."""
    events = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    sx = F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
    sxx = F.sum(
        (F.col("value") * F.col("value")).cast("decimal(38,6)")
    ).cast("double")
    return events.groupBy("event_type").agg(
        n.alias("n"),
        (sx / n).alias("mean"),
        ((sxx - sx * sx / n) / n).alias("var_pop"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


SQL_COLUMN_STATS = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean,
           (CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
              * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
           / COUNT(*) AS var_pop,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
"""


BIG_ORDER_QTY = 120


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: customers holding orders whose total lineitem
    quantity exceeds BIG_ORDER_QTY — HAVING on a decimal sum feeding an
    IN-subquery join. The HAVING runs after partial+final aggregation on
    orderkey (co-partitioned with the orders join at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > BIG_ORDER_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            "total_qty",
        )
    )


SQL_BIG_ORDERS = f"""
    WITH big AS (
        SELECT l_orderkey, {dsum_sql('l_quantity')} AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {dsum_sql('l_quantity')} > {BIG_ORDER_QTY}
    )
    SELECT c_custkey, c_name, o_orderkey,
           o_totalprice AS totalprice, total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery surface (SQL:2016 / Spark >= 3.2):
    per nation, the top-2 customers by account balance — the
    "per-group top-N as a join" idiom a SQL user migrating from the
    reference's per-key processing writes directly. Catalyst
    decorrelates the lateral LIMIT into a ranked window join rather
    than executing one subquery per outer row (pinned in
    tests/test_plans.py: no per-row re-execution artifacts, no
    cartesian), so the shape scales as one shuffle keyed by the
    correlation key. Deterministic by the (c_acctbal DESC, c_custkey)
    tiebreak."""
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
        FROM {nation} n,
        LATERAL (
            SELECT c_custkey, c_name, c_acctbal FROM {cust} c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        """,
        nation=load_table(spark, sf_dir, "nation"),
        cust=load_table(spark, sf_dir, "customer"),
    )


SQL_LATERAL_TOPN = """
    SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (
        SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) t
"""


# --- RFM customer segmentation (round 9) -------------------------------------

# recency anchor: the day after the dataset's last order date — fixed so
# the report is reproducible (never now())
RFM_ANCHOR = "2002-01-01"
RFM_NTILES = 4


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    classic CRM marketing segmentation, computed within each nation so
    segments compare like-for-like markets: per customer, days since
    last order, order count, and decimal-exact revenue; NTILE(4) per
    metric inside the nation; then the segment-grain report (customer
    count + exact revenue per (nation, r, f, m) cell). Customers with
    no orders have no RFM signal and are excluded by construction (the
    orders aggregation defines the population).

    Determinism: every NTILE rides a TOTAL order ((metric, custkey) —
    the interval_merge lesson), and NTILE's bucket arithmetic is the
    standard equal-fill definition both engines implement identically.
    Monetary sums go through DECIMAL(38,6) at both levels (per
    customer, per segment), so no accumulation-order drift; recency is
    integer datediff from the fixed anchor.

    Scale shape (100 TB): orders aggregates to |customers| rows keyed
    by custkey BEFORE joining customer (co-partitioned SMJ under AQE —
    the join carries one row per customer, never raw orders); the three
    windows partition by nation (each partition is one market, the
    segmentation's own grain); the final aggregate is bounded by
    |nations| x 4^3 cells."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    rfm = per_cust.join(cust, "o_custkey")
    w_r = W.partitionBy("c_nationkey").orderBy(
        F.col("recency_days").asc(), F.col("o_custkey").asc()
    )
    w_f = W.partitionBy("c_nationkey").orderBy(
        F.col("frequency").desc(), F.col("o_custkey").asc()
    )
    w_m = W.partitionBy("c_nationkey").orderBy(
        F.col("monetary").desc(), F.col("o_custkey").asc()
    )
    scored = rfm.select(
        "c_nationkey",
        "monetary",
        F.ntile(RFM_NTILES).over(w_r).alias("r_q"),
        F.ntile(RFM_NTILES).over(w_f).alias("f_q"),
        F.ntile(RFM_NTILES).over(w_m).alias("m_q"),
    )
    return (
        scored.groupBy("c_nationkey", "r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dsum(F.col("monetary")).alias("segment_revenue"),
        )
        .orderBy("c_nationkey", "r_q", "f_q", "m_q")
    )


SQL_RFM_SEGMENTS = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate),
                              TIMESTAMP '{RFM_ANCHOR} 00:00:00')
                    AS INTEGER) AS recency_days,
               COUNT(*) AS frequency,
               {dsum_sql('o_totalprice')} AS monetary
        FROM orders GROUP BY o_custkey
    ), rfm AS (
        SELECT p.*, c.c_nationkey
        FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
    ), scored AS (
        SELECT c_nationkey, monetary,
               NTILE({RFM_NTILES}) OVER (PARTITION BY c_nationkey
                   ORDER BY recency_days ASC, o_custkey ASC) AS r_q,
               NTILE({RFM_NTILES}) OVER (PARTITION BY c_nationkey
                   ORDER BY frequency DESC, o_custkey ASC) AS f_q,
               NTILE({RFM_NTILES}) OVER (PARTITION BY c_nationkey
                   ORDER BY monetary DESC, o_custkey ASC) AS m_q
        FROM rfm
    )
    SELECT c_nationkey,
           CAST(r_q AS INTEGER) AS r_q,
           CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {dsum_sql('monetary')} AS segment_revenue
    FROM scored
    GROUP BY c_nationkey, r_q, f_q, m_q
    ORDER BY c_nationkey, r_q, f_q, m_q
"""


# --- market-basket lift (round 9) --------------------------------------------

BASKET_MIN_SUPPORT = 2
BASKET_TOPK = 20
# q_copurchase_triangles' edge-support threshold (defined here, next to
# the shared pair-support memo both basket operators consume; analytics
# imports it — importing analytics from here would be circular)
TRI_MIN_SUPPORT = 2


def order_part_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared distinct (l_orderkey, l_partkey) basket frame, memo-
    persisted under one key. Both basket-graph operators (q_basket_lift
    here, q_copurchase_triangles in analytics.py) consume it 5–6 times
    each with zero exchange reuse, so it is built ONCE per (session,
    sf_dir) — and built HERE only (r15 ADVICE: two call sites
    independently constructing a plan under a shared memo key means
    first-built-wins; an edit to one site's projection would silently
    serve the other a stale, different frame)."""
    return cached(
        spark,
        sf_dir,
        "order_part_distinct",
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist(),
    )


def basket_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE shared co-purchase pair-support frame (pa < pb, support =
    co-ordering order count), memo-persisted once per (session, sf_dir).

    Round 17: q_basket_lift and q_copurchase_triangles each ran the
    SAME Σ_orders k²/2 self-join + support aggregation over the shared
    order_part_distinct frame independently — the single most expensive
    stage of both entries, executed twice per session. It is built HERE
    only (the r15 ADVICE single-construction-site rule) and filtered at
    the FLOOR of both consumers' support thresholds, so each consumer
    re-applies its own threshold and a future change to either constant
    cannot silently serve the other a wrongly-pruned frame. This is the
    write-once pair-support table a production basket pipeline
    materializes before fanning out to recommenders and graph reports."""
    def build() -> DataFrame:
        floor = min(BASKET_MIN_SUPPORT, TRI_MIN_SUPPORT)
        li = order_part_distinct(spark, sf_dir)
        a = li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
        )
        b = li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
        )
        return (
            a.join(b, "ok")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= F.lit(floor))
        ).persist()

    return cached(spark, sf_dir, "basket_pair_support", build)


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: for part
    pairs co-ordered in at least BASKET_MIN_SUPPORT orders, the lift
    support(a,b)·N / (cnt(a)·cnt(b)) — the co-purchase signal a
    recommender or assortment planner ranks by. Top-BASKET_TOPK by
    lift (exact total order: lift DESC, then the pair).

    Determinism: supports and counts are exact int64 (distinct
    (order, part) first, so a part listed twice in one order counts
    once); lift is one fixed double expression of those ints,
    decimal-rounded.

    Scale shape: the pair generation is a SELF-JOIN of the distinct
    (order, part) table on orderkey with partkey_a < partkey_b — a
    co-partitioned SMJ whose output is Σ_orders k²/2 (bounded by the
    basket-size distribution, the standard a-priori cost); everything
    after is |pairs|- or |parts|-bounded; part counts broadcast in;
    top-k is orderBy+limit => TakeOrderedAndProject. The distinct
    (order, part) frame is memo-persisted under a key SHARED with
    q_copurchase_triangles (round 15): it feeds five consumers here
    (order count, part counts, both self-join sides) and the scan +
    600k-row distinct recomputed for each — the write-once basket
    table both basket operators read, built by the one shared helper
    order_part_distinct() above (r15 ADVICE: one construction site, so
    the two consumers cannot drift)."""
    li = order_part_distinct(spark, sf_dir)
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    part_cnt = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # round 17: the Σ_orders k²/2 pair self-join + support aggregation
    # is built ONCE in basket_pair_support (shared with
    # q_copurchase_triangles); this consumer re-applies its own
    # threshold on the memoized frame
    pairs = basket_pair_support(spark, sf_dir).filter(
        F.col("support") >= F.lit(BASKET_MIN_SUPPORT)
    )
    scored = (
        pairs.join(
            F.broadcast(part_cnt.select(F.col("l_partkey").alias("pa"),
                                        F.col("cnt").alias("cnt_a"))),
            "pa",
        )
        .join(
            F.broadcast(part_cnt.select(F.col("l_partkey").alias("pb"),
                                        F.col("cnt").alias("cnt_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "support",
            "cnt_a",
            "cnt_b",
            (
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (
                    F.col("cnt_a").cast("double")
                    * F.col("cnt_b").cast("double")
                )
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(BASKET_TOPK)


SQL_BASKET_LIFT = f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li
    ), pc AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY p
    ), pairs AS (
        SELECT a.p AS part_a, b.p AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT part_a, part_b, support,
           ca.cnt AS cnt_a, cb.cnt AS cnt_b,
           CAST(CAST(
               CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)
               / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE))
               AS DECIMAL(38,6)) AS DOUBLE) AS lift
    FROM pairs
    JOIN pc ca ON ca.p = pairs.part_a
    JOIN pc cb ON cb.p = pairs.part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT {BASKET_TOPK}
"""
