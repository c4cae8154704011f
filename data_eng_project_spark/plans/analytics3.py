"""Third analytics batch: more classic decision-support shapes over the
TPC-H-ish tables — priority checking (EXISTS + date window), market-share
ratio, shipmode severity buckets, promo-revenue percentage, large-order
HAVING, and a supplier ranking window over a join.

Every query follows the repo's bit-identical correctness rules (decimal
sums, rounded doubles, aliased columns — see README "Correctness
model"), and each leans on a distinct Catalyst strategy: semi joins,
conditional aggregation over a join, two-level aggregation with HAVING,
and window-over-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

_DEC = "decimal(28,6)"


@register(
    "q4_priority_order_counts",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    tags=("analytics", "tpch"),
)
def q4_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a date window with at least one line
    shipped after the order date — EXISTS → left-semi join, date filter
    pushed to the orders scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q12_shipmode_severity",
    oracle="""
        SELECT l.l_linestatus,
               count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                   AS high_line_count,
               count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                   AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        GROUP BY l.l_linestatus
    """,
    tags=("analytics", "tpch"),
)
def q12_shipmode_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-severity counts per line status over an
    orders⋈lineitem join with the date filter pushed to the fact scan."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_pct",
    oracle="""
        SELECT round(
                 100.0 * CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                              FILTER (WHERE p_type LIKE 'PROMO%') AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE),
                 6) AS promo_revenue_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
          AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    tags=("analytics", "tpch"),
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month. The part
    dimension broadcasts; revenue sums stay decimal until the final
    ratio so both engines divide identical exact sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(promo, rev)).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
        SELECT c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(CAST(sum(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_qty
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_name, o.o_orderkey, o.o_orderdate
        HAVING sum(CAST(l.l_quantity AS DECIMAL(28,6))) > 300
    """,
    tags=("analytics", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (aggregate → HAVING). The quantity rollup happens on the fact before
    the customer join so only qualifying orders shuffle to the dim."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("_qty"))
        .filter(F.col("_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qty.join(orders, qty["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round(F.col("_qty").cast("double"), 6).alias("total_qty"),
        )
    )


@register(
    "nation_market_share",
    oracle="""
        WITH rev AS (
            SELECT n.n_name,
                   CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(28,6))) AS DOUBLE) AS nation_rev
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT n_name,
               round(nation_rev, 4) AS revenue,
               round(100.0 * nation_rev / sum(nation_rev) OVER (), 6) AS share_pct
        FROM rev
    """,
    tags=("analytics", "tpch", "window"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7/Q8 spirit: each supplier nation's revenue share — a
    grouped aggregate with an unpartitioned window total on the tiny
    aggregated result (25 nations), not on the fact table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    nation_rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("nation_rev"))
    )
    return nation_rev.select(
        "n_name",
        F.round("nation_rev", 4).alias("revenue"),
        F.round(
            100.0 * F.col("nation_rev") / F.sum("nation_rev").over(Window.partitionBy()),
            6,
        ).alias("share_pct"),
    )


@register(
    "q2_max_order_per_customer",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("analytics", "tpch", "subquery"),
)
def q2_max_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery per group — Catalyst
    decorrelates it into an aggregate + equi-join (no per-row re-scan)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "q15_top_revenue_suppliers",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(28,6))) AS total_rev_dec
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               round(CAST(r.total_rev_dec AS DOUBLE), 6) AS total_rev
        FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_rev_dec = (SELECT max(total_rev_dec) FROM rev)
    """,
    tags=("analytics", "tpch", "subquery"),
)
def q15_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue rollup reused twice (join input + scalar
    max) — exact decimal revenue so the max-equality filter is
    deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC))
            .alias("total_rev_dec")
        )
    )
    max_rev = rev.agg(F.max("total_rev_dec").alias("m"))
    return (
        sup.join(rev, sup["s_suppkey"] == rev["l_suppkey"])
        .join(F.broadcast(max_rev), rev["total_rev_dec"] == F.col("m"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev_dec").cast("double"), 6).alias("total_rev"),
        )
    )


@register(
    "salted_join_supplier_revenue",
    oracle="""
        SELECT s.s_suppkey, s.s_name,
               count(*) AS n_lines,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
    """,
    tags=("analytics", "skew", "salting"),
)
def salted_join_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim revenue rollup executed through the explicit salted join
    (operators/skew.py) — the hot-key mitigation for when AQE skew
    splitting isn't enough. The oracle runs the plain join: salting must
    be semantically invisible, and this query proves it on real data."""
    from data_eng_project_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    return (
        salted_join(li, sup, on="s_suppkey", num_salts=8)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
        )
    )


@register(
    "top_supplier_per_nation",
    oracle="""
        WITH ranked AS (
            SELECT n.n_name, s.s_name, s.s_acctbal,
                   row_number() OVER (PARTITION BY n.n_name
                                      ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS rn
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        )
        SELECT n_name, s_name, s_acctbal FROM ranked WHERE rn <= 3
    """,
    tags=("analytics", "window"),
)
def top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers by balance per nation: window-over-join with a
    deterministic tie-break."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("n_name", "s_name", "s_acctbal")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
                          AS DOUBLE), 6) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("analytics", "tpch", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the canonical predicate-pushdown query — every filter
    (date range, discount band, quantity cap) reaches the parquet scan;
    zero joins, one exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
                .cast("double"),
                6,
            ).alias("revenue")
        )
    )


@register(
    "q10_returned_item_customers",
    oracle="""
        SELECT c_custkey, c_name, round(CAST(revenue_dec AS DOUBLE), 6) AS revenue
        FROM (
            SELECT c.c_custkey, c.c_name,
                   sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(28,6))) AS revenue_dec
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name
            ORDER BY revenue_dec DESC, c_custkey ASC
            LIMIT 20
        ) t
    """,
    tags=("analytics", "tpch", "topk"),
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Decimal revenue makes the top-k cut deterministic; the
    LIMIT compiles to TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(rev).alias("revenue_dec"))
        .orderBy(F.col("revenue_dec").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("revenue_dec").cast("double"), 6).alias("revenue"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
        SELECT round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("analytics", "tpch", "disjunction"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides — the
    optimizer must split the common part (join key) from the per-branch
    residuals instead of falling back to a cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])

    def branch(brand: str, smin: int, smax: int, qmin: int, qmax: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & F.col("l_quantity").between(qmin, qmax)
        )

    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    return (
        joined.filter(
            branch("Brand#1", 1, 15, 1, 11)
            | branch("Brand#2", 10, 25, 10, 20)
            | branch("Brand#3", 20, 35, 20, 30)
        )
        .agg(
            F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q13_order_count_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        )
        SELECT n_orders, count(*) AS n_customers
        FROM per_cust
        GROUP BY n_orders
    """,
    tags=("analytics", "tpch", "outerjoin"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer-order-count histogram via LEFT OUTER
    join — customers with zero orders must survive to the n_orders=0
    bucket (count(o_orderkey) ignores the NULLs the outer join mints)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "q16_parts_never_ordered",
    oracle="""
        SELECT p_brand, count(*) AS n_parts
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                                WHERE l_quantity > 45)
        GROUP BY p_brand
    """,
    tags=("analytics", "tpch", "nullaware"),
)
def q16_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 spirit: NOT IN subquery — Catalyst plans a null-aware
    anti join (NOT IN is NOT the same as a plain anti join when the
    subquery can produce NULLs; here the SQL form exercises that exact
    planning path); the subquery is windowed to high-quantity lines so
    the result is non-empty (114 parts at sf0.01 — a 0-row result would
    be a trivial oracle match)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_brand, count(*) AS n_parts
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                                WHERE l_quantity > 45)
        GROUP BY p_brand
        """
    )


@register(
    "full_outer_activity_reconciliation",
    oracle="""
        WITH e AS (
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        ), o AS (
            SELECT o_custkey AS user_id, count(*) AS n_orders
            FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
        )
        SELECT coalesce(e.user_id, o.user_id) AS user_id,
               coalesce(e.n_events, 0) AS n_events,
               coalesce(o.n_orders, 0) AS n_orders,
               (e.user_id IS NULL) AS orders_only,
               (o.user_id IS NULL) AS events_only
        FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
    tags=("analytics", "outerjoin", "reconciliation"),
)
def full_outer_activity_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two activity sources (event counts vs
    order counts per user) — rows surviving from either side with
    presence flags; the audit-join every pipeline migration needs."""
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ej, oj = e.alias("e"), o.alias("o")
    return ej.join(oj, F.col("e.user_id") == F.col("o.user_id"), "full_outer").select(
        F.coalesce(F.col("e.user_id"), F.col("o.user_id")).alias("user_id"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.col("e.user_id").isNull().alias("orders_only"),
        F.col("o.user_id").isNull().alias("events_only"),
    )


@register(
    "events_hourly_gapfill",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ), hours AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS window_start
            FROM bounds
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), agg AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT h.window_start, t.event_type,
               coalesce(a.n_events, 0) AS n_events
        FROM hours h CROSS JOIN types t
        LEFT JOIN agg a ON a.window_start = h.window_start
                       AND a.event_type = t.event_type
    """,
    tags=("analytics", "timeseries", "gapfill"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (the timescale-style dense time series):
    every (hour, type) cell exists, zero-filled where no events landed.
    The dense hour spine is generated distributed (sequence+explode on
    the 1-row bounds aggregate crossed with the tiny type dim) — no
    driver-side date loop."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("window_start")
    )
    types = events.select("event_type").distinct()
    agg = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    grid = hours.crossJoin(types)
    return grid.join(agg, on=["window_start", "event_type"], how="left").select(
        "window_start",
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


_FANOUT_TOP_K = 20


@register(
    "join_fanout_hotspots",
    # Exact per-key join-cardinality diagnostics: both sides reduce to
    # (key, count) first, so the "join" here is count-table-sized, never
    # the M×N row explosion it predicts. sum(fanout) is HUGEINT on the
    # DuckDB side — cast to DOUBLE inside the totals CTE so the output
    # stays driver-hash-safe; the share division uses the same tree on
    # both engines.
    oracle=f"""
        WITH l AS (
            SELECT user_id AS k, count(*) AS cl FROM events GROUP BY user_id
        ), r AS (
            SELECT o_custkey AS k, count(*) AS cr FROM orders GROUP BY o_custkey
        ), j AS (
            SELECT l.k, cl, cr, cl * cr AS fanout FROM l JOIN r USING (k)
        ), t AS (
            SELECT CAST(sum(fanout) AS DOUBLE) AS total FROM j
        )
        SELECT k AS user_id,
               CAST(cl AS BIGINT) AS n_events,
               CAST(cr AS BIGINT) AS n_orders,
               CAST(fanout AS BIGINT) AS fanout,
               round(CAST(fanout AS DOUBLE) / t.total, 6) AS output_share
        FROM j CROSS JOIN t
        ORDER BY fanout DESC, k
        LIMIT {_FANOUT_TOP_K}
    """,
    tags=("analytics", "skew", "diagnostics"),
)
def join_fanout_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-join skew diagnostic: for the M×N events⋈orders user
    join, the 20 keys with the largest per-key output fanout (n_events ×
    n_orders) and their exact share of the join's output rows — what an
    operator reads to decide between AQE skew splitting, salting
    (operators/skew.py), or filtering a pathological key BEFORE paying
    for the join. Both sides reduce to word-count-shaped (key, count)
    aggregates, so the diagnostic joins two count tables and top-k's via
    TakeOrdered — cost is linear in the inputs and independent of the
    predicted fanout."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    left = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    right = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    j = left.join(right, "k").withColumn("fanout", F.col("cl") * F.col("cr"))
    total = j.agg(F.sum("fanout").cast("double").alias("total"))
    return (
        j.crossJoin(F.broadcast(total))
        .select(
            F.col("k").alias("user_id"),
            F.col("cl").cast("bigint").alias("n_events"),
            F.col("cr").cast("bigint").alias("n_orders"),
            F.col("fanout").cast("bigint").alias("fanout"),
            F.round(F.col("fanout").cast("double") / F.col("total"), 6).alias(
                "output_share"
            ),
        )
        .orderBy(F.col("fanout").desc(), F.col("user_id").asc())
        .limit(_FANOUT_TOP_K)
    )


@register(
    "interpolate_user_values",
    oracle="""
        WITH g AS (
            SELECT event_id, user_id, ts, epoch_us(ts) AS t_us,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS gappy
            FROM events
        ), w AS (
            SELECT event_id, user_id, gappy, t_us,
                   last_value(gappy IGNORE NULLS) OVER wp AS pv,
                   last_value(CASE WHEN gappy IS NOT NULL THEN t_us END
                              IGNORE NULLS) OVER wp AS pt,
                   first_value(gappy IGNORE NULLS) OVER wn AS nv,
                   first_value(CASE WHEN gappy IS NOT NULL THEN t_us END
                               IGNORE NULLS) OVER wn AS nt
            FROM g
            WINDOW wp AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   wn AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id, (gappy IS NULL) AS was_gap,
               round(COALESCE(gappy,
                   CASE WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN nt = pt THEN pv
                        ELSE pv + (nv - pv)
                             * (CAST(t_us - pt AS DOUBLE)
                                / CAST(nt - pt AS DOUBLE)) END), 6)
                   + 0.0 AS filled_value
        FROM w
    """,
    tags=("analytics", "timeseries", "interpolation", "gapfill"),
)
def interpolate_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a sparse sensor stream — the step past
    locf_user_values (constant fill): every 5th reading is
    deterministically dropped, then reconstructed from the bracketing
    non-null observations, weighted by time position
    ``v_prev + (v_next − v_prev)·(t − t_prev)/(t_next − t_prev)``. Edge
    semantics: leading gaps take the next observation, trailing gaps
    carry the last one, duplicate-timestamp brackets fall back to the
    previous value (guards the zero division identically on both
    engines).

    Shape: four IGNORE-NULLS running values (prev/next value + their
    µs timestamps) over ONE (user, ts) window partitioning — a single
    shuffle, no self-join against the observation table; the interp
    expression is plain IEEE double arithmetic in the same tree the
    oracle evaluates."""
    events = load_table(spark, sf_dir, "events")
    g = events.select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("gappy"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t_nonnull = F.when(F.col("gappy").isNotNull(), F.col("t_us"))
    w = g.select(
        "event_id",
        "user_id",
        "gappy",
        "t_us",
        F.last("gappy", ignorenulls=True).over(wp).alias("pv"),
        F.last(t_nonnull, ignorenulls=True).over(wp).alias("pt"),
        F.first("gappy", ignorenulls=True).over(wn).alias("nv"),
        F.first(t_nonnull, ignorenulls=True).over(wn).alias("nt"),
    )
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t_us") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    return w.select(
        "event_id",
        "user_id",
        F.col("gappy").isNull().alias("was_gap"),
        (F.round(F.coalesce(F.col("gappy"), interp), 6) + F.lit(0.0)).alias(
            "filled_value"
        ),
    )
