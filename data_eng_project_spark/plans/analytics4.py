"""Fourth analytics batch: the remaining classic TPC-H decision-support
shapes, adapted to the driver's synthetic schema (no partsupp table, no
l_commitdate/l_receiptdate/c_phone columns — each query keeps the
original's *plan shape* and swaps in available columns):

- Q7  nation-pair directed trade volume (two-sided dimension predicate,
  four-way fact join, year bucketing)
- Q9  profit-by-nation-and-year (p_name content filter, triple dim join)
- Q11 important-parts (grouped agg filtered by a scalar subquery over
  the same aggregate — the HAVING-vs-global-total shape)
- Q17 small-quantity revenue (correlated per-part average → join against
  a re-aggregation of the same filtered fact)
- Q20 above-average suppliers of a part family (nested IN subqueries →
  agg, scalar threshold, double semi join)
- Q21 sole-late-supplier (EXISTS + NOT EXISTS with self-join inequality
  predicates → left-semi then left-anti join)
- Q22 idle customers (scalar-subquery threshold + anti join against
  recent orders)

Correctness model (see README): sums that feed oracle hash comparison
are decimal(28,6); ratios/averages are computed as CAST(decimal-sum AS
DOUBLE)/count so both engines derive floats from identical exact values,
making float thresholds deterministic across engines.

Reference parity: the reference's analytic intent is a single
proximity-join notebook (docs/Report.md:85-89); these queries extend the
relational surface the way its Postgres serving layer would have been
queried (dags/sql/create_death_table.sql, create_power_plant_table.sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

_DEC = "decimal(28,6)"


def _volume() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


@register(
    "q7_nation_pair_volume",
    headline=True,
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               round(CAST(sum(volume) AS DOUBLE), 6) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6)) AS volume
            FROM supplier s
            JOIN lineitem l ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("analytics", "tpch"),
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: directed trade volume between two nations by ship
    year. The two nation-filtered dims broadcast (2 of 25 nations →
    supplier and customer shrink ~12× before touching the facts); the
    disjunctive pair predicate is applied after both sides are tagged,
    on the already-joined row — no cartesian anywhere."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_volume()).cast("double"), 6).alias("revenue"))
    )


@register(
    "q9_profit_by_nation_year",
    oracle="""
        SELECT n_name AS nation, year(l_shipdate) AS o_year,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                          AS DOUBLE), 6) AS profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%bolt%'
        GROUP BY n_name, year(l_shipdate)
    """,
    tags=("analytics", "tpch"),
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in this schema, so profit is revenue):
    content filter on p_name prunes the part dim before it broadcasts;
    supplier and nation broadcast; one shuffle for the final group-by."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("bolt"))
        .select("p_partkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(_volume()).cast("double"), 6).alias("profit"))
    )


@register(
    "q11_important_parts",
    oracle="""
        SELECT l_partkey,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                          AS DOUBLE), 6) AS part_value
        FROM lineitem
        GROUP BY l_partkey
        HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
             > (SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                            AS DOUBLE) / 5000.0
                FROM lineitem)
    """,
    tags=("analytics", "tpch"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value filtered by a fraction of the
    global total. The global total is re-derived from the per-part
    aggregate itself (sum of decimal sums is exact and associative), so
    the fact table is scanned ONCE; the one-row total broadcasts into
    the filter. Threshold compared in double on both engines, derived
    from identical exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(_volume()).alias("part_value"))
    total = per_part.agg(
        (F.sum("part_value").cast("double") / F.lit(5000.0)).alias("_threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value").cast("double") > F.col("_threshold"))
        .select(
            "l_partkey",
            F.round(F.col("part_value").cast("double"), 6).alias("part_value"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 6)
                   AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
          AND l.l_quantity < 0.2 * (
              SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*)
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    tags=("analytics", "tpch"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders far below the part's average
    quantity. The correlated per-part average de-correlates into a
    group-by over the SAME brand-filtered lineitem slice (every lineitem
    row for a given partkey survives the p_brand equi-join, so the inner
    aggregate over the filtered slice equals the whole-table correlated
    aggregate), then joins back on partkey. Average as exact-decimal-sum
    ÷ count in double so the 0.2× threshold is bit-identical across
    engines."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    avg_q = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_qty")
    )
    return (
        li.join(F.broadcast(avg_q.withColumnRenamed("l_partkey", "_pk")),
                F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.lit(7.0), 6
            ).alias("avg_yearly")
        )
    )


@register(
    "q20_top_part_family_suppliers",
    oracle="""
        WITH sq AS (
            SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(28,6))) AS q
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'red%'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM sq
            WHERE CAST(q AS DOUBLE) > (SELECT CAST(sum(q) AS DOUBLE) / count(*) FROM sq))
    """,
    tags=("analytics", "tpch"),
)
def q20_top_part_family_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (partsupp-free): suppliers who shipped an
    above-average quantity of 'red…' parts. Nested subqueries become:
    broadcast part-family filter → per-supplier decimal agg → one-row
    mean broadcast into the threshold filter → left-semi join into the
    supplier dim. Fact scanned once."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    per_sup = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("q"))
    )
    mean = per_sup.agg(
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("_mean_q")
    )
    winners = (
        per_sup.join(F.broadcast(mean))
        .filter(F.col("q").cast("double") > F.col("_mean_q"))
        .select("l_suppkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return sup.join(
        F.broadcast(winners), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    )


@register(
    "q21_sole_late_suppliers",
    oracle="""
        SELECT s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
    """,
    tags=("analytics", "tpch"),
)
def q21_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape ('late' = shipped >60 days after order date since
    this schema has no commit/receipt dates): suppliers who were the
    ONLY late supplier on a finished multi-supplier order. EXISTS →
    left-semi on (orderkey, suppkey≠), NOT EXISTS → left-anti with the
    extra lateness predicate; both are equi-joins on l_orderkey with
    residual inequality filters, so they hash-partition on the same key
    as the base join — AQE coalesces the three shuffles onto one
    exchange layout."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(late)
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    base = base.join(
        l2,
        (F.col("l_orderkey") == F.col("_ok2")) & (F.col("l_suppkey") != F.col("_sk2")),
        "left_semi",
    )
    l3 = li.select(
        F.col("l_orderkey").alias("_ok3"),
        F.col("l_suppkey").alias("_sk3"),
        F.col("l_shipdate").alias("_sd3"),
    )
    base = base.join(
        l3,
        (F.col("l_orderkey") == F.col("_ok3"))
        & (F.col("l_suppkey") != F.col("_sk3"))
        & (F.col("_sd3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        base.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q22_idle_customers",
    oracle="""
        SELECT c_nationkey, count(*) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE), 6) AS totacctbal
        FROM customer c
        WHERE c.c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
          AND c.c_acctbal > (
              SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
              FROM customer c2
              WHERE c2.c_nationkey IN (1, 2, 3, 4, 5, 6, 7) AND c2.c_acctbal > 0.0)
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_nationkey
    """,
    tags=("analytics", "tpch"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (no c_phone, so the country-code substring becomes
    a nationkey set; 'never ordered' becomes 'no order since 1999' to
    stay non-empty on the synthetic data): above-average-balance
    customers in seven nations with no recent orders. Scalar threshold
    broadcasts; NOT EXISTS → left-anti against the date-pruned orders
    scan; final group-by is 7 groups."""
    nations = [1, 2, 3, 4, 5, 6, 7]
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(nations))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    threshold = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "_avg_bal"
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast(_DEC)).cast("double"), 6).alias(
                "totacctbal"
            ),
        )
    )


@register(
    "window_function_suite",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_nationkey,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cum_dist,
               lag(c_acctbal) OVER w AS prev_bal,
               lead(c_acctbal) OVER w AS next_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
                     ORDER BY c_acctbal, c_custkey)
    """,
    tags=("analytics", "window"),
)
def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/distribution window-function breadth — ntile, percent_rank,
    cume_dist, lag, lead over one window spec. The ORDER BY carries the
    unique-key tie-break (c_custkey) so ntile bucket boundaries are
    total-order deterministic across engines. Partitioning by
    (segment, nation) keeps ~125 groups — at 100 TB a segment-only
    window would funnel the table through 5 partitions; composite keys
    are the scale-out lever for window work."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        "c_acctbal", "c_custkey"
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.lead("c_acctbal").over(w).alias("next_bal"),
    )


@register(
    "approx_price_quartiles",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               TRUE AS p25_rank_ok, TRUE AS median_rank_ok, TRUE AS p75_rank_ok
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("analytics", "sketch", "percentile"),
)
def approx_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quartiles (Greenwald-Khanna approx_percentile,
    accuracy 10000 → ≤0.01% rank error): the 100 TB path where the exact
    per-group full sort of `percentile_price_quartiles` is replaced by a
    mergeable constant-memory sketch — one pass, partial-aggregable,
    no sort.

    Sketch values are engine-specific, so the GK *rank guarantee* is the
    cross-engine output: for each returned quantile value v at target
    fraction q, the true rank interval [#(x < v), #(x <= v)] must
    intersect [q - eps, q + eps]·n with eps = 1/accuracy (plus one rank
    of slack for interpolation at exact array boundaries). The booleans
    are genuinely computed from a second exact pass; DuckDB asserts the
    group sizes and that every guarantee held."""
    li = load_table(spark, sf_dir, "lineitem")
    eps = 1.0 / 10000
    pct = F.expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)"
    )
    approx = li.groupBy("l_returnflag").agg(pct.alias("_p"))
    # Exact rank interval of each sketch value, one aggregate pass:
    # join the 3-row sketch output back (broadcast — group count is tiny)
    # and count strictly-below / at-or-below per group.
    ranked = li.join(F.broadcast(approx), on="l_returnflag").groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            agg_
            for i, name in ((1, "p25"), (2, "median"), (3, "p75"))
            for agg_ in (
                F.sum(
                    (F.col("l_extendedprice") < F.element_at("_p", i)).cast("long")
                ).alias(f"_lt_{name}"),
                F.sum(
                    (F.col("l_extendedprice") <= F.element_at("_p", i)).cast("long")
                ).alias(f"_le_{name}"),
            )
        ],
    )

    def rank_ok(name: str, q: float):
        lo = (q - eps) * F.col("n_rows") - 1
        hi = (q + eps) * F.col("n_rows") + 1
        return (
            (F.col(f"_lt_{name}") <= hi) & (F.col(f"_le_{name}") >= lo)
        ).alias(f"{name}_rank_ok")

    return ranked.select(
        "l_returnflag",
        "n_rows",
        rank_ok("p25", 0.25),
        rank_ok("median", 0.50),
        rank_ok("p75", 0.75),
    )
