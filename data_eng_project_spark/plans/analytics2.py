"""Second analytics batch: cube / grouping sets, semi/anti subqueries,
scalar subqueries, conditional (FILTER) aggregation, null-handling
scalars, correlation, approximate distinct counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.plans.flagship import (
    _DIST_SQL,
    _POINTS_SQL,
    _SITES_SQL,
    RADIUS_KM,
    _points,
    _sites,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

_DEC = "decimal(28,6)"


@register(
    "cube_order_summary",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(c_mktsegment, 'ALL') AS segment,
               count(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY CUBE(o_orderstatus, c_mktsegment)
    """,
    tags=("analytics", "cube"),
)
def cube_order_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × segment (all four grouping combinations)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .cube("o_orderstatus", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_orders",
        )
    )


@register(
    "grouping_sets_revenue",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("analytics", "groupingsets"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (by flag, by status, grand total)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "semi_join_exists",
    oracle="""
        SELECT o.o_orderkey, o.o_orderstatus
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09
        )
    """,
    tags=("analytics", "subquery"),
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-correlated subquery → left-semi join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.09)
    return orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left_semi"
    ).select("o_orderkey", "o_orderstatus")


@register(
    "scalar_subquery_above_avg",
    oracle="""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
    tags=("analytics", "subquery"),
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the mean balance.

    Float note: both engines compare against their own double average;
    the *filter* result is identical as long as the averages agree to
    ~1e-9 — and they agree exactly here because both average the same
    doubles (verified empirically); the avg itself is never output.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        "SELECT c_custkey, c_acctbal FROM customer "
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)"
    )


@register(
    "conditional_aggregation",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                          FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 6) AS open_value
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("analytics", "pivot"),
)
def conditional_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (FILTER / sum-when)."""
    orders = load_table(spark, sf_dir, "orders")

    def when_status(s: str) -> F.Column:
        return F.count(F.when(F.col("o_orderstatus") == s, 1))

    return orders.groupBy("o_orderpriority").agg(
        when_status("O").alias("n_open"),
        when_status("F").alias("n_finished"),
        when_status("P").alias("n_pending"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice").cast(_DEC))
            ).cast("double"),
            6,
        ).alias("open_value"),
    )


@register(
    "null_handling_scalars",
    oracle="""
        SELECT event_id,
               coalesce(nullif(event_type, 'error'), 'recovered') AS type_or_recovered,
               CASE WHEN value IS NULL OR isnan(value) THEN -1.0 ELSE round(value, 3) END AS value_clean,
               (props IS NOT NULL) AS has_props
        FROM events
    """,
    tags=("analytics", "nulls"),
)
def null_handling_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar surface: coalesce / nullif / CASE / IS NULL."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("recovered")).alias(
            "type_or_recovered"
        ),
        F.when(
            F.col("value").isNull() | F.isnan("value"), F.lit(-1.0)
        ).otherwise(F.round("value", 3)).alias("value_clean"),
        F.col("props").isNotNull().alias("has_props"),
    )


@register(
    "flagship_density_power_corr",
    oracle=f"""
        WITH pairs AS (
            SELECT s.s_suppkey,
                   CAST((s.s_suppkey * 97) % 1000 + 200 AS DOUBLE) AS site_power,
                   count(*) AS n_points
            FROM ({_POINTS_SQL}) p
            CROSS JOIN ({_SITES_SQL}) s
            WHERE {_DIST_SQL} <= {RADIUS_KM}
            GROUP BY s.s_suppkey
        )
        SELECT round(corr(n_points, site_power), 6) AS density_power_corr,
               count(*) AS n_sites
        FROM pairs
    """,
    tags=("flagship", "A3", "corr"),
)
def flagship_density_power_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's intended correlation (A3): proximity density vs a
    derived site-power attribute — df.stat-style corr as a query."""
    from data_eng_project_spark.operators.spatial import near_join

    pairs = near_join(_points(spark, sf_dir), _sites(spark, sf_dir), radius_km=RADIUS_KM)
    per_site = pairs.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n_points"))
    per_site = per_site.withColumn(
        "site_power", ((F.col("s_suppkey") * 97) % 1000 + 200).cast("double")
    )
    return per_site.agg(
        F.round(F.corr("n_points", "site_power"), 6).alias("density_power_corr"),
        F.count(F.lit(1)).alias("n_sites"),
    )


@register(
    "approx_distinct_users",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_tolerance
        FROM events
        GROUP BY event_type
    """,
    tags=("analytics", "approx"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the
    at-scale form of COUNT(DISTINCT).

    The raw HLL estimate is engine-specific (DuckDB's sketch differs by
    design), so the *accuracy contract* is what crosses engines: the
    query publishes the exact count plus a genuinely-computed boolean
    that the HLL estimate landed within 3×rsd of it. DuckDB asserts the
    exact counts and that the contract held — a real cross-engine check
    of the sketch (deterministic: Spark's HLL on fixed data is
    repeatable), unlike the earlier rows-only form whose one r1 driver
    row recorded err:no_oracle."""
    events = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("_approx"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 3 * rsd * F.col("exact_users")
        ).alias("within_tolerance"),
    )


@register(
    "distinct_users",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    tags=("analytics", "distinct"),
)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per event type — the oracle-checkable twin
    of approx_distinct_users (whose HLL sketch is engine-specific by
    design and therefore stays rows-only, outside the graded window).
    Spark executes this as an expand + two-phase aggregate: partial
    distinct sets shrink map-side, so the shuffle carries distinct
    (event_type, user_id) pairs, not raw events."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "percentile_price_quartiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.50), 4) AS median,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("analytics", "percentile"),
)
def percentile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles per group (linear-interpolation percentile — the
    same definition as the oracle's quantile_cont). Spark's `percentile`
    is a full-sort-per-group aggregate; at scale you'd flip to
    approx_percentile, which is sketch-based and engine-specific."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .select(
            "l_returnflag",
            F.round(F.element_at("_p", 1), 4).alias("p25"),
            F.round(F.element_at("_p", 2), 4).alias("median"),
            F.round(F.element_at("_p", 3), 4).alias("p75"),
        )
    )


@register(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("analytics", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True `.pivot()` (wide output). The pivot values are declared
    explicitly — at scale, never let Spark run the implicit
    distinct-values pre-query."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("O", F.lit(0)).alias("status_O"),
        F.coalesce("F", F.lit(0)).alias("status_F"),
        F.coalesce("P", F.lit(0)).alias("status_P"),
    )


@register(
    "unpivot_status_counts",
    oracle="""
        WITH wide AS (
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, status, n FROM wide
        UNPIVOT (n FOR status IN (status_O, status_F, status_P))
    """,
    tags=("analytics", "unpivot"),
)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """melt/unpivot: wide per-status counts back to long form."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["status_O", "status_F", "status_P"],
        "status",
        "n",
    )


@register(
    "stratified_sample_deterministic",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_sampled,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS sampled_value
        FROM orders
        WHERE o_orderkey % 10 < (CASE o_orderstatus
                                 WHEN 'O' THEN 1 WHEN 'F' THEN 5 ELSE 10 END)
        GROUP BY o_orderstatus
    """,
    tags=("analytics", "sampling"),
)
def stratified_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (10% of 'O', 50% of
    'F', 100% of others) keyed on a deterministic function of the row id
    — reproducible across engines and runs, unlike seeded `sampleBy`,
    and a pure pushdown-friendly filter at scale."""
    orders = load_table(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderstatus") == "O", 1)
        .when(F.col("o_orderstatus") == "F", 5)
        .otherwise(10)
    )
    return (
        orders.filter((F.col("o_orderkey") % 10) < rate)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(
                F.sum(F.col("o_totalprice").cast(_DEC)).cast("double"), 6
            ).alias("sampled_value"),
        )
    )
