"""The flagship spatial-proximity queries (reference J5 + A3): the
reconstruction of the reference's lost "deaths near power plants"
analysis (reference README.md:11, docs/Report.md:9-10; the notebook that
ran it is a stripped blob).

Mapping onto the benchmark tables (FIXTURES.md §7): customers play the
deaths (points), suppliers play the plants (sites); coordinates are
minted deterministically from the integer keys (functions/geo.py), so
the DuckDB oracle can mint the identical coordinates and check the join
exactly via a brute-force cross join + haversine — while the Spark side
runs the scalable grid-cell equi-join (operators/spatial.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.functions.geo import (
    derive_lat,
    derive_lat_sql,
    derive_lon,
    derive_lon_sql,
    haversine_km_sql,
)
from data_eng_project_spark.operators.spatial import near_join
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

RADIUS_KM = 300.0

# Site keys are decorrelated from point keys so sites don't sit exactly
# on top of points with related ids.
_SITE_KEY = "s_suppkey * 13 + 5"

_POINTS_SQL = f"""
    SELECT c_custkey,
           {derive_lat_sql('c_custkey')} AS lat,
           {derive_lon_sql('c_custkey')} AS lon
    FROM customer
"""
_SITES_SQL = f"""
    SELECT s_suppkey, s_name,
           {derive_lat_sql(_SITE_KEY)} AS site_lat,
           {derive_lon_sql(_SITE_KEY)} AS site_lon
    FROM supplier
"""
_DIST_SQL = haversine_km_sql("p.lat", "p.lon", "s.site_lat", "s.site_lon")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        derive_lat("c_custkey").alias("lat"),
        derive_lon("c_custkey").alias("lon"),
    )


def _sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One source of truth with the oracle: the decorrelation constants
    # live only in _SITE_KEY.
    site_key = F.expr(_SITE_KEY)
    return load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        derive_lat(site_key).alias("site_lat"),
        derive_lon(site_key).alias("site_lon"),
    )


@register(
    "flagship_points_near_sites",
    oracle=f"""
        SELECT p.c_custkey, s.s_suppkey, round({_DIST_SQL}, 3) AS dist_km
        FROM ({_POINTS_SQL}) p
        CROSS JOIN ({_SITES_SQL}) s
        WHERE {_DIST_SQL} <= {RADIUS_KM}
    """,
    headline=True,
    tags=("flagship", "J5", "spatial"),
)
def flagship_points_near_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level proximity join: every (point, site) pair within
    RADIUS_KM. Spark runs the grid-cell candidate join + exact haversine
    filter; the oracle brute-forces the cross join — identical results,
    very different asymptotics."""
    pairs = near_join(
        _points(spark, sf_dir),
        _sites(spark, sf_dir),
        radius_km=RADIUS_KM,
    )
    return pairs.select(
        "c_custkey", "s_suppkey", F.round(F.col("dist_km"), 3).alias("dist_km")
    )


@register(
    "flagship_site_density",
    oracle=f"""
        SELECT s_suppkey, s_name, count(*) AS n_points_nearby
        FROM (
            SELECT s.s_suppkey, s.s_name
            FROM ({_POINTS_SQL}) p
            CROSS JOIN ({_SITES_SQL}) s
            WHERE {_DIST_SQL} <= {RADIUS_KM}
        ) t
        GROUP BY s_suppkey, s_name
    """,
    headline=True,
    tags=("flagship", "J5", "A3", "spatial"),
)
def flagship_site_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's intended analysis shape (A3): count of points
    within the radius of each site ("is there more deaths around power
    plants") — proximity join + per-site aggregation."""
    pairs = near_join(
        _points(spark, sf_dir), _sites(spark, sf_dir), radius_km=RADIUS_KM
    )
    return pairs.groupBy("s_suppkey", "s_name").agg(
        F.count(F.lit(1)).alias("n_points_nearby")
    )
