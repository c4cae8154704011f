"""The power-plants pipeline (reference staging for nuclear + thermal).

Reference flow (``dags/global_dag.py:50-67,188-221``): two `;`-separated
CSVs → pandas drop/rename → staging CSVs → dedup-on-plant → per-row
INSERT generation with a 'THERMAL'/'NUCLEAR' literal.

Spark flow: schema'd CSV scans (S6, DROPMALFORMED) → projection/rename
(P1/P2) → union-with-discriminator (J3) → GPS split (F4) → date parse
(F1) + null filter (P5) → first-wins dedup on plant name (A1) →
canonical-content sha1 id (F3) → full-refresh dimension write (I2).

Output schema matches ``dags/sql/create_power_plant_table.sql:4-13``:
(id, plant_name, plant_type, fuel_type, creation_date, plant_power,
latitude, longitude).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.functions.dates import parse_date_multi
from data_eng_project_spark.functions.hashing import canonical_row_id
from data_eng_project_spark.operators.joins import union_with_discriminator
from data_eng_project_spark.sources.readers import read_csv

# Columns consumed from either plant CSV (FIXTURES.md §1-2). Both files
# carry ~25-27 `;`-separated columns; we read all as string and project —
# Catalyst prunes the scan to the consumed columns anyway.
CONSUMED = {
    "centrale": "plant_name",
    "fuel": "fuel_type",
    "point_gps_wsg84": "position",
    "date_de_mise_en_service_industrielle": "start_date_raw",
    "puissance_installee": "plant_power",
}


def _stage_plants(spark: SparkSession, path: str) -> DataFrame:
    raw = read_csv(spark, path, sep=";")
    return raw.select(*[F.col(src).alias(dst) for src, dst in CONSUMED.items()])


def build_power_plants(
    spark: SparkSession, nuclear_csv: str, thermal_csv: str
) -> DataFrame:
    nuclear = _stage_plants(spark, nuclear_csv)
    thermal = _stage_plants(spark, thermal_csv)
    plants = union_with_discriminator(
        [(nuclear, "NUCLEAR"), (thermal, "THERMAL")], "plant_type"
    )
    parsed = (
        plants.withColumn("creation_date", parse_date_multi("start_date_raw"))
        .withColumn("latitude", F.split("position", ",").getItem(0).cast("double"))
        .withColumn("longitude", F.split("position", ",").getItem(1).cast("double"))
        .withColumn("plant_power", F.col("plant_power").cast("double"))
        .filter(F.col("creation_date").isNotNull())  # reference :202-204,209-211
    )
    # First-wins dedup on plant name (reference A1: dags/global_dag.py:190,194)
    # made deterministic: earliest creation_date, then power desc.
    w = Window.partitionBy("plant_name").orderBy(
        F.col("creation_date").asc(), F.col("plant_power").desc()
    )
    deduped = (
        parsed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    return deduped.select(
        canonical_row_id(
            "plant_name", "plant_type", "fuel_type", "creation_date", "plant_power"
        ).alias("id"),
        "plant_name",
        "plant_type",
        "fuel_type",
        "creation_date",
        "plant_power",
        "latitude",
        "longitude",
    )
