"""File readers (reference S6-S9, SURVEY.md §2.1).

- ``read_csv``       : delimited scan (explicit schema, or all strings)
                       with the reference's silent-drop-malformed posture
                       (``error_bad_lines=False`` → DROPMALFORMED,
                       reference ``dags/global_dag.py:51-52,61-62``).
- ``read_fixed_width``: fixed-width text → typed columns via
                       substring/trim — fully parallel, replacing the
                       reference's driver-side readlines loop
                       (``dags/global_dag.py:94-103``). No custom
                       DataSourceV2 needed: spark.read.text already
                       splits large files by line blocks across tasks.
- ``read_resources_json``: dataset-resource metadata JSON → exploded
                       (format, latest, title) rows
                       (``dags/global_dag.py:172-178,238-251``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sep: str = ",",
) -> DataFrame:
    """Headered CSV scan that drops malformed rows. Without ``schema``
    every column is read as a string (no inference pass over the file)."""
    reader = spark.read.option("sep", sep).option("header", True).option("mode", "DROPMALFORMED")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


# (name, start_0based, length, type) column specs.
ColSpec = tuple[str, int, int, str]


def read_fixed_width(
    spark: SparkSession, path: str, colspecs: Sequence[ColSpec]
) -> DataFrame:
    """Fixed-width text file → DataFrame with one typed column per spec.

    Also keeps the raw line as ``_raw`` so callers can mint content-hash
    ids from the original bytes (reference death-id semantics,
    ``dags/global_dag.py:99``).
    """
    lines = spark.read.text(path)
    cols = [
        F.trim(F.substring(F.col("value"), start + 1, length)).cast(dtype).alias(name)
        for name, start, length, dtype in colspecs
    ]
    return lines.select(F.col("value").alias("_raw"), *cols)


def read_resources_json(spark: SparkSession, path: str) -> DataFrame:
    """Resource-envelope JSON → one row per resource with the three
    consumed fields (format, latest, title)."""
    raw = spark.read.option("multiLine", True).json(path)
    return raw.select(F.explode("resources").alias("r")).select(
        F.col("r.format").alias("format"),
        F.col("r.latest").alias("latest"),
        F.col("r.title").alias("title"),
    )


def read_parquet_evolving(
    spark: SparkSession, path: str | list[str], merge_schema: bool = True
) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: files written before a
    column existed surface NULL for it, and the unioned schema comes from
    footer merging (``mergeSchema``) instead of whichever file the
    planner samples first. This is the read posture for a lake table
    that gained columns over time — the alternative (default sampling)
    silently drops late-added columns when an old file is sampled.

    Cost note: mergeSchema reads every footer at planning time — O(files)
    driver work. On a high-file-count production table, prefer a real
    table format or an explicit ``schema=`` (the superset StructType),
    which this helper accepts implicitly by callers passing it to
    spark.read themselves; mergeSchema here is the zero-catalog answer.
    """
    return spark.read.option("mergeSchema", merge_schema).parquet(
        *(path if isinstance(path, list) else [path])
    )


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC scan — the columnar interchange format Hive-lineage lakes
    still publish alongside parquet. Spark's native vectorized ORC
    reader gives the same pushdown/pruning surface as parquet
    (PushedFilters + ReadSchema in the plan), so the engine can sit on
    top of an existing ORC lake without a conversion pass; the
    round-trip contract (schema and values preserved through
    write_orc → read_orc) is pinned by tests/test_sources_and_sink.py.
    """
    return spark.read.orc(*(path if isinstance(path, list) else [path]))
