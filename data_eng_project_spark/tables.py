"""Loaders for the benchmark parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a scale-factor
directory such as ``/root/testdata/sf0.01``.

Table reads (and the staged artifacts of pipelines/staging.py) go
through ``read_parquet``, a plain ``spark.read.parquet``
(vectorized reader, column pruning, predicate pushdown, partition
pruning on partitioned directories) whose schema is pinned after the
first read. Spark infers a parquet schema with one job per read; the
memo keeps the inferred schema keyed by the identity of the data files
(path, size, ``mtime_ns`` of the file, or of every data file under a
directory) and by the parquet-inference confs, so a repeated read of
unchanged files runs no job and a rewritten file is re-inferred.
Non-local paths (nothing to ``stat``) are inferred on every read.

Loaders apply no session confs: the session is expected to be prepared
already (``session.get_session``, or the registry wrapper around every
query), and the ``nanosAsLong`` conf decides how events ``ts`` arrives.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Confs that change what parquet schema inference returns for the same
# files (nanosAsLong decides the events ``ts`` type).
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# Process-wide: a key names exact file contents, so any session may share it.
_SCHEMAS: dict = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_identity(path: str) -> tuple:
    """(path, size, mtime_ns) of the file, or of every data file under
    the directory (Spark's own rule: names starting with ``_`` or ``.``
    are metadata). Raises OSError when ``path`` is not local."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    ident = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                st = os.stat(p)
                ident.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(ident))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of these files (see the module docstring)."""
    try:
        key = (_file_identity(path), tuple(spark.conf.get(c, None) for c in _INFER_CONFS))
    except OSError:  # remote or missing: Spark infers (or raises) as usual
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # The generator has stored ts two ways across rounds:
        # TIMESTAMP(NANOS) (arrives as a nanosecond long under
        # nanosAsLong — truncate to micros exactly like DuckDB does) and
        # plain timestamp[us] with isAdjustedToUTC=false (arrives as
        # TIMESTAMP_NTZ — cast to session-TZ TIMESTAMP, a numeric no-op
        # under the pinned UTC session, so unix_micros & friends apply).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scan_task_count(sf_dir: str, name: str) -> int:
    """Number of parallel scan tasks the table's parquet layout can
    yield: parquet splits at ROW-GROUP granularity, so a file with one
    row group is one task no matter how small maxPartitionBytes goes.

    Walks the directory tree recursively so Hive-partitioned layouts
    (part files nested under key=value subdirectories) are counted
    correctly. Any path this process cannot inspect locally (remote
    object-store URI, unreadable footer) reports "many" so
    rebalance_if_unsplittable stays a no-op — on a production lake the
    layout is someone else's job and a gratuitous full shuffle is worse
    than trusting it."""
    import pyarrow.parquet as pq

    _MANY = 1 << 20
    path = table_path(sf_dir, name)
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(os.path.join(root, f)).num_row_groups
            return max(total, 1)
        if not os.path.exists(path):
            return _MANY
        return max(pq.ParquetFile(path).num_row_groups, 1)
    except Exception:  # noqa: BLE001 — non-local/odd layout: assume well-split
        return _MANY


def rebalance_if_unsplittable(
    df: DataFrame, sf_dir: str, name: str, spark: SparkSession, key: str | None = None
) -> DataFrame:
    """Repartition a fact scan ONLY when its file layout pins it to fewer
    tasks than half the session's cores — the single-row-group /
    gzip-style unsplittable-input defense.

    On a production lake (files written with many row groups, or many
    files per table) this is a no-op: no shuffle is added, the scan
    parallelizes natively. The driver's small-SF benchmark tables are
    single-file single-row-group, which would otherwise serialize every
    map-side partial aggregate onto one core while 31 idle — there the
    one exchange (narrow columns, post-pushdown rows) buys back the
    machine. Decision happens at plan-build time from local parquet
    footer metadata — no Spark job, no data read.

    Pass ``key`` (a high-cardinality column) to spread by HASH instead
    of round-robin: a keyless repartition(n) first pays a local sort of
    its entire input in the scan task (sortBeforeRepartition, on by
    default since SPARK-23207, so retried tasks reproduce the same
    row-to-partition assignment) — measured 35% of q1's runtime.
    Hash-partitioning needs no such sort because the assignment is
    deterministic by value, and a ~uniform key (an order key: ~5000
    distinct values per partition here) cannot skew.
    """
    from pyspark.sql import functions as F

    from data_eng_project_spark.session import default_parallelism

    cores = default_parallelism()
    if scan_task_count(sf_dir, name) < max(cores // 2, 2):
        return df.repartition(cores, F.col(key)) if key else df.repartition(cores)
    return df
