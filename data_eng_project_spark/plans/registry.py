"""Query registry: name → (spark_fn, oracle_sql, tags).

``register`` is also where session hygiene is applied: every registered
query runs ``session.prepare`` on the session it is handed before it
builds anything, so plan code never calls it itself.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_eng_project_spark.session import prepare

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # included in bench.py's timed set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, headline: bool = False, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            # A silent overwrite would drop the earlier query from the
            # graded/audited surface invisibly — collisions must be loud.
            raise ValueError(f"duplicate query registration: {name!r}")

        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name, fn=query, oracle=oracle, headline=headline, tags=tags
        )
        return query

    return deco
