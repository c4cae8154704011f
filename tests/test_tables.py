"""Schema-pinned parquet reads (tables.read_parquet) and the query
construction they make job-free: a repeated read of unchanged files
infers no schema, a rewritten file is re-inferred, and the events ``ts``
normalization still applies on a memo hit. Job counts come from a job
group plus ``statusTracker``."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from data_eng_project_spark.tables import load_table

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUPS)}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def stage_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "stage")
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", d)
    return d


def test_second_load_runs_no_job_and_keeps_schema(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    again, n_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert n_jobs == 0
    assert again.schema == first.schema


def test_events_ts_is_timestamp_on_memo_hit(spark, sf_dir):
    load_table(spark, sf_dir, "events")
    events, n_jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert n_jobs == 0
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    assert events.select("ts").limit(1).collect()[0]["ts"] is not None


def test_rewritten_directory_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "cast(id AS string) AS s").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "s"]
    assert sorted(r["s"] for r in df.collect()) == ["0", "1", "2"]


def test_rewritten_single_file_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]


def test_staged_pair_read_on_warm_stage_runs_no_job(spark, sf_dir, stage_dir):
    from data_eng_project_spark.pipelines import staging

    first = staging.near_dup_pairs(spark, sf_dir)
    again, n_jobs = _jobs(spark, lambda: staging.near_dup_pairs(spark, sf_dir))
    assert n_jobs == 0
    assert again.schema == first.schema


@pytest.mark.parametrize("name", ["q5_region_supplier_revenue", "flagship_site_density"])
def test_headline_query_build_runs_no_job_after_first_load(spark, sf_dir, name):
    from data_eng_project_spark.plans import REGISTRY

    REGISTRY[name].fn(spark, sf_dir)
    _, n_jobs = _jobs(spark, lambda: REGISTRY[name].fn(spark, sf_dir))
    assert n_jobs == 0


def test_pagerank_jobs_grow_at_most_two_per_round(spark):
    from data_eng_project_spark.operators.clusters import pagerank

    # three components: a 4-cycle with a chord, a triangle + pendant, one edge
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (10, 11), (11, 12), (12, 10),
             (12, 13), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    n_iter = 10
    rows, n_jobs = _jobs(spark, lambda: pagerank(df, n_iter=n_iter).collect())
    assert len(rows) == 10
    assert sum(r["rank"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    # one edge checkpoint at build, then about one job per round's shuffle:
    # 22 in total with broadcast joins, 29 with broadcasts disabled (87
    # and 66 with per-round lazy checkpoints)
    assert n_jobs <= 2 * n_iter + 9
