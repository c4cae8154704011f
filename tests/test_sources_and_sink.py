"""Sources (CSV drop-malformed, fixed-width, JSON resources, incremental
ledger) and the idempotent keyed sink."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from data_eng_project_spark.operators.sink import write_full_refresh, write_idempotent
from data_eng_project_spark.sources.ledger import mark_processed, new_files
from data_eng_project_spark.sources.readers import (
    read_csv,
    read_fixed_width,
    read_resources_json,
)


def test_csv_drop_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a;b;c\n1;x;2.5\nmalformed_line_only_one_field\n2;y;3.5\n")
    df = read_csv(spark, str(p), schema="a int, b string, c double", sep=";")
    rows = df.collect()
    assert len(rows) == 2  # malformed row silently dropped (reference S6)
    assert {r.a for r in rows} == {1, 2}


def test_fixed_width_reader(spark, tmp_path):
    p = tmp_path / "fw.txt"
    p.write_text("ABC  42xy\nDEF  77zw\n")
    df = read_fixed_width(
        spark, str(p), [("name", 0, 5, "string"), ("num", 5, 2, "int"), ("tag", 7, 2, "string")]
    )
    rows = {r.name: r for r in df.collect()}
    assert rows["ABC"].num == 42 and rows["ABC"].tag == "xy"
    assert rows["DEF"].num == 77
    assert rows["ABC"]._raw.startswith("ABC")


def test_resources_json(spark, tmp_path):
    p = tmp_path / "res.json"
    p.write_text(
        json.dumps(
            {
                "resources": [
                    {"format": "csv", "latest": "https://x/a.csv", "title": "a"},
                    {"format": "pdf", "latest": "https://x/b.pdf", "title": "b"},
                ]
            }
        )
    )
    df = read_resources_json(spark, str(p))
    assert df.count() == 2
    csvs = df.filter(F.col("format") == "csv").collect()
    assert len(csvs) == 1 and csvs[0].title == "a"


def test_incremental_ledger(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    ledger = str(tmp_path / "ledger")
    (src / "f1.txt").write_text("one")
    (src / "f2.txt").write_text("two")
    first = new_files(spark, str(src), ledger, suffix=".txt")
    assert first.count() == 2
    mark_processed(spark, first, ledger)
    # nothing new → empty
    assert new_files(spark, str(src), ledger, suffix=".txt").count() == 0
    # a new file arrives → only it is returned (left_anti, reference J2)
    (src / "f3.txt").write_text("three")
    third = new_files(spark, str(src), ledger, suffix=".txt").collect()
    assert [r.file_path.endswith("f3.txt") for r in third] == [True]


def test_idempotent_sink(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], "id int, v string")
    n1 = write_idempotent(spark, df, path, keys="id")
    assert n1 == 2  # in-batch dedup on key
    # writing the same batch again is a no-op (ON CONFLICT DO NOTHING)
    n2 = write_idempotent(spark, df, path, keys="id")
    assert n2 == 0
    assert spark.read.parquet(path).count() == 2
    # new key appends
    n3 = write_idempotent(spark, spark.createDataFrame([(3, "c")], "id int, v string"), path, "id")
    assert n3 == 1 and spark.read.parquet(path).count() == 3


def test_full_refresh_dimension(spark, tmp_path):
    path = str(tmp_path / "dim")
    write_full_refresh(spark.createDataFrame([(1,)], "k int"), path)
    write_full_refresh(spark.createDataFrame([(2,), (3,)], "k int"), path)
    assert {r.k for r in spark.read.parquet(path).collect()} == {2, 3}


def test_orc_roundtrip_preserves_rows_and_pushdown(spark, tmp_path):
    """ORC as an alternate columnar interchange format: write → read
    roundtrips rows exactly, and predicate pushdown reaches the ORC scan
    the same way it does for parquet."""
    from data_eng_project_spark.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_orc")
    src.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    from pyspark.sql import functions as F

    a = src.agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)"))).collect()[0][0]
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)"))).collect()[0][0]
    assert a == b
    plan = (
        back.filter(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on the lake: a sink that gained a column mid-
    stream reads back as one table with mergeSchema — old files surface
    NULL for the new column, and filters on it still prune correctly."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted(df.columns) == ["id", "score", "v"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    assert df.filter(F.col("score").isNotNull()).count() == 1


# ------------------------------------------------------------ http ingest


def test_http_ingest_end_to_end_offline(spark, tmp_path):
    """S1-S5 semantics against file:// fixtures: metadata fetch, resource
    list persist+explode, format filter, bounded deterministic download,
    then a distributed scan of the landed files."""
    from data_eng_project_spark.sources.http_ingest import (
        download_resources,
        pull_resource_list,
    )

    payloads = tmp_path / "remote"
    payloads.mkdir()
    for i in range(3):
        (payloads / f"data_{i}.csv").write_text("k;v\n" + f"{i};x{i}\n")
    (payloads / "notes.pdf").write_text("not a csv")
    meta = {
        "title": "fixture dataset",
        "resources": [
            {
                "format": "csv",
                "latest": (payloads / f"data_{i}.csv").as_uri(),
                "title": f"file {i}",
            }
            for i in range(3)
        ]
        + [{"format": "pdf", "latest": (payloads / "notes.pdf").as_uri(), "title": "doc"}],
    }
    meta_path = payloads / "meta.json"
    meta_path.write_text(json.dumps(meta))

    res = pull_resource_list(spark, meta_path.as_uri(), str(tmp_path / "resources.json"))
    assert res.count() == 4  # persisted list carries every resource

    landed = download_resources(
        res, str(tmp_path / "ingest"), fmt="csv", limit=2, retries=0
    )
    assert [os.path.basename(p) for p in landed] == ["data_0.csv", "data_1.csv"]

    df = read_csv(spark, [str(p) for p in landed], sep=";")
    assert df.count() == 2 and set(df.columns) == {"k", "v"}


def test_http_ingest_over_real_loopback_http(spark, tmp_path):
    """S1-S5 over an actual HTTP server (loopback, stdlib http.server):
    the same metadata→resource-list→bounded-download→scan pipeline, but
    every byte crosses a real socket through urllib's http:// path —
    closing the last residual of the file://-only coverage without
    leaving the sandbox."""
    import http.server
    import threading

    from data_eng_project_spark.sources.http_ingest import (
        download_resources,
        fetch_url,
        pull_resource_list,
    )

    docroot = tmp_path / "www"
    docroot.mkdir()
    for i in range(2):
        (docroot / f"data_{i}.csv").write_text("k;v\n" + f"{i};x{i}\n")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(docroot), **kw)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        meta = {
            "resources": [
                {"format": "csv", "latest": f"{base}/data_{i}.csv", "title": f"file {i}"}
                for i in range(2)
            ]
        }
        (docroot / "meta.json").write_text(json.dumps(meta))

        # single fetch over the socket
        got = fetch_url(f"{base}/data_0.csv", str(tmp_path / "one.csv"), retries=0)
        assert open(got).read() == "k;v\n0;x0\n"

        # full pipeline over the socket
        res = pull_resource_list(
            spark, f"{base}/meta.json", str(tmp_path / "resources.json"), retries=0
        )
        landed = download_resources(res, str(tmp_path / "ingest"), fmt="csv", retries=0)
        assert [os.path.basename(p) for p in landed] == ["data_0.csv", "data_1.csv"]
        df = read_csv(spark, [str(p) for p in landed], sep=";")
        assert df.count() == 2 and set(df.columns) == {"k", "v"}

        # a 404 must raise (after retry exhaustion), not land a file
        with pytest.raises(OSError, match="after 1 attempts"):
            fetch_url(f"{base}/missing.csv", str(tmp_path / "nope.csv"), retries=0)
        assert not os.path.exists(tmp_path / "nope.csv")
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_ingest_retries_then_raises(tmp_path):
    from data_eng_project_spark.sources.http_ingest import fetch_url

    t0 = time.time()
    with pytest.raises(OSError, match="after 2 attempts"):
        fetch_url(
            (tmp_path / "missing.csv").as_uri(),
            str(tmp_path / "out.csv"),
            retries=1,
            retry_delay_s=0.2,
        )
    assert time.time() - t0 >= 0.2  # the retry delay actually happened


def test_read_parquet_evolving_merges_added_column(spark, tmp_path):
    """Files written before a column existed must surface NULL for it,
    with the unioned schema — not whichever file the planner samples."""
    from data_eng_project_spark.sources.readers import read_parquet_evolving

    p = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(p)
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b_added"
    ).write.mode("append").parquet(p)
    df = read_parquet_evolving(spark, p)
    assert set(df.columns) == {"id", "a", "b_added"}
    rows = {r.id: r.b_added for r in df.collect()}
    assert all(rows[i] is None for i in range(5))
    assert all(rows[i] == str(i) for i in range(5, 10))


def test_download_resources_uniquifies_colliding_basenames(spark, tmp_path):
    """Regression: two resources whose URLs share a basename (the
    '.../res/<id>/download' API shape) must land as distinct files,
    not silently overwrite each other."""
    from data_eng_project_spark.sources.http_ingest import download_resources

    payloads = tmp_path / "remote"
    payloads.mkdir()
    (payloads / "a").mkdir()
    (payloads / "b").mkdir()
    (payloads / "a" / "download").write_text("k;v\n1;one\n")
    (payloads / "b" / "download").write_text("k;v\n2;two\n")
    res = spark.createDataFrame(
        [
            ("csv", (payloads / "a" / "download").as_uri(), "res a"),
            ("csv", (payloads / "b" / "download").as_uri(), "res b"),
        ],
        "format string, latest string, title string",
    )
    landed = download_resources(res, str(tmp_path / "ingest"), fmt="csv", retries=0)
    assert len(landed) == 2
    assert len(set(landed)) == 2  # distinct paths
    contents = sorted(open(p).read() for p in landed)
    assert contents == ["k;v\n1;one\n", "k;v\n2;two\n"]  # both payloads intact
    # no stray .part files left behind
    assert not [f for f in os.listdir(tmp_path / "ingest") if f.endswith(".part")]


def test_register_rejects_duplicate_names():
    """Regression: a name collision must be loud, not a silent drop of
    the earlier query from the graded surface."""
    from data_eng_project_spark.plans.registry import REGISTRY, register

    name = next(iter(REGISTRY))
    with pytest.raises(ValueError, match="duplicate query registration"):
        register(name, oracle=None)(lambda spark, sf_dir: None)


def test_registry_applies_session_hygiene(spark, sf_dir):
    """Session hygiene lives at the registry boundary: building any
    registered query puts confs a caller (or an earlier query) left
    behind back at their prepared values."""
    from data_eng_project_spark.plans.registry import REGISTRY
    from data_eng_project_spark.session import default_parallelism

    prepared = {
        "spark.sql.ansi.enabled": "false",
        "spark.sql.shuffle.partitions": str(default_parallelism()),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
    dirty = {
        "spark.sql.ansi.enabled": "true",
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    }
    saved = {k: spark.conf.get(k) for k in dirty}
    try:
        for k, v in dirty.items():
            spark.conf.set(k, v)
        REGISTRY["flagship_site_density"].fn(spark, sf_dir)
        assert {k: spark.conf.get(k) for k in prepared} == prepared
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert all(hasattr(spec.fn, "__wrapped__") for spec in REGISTRY.values())


def test_run_available_now_leaves_no_temp_view(spark, tmp_path):
    """Regression: the memory-sink temp views (one unique name per run)
    must not accumulate in the catalog for the session lifetime."""
    import uuid

    from data_eng_project_spark.streaming.incremental import read_events_stream
    from data_eng_project_spark.streaming.windows import (
        hourly_counts_stream,
        run_available_now,
    )
    from data_eng_project_spark.tables import table_path

    name = f"mem_probe_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, table_path("/root/testdata/sf0.001", "events"))
    out = run_available_now(hourly_counts_stream(stream), name)
    assert out.count() > 0  # result survives the view drop (checkpointed)
    assert not any(t.name == name for t in spark.catalog.listTables())


class _FakeJavaExc:
    """Duck-typed stand-in for a py4j java exception chain node."""

    def __init__(self, state=None, message=None, cause=None):
        self._state, self._message, self._cause = state, message, cause

    def getSQLState(self):
        return self._state

    def getMessage(self):
        return self._message

    def getCause(self):
        return self._cause


class _FakePy4JError(Exception):
    def __init__(self, java_exception):
        super().__init__("An error occurred while calling o1.load.")
        self.java_exception = java_exception


def test_jdbc_table_missing_classifier():
    """Regression (r5 review): write_jdbc_idempotent must treat ONLY a
    genuine missing-table probe failure as 'first write'. A permission
    denial, missing JDBC driver class, or column mismatch must re-raise
    — classifying them as first-write would skip the anti-join and
    append duplicates into the idempotent sink."""
    from data_eng_project_spark.operators.sink import _jdbc_error_is_table_missing

    missing = [
        _FakePy4JError(_FakeJavaExc(state="42P01", message='relation "t" does not exist')),
        _FakePy4JError(_FakeJavaExc(state="42S02", message="Table 'db.t' doesn't exist")),
        _FakePy4JError(  # nested cause carries the state
            _FakeJavaExc(message="Job aborted", cause=_FakeJavaExc(state="42S02"))
        ),
        _FakePy4JError(_FakeJavaExc(state="42000", message="ORA-00942: table or view does not exist")),
        _FakePy4JError(_FakeJavaExc(message="no such table: t")),
        _FakePy4JError(_FakeJavaExc(message="Invalid object name 't'. SQLState: S0002", state="S0002")),
    ]
    for exc in missing:
        assert _jdbc_error_is_table_missing(exc, "t"), exc.java_exception._message

    not_missing = [
        _FakePy4JError(_FakeJavaExc(state="42501", message="permission denied for table t")),
        _FakePy4JError(_FakeJavaExc(message="java.lang.ClassNotFoundException: org.h2.Driver not found")),
        _FakePy4JError(_FakeJavaExc(state="42703", message='column "t" not found')),
        _FakePy4JError(_FakeJavaExc(message="Connection refused: connect")),
        _FakePy4JError(_FakeJavaExc(message="login timed out")),
        Exception("plain python failure, no java_exception at all"),
    ]
    for exc in not_missing:
        assert not _jdbc_error_is_table_missing(exc, "t")


def test_jdbc_cycle_guarded_cause_chain():
    """A pathological self-referencing cause chain must terminate."""
    from data_eng_project_spark.operators.sink import _jdbc_error_is_table_missing

    node = _FakeJavaExc(message="boom")
    node._cause = node  # cycle
    assert not _jdbc_error_is_table_missing(_FakePy4JError(node), "t")


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    """write_orc → read_orc is lossless for the engine's column types,
    and the ORC scan carries pushdown like parquet (filter reaches the
    scan, unused columns pruned)."""
    from data_eng_project_spark.operators.sink import write_orc
    from data_eng_project_spark.sources.readers import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    plan = (
        back.filter("o_orderkey < 100")
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LessThan(o_orderkey,100)" in plan  # pushdown reaches the ORC scan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderpriority" not in read  # pruning holds
