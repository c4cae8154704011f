"""The benchmark's workloads: the operations of one pass, and the
correctness checks of a run.

A pass is a list of named operations run back to back by one client
(closed loop). Every call into an engine layer sits inside a span of
that layer (see spans.py); with tracing off the spans cost nothing.
"""

from __future__ import annotations

import functools
import hashlib
import os
import pickle
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import etl_data
import lake as lake_mod
from spans import Tracer

# A fixed slice of bench.py's 21 headline queries (all 21 with a cold
# pass and a correctness pass do not fit one benchmark run): the TPC-H
# join whose construction runs the most schema-inference jobs, and the
# flagship proximity density.
ANALYTICS_QUERIES = (
    "q5_region_supplier_revenue",
    "flagship_site_density",
)


@dataclass
class Op:
    name: str
    fn: Callable[[], object]


@dataclass
class Ctx:
    """What a workload needs from the run: the session, the tracer, the
    run's scratch directory and the seeded RNG for operation order."""

    spark: object
    tracer: Tracer
    work: str
    rng: random.Random
    cores: int


def instrument_tables(tracer: Tracer) -> None:
    """Put a ``tables.load`` span around every call of
    ``tables.load_table``, wherever the engine bound the name (the plan
    modules import it at module level; some operators import it inside a
    function, which reads the ``tables`` module attribute)."""
    import sys

    from data_eng_project_spark import tables

    original = tables.load_table

    @functools.wraps(original)
    def load_table(*args, **kwargs):
        with tracer.span("tables.load", "tables"):
            return original(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("data_eng_project_spark") and getattr(mod, "load_table", None) is original:
            mod.load_table = load_table


EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's markers and checksums."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Analytics:
    """Read-only analytics: headline registry queries through the noop
    sink, then the staged near-duplicate pair graph built cold into a
    fresh stage directory and read by its five consumers."""

    name = "analytics"
    # The check runs every query again on Spark; run it right after the
    # cold pass, where it also finishes the JVM warm-up of the warm passes.
    check_after_cold = True

    def __init__(self, ctx: Ctx):
        from data_eng_project_spark.plans import REGISTRY
        from data_eng_project_spark.pipelines import staging

        self.ctx, self.registry, self.staging = ctx, REGISTRY, staging
        self.consumers = staging.STAGED_CONSUMERS
        self.lake = lake_mod.write_lake(os.path.join(ctx.work, "lake"))
        self.stage_dir = None

    def _query(self, spec) -> None:
        tr = self.ctx.tracer
        with tr.span("plans.build", "plans"):
            df = spec.fn(self.ctx.spark, self.lake)
        with tr.span("exec", "exec"):
            _noop(df)

    def _cold_build(self) -> None:
        with self.ctx.tracer.span("staging.build", "staging"):
            for build in (self.staging.near_dup_pairs, self.staging.dup_components):
                _noop(build(self.ctx.spark, self.lake))

    def _consumer(self, name: str) -> None:
        with self.ctx.tracer.span(f"staging.consumer.{name}", "staging"):
            self._query(self.registry[name])

    def start_pass(self, label: str) -> list[Op]:
        if self.stage_dir:
            shutil.rmtree(self.stage_dir, ignore_errors=True)
        self.stage_dir = os.path.join(self.ctx.work, "stage", label)
        shutil.rmtree(self.stage_dir, ignore_errors=True)  # left by an interrupted run
        os.environ["SPARK_GRAFT_STAGE_DIR"] = self.stage_dir
        queries = list(ANALYTICS_QUERIES)
        consumers = list(self.consumers)
        self.ctx.rng.shuffle(queries)
        self.ctx.rng.shuffle(consumers)
        ops = [Op(q, lambda s=self.registry[q]: self._query(s)) for q in queries]
        ops.append(Op("staged_cold_build", self._cold_build))
        ops += [Op(c, lambda c=c: self._consumer(c)) for c in consumers]
        return ops

    def end_pass(self) -> dict:
        size, files = dir_size(self.stage_dir)
        return {"stage_bytes": size, "stage_files": files}

    def records_per_s(self, p: dict) -> float:
        """Input records Spark's scans read in the pass, per second of it."""
        return p["counters"]["input_records"] / p["wall"]

    def check(self) -> tuple[int, list[tuple[str, str]]]:
        """Every query and staged consumer against its DuckDB oracle, with
        the shared ``tests/oracle_harness`` comparator. The consumers read
        the stage the latest pass built."""
        from tests import oracle_harness

        cache_dir = os.path.join(self.ctx.work, "oracle", lake_mod.digest(self.lake))
        os.makedirs(cache_dir, exist_ok=True)
        run_oracle = oracle_harness.run_oracle

        def cached(sf_dir: str, sql: str):
            path = os.path.join(cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    return pickle.load(f)
            answer = run_oracle(sf_dir, sql)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(answer, f)
            os.replace(path + ".tmp", path)
            return answer

        failures, names = [], [*ANALYTICS_QUERIES, *self.consumers]
        oracle_harness.run_oracle = cached
        try:
            for name in names:
                spec = self.registry[name]
                try:
                    oracle_harness.compare(spec.fn(self.ctx.spark, self.lake), self.lake, spec.oracle)
                except Exception as e:  # noqa: BLE001 — a wrong answer is a counted failure
                    failures.append((f"check:{name}", f"{type(e).__name__}: {e}"[:400]))
                self.ctx.spark.catalog.clearCache()
        finally:
            oracle_harness.run_oracle = run_oracle
        return len(names), failures

    def close(self) -> None:
        if self.stage_dir:
            shutil.rmtree(self.stage_dir, ignore_errors=True)


class EtlUpsert:
    """The paper's batch job on seeded inputs: ledger discovery, two
    idempotent batches of death records (the second re-delivers a month),
    the plants full refresh and the deaths-near-plants density."""

    name = "etl_upsert"
    check_after_cold = False  # checks every pass's written tables at the end

    def __init__(self, ctx: Ctx, seed: int):
        from data_eng_project_spark.operators import sink, spatial
        from data_eng_project_spark.pipelines import deaths, plants
        from data_eng_project_spark.sources import ledger

        self.ctx = ctx
        self.sink, self.spatial, self.deaths, self.plants, self.ledger = (
            sink, spatial, deaths, plants, ledger)
        inbox = os.path.join(ctx.work, "etl-inputs")
        shutil.rmtree(inbox, ignore_errors=True)
        self.inp = etl_data.generate(inbox, seed)
        self.out = None
        self.outputs: list[dict] = []  # one record per pass, checked after the run

    # -- one pass ---------------------------------------------------------

    def start_pass(self, label: str) -> list[Op]:
        self.out = os.path.join(self.ctx.work, "etl", label)
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(os.path.join(self.out, "incoming"))
        for f in self.inp.batch1 + self.inp.batch2:  # the deliveries in the watched directory
            os.link(self.inp.path(f), self._p("incoming", f))
        self.rec = {"dir": self.out, "written": [], "rows_in": 0}
        self.outputs.append(self.rec)
        return [
            Op("discover", self._discover),
            Op("ingest_b1", lambda: self._ingest(self.inp.batch1)),
            Op("ingest_b2", lambda: self._ingest(self.inp.batch2)),
            Op("mark", self._mark),
            Op("plants_refresh", self._plants),
            Op("density", self._density),
        ]

    def _p(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    def _discover(self) -> None:
        with self.ctx.tracer.span("ledger.new_files", "ledger"):
            self.files_df = self.ledger.new_files(
                self.ctx.spark, self._p("incoming"), self._p("ledger"), ".txt")
            self.files = [r.file_path for r in self.files_df.collect()]
        self.rec["discovered"] = sorted(os.path.basename(f) for f in self.files)

    def _ingest(self, batch: list[str]) -> None:
        spark, tr, geo = self.ctx.spark, self.ctx.tracer, self.inp.path(self.inp.geo_csv)
        files = [f for f in self.files if os.path.basename(f) in batch]
        if tr.enabled:
            # Traced runs materialize parse and cleanse on their own, so
            # each step's time and row count can be read separately.
            with tr.span("deaths.parse", "deaths"):
                parsed = self.deaths.parse_death_records(spark, files)
                _noop(parsed)
            with tr.span("trace.count", "trace"):
                self.rec["rows_parsed"] = self.rec.get("rows_parsed", 0) + parsed.count()
            with tr.span("deaths.cleanse", "deaths"):
                clean = self.deaths.cleanse_deaths(parsed, self.deaths.load_geo_dimension(spark, geo))
                _noop(clean)
            with tr.span("trace.count", "trace"):
                self.rec["rows_in"] += clean.count()
        else:
            clean = self.deaths.run(spark, files, geo)
        with tr.span("sink.write", "sink"):
            written = self.sink.write_idempotent(spark, clean, self._p("deaths"), "id")
        self.rec["written"].append(written)

    def _mark(self) -> None:
        with self.ctx.tracer.span("ledger.mark", "ledger"):
            self.ledger.mark_processed(self.ctx.spark, self.files_df, self._p("ledger"))

    def _plants(self) -> None:
        spark, tr, inp = self.ctx.spark, self.ctx.tracer, self.inp
        with tr.span("plants.build", "plants"):
            plants = self.plants.build_power_plants(
                spark, inp.path(inp.nuclear_csv), inp.path(inp.thermal_csv))
        with tr.span("sink.write", "sink"):
            self.sink.write_full_refresh(plants, self._p("plants"))

    def _density(self) -> None:
        from pyspark.sql import functions as F

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("spatial.near_join", "spatial"):
            points = spark.read.parquet(self._p("deaths")).select(
                "id", F.col("latitude").alias("lat"), F.col("longitude").alias("lon"))
            sites = spark.read.parquet(self._p("plants")).select(
                F.col("id").alias("plant_id"),
                F.col("latitude").alias("site_lat"), F.col("longitude").alias("site_lon"))
            pairs = self.spatial.near_join(points, sites, etl_data.RADIUS_KM)
            pairs.groupBy("plant_id").agg(F.count("*").alias("n_deaths")).write.mode(
                "overwrite").parquet(self._p("density"))
        if tr.enabled:
            # The optimizer folds the distance test into the join condition,
            # which hides the candidate count. Run the join once more with
            # predicate push-down off, so the join's output rows (candidates)
            # and the distance filter's (pairs) are separate SQL metrics.
            with tr.span("trace.near_join_candidates", "trace"):
                rule = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates"
                prev = spark.conf.get(EXCLUDED_RULES, None)
                spark.conf.set(EXCLUDED_RULES, rule)
                try:
                    _noop(self.spatial.near_join(points, sites, etl_data.RADIUS_KM))
                finally:
                    if prev is None:
                        spark.conf.unset(EXCLUDED_RULES)
                    else:
                        spark.conf.set(EXCLUDED_RULES, prev)

    def end_pass(self) -> dict:
        import pyarrow.parquet as pq

        d_bytes, d_files = dir_size(self._p("deaths"))
        p_bytes, p_files = dir_size(self._p("plants"))
        rec = self.rec
        return {
            "files_new": len(rec.get("discovered", ())),
            "rows_parsed": rec.get("rows_parsed", 0),
            "rows_in": rec["rows_in"],
            "rows_written": sum(rec["written"]),
            "plants_rows": pq.read_table(self._p("plants"), columns=["id"]).num_rows
            if p_files else 0,
            "bytes_written": d_bytes + p_bytes,
            "files_written": d_files + p_files,
            "storage_amp": (d_bytes + p_bytes) / self.inp.raw_bytes(),
        }

    def records_per_s(self, p: dict) -> float:
        """Raw death records of both batches per second of ingest (the
        discover, ingest and mark operations)."""
        ingest = ("discover", "ingest_b1", "ingest_b2", "mark")
        return self.inp.declared["records"] / sum(s for n, s in p["lat"] if n in ingest)

    # -- checks -------------------------------------------------------------

    def check(self) -> tuple[int, list[tuple[str, str]]]:
        """Each pass's written tables against the generator's predictions
        and the density against a brute-force DuckDB haversine; one checked
        operation per pass."""
        failures = []
        for rec in self.outputs:
            try:
                problems = self._check_pass(rec)
            except Exception as e:  # noqa: BLE001 — a missing or unreadable output is a failure
                problems = [("outputs", f"{type(e).__name__}: {e}"[:400])]
            if problems:
                label = os.path.basename(rec["dir"])
                failures.append((f"check:{label}", "; ".join(f"{w}: {p}" for w, p in problems)))
        return len(self.outputs), failures

    def _check_pass(self, rec: dict) -> list[tuple[str, str]]:
        import duckdb
        import pyarrow.parquet as pq

        from data_eng_project_spark.functions.geo import haversine_km_sql

        inp, exp, bad = self.inp, self.inp.expected, []

        def want(what, got, expected):
            if got != expected:
                bad.append((what, f"got {str(got)[:200]}, expected {str(expected)[:200]}"))

        want("discovered", rec.get("discovered"), sorted(inp.batch1 + inp.batch2))
        want("rows_written", rec["written"], [len(exp["ids_batch1"]), len(exp["ids_batch2"])])
        d = os.path.join(rec["dir"], "deaths")
        if not os.path.isdir(d):
            return bad + [("deaths", "table missing")]
        ids = pq.read_table(d, columns=["id"]).column("id").to_pylist()
        want("death_ids_unique", len(ids), len(set(ids)))
        want("death_ids", set(ids) == exp["ids_batch1"] | exp["ids_batch2"], True)
        ledger = pq.read_table(os.path.join(rec["dir"], "ledger")).column("file_path").to_pylist()
        want("ledger", sorted(os.path.basename(f) for f in ledger), sorted(inp.batch1 + inp.batch2))
        names = pq.read_table(os.path.join(rec["dir"], "plants"), columns=["plant_name"])
        want("plant_names", sorted(names.column("plant_name").to_pylist()), sorted(exp["plant_names"]))
        dist = haversine_km_sql("d.latitude", "d.longitude", "p.latitude", "p.longitude")
        con = duckdb.connect()
        try:
            oracle = dict(con.execute(
                f"SELECT p.id, count(*) FROM read_parquet('{d}/*.parquet') d, "
                f"read_parquet('{rec['dir']}/plants/*.parquet') p "
                f"WHERE {dist} <= {etl_data.RADIUS_KM} GROUP BY p.id").fetchall())
            got = dict(con.execute(
                f"SELECT plant_id, n_deaths FROM read_parquet('{rec['dir']}/density/*.parquet')"
            ).fetchall())
        finally:
            con.close()
        want("density", got == oracle, True)
        if not oracle:
            bad.append(("density", "no death lies near any plant: the check would be vacuous"))
        return bad

    def close(self) -> None:
        shutil.rmtree(os.path.join(self.ctx.work, "etl"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.ctx.work, "etl-inputs"), ignore_errors=True)
