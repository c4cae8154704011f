#!/usr/bin/env python3
"""One run of the repository benchmark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Run from the repository root. The run is one fresh process on
local[<cores>] driven by one closed-loop client: it sets the session up
three times (median reported), runs one cold pass, then warm passes (at
least two, more until ``--seconds`` have gone by; the first is warm-up
and is not measured), checks the outputs, prints a report, and ends with
one JSON line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` alternates traced and untraced warm passes and reports the
per-layer metrics of the traced ones. Every file it writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3


def _isolate(root: str, work: str) -> None:
    """Point every scratch location of Python, the JVM, Spark and the
    engine at ``work`` so the run reads and writes only inside ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_STAGE_DIR=os.path.join(work, "stage", "default"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # Spark's own default driver heap (the engine's get_session default,
        # 8g, is sized for larger lakes), committed and touched at launch:
        # otherwise the JVM's resident size follows when the collector grows
        # the heap and spread peak_rss_mb by 20-30% between equal runs. So
        # peak_rss_mb moves with Python-side and off-heap memory.
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS="--driver-java-options '-Xms1g -XX:+AlwaysPreTouch' pyspark-shell",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    sys.path[:0] = [HERE, root]
    # The plans package mints its reference fixtures at import time into a
    # fixed directory; move it under the work directory first.
    from data_eng_project_spark import fixtures

    fixtures.FIXTURE_DIR = os.path.join(work, "fixtures")
    fixtures.ensure_reference_fixtures.__defaults__ = (fixtures.FIXTURE_DIR,)


def _ident(batches):
    yield from batches


def set_up(n: int):
    """``n`` session set-ups (get_session + Python worker pool primed);
    the first is timed from process start, so it also carries the
    imports and the JVM launch. Returns (session, [(start_s, prime_s)])."""
    from data_eng_project_spark.session import get_session

    spark, times = None, []
    for i in range(n):
        if spark is not None:
            spark.stop()
        t0 = _T0 if i == 0 else time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        parallelism = spark.sparkContext.defaultParallelism
        spark.range(0, 10_000, 1, parallelism).mapInPandas(_ident, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def run_pass(wl, ctx, label: str, traced: bool) -> dict:
    from spans import group_counters

    tracer = ctx.tracer
    tracer.enabled = traced
    ops = wl.start_pass(label)
    lat, fails = [], []
    with tracer.trace(label) as root:
        for op in ops:
            t = time.perf_counter()
            try:
                op.fn()
            except Exception as e:  # noqa: BLE001 — every failure is counted and reported
                fails.append((f"{label}:{op.name}", f"{type(e).__name__}: {e}"[:400]))
            lat.append((op.name, time.perf_counter() - t))
            ctx.spark.catalog.clearCache()
    spans = tracer.of_trace(root.trace)
    return {
        "label": label,
        "wall": root.duration,
        "lat": lat,
        "fails": fails,
        "traced": traced,
        "spans": spans,
        "facts": wl.end_pass(),
        "counters": group_counters(ctx.spark.sparkContext, [s.group for s in spans]),
    }


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)) of at least two values."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(wl, passes: list[dict], setups: list, rss_mb: float) -> dict:
    # The first warm pass still carries warm-up; every run makes at least two.
    warm = [p for p in passes[2:] if not p["traced"]]
    lat = [s for p in warm for _n, s in p["lat"]]
    return {
        "setup_s": statistics.median(a + b for a, b in setups),
        "cold_pass_s": passes[0]["wall"],
        "pass_s": statistics.median(p["wall"] for p in warm),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": quantile(lat, 0.9),
        "rows_per_s": statistics.median(wl.records_per_s(p) for p in warm),
        "peak_rss_mb": rss_mb,
        "_op_samples": len(lat),
    }


def layers(ctx, p: dict, setups: list, untraced_wall: float) -> dict:
    """Per-layer metrics of one traced pass, all from its spans."""
    from spans import group_stage_ids, join_filter_rows, self_times

    sc, spans = ctx.spark.sparkContext, p["spans"]
    st = self_times(spans)
    by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        by_layer[s.layer] += st[s.id]
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)

    def subtree(s):
        return [s] + [d for k in kids[s.id] for d in subtree(k)]

    def jobs(span_list) -> int:
        return sum(len(group_stage_ids(sc, s.group)[0]) for s in span_list)

    def dur(prefix: str) -> float:
        return sum(s.duration for s in spans if s.name.startswith(prefix))

    of = lambda layer: [s for s in spans if s.layer == layer]  # noqa: E731
    c, f = p["counters"], p["facts"]
    m = {
        "session.start_s": statistics.median(a for a, _b in setups),
        "session.worker_prime_s": statistics.median(b for _a, b in setups),
        "plans.build_s": by_layer["plans"],
        "plans.build_jobs": jobs([d for s in of("plans") for d in subtree(s)]),
        "tables.load_calls": len(of("tables")),
        "tables.load_s": by_layer["tables"],
        "tables.load_jobs": jobs(of("tables")),
        "exec.s": by_layer["exec"],
        "exec.core_util": c["executor_run_s"] / (p["wall"] * ctx.cores),
        "staging.cold_build_s": dur("staging.build"),
        "staging.warm_consumers_s": dur("staging.consumer."),
        "staging.stage_bytes": f.get("stage_bytes", 0),
        "staging.stage_files": f.get("stage_files", 0),
        "ledger.new_files_s": dur("ledger.new_files"),
        "ledger.mark_s": dur("ledger.mark"),
        "deaths.parse_s": dur("deaths.parse"),
        "deaths.cleanse_s": dur("deaths.cleanse"),
        "plants.build_s": dur("plants.build"),
        "sink.write_s": by_layer["sink"],
        "spatial.near_join_s": by_layer["spatial"],
        "trace.pass_s": p["wall"],
        "trace.unattributed_s": by_layer["pass"],
        "trace.count_s": by_layer["trace"],
        "trace.overhead_s": p["wall"] - untraced_wall,
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "peak_exec_mem_bytes"):
        m[f"exec.{k}"] = c[k]
    for s in spans:
        if s.name.startswith("staging.consumer."):
            m[f"{s.name}_s"] = m.get(f"{s.name}_s", 0.0) + s.duration
    probe = [s for s in spans if s.name == "trace.near_join_candidates"]
    if probe:
        cand, pairs = join_filter_rows(
            ctx.spark, [j for s in probe for j in group_stage_ids(sc, s.group)[0]])
        m.update({
            "spatial.candidates": cand,
            "spatial.pairs": pairs,
            "spatial.hit_ratio": pairs / cand if cand else 0.0,
        })
    if "rows_in" in f:
        rows_in, written = f["rows_in"], f["rows_written"]
        m.update({
            "ledger.files_new": f["files_new"],
            "deaths.rows_parsed": f["rows_parsed"],
            "deaths.rows_valid": rows_in,
            "plants.rows": f["plants_rows"],
            "sink.rows_in": rows_in,
            "sink.rows_written": written,
            "sink.rows_rejected": rows_in - written,
            "sink.accept_ratio": written / rows_in if rows_in else 0.0,
            "sink.bytes_written": f["bytes_written"],
            "sink.files_written": f["files_written"],
            "sink.storage_amp": f["storage_amp"],
        })
    m["_by_layer"] = dict(by_layer)
    return m


def print_layer_table(wl_name: str, m: dict) -> None:
    by_layer, wall = m["_by_layer"], m["trace.pass_s"]
    print(f"layer self time, traced pass of {wl_name} ({wall:.3f} s):")
    for layer, secs in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        label = "unattributed" if layer == "pass" else layer
        print(f"  {label:<14} {secs:9.3f} s  {100 * secs / wall:5.1f} %")
    total = sum(by_layer.values())
    print(f"  {'sum':<14} {total:9.3f} s  (pass {wall:.3f} s, difference {total - wall:+.2e} s)")
    print(f"  tracing overhead {m['trace.overhead_s']:+.3f} s (traced pass - untraced pass)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: BENCHMARK.json not readable: {e}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(root, "data_eng_project_spark")):
        print("perfbench: run from the repository root (no data_eng_project_spark/)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    _isolate(root, work)

    import spans
    import workloads

    cpu0, load_start = spans.cpu_sample(), spans.load1()
    spark, setups = set_up(SETUPS)
    sc = spark.sparkContext
    master, parallelism = sc.master, sc.defaultParallelism
    try:
        run = measure(args, spark, work, workloads, spans)
        result = report(args, spec, run, setups)
    finally:
        shut_down(spark, work)
    # Host context, recorded and never acted on: the JVM and its Python
    # workers have exited, so their CPU time is in this process's children.
    steal, others = spans.host_share(cpu0, spans.cpu_sample())
    print(f"host master={master} defaultParallelism={parallelism} steal={steal:.2f}% "
          f"other-processes={others:.1f}% of the machine's CPU "
          f"load1 start={load_start:.2f} end={spans.load1():.2f}")
    print(json.dumps(result))
    return 0


def measure(args, spark, work: str, workloads, spans) -> dict:
    """Cold pass, warm passes for ``args.seconds``, and the output check."""
    sc = spark.sparkContext
    ctx = workloads.Ctx(spark, spans.Tracer(sc, False), work, random.Random(args.seed),
                        sc.defaultParallelism)
    wl = (workloads.Analytics(ctx) if args.workload == "analytics"
          else workloads.EtlUpsert(ctx, args.seed))
    if args.trace:
        workloads.instrument_tables(ctx.tracer)
    run = {"wl": wl, "ctx": ctx}

    def check() -> None:
        t = time.perf_counter()
        run["checked"], run["check_fails"] = wl.check()
        run["check_s"] = time.perf_counter() - t

    try:
        passes = run["passes"] = [run_pass(wl, ctx, "cold", False)]
        if wl.check_after_cold:
            check()
        t_warm, i = time.perf_counter(), 0
        while True:
            i += 1
            passes.append(run_pass(wl, ctx, f"warm{i}", bool(args.trace) and i % 2 == 1))
            if time.perf_counter() - t_warm >= args.seconds and i >= 2:
                break
        if not wl.check_after_cold:
            check()
    finally:
        wl.close()
    if args.trace:
        run["trace_file"] = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        spans.write_spans(run["trace_file"], ctx.tracer.spans)
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    run["rss_py"], run["rss_jvm"] = spans.vm_hwm_mb(), spans.vm_hwm_mb(jvm_pid)
    return run


def report(args, spec: dict, run: dict, setups: list) -> dict:
    """Print the human report; return the result object of the last line."""
    wl, ctx, passes = run["wl"], run["ctx"], run["passes"]
    fails = [f for p in passes for f in p["fails"]] + run["check_fails"]
    attempted = sum(len(p["lat"]) for p in passes) + run["checked"]
    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"passes {len(passes)} (1 cold)  ops/pass {len(passes[0]['lat'])}")
    print(f"peak rss python {run['rss_py']:.1f} MiB, jvm {run['rss_jvm']:.1f} MiB")
    print(f"first set-up (process start to primed session) {sum(setups[0]):.3f} s; "
          f"set-ups {[round(a + b, 3) for a, b in setups]}")
    print("passes " + ", ".join(
        f"{p['label']}{'*' if p['traced'] else ''} {p['wall']:.3f} s" for p in passes))
    for p in (passes[0], passes[-1]):
        print(f"{p['label']} ops " + ", ".join(f"{n} {s:.2f}" for n, s in p["lat"]))
    print(f"checked {run['checked']} outputs in {run['check_s']:.3f} s, outside the passes "
          f"({'after the cold pass' if wl.check_after_cold else 'after the last pass'})")
    for name, msg in fails:
        print(f"FAILED {name}: {msg}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e = end_to_end(wl, passes, setups, run["rss_py"] + run["rss_jvm"])
    print(f"op latency over {e2e['_op_samples']} operations of the measured warm passes")
    if args.trace:
        # Traced runs go traced, untraced, traced...: the first warm pass
        # still carries some warm-up, so the overhead reads high if anything.
        untraced = statistics.median(p["wall"] for p in passes[1:] if not p["traced"])
        per = [layers(ctx, p, setups, untraced) for p in passes if p["traced"]]
        print_layer_table(wl.name, per[-1])
        print(f"spans written to {os.path.relpath(run['trace_file'])}")
        wanted = [m["name"] for m in spec["per_layer"]]
        values = {k: statistics.median(d.get(k, 0) for d in per) for k in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        values = {k: e2e[k] for k in wanted}
        amp = passes[-1]["facts"].get("storage_amp")
        if amp is not None:
            print(f"storage_amp {amp:.4f} ratio (written table bytes per raw input byte)")
    print(f"fail_ratio {len(fails) / attempted:.4f} ratio ({len(fails)} of {attempted})")
    for k in wanted:
        print(f"{k} {values[k]:.6g} {units[k]}")
    return {
        "correct": not fails,
        "attempted": attempted,
        "failed": len(fails),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }


def shut_down(spark, work: str) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
