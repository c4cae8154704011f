"""Spans around the benchmark's calls into each engine layer, and the
Spark counters of each span read back from Spark's own status stores.

A span records a name, its layer, a start, an end, its parent span and
the pass (trace id) it belongs to. Spans live in memory until the run
ends. Each span tags the Spark jobs it causes with its own job group, so
its counters come from ``statusTracker`` (jobs → stages) and the
application status store (``stageList``, per-stage task metrics);
child spans carry their own groups, so a span's counters are its own.
With tracing off only the pass-level job group is set.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

STAGE_FIELDS = {
    # StageData accessor → (metric name, scale to report units)
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    trace: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder bound to one SparkContext. ``enabled=False`` keeps
    only the pass-level job group (the untimed read of pass counters)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0

    def _set_group(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc, False)

    @contextmanager
    def trace(self, name: str):
        """One pass: a root span whose job group catches untagged work."""
        self._trace += 1
        root = self._open(name, "pass")
        try:
            yield root
        finally:
            self._close(root)
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, layer, self._trace, parent, f"pb-{self._trace}-{sid}", time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group, name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._set_group(self._stack[-1].group, self._stack[-1].name)

    def of_trace(self, trace: int) -> list[Span]:
        return [s for s in self.spans if s.trace == trace]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of one
    span never overlap: the benchmark is a single closed-loop client)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.duration
    return {s.id: s.duration - child[s.id] for s in spans}


def write_spans(path: str, spans: list[Span]) -> None:
    """Write the spans out, one JSON object a line, times in seconds from
    the first span's start."""
    if not spans:
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0, st = spans[0].start, self_times(spans)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "trace": s.trace, "span": s.id, "parent": s.parent, "name": s.name,
                "layer": s.layer, "start": s.start - t0, "end": s.end - t0,
                "self_s": st[s.id], "job_group": s.group,
            }) + "\n")


# --- Spark status stores -------------------------------------------------


def _seq(jvm, scala_seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)


def group_stage_ids(sc, group: str) -> tuple[list[int], set[int]]:
    """(job ids, stage ids) of one job group, from ``statusTracker``."""
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return jobs, stages


def stage_metrics(sc, stage_ids: set[int]) -> dict[int, dict]:
    """Per-stage task metrics (all attempts summed) for ``stage_ids``, from
    ``statusStore().stageList`` called with its five arguments."""
    if not stage_ids:
        return {}
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    out: dict[int, dict] = {}
    for sd in _seq(jvm, stages):
        sid = sd.stageId()
        if sid not in stage_ids or str(sd.status()) in ("SKIPPED", "PENDING"):
            continue
        m = out.setdefault(sid, {"peak_exec_mem_bytes": 0})
        for acc, (name, scale) in STAGE_FIELDS.items():
            m[name] = m.get(name, 0) + getattr(sd, acc)() * scale
        m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"], sd.peakExecutionMemory())
    return out


def group_counters(sc, groups: list[str]) -> dict[str, float]:
    """Summed job/stage/task counters over several job groups."""
    jobs, stages = [], set()
    for g in groups:
        j, s = group_stage_ids(sc, g)
        jobs += j
        stages |= s
    per_stage = stage_metrics(sc, stages)
    total = {"jobs": len(jobs), "stages": len(per_stage), "peak_exec_mem_bytes": 0}
    for m in per_stage.values():
        for k, v in m.items():
            if k == "peak_exec_mem_bytes":
                total[k] = max(total[k], v)
            else:
                total[k] = total.get(k, 0) + v
    for name, _scale in STAGE_FIELDS.values():
        total.setdefault(name, 0)
    return total


def join_filter_rows(spark, job_ids: list[int]) -> tuple[int, int]:
    """(join output rows, haversine-filter output rows) of the SQL
    executions that ran ``job_ids``: the proximity join's candidate pairs
    and the pairs that survive the exact distance test, read from the SQL
    execution metrics (``planGraph`` + ``executionMetrics``). Needs a plan
    where the distance test stays a Filter above the join."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    want = set(job_ids)
    candidates = pairs = 0
    for ex in _seq(jvm, store.executionsList()):
        ex_jobs = set(jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs()).keySet())
        if not ex_jobs & want:
            continue
        values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionMetrics(ex.executionId())
        )
        for node in _seq(jvm, store.planGraph(ex.executionId()).allNodes()):
            name = node.name()
            if "Join" in name:
                target = "join"
            elif name == "Filter" and "ASIN(" in node.desc().upper():
                target = "filter"
            else:
                continue
            for metric in _seq(jvm, node.metrics()):
                if metric.name() == "number of output rows":
                    raw = values.get(metric.accumulatorId())
                    n = int(str(raw).replace(",", "")) if raw else 0
                    if target == "join":
                        candidates += n
                    else:
                        pairs += n
    return candidates, pairs


# --- host context --------------------------------------------------------


def cpu_sample() -> tuple[int, int, int, float] | None:
    """(total, busy, steal) jiffies of the machine from /proc/stat, and the
    CPU seconds of this process and its reaped children; None where
    /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    return sum(v), sum(v) - v[3] - v[4] - v[7], v[7], own


def host_share(start, end) -> tuple[float, float]:
    """(steal %, % of the machine's CPU used by processes outside this
    run) between two ``cpu_sample`` readings; NaN where unavailable."""
    if not (start and end):
        return float("nan"), float("nan")
    total = max(end[0] - start[0], 1)
    hz = os.sysconf("SC_CLK_TCK")
    others = (end[1] - start[1]) - (end[3] - start[3]) * hz
    return 100.0 * (end[2] - start[2]) / total, 100.0 * max(others, 0) / total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def load1() -> float:
    return os.getloadavg()[0]
