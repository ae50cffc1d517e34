"""Layer probes that look at the program only from outside.

They read Spark's status store, the JVM's MXBeans and ``/proc``; they
time calls into public functions and count py4j round-trips by wrapping
the gateway client. None of them changes what the program does.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_stat(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    """User + system CPU of one process (plus its reaped children)."""
    f = proc_stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = proc_stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Jvm:
    """The driver JVM's pid, GC time, JIT time and CPU time."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._mx = self._jvm.java.lang.management.ManagementFactory
        self.pid = int(self._jvm.ProcessHandle.current().pid())

    def sample(self) -> dict[str, float]:
        gc_ms = sum(g.getCollectionTime() for g in self._mx.getGarbageCollectorMXBeans())
        return {
            "gc_s": gc_ms / 1000.0,
            "jit_s": self._mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "cpu_s": proc_cpu_s(self.pid),
            # python workers hang below the JVM (daemon + forked workers)
            "python_worker_cpu_s": sum(
                proc_cpu_s(p, with_children=True) for p in descendants(self.pid)
            ),
        }


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


class StatusStore:
    """Jobs and stages from the status store, one JSON round-trip each.

    Works with ``spark.ui.enabled=false``; the store keeps the last
    ``spark.ui.retainedJobs``/``retainedStages`` (1000) entries, so read
    it after every pass."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def by_group(self, prefix: str) -> dict[str, dict[str, float]]:
        """Work counters summed per job group, for groups under ``prefix``."""
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        stage_by_id = {s["stageId"]: s for s in stages if s["attemptId"] == 0}
        out: dict[str, dict[str, float]] = {}
        for job in jobs:
            group = job.get("jobGroup")
            if not group or not group.startswith(prefix):
                continue
            c = out.setdefault(group[len(prefix) :], _zero_counters())
            c["jobs"] += 1
            for sid in job["stageIds"]:
                s = stage_by_id.get(sid)
                if s is None:
                    raise RuntimeError(f"stage {sid} evicted from the status store")
                c["stages"] += 1
                c["tasks"] += s["numCompleteTasks"]
                c["task_run_s"] += s["executorRunTime"] / 1e3
                c["task_cpu_s"] += s["executorCpuTime"] / 1e9
                c["input_bytes"] += s["inputBytes"]
                c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                c["shuffle_read_bytes"] += s["shuffleReadBytes"]
                c["shuffle_write_records"] += s["shuffleWriteRecords"]
                c["shuffle_read_records"] += s["shuffleReadRecords"]
                c["spill_bytes"] += s["diskBytesSpilled"]
        return out


# counters that must repeat exactly for the same code and inputs
WORK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_records",
    "shuffle_read_records",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
)


def _zero_counters() -> dict[str, float]:
    return dict.fromkeys(
        WORK_COUNTERS
        + ("task_run_s", "task_cpu_s", "input_bytes", "spill_bytes"),
        0,
    )


def add_counters(into: dict[str, float], c: dict[str, float]) -> None:
    for k, v in c.items():
        into[k] = into.get(k, 0) + v


class Py4jCounter:
    """Counts py4j commands sent by the driver while installed."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def install(self) -> None:
        send = type(self._client).send_command.__get__(self._client)

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted

    def remove(self) -> None:
        self._client.__dict__.pop("send_command", None)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans at layer boundaries, kept in memory until the run ends.

    Each span runs its Spark jobs under its own job group, so the status
    store can attribute jobs, stages and tasks to the span's layer. A
    disabled tracer only sets the op's job group."""

    def __init__(self, spark, py4j: Py4jCounter | None = None) -> None:
        self._sc = spark.sparkContext
        self.py4j = py4j
        self.enabled = py4j is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.group_prefix = ""

    def _set_group(self, span: Span | None) -> None:
        group = f"{self.group_prefix}{span.id}" if span is not None else None
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        if not self.enabled and parent is not None:
            yield None
            return
        s = Span(len(self.spans), name, layer, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        calls0 = self.py4j.calls if self.py4j else 0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.py4j:
                s.attrs["py4j_calls"] = self.py4j.calls - calls0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part its child spans cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in spans}


def plan_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return Catalyst's phase
    times (analysis, optimization, planning) in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = phases.get(name).get().durationMs() / 1000.0 if phases.contains(name) else 0.0
    return out
