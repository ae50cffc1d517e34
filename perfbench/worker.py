"""One measured run: a fresh Python driver and JVM for one workload.

Started by ``run.py`` with the workload's inputs already built. Writes a
report (every timing, counter, check and span) to the path given as
``--report`` and exits; ``run.py`` prints the result line from it.

Sequence of one run:

1. set-up: import, ``get_spark``, input registration, a first trivial
   job (``setup_s``, counted from the process start);
2. the cold pass (``cold_pass_s``). It collects every output, which is
   checked afterwards, untimed;
3. timed passes, one per ``pass_budget_s`` of the workload in
   ``--seconds`` (at least ``MIN_TIMED``): each operation's minimum over
   the passes, summed (``pass_s``). With ``--trace 1`` every second pass
   is traced, so the tracing overhead is measured. The JIT is still
   compiling during these passes (a run is too short for it to settle);
   ``jvm.jit_s`` reports how much;
4. ``box.ref_s``: a fixed Spark job that uses no hadron_spark code;
5. shutdown, waiting for the JVM to exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import layers
from workloads import WORKLOADS

CORES = 2
JVM_OPTS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
HEAP = "1g"
MIN_TIMED = 3


def start_session(work: Path):
    from hadron_spark import get_spark

    tmp = work / "tmp"
    return get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Xms{HEAP} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def box_job(spark) -> float:
    """Seconds for a fixed Spark job that uses no hadron_spark code."""
    t = time.perf_counter()
    (
        spark.range(0, 3_000_000, 1, CORES)
        .selectExpr("id % 1024 AS k", "id * 7 % 1000003 AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t


def release_pins(spark) -> int:
    """Unpersist every persistent RDD an operation left behind; return
    how many there were."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


class Runner:
    def __init__(self, spark, wl, store, jvm):
        self.spark, self.wl, self.store, self.jvm = spark, wl, store, jvm
        self.failures: list[dict] = []
        self.attempted = 0

    def run_pass(self, tag: str, tracer, cold: bool = False, counters: bool = False) -> dict:
        self.spark._jvm.System.gc()
        gc.collect()
        gc.disable()  # no Python collection inside a timed operation
        tracer.group_prefix = f"{tag}/"
        tracer.spans = []
        ctx = self.wl.begin_pass(self.spark)
        times, results, op_span = {}, {}, {}
        j0 = self.jvm.sample()
        t0 = time.perf_counter()
        for op in self.wl.ops:
            self.attempted += 1
            try:
                with tracer.span(op, "op") as s:
                    out = self.wl.run_op(self.spark, tracer, ctx, op, collect=cold)
                times[op] = s.end - s.start
                op_span[op] = s.id
                if out is not None:
                    results[op] = out
                s.attrs["pins"] = release_pins(self.spark)
            except Exception as exc:  # a failing operation is counted, not fatal
                traceback.print_exc()
                self.failures.append({"pass": tag, "op": op, "error": repr(exc)[:500]})
                release_pins(self.spark)
        wall = time.perf_counter() - t0
        gc.enable()
        p = {
            "tag": tag,
            "wall_s": wall,
            "op_s": times,
            "op_span": op_span,
            "jvm": layers.delta(self.jvm.sample(), j0),
            "ctx": ctx,
            "results": results,
            "spans": tracer.spans,
        }
        if counters:
            p["counters"] = self.store.by_group(tracer.group_prefix)
            if hasattr(self.wl, "groups"):
                p["groups"] = self.wl.groups(ctx)
        return p


def op_counters(p: dict, spans) -> dict[str, dict]:
    """Work counters per operation, summed over the operation's spans."""
    root = {}
    for s in spans:
        root[s.id] = root[s.parent] if s.parent is not None else s.id
    by_op = {sid: op for op, sid in p["op_span"].items()}
    out: dict[str, dict] = {}
    for sid, c in p["counters"].items():
        op = by_op.get(root.get(int(sid)))
        if op is not None:
            layers.add_counters(out.setdefault(op, {}), c)
    return out


def drift(runs: list[dict[str, dict]]) -> list[dict]:
    """Work counters that differ between passes (or runs) of the same
    code on the same inputs."""
    out = []
    for op in runs[0]:
        for k in layers.WORK_COUNTERS + ("groups",):
            vals = [r.get(op, {}).get(k) for r in runs]
            if vals[0] is not None and len(set(vals)) > 1:
                out.append({"op": op, "counter": k, "values": vals})
    return out


def min_per_op(passes: list[dict], ops: list[str], failed: set[str]) -> dict[str, float]:
    return {
        op: min(p["op_s"][op] for p in passes if op in p["op_s"])
        for op in ops
        if op not in failed and all(op in p["op_s"] for p in passes)
    }


def layer_metrics(traced: list[dict], best: dict[str, int]) -> dict:
    """Per-layer metrics from the traced passes: for each operation, the
    spans of the traced pass where it was fastest."""
    m = dict.fromkeys(
        [
            "compose.s", "compose.jobs", "compose.pins", "compose.py4j_calls",
            "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
            "execute.s", "sources.read_s", "sources.write_s", "trace.unattributed_s",
        ],
        0.0,
    )
    exe: dict[str, float] = {}
    for op, i in best.items():
        p = traced[i]
        spans = p["spans"]
        st = layers.self_times(spans)
        kids: dict[int, int] = {}
        for s in spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0) + s.attrs.get("py4j_calls", 0)
        in_op = {p["op_span"][op]}
        for s in spans:  # spans are recorded parent-first
            if s.parent in in_op:
                in_op.add(s.id)
        for s in spans:
            if s.id not in in_op:
                continue
            c = p["counters"].get(str(s.id), {})
            if s.layer == "op":
                m["trace.unattributed_s"] += st[s.id]
                m["compose.pins"] += s.attrs.get("pins", 0)
            elif s.layer == "compose":
                m["compose.s"] += st[s.id]
                m["compose.jobs"] += c.get("jobs", 0)
                m["compose.py4j_calls"] += s.attrs["py4j_calls"] - kids.get(s.id, 0)
            elif s.layer == "plan":
                for k in ("analysis", "optimization", "planning"):
                    m[f"plan.{k}_s"] += s.attrs[k]
            elif s.layer == "read":
                m["sources.read_s"] += st[s.id]
            elif s.layer in ("execute", "write"):
                m["execute.s"] += st[s.id]
                if s.layer == "write":
                    m["sources.write_s"] += st[s.id]
                layers.add_counters(exe, c)
    m.update(
        {
            "execute.jobs": exe.get("jobs", 0),
            "execute.stages": exe.get("stages", 0),
            "execute.tasks": exe.get("tasks", 0),
            "execute.task_cpu_s": exe.get("task_cpu_s", 0.0),
            "execute.task_run_s": exe.get("task_run_s", 0.0),
            "execute.input_mb": exe.get("input_bytes", 0) / 2**20,
            "execute.shuffle_write_mb": exe.get("shuffle_write_bytes", 0) / 2**20,
            "execute.shuffle_read_mb": exe.get("shuffle_read_bytes", 0) / 2**20,
            "execute.spill_mb": exe.get("spill_bytes", 0) / 2**20,
        }
    )
    return m


def main() -> int:
    t_start = float(os.environ["PERFBENCH_T0"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--report", required=True)
    args = ap.parse_args()
    work = Path(args.work)

    wl = WORKLOADS[args.workload]()
    wl.attach(work)

    # -- 1. set-up -----------------------------------------------------------
    spark = start_session(work)
    sc = spark.sparkContext
    gateway_proc = sc._gateway.proc
    try:
        wl.register(spark)
        spark.range(1000).count()
        setup_s = time.monotonic() - t_start

        jvm = layers.Jvm(spark)
        store = layers.StatusStore(spark)
        py4j = layers.Py4jCounter(spark)
        plain = layers.Tracer(spark)
        run = Runner(spark, wl, store, jvm)

        phases = {"setup": setup_s}
        # -- 2. cold pass, checked ---------------------------------------------
        cold = run.run_pass("cold", plain, cold=True)
        checks = {op: "no output checked" for op in wl.ops if op in cold["op_s"]}
        try:
            checks.update(wl.check(spark, cold["ctx"], cold["results"]))
        except Exception as exc:
            traceback.print_exc()
            checks = {op: f"check raised {exc!r}"[:500] for op in checks}

        phases["cold_and_check"] = time.monotonic() - t_start
        # -- 3. timed passes -----------------------------------------------------
        # A fixed number of passes, not a deadline: the JIT is still
        # compiling, so each pass is faster than the one before, and a
        # deadline would let a faster run take its minimum at a warmer pass.
        timed, traced = [], []
        for i in range(max(MIN_TIMED, round(args.seconds / wl.pass_budget_s))):
            if not (args.trace and i % 2):
                timed.append(run.run_pass(f"t{i}", plain, counters=len(timed) < 2))
                continue
            # traced passes alternate with untraced ones, so both see the
            # same JIT warmth and their difference is the tracing overhead
            tr = layers.Tracer(spark, py4j)
            with traced_sources(tr):
                py4j.install()
                try:
                    p = run.run_pass(f"r{i}", tr, counters=True)
                finally:
                    py4j.remove()
            if hasattr(wl, "written"):
                p["written"] = wl.written()
            traced.append(p)

        phases["timed"] = time.monotonic() - t_start
        # -- 4. box reference ------------------------------------------------------
        box = [box_job(spark) for _ in range(3)]

        rss = layers.peak_rss_mb(jvm.pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        spark.stop()
        sc._gateway.shutdown()
        gateway_proc.stdin.close()
        gateway_proc.wait(timeout=60)
    phases["stopped"] = time.monotonic() - t_start

    # -- results ---------------------------------------------------------------
    failed_ops = {f["op"] for f in run.failures} | {op for op, e in checks.items() if e}
    cold_ok = {op: t for op, t in cold["op_s"].items() if op not in failed_ops}
    mins = min_per_op(timed, wl.ops, failed_ops)
    n_failed = len(run.failures) + sum(1 for e in checks.values() if e)
    per_pass_counters = []
    for p in timed + traced:
        if "counters" not in p:
            continue
        c = op_counters(p, p["spans"])
        if "groups" in p:
            c.setdefault("reduce", {})["groups"] = p["groups"]
        per_pass_counters.append(c)
    drifted = drift(per_pass_counters)
    drifted += cross_run_drift(work, args.workload, args.seed, per_pass_counters[0])

    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold_ok.values()),
        "pass_s": sum(mins.values()),
        "peak_rss_mb": rss,
        "op_ok_ratio": (run.attempted - n_failed) / run.attempted,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": CORES,
        "jvm_opts": JVM_OPTS,
        "inputs": json.loads((work / "inputs.json").read_text()),
        "attempted": run.attempted,
        "failed": n_failed,
        "failures": run.failures,
        "checks": checks,
        "end_to_end": e2e,
        "op_min_s": mins,
        "cold_op_s": cold["op_s"],
        "timed_passes": [
            {"tag": p["tag"], "wall_s": p["wall_s"], "op_s": p["op_s"], "jvm": p["jvm"]} for p in timed + traced
        ],
        "counters": per_pass_counters,
        "counter_drift": drifted,
        "box_ref_s": box,
        "phase_end_s": phases,
    }
    if args.trace:
        report["per_layer"] = per_layer(
            wl, setup_s, timed, traced, mins, failed_ops, box, drifted
        )
        report["spans"] = [
            {
                "pass": p["tag"], "id": s.id, "name": s.name, "layer": s.layer,
                "parent": s.parent, "start": s.start, "end": s.end, "attrs": s.attrs,
            }
            for p in traced
            for s in p["spans"]
        ]
    Path(args.report).write_text(json.dumps(report, indent=1, default=str))
    return 0


@contextmanager
def traced_sources(tr):
    """Time ``Tap.read`` and ``Tap.write`` as read/write spans while a
    traced pass runs; restore the originals afterwards."""
    from hadron_spark.sources.taps import Tap

    read, write = Tap.read, Tap.write

    def t_read(self, spark):
        with tr.span("Tap.read", "read"):
            return read(self, spark)

    def t_write(self, df, *a, **kw):
        with tr.span("Tap.write", "write"):
            return write(self, df, *a, **kw)

    Tap.read, Tap.write = t_read, t_write
    try:
        yield
    finally:
        Tap.read, Tap.write = read, write


def cross_run_drift(work: Path, workload: str, seed: int, counters: dict) -> list[dict]:
    """Compare with the counters that an earlier run of the same workload
    on the same inputs left in this checkout, then store this run's."""
    import hashlib

    digest = hashlib.sha1((work / "inputs.json").read_bytes()).hexdigest()[:12]
    path = work.parent / "counters" / f"{workload}-seed{seed}-{digest}.json"
    found = []
    if path.exists():
        found = [dict(d, across_runs=True) for d in drift([json.loads(path.read_text()), counters])]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(counters))
    return found


def per_layer(wl, setup_s, timed, traced, mins, failed_ops, box, drifted) -> dict:
    best = {}
    for op in mins:
        ts = [p["op_s"].get(op, float("inf")) for p in traced]
        best[op] = ts.index(min(ts))
    traced_mins = min_per_op(traced, wl.ops, failed_ops)
    m = {"session.start_s": setup_s}
    m.update(layer_metrics(traced, best))

    def mean(xs):
        return sum(xs) / len(xs)

    mr = hasattr(wl, "groups")
    m.update(
        {
            "mapreduce.map_s": traced_mins.get("parse", 0.0) if mr else 0.0,
            "mapreduce.reduce_s": traced_mins.get("reduce", 0.0) if mr else 0.0,
            "mapreduce.groups": traced[-1]["groups"] if mr else 0,
            "python.worker_cpu_s": mean([p["jvm"]["python_worker_cpu_s"] for p in timed]),
            "sources.bytes_written": traced[-1]["written"][0] if mr else 0,
            "sources.files_written": traced[-1]["written"][1] if mr else 0,
            "pipeline.steps_run": sum(1 for s in traced[-1]["ctx"]["pipe"].steps if not s.skipped) if mr else 0,
            "pipeline.steps_skipped": sum(1 for s in traced[-1]["ctx"]["skip_pipe"].steps if s.skipped) if mr else 0,
            "pipeline.skip_s": traced_mins.get("skip_rerun", 0.0) if mr else 0.0,
            "jvm.gc_s": mean([p["jvm"]["gc_s"] for p in timed]),
            "jvm.jit_s": mean([p["jvm"]["jit_s"] for p in timed]),
            "jvm.cpu_s": mean([p["jvm"]["cpu_s"] for p in timed]),
            "box.ref_s": min(box),
            "trace.pass_s": sum(traced_mins.values()),
            "trace.overhead_s": sum(traced_mins.values()) - sum(mins.values()),
            "counters.drift": len(drifted),
        }
    )
    return m


if __name__ == "__main__":
    sys.exit(main())
