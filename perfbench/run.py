"""hadron_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload compose_bound --seed 1 --seconds 20 --trace 0

Run from the repository root. The script builds the workload's inputs
from the seed (untimed), then starts ``worker.py`` as a fresh Python
process that starts its own JVM, measures, checks every output and
writes a report. This script waits for the worker and for every process
below it, then prints the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics. Everything the run writes
(inputs, Spark scratch, the full report with spans and work counters)
stays under ``perfbench/_work/``; the report of the last run of each
workload, seed and trace mode is kept in ``perfbench/_work/reports/``.

Exits non-zero, without a result line, when the run cannot be made,
for example when ``hadron_spark`` is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from layers import proc_stat
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
BENCHMARK = ROOT / "BENCHMARK.json"
WORKER_TIMEOUT_S = 150


def result_line(report: dict, trace: int) -> dict:
    spec = json.loads(BENCHMARK.read_text())
    source = report["per_layer"] if trace else report["end_to_end"]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def _pgid_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = proc_stat(int(name))
            if f is not None and int(f[2]) == pgid and f[0] != "Z":
                out.append(int(name))
    return out


def reap_group(pgid: int) -> None:
    """Stop whatever the worker left in its process group and wait until
    all of it has exited."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        while _pgid_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _pgid_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
    if _pgid_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "hadron_spark" / "__init__.py").is_file():
        print(f"hadron_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = WORK / "run"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    info = WORKLOADS[args.workload]().prepare(work, args.seed)
    (work / "inputs.json").write_text(json.dumps(info))

    report_path = WORK / "reports" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    report_path.parent.mkdir(parents=True, exist_ok=True)
    report_path.unlink(missing_ok=True)
    # python workers import hadron_spark and the workload module
    pythonpath = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(pythonpath),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        # the JVMs (launcher and driver) would otherwise write /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--report", str(report_path),
    ]
    log_path = WORK / "worker.log"
    with open(log_path, "w") as log:
        env["PERFBENCH_T0"] = repr(time.monotonic())
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap_group(proc.pid)
            proc.wait()
    if code != 0 or not report_path.is_file():
        why = "timed out" if code is None else f"exited with {code}"
        print(f"worker {why}; last lines of {log_path}:", file=sys.stderr)
        print("".join(log_path.read_text(errors="replace").splitlines(True)[-30:]), file=sys.stderr)
        return 1
    print(json.dumps(result_line(json.loads(report_path.read_text()), args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
