"""Pipeline runner — the Controller analog.

Reference parity: hadron's ``Controller`` is an operational free monad
of instructions (ConI GADT, src/Hadron/Controller.hs:610-650)
interpreted by an orchestrator (Controller.hs:789-907) and
re-interpreted on worker nodes; state ships via an HDFS file keyed by
a random run token (Controller.hs:569-604).

Spark collapses all of that: the driver program IS the orchestrator,
the lazy DataFrame graph IS the plan, and closures/broadcasts replace
the state file. What genuinely survives is the *pipeline step runner*:

- named steps (`connect`, Controller.hs:654-677)
- RerunStrategy: fail / re-run / skip-if-output-exists memoization
  (RSFail/RSReRun/RSSkip, Controller.hs:914-921, 867-886)
- auto-generated intermediate taps (`connect'`/`makeTap`,
  Controller.hs:657-682)
- orchestrator key-value store (`setVal`/`getVal`,
  Controller.hs:689-696) and `runOnce` (Controller.hs:724-725) —
  broadcast/closure capture here.
"""

from __future__ import annotations

import os
import secrets
import tempfile
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from hadron_spark.sources.taps import Tap

# RerunStrategy (Controller.hs:914-921) → SaveMode + existence check
RS_FAIL = "fail"  # output exists → error        (SaveMode errorifexists)
RS_RERUN = "rerun"  # output exists → overwrite    (SaveMode overwrite)
RS_SKIP = "skip"  # output exists → skip compute (memoized restart)


def _output_exists(spark: SparkSession, path: str) -> bool:
    """Committed-output check via the Hadoop FileSystem client (works
    for file://, hdfs://, s3a:// alike): the committer's _SUCCESS
    marker, which every `Tap.write` leaves; a dir without it holds
    debris of a write that never committed."""
    from hadron_spark.sources import fs

    return fs.exists(spark, os.path.join(path, "_SUCCESS"))


@dataclass
class StepResult:
    name: str
    tap: Tap
    skipped: bool


@dataclass
class Pipeline:
    """Multi-step DAG runner (one `connect` per step).

    Usage:
        pipe = Pipeline(spark, rerun=RS_RERUN)
        t1 = pipe.connect("words", transform_fn, [in_tap], out_tap)
        t2 = pipe.connect("totals", agg_fn, [t1])          # auto tap
    """

    spark: SparkSession
    rerun: str = RS_RERUN
    workdir: str | None = None
    vals: dict[str, Any] = field(default_factory=dict)  # setVal/getVal store
    steps: list[StepResult] = field(default_factory=list)
    _run_once_cache: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.workdir is None:
            # auto intermediate location (makeTap, Controller.hs:836-842)
            self.workdir = tempfile.mkdtemp(prefix="hadron_spark_")
        self.run_token = secrets.token_hex(8)  # Controller.hs:585-604

    # --- state ops ------------------------------------------------------
    def set_val(self, key: str, value: Any) -> None:
        """Controller.hs:689-692 — value visible to every later step
        (closure capture replaces the HDFS state file)."""
        self.vals[key] = value

    def get_val(self, key: str) -> Any:
        """Controller.hs:694-696."""
        return self.vals[key]

    def run_once(self, key: str, fn: Callable[[], Any]) -> Any:
        """Compute once on the driver, reuse everywhere
        (Controller.hs:724-725, 1066-1071)."""
        if key not in self._run_once_cache:
            self._run_once_cache[key] = fn()
        return self._run_once_cache[key]

    # --- the Connect instruction ---------------------------------------
    def make_tap(self, name: str, fmt: str = "parquet") -> Tap:
        """Auto-generated intermediate location (connect'/makeTap,
        Controller.hs:657-682)."""
        return Tap([os.path.join(self.workdir, name)], fmt)

    def connect(
        self,
        name: str,
        transform: Callable[..., DataFrame],
        inputs: list[Tap],
        output: Tap | None = None,
        partition_by: list[str] | None = None,
    ) -> Tap:
        """Run one named step: read input taps, apply `transform(df, ...)
        → DataFrame`, write to the output tap, honoring RerunStrategy
        (Controller.hs:858-906). Map-only steps (no shuffle in the
        transform) stay narrow — Spark plans no exchange, matching the
        reference's numReduce=0 path (Controller.hs:902-906)."""
        out = output or self.make_tap(f"{len(self.steps):02d}_{name}")
        out_path = out.paths[0]

        if _output_exists(self.spark, out_path):
            if self.rerun == RS_FAIL:
                raise FileExistsError(f"step {name}: output exists: {out_path}")
            if self.rerun == RS_SKIP:
                self.steps.append(StepResult(name, out, skipped=True))
                return out

        dfs = [t.read(self.spark) for t in inputs]
        self.spark.sparkContext.setJobDescription(f"hadron_spark step: {name}")
        result = transform(*dfs) if dfs else transform(self.spark)
        # RS_SKIP overwrites an uncommitted output's debris; RS_FAIL
        # still refuses it through Spark's error-if-exists
        mode = "error" if self.rerun == RS_FAIL else "overwrite"
        out.write(result, mode=mode, partition_by=partition_by)
        self.steps.append(StepResult(name, out, skipped=False))
        return out
