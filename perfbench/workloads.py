"""The benchmark's workloads: what each runs, on which inputs, and how
its outputs are checked.

A workload is a fixed list of operations run in order, one client in a
closed loop: the next operation starts when the previous one returned.
The runner times one operation end to end; ``run_op`` opens the layer
spans inside it.

- compose_bound: registry cells whose driver-side composition (Column
  DSL, py4j round-trips, eager pins and jobs) rivals their execution.
  Shows compose and plan changes; barely uses the data-parallel path.
- mr_pipeline: hadron's own job shape, a ``Pipeline`` of ``connect``
  steps over line files with Zipf-skewed keys: parse (``map_step``),
  per-key reduce (``reduce_step``), required + broadcast optional
  ``monoidal_join``, ``fan_out_write`` to parquet, then a rerun with
  ``RS_SKIP``. Dominated by the Python boundary and the sources layer;
  composition plays almost no part, so a compose-only change should
  leave it flat.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

import duckdb
import pandas as pd

import inputs
from layers import plan_phases

DUCKDB_THREADS = 2


def _run_query(tr, build, collect: bool):
    with tr.span("compose", "compose"):
        df = build()
    if tr.enabled:
        with tr.span("plan", "plan") as s:
            s.attrs.update(plan_phases(df))
    with tr.span("execute", "execute"):
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
    return None


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


def _kind(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return "i" if k in ("i", "u") else k


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Exact comparison after a column-name and full-row sort, with the
    dtype-kind check of the repository's oracle gate. Returns None when
    equal, else the first difference."""
    s, o = _canon(got), _canon(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    for c in s.columns:
        if len(s) and _kind(s[c].dtype) != _kind(o[c].dtype):
            return f"dtype of {c}: {s[c].dtype} vs {o[c].dtype}"
        for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
            if not _same(x, y):
                return f"{c}[{i}]: {x!r} vs {y!r}"
    return None


class ComposeBound:
    """Registry cells on the committed sf0.01 tables.

    The tables are read as they are: the seed is not used, because the
    rows-only approximate cells (SimHash, LSH) would change their work,
    and their pinned row counts, if the row order changed."""

    name = "compose_bound"
    ops = ["q27_simhash_pairs", "q28_lsh_topk", "q66_collocations"]
    tables = ["documents", "embeddings"]
    row_pins = {"q27_simhash_pairs": 1418, "q28_lsh_topk": 50}  # rows-only cells
    pass_budget_s = 2.5  # wall time of one timed pass on a 4-core VM

    def attach(self, work: Path) -> None:
        self.sf_dir = str(inputs.DATA)

    def prepare(self, work: Path, seed: int) -> dict:
        return {"sf_dir": "perfbench/data (sf0.01, as committed)", "documents": 500, "embeddings": 500}

    def _table(self, table: str) -> str:
        return os.path.join(self.sf_dir, f"{table}.parquet")

    def register(self, spark) -> None:
        for t in self.tables:
            spark.read.parquet(self._table(t)).createOrReplaceTempView(t)

    def begin_pass(self, spark):
        return None

    def run_op(self, spark, tr, ctx, op: str, collect: bool):
        from hadron_spark.queries import QUERIES

        return _run_query(tr, lambda: QUERIES[op](spark, self.sf_dir), collect)

    def check(self, spark, ctx, results: dict[str, pd.DataFrame]) -> dict[str, str | None]:
        from hadron_spark.queries import ORACLES

        con = duckdb.connect()
        con.execute(f"SET threads TO {DUCKDB_THREADS}")
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._table(t)}')")
            out = {}
            for op, got in results.items():
                if op in ORACLES:
                    out[op] = compare_frames(got, con.execute(ORACLES[op]).df())
                elif op in self.row_pins:
                    n = self.row_pins[op]
                    out[op] = None if len(got) == n else f"rows {len(got)} vs pinned {n}"
                else:
                    out[op] = "no oracle and no pinned row count"
            return out
        finally:
            con.close()


# --- mr_pipeline -----------------------------------------------------------

MR_STEPS = ("parse", "reduce", "join", "fanout")
PARSED = "key string, region string, amount long, qty long"
REDUCED = "key string, n long, total long, max_amount long, top_region string"


def parse_lines(pdf: pd.DataFrame) -> pd.DataFrame:
    parts = pdf["value"].str.split("\t", expand=True)
    return pd.DataFrame(
        {
            "key": pdf["k1"],
            "region": parts[0],
            "amount": parts[1].astype("int64"),
            "qty": parts[2].astype("int64"),
        }
    )


def reduce_account(pdf: pd.DataFrame) -> pd.DataFrame:
    by_region = pdf.groupby("region", sort=True)["amount"].sum()
    return pd.DataFrame(
        {
            "key": [pdf["key"].iloc[0]],
            "n": [len(pdf)],
            "total": [int(pdf["amount"].sum())],
            "max_amount": [int(pdf["amount"].max())],
            "top_region": [by_region.idxmax()],
        }
    )


class MrPipeline:
    name = "mr_pipeline"
    pass_budget_s = 3.2
    ops = list(MR_STEPS) + ["skip_rerun"]

    def attach(self, work: Path) -> None:
        self.inputs = work / "mr_input"
        self.out = work / "mr_output"

    def prepare(self, work: Path, seed: int) -> dict:
        return inputs.build_mr(work / "mr_input", seed)

    def register(self, spark) -> None:
        from hadron_spark.sources.pysource import HadronLineDataSource
        from hadron_spark.sources.taps import Tap

        spark.dataSource.register(HadronLineDataSource)
        lines = str(self.inputs / "lines")
        self.lines_tap = Tap([lines], "hadron_line", options={"key_segments": "1"})
        self.accounts_tap = Tap([str(self.inputs / "accounts.parquet")])
        self.accounts_tap.read(spark).createOrReplaceTempView("accounts")

    def _steps(self, pipe, tr):
        """The four connect calls: each takes the previous step's output
        tap and returns its own."""
        from hadron_spark.operators import joins
        from hadron_spark.operators.mapreduce import map_step, reduce_step
        from hadron_spark.sources.fanout import fan_out_write

        fanout_dir = str(self.out / "fanout")

        def traced(fn):
            def run(*dfs):
                with tr.span("transform", "compose"):
                    df = fn(*dfs)
                if tr.enabled:
                    with tr.span("plan", "plan") as s:
                        s.attrs.update(plan_phases(df))
                return df

            return run

        def fanout(df):
            with tr.span("fan_out_write", "write"):
                return fan_out_write(df, fanout_dir, "tier")

        def join(reduced, accounts):
            return joins.monoidal_join(
                ["key"],
                [
                    joins.JoinSide(reduced, joins.REQUIRED),
                    joins.JoinSide(accounts, joins.OPTIONAL, broadcast=True),
                ],
                fill={"tier": "none"},
            )

        return {
            "parse": lambda _: pipe.connect(
                "parse", traced(lambda df: map_step(df, parse_lines, PARSED)), [self.lines_tap]
            ),
            "reduce": lambda t: pipe.connect(
                "reduce", traced(lambda df: reduce_step(df, ["key"], reduce_account, REDUCED)), [t]
            ),
            "join": lambda t: pipe.connect("join", traced(join), [t, self.accounts_tap]),
            "fanout": lambda t: pipe.connect("fanout", traced(fanout), [t]),
        }

    def begin_pass(self, spark):
        from hadron_spark.pipeline import RS_RERUN, Pipeline

        self.out.mkdir(parents=True, exist_ok=True)
        pipe = Pipeline(spark, rerun=RS_RERUN, workdir=str(self.out / "steps"))
        return {"pipe": pipe, "last": None, "taps": {}}

    def run_op(self, spark, tr, ctx, op: str, collect: bool):
        from hadron_spark.pipeline import RS_SKIP, Pipeline

        if op == "skip_rerun":
            pipe = Pipeline(spark, rerun=RS_SKIP, workdir=str(self.out / "steps"))
            steps, t = self._steps(pipe, tr), None
            for name in MR_STEPS:
                t = steps[name](t)
            ctx["skip_pipe"] = pipe
        else:
            ctx["last"] = ctx["taps"][op] = self._steps(ctx["pipe"], tr)[op](ctx["last"])
        return None

    # -- outside views of one pass, read after it ---------------------------
    def groups(self, ctx) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetDataset(ctx["taps"]["reduce"].paths[0]).read(columns=["key"]).num_rows

    def written(self) -> tuple[int, int]:
        """(bytes, files) of data files under the pipeline's outputs."""
        n_bytes = n_files = 0
        for root, _, files in os.walk(self.out):
            for f in files:
                if not f.startswith(("_", ".")):
                    n_bytes += os.path.getsize(os.path.join(root, f))
                    n_files += 1
        return n_bytes, n_files

    def check(self, spark, ctx, results) -> dict[str, str | None]:
        lines = self.inputs / "lines" / "*.tsv"
        want_sql = f"""
            WITH l AS (
              SELECT * FROM read_csv('{lines}', delim='\t', header=false, quote='',
                columns={{'key': 'VARCHAR', 'region': 'VARCHAR', 'amount': 'BIGINT', 'qty': 'BIGINT'}})),
            per_key AS (
              SELECT key, COUNT(*) AS n, SUM(amount) AS total, MAX(amount) AS max_amount
              FROM l GROUP BY key)
            SELECT COALESCE(a.tier, 'none') AS route, COUNT(*) AS rows,
                   CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(total) AS BIGINT) AS total,
                   CAST(SUM(max_amount) AS BIGINT) AS max_amount
            FROM per_key p LEFT JOIN read_parquet('{self.inputs / "accounts.parquet"}') a USING (key)
            GROUP BY 1"""
        got_sql = f"""
            SELECT _route AS route, COUNT(*) AS rows, CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(total) AS BIGINT) AS total, CAST(SUM(max_amount) AS BIGINT) AS max_amount
            FROM read_parquet('{self.out / "fanout" / "*" / "*.parquet"}', hive_partitioning = true)
            GROUP BY 1"""
        stats_sql = f"""
            SELECT route, CAST(rows AS BIGINT) AS rows
            FROM read_parquet('{ctx["taps"]["fanout"].paths[0]}/*.parquet')"""
        con = duckdb.connect()
        con.execute(f"SET threads TO {DUCKDB_THREADS}")
        try:
            want = con.execute(want_sql).df()
            routes = compare_frames(con.execute(got_sql).df(), want)
            stats = compare_frames(con.execute(stats_sql).df(), want[["route", "rows"]])
        finally:
            con.close()
        skipped = [s.name for s in ctx["skip_pipe"].steps if not s.skipped]
        return {
            # the per-route totals cover every step: a wrong parse, reduce
            # or join changes them
            "parse": routes,
            "reduce": routes,
            "join": routes,
            "fanout": routes or (stats and f"fan-out stats: {stats}"),
            "skip_rerun": f"steps rerun under RS_SKIP: {skipped}" if skipped else None,
        }


WORKLOADS = {"compose_bound": ComposeBound, "mr_pipeline": MrPipeline}
