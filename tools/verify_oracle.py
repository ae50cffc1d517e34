"""Local mirror of the driver's correctness gate: run every query in
hadron_spark.queries against its DuckDB oracle at a given SF and
report row-count / schema / value match.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]

Each query runs in its own Spark job group; one still running after
QUERY_TIMEOUT_S seconds is cancelled and counted as a failure, so a
blow-up cannot hang the sweep.
"""

from __future__ import annotations

import math
import sys
import threading

import duckdb
import pandas as pd

sys.path.insert(0, ".")

# wall bound per query (Spark side), far above a healthy query: the
# full sf0.01 sweep of ~358 queries takes ~17 min
QUERY_TIMEOUT_S = 300

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp dtypes to ns for cross-engine compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


def dtype_kind(dt) -> str:
    """Collapse a pandas dtype to a comparison kind.

    The driver's correctness gate hashes raw values after a
    column-name sort, so an int64 0 on the Spark side against a
    float64 0.0 on the oracle side (the DuckDB HUGEINT -> pandas
    float64 conversion of an uncast integer SUM) hash-diverges even
    though Python's ``0 == 0.0`` is true.  Comparing dtype *kinds*
    (signed/unsigned int collapse together; float, bool, datetime,
    object stay distinct) makes that whole failure class impossible
    to pass locally.
    """
    k = dt.kind if hasattr(dt, "kind") else "O"
    return "i" if k in ("i", "u") else k


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from hadron_spark import get_spark
    from hadron_spark.queries import ORACLES, QUERIES

    # A typo'd name must NOT silently skip and report "all queries match"
    # (a verifier that can vacuously pass is a defect): reject unknowns
    # up front with exit 2 before any Spark work.
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"UNKNOWN query names (not in registry): {unknown}")
        print(f"ran 0/requested {len(only)}")
        return 2

    # no console progress bar: its \r rewrites swallow OK/FAIL lines
    spark = get_spark(
        "verify_oracle", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        group = f"verify_oracle:{name}"
        timed_out = threading.Event()

        def cancel(group=group, timed_out=timed_out):
            # also cancels the group's later jobs: a query between two
            # jobs at the deadline must not start the next one
            timed_out.set()
            spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(group)

        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
        timer.start()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            if timed_out.is_set():
                print(f"FAIL  {name}: timeout after {QUERY_TIMEOUT_S} s")
            else:
                print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        finally:
            timer.cancel()
        elapsed = time.time() - t0
        if name not in ORACLES:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{elapsed:.1f}s]")
            continue
        odf = con.execute(ORACLES[name]).df()
        s, o = canon(sdf), canon(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            failures.append(name)
            continue
        if len(s) != len(o):
            print(f"FAIL  {name}: rowcount {len(s)} vs {len(o)}")
            failures.append(name)
            continue
        kind_bad = [
            (c, str(s[c].dtype), str(o[c].dtype))
            for c in s.columns
            if len(s) > 0 and dtype_kind(s[c].dtype) != dtype_kind(o[c].dtype)
        ]
        if kind_bad:
            print(f"FAIL  {name}: dtype-kind mismatch {kind_bad}")
            failures.append(name)
            continue
        mism = None
        for col in s.columns:
            sa, oa = s[col].tolist(), o[col].tolist()
            for i, (x, y) in enumerate(zip(sa, oa)):
                if not values_equal(x, y):
                    mism = (col, i, x, y)
                    break
            if mism:
                break
        if mism:
            print(f"FAIL  {name}: value mismatch col={mism[0]} row={mism[1]}: "
                  f"spark={mism[2]!r} oracle={mism[3]!r}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(s)} rows [{elapsed:.1f}s]")

    print()
    ran = len(only) if only else len(QUERIES)
    print(f"ran {ran}/requested {len(only) if only else len(QUERIES)}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
