"""Relational ops surface + key-ordering property (mirrors the
reference's only property test, test/Tests.hs:29-33: key encodings
must preserve chronological order — in Spark, typed timestamp columns
sort natively; we assert the engine's sort on timestamps matches
Python's on the underlying datetimes)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadron_spark.operators import ops
from hadron_spark.sources.taps import tap


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = tap(f"{sf_dir}/lineitem.parquet").read(spark)
    q = ops.project(
        ops.filter_rows(li, F.col("l_quantity") > 25.0), "l_orderkey", "l_quantity"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan schema restricted to the two referenced cols
    assert "ReadSchema" in plan


def test_first_by_agg_matches_window(spark):
    """first_by's r07 min_by fast path (plain-name order) must pick
    the exact row the row_number window picked — including NULL order
    keys (struct comparison is nulls-first like asc) — and must plan
    as a partial-aggregating HashAggregate, not a Window."""
    rows = [
        (1, None, 5, "w"), (1, "b", 1, "x"), (1, "a", None, "y"),
        (2, None, None, "z"), (2, None, 3, "q"), (3, "c", 9, "r"),
    ]
    df = spark.createDataFrame(rows, "k int, a string, b int, payload string")
    fast = ops.first_by(df, ["k"], ["a", "b"])
    slow = ops.first_by(df, ["k"], [F.col("a").asc(), F.col("b").asc()])
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    assert fast.columns == df.columns
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "min_by" in plan
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "Window" in slow_plan  # expression order keeps the window


def test_top_k_uses_take_ordered(spark, sf_dir):
    o = tap(f"{sf_dir}/orders.parquet").read(spark)
    q = ops.top_k(o, [F.col("o_totalprice").desc()], 5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # heap-based, not global sort


def test_top_k_per_group(spark, sf_dir):
    o = tap(f"{sf_dir}/orders.parquet").read(spark)
    out = ops.top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2
    )
    counts = out.groupBy("o_custkey").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 2


def test_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    assert sorted(r["k"] for r in ops.intersect(a, b).collect()) == [2, 3]
    assert sorted(r["k"] for r in ops.except_all(a, b).collect()) == [1, 2]
    assert ops.union_all(a, b).count() == 7


def test_secondary_sort_orders_within_partitions(spark, sf_dir):
    ev = tap(f"{sf_dir}/events.parquet").read(spark)
    ss = ops.secondary_sort(ev, ["user_id"], ["ts"], num_partitions=4)

    def check(it):
        for pdf in it:
            g = pdf.groupby("user_id")["ts"].apply(lambda s: s.is_monotonic_increasing)
            assert bool(g.all())
            yield pd.DataFrame({"ok": [True]})

    assert ss.mapInPandas(check, "ok boolean").count() > 0


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.datetimes(
            min_value=pd.Timestamp("1990-01-01").to_pydatetime(),
            max_value=pd.Timestamp("2100-01-01").to_pydatetime(),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_timestamp_sort_order_property(ts_list):
    """Key-ordering invariant (test/Tests.hs:29-33): engine sort on
    timestamp keys == chronological order. Uses pandas/pyarrow
    semantics (the engine's exchange format) without a Spark round
    trip per example (hypothesis would be too slow otherwise)."""
    s = pd.Series(pd.to_datetime(ts_list).floor("us"))
    engine_sorted = s.sort_values(ignore_index=True)
    py_sorted = sorted(s.tolist())
    assert engine_sorted.tolist() == py_sorted


def test_window_ops(spark, sf_dir):
    ev = tap(f"{sf_dir}/events.parquet").read(spark)
    out = ops.with_window(
        ev.select("user_id", "event_id", "value"),
        ["user_id"],
        [F.col("event_id")],
        {"rn": F.row_number(), "prev": F.lag("value")},
    )
    first = out.filter(F.col("rn") == 1).collect()
    assert all(r["prev"] is None for r in first)


def test_profile_counts_nulls_and_distincts(spark):
    from hadron_spark.operators.ops import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 0.25), (3, "a", -3.0), (4, "b", None)],
        "k long, v string, x double",
    )
    rows = {r["column"]: r for r in profile(df, ["k", "v", "x"]).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_null"] == 0
    assert rows["k"]["n_distinct"] == 4
    assert rows["v"]["n_null"] == 1 and rows["v"]["n_distinct"] == 2
    assert rows["v"]["min_str"] == "a" and rows["v"]["max_str"] == "b"
    assert rows["v"]["min_num"] is None and rows["v"]["max_num"] is None
    # float/double min/max stay typed — never routed through a string
    # cast (double->string formatting is not portable across engines)
    assert rows["x"]["min_num"] == -3.0 and rows["x"]["max_num"] == 1.5
    assert rows["x"]["min_str"] is None and rows["x"]["max_str"] is None
    assert rows["x"]["n_null"] == 1


def test_vector_functions(spark):
    from hadron_spark.functions.vectors import (
        cosine_similarity,
        euclidean_distance,
        l2_normalize,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
        euclidean_distance(F.col("a"), F.col("b")).alias("dist"),
        l2_normalize(F.col("a")).alias("unit"),
    ).collect()
    assert abs(rows[0]["cos"] - 1.0) < 1e-12 and rows[0]["dist"] == 0.0
    assert abs(rows[1]["cos"]) < 1e-12 and abs(rows[1]["dist"] - 2 ** 0.5) < 1e-12
    assert abs(sum(x * x for x in rows[0]["unit"]) - 1.0) < 1e-12


def test_stratified_sample_deterministic_subset(spark, sf_dir):
    o = tap(f"{sf_dir}/orders.parquet").read(spark)
    fr = {"1-URGENT": 0.5, "5-LOW": 0.0}
    s1 = ops.stratified_sample(o, "o_orderpriority", "o_orderkey", fr)
    s2 = ops.stratified_sample(
        o.repartition(7), "o_orderpriority", "o_orderkey", fr
    )
    keys1 = sorted(r["o_orderkey"] for r in s1.select("o_orderkey").collect())
    keys2 = sorted(r["o_orderkey"] for r in s2.select("o_orderkey").collect())
    # pure function of the key: identical under any partitioning
    assert keys1 == keys2 and keys1
    # unlisted strata and 0-fraction strata are dropped entirely
    kept = {r["o_orderpriority"] for r in s1.select("o_orderpriority").distinct().collect()}
    assert kept == {"1-URGENT"}
    n_urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert abs(len(keys1) / n_urgent - 0.5) < 0.1


def test_gap_fill_fills_missing_steps(spark):
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01", 1),
            ("a", "2024-04-01", 4),
            ("b", "2024-02-01", 2),
        ],
        "k string, month string, v int",
    ).withColumn("month", F.to_timestamp("month"))
    out = ops.gap_fill(df, ["k"], "month", "1 month", fills={"v": F.lit(0)})
    rows = {(r["k"], str(r["month"])[:7]): r["v"] for r in out.collect()}
    # a: 4 months (Jan..Apr) with Feb/Mar zero-filled; b: its single month
    assert rows == {
        ("a", "2024-01"): 1,
        ("a", "2024-02"): 0,
        ("a", "2024-03"): 0,
        ("a", "2024-04"): 4,
        ("b", "2024-02"): 2,
    }


def test_sketch_profile_error_bounds(spark, sf_dir):
    o = tap(f"{sf_dir}/orders.parquet").read(spark)
    out = ops.sketch_profile(
        o, ["o_orderpriority"], distinct_cols=["o_custkey"],
        quantile_cols=["o_totalprice"],
    ).collect()
    exact = {
        r["o_orderpriority"]: (r["nd"], r["p50"])
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("nd"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }
    for r in out:
        nd, p50 = exact[r["o_orderpriority"]]
        assert abs(r["apx_nd_o_custkey"] - nd) / nd < 0.15
        assert abs(r["apx_p50_o_totalprice"] - p50) / p50 < 0.05


def test_stratified_sample_boundary_fractions(spark, sf_dir):
    o = tap(f"{sf_dir}/orders.parquet").read(spark)
    keep_all = ops.stratified_sample(
        o, "o_orderpriority", "o_orderkey", {"1-URGENT": 1.0}
    )
    n_urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert keep_all.count() == n_urgent  # fraction 1.0 keeps the stratum whole


def test_zorder_monotone_per_dimension(spark):
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    from hadron_spark.sources.layout import zorder_sql

    # pure-python evaluation of the generated SQL semantics
    def z(a, b, bits=8):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    @given(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=255),
    )
    @settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
    def check(a1, a2, b):
        # fixing the other coordinate, the Morton code is monotone in
        # each dimension — the property that makes min/max pruning work
        if a1 < a2:
            assert z(a1, b) < z(a2, b)
            assert z(b, a1) < z(b, a2)

    check()
    # and the generated SQL agrees with the python reference (duckdb eval)
    import duckdb

    sql = zorder_sql(["a", "b"], bits=8)
    got = duckdb.sql(f"SELECT {sql} FROM (SELECT 200 AS a, 77 AS b)").fetchone()[0]
    assert got == z(200, 77)


def test_sequence_packing_conserves_tokens(spark, sf_dir):
    from hadron_spark.queries import QUERIES

    packs = QUERIES["q81_sequence_packing"](spark, sf_dir).collect()
    docs = tap(f"{sf_dir}/documents.parquet").read(spark)
    from hadron_spark.functions.text import token_count

    total = docs.select(F.sum(token_count(F.col("text"))).alias("t")).collect()[0]["t"]
    assert sum(r["pack_tokens"] for r in packs) == total  # no doc lost or split
    # every pack except possibly each source's last holds >= budget-ish tokens:
    # quantized packing guarantees pack_tokens + 511 >= 512 for non-final packs
    by_src = {}
    for r in packs:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["pack_id"])
        for r in rows[:-1]:
            assert r["pack_tokens"] >= 1


def test_triangle_count_known_graph(spark):
    from hadron_spark.operators.graph import triangle_count

    # K4 (4 triangles) + a pendant path that adds none; duplicate and
    # reversed edges must not double-count
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).collect()[0]["triangles"] == 4


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=25,
    )
)
def test_triangle_count_matches_naive(spark, edge_list):
    """Degree-ordered orientation must count exactly what brute-force
    enumeration counts, on arbitrary small graphs (self-loops and
    duplicate/reversed edges included)."""
    from itertools import combinations

    from hadron_spark.operators.graph import triangle_count

    und = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    expected = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if {(a, b), (a, c), (b, c)} <= und
    )
    df = spark.createDataFrame(
        edge_list or [(0, 0)], "src long, dst long"
    )
    assert triangle_count(df).collect()[0]["triangles"] == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.sampled_from("abcdef"), min_size=1, max_size=60),
    st.integers(1, 3),
    st.sampled_from([2, 4, 512]),
)
def test_cms_upper_bound_property(spark, keys, depth, width):
    """CMS invariants under any collision regime: every reported
    estimate ≥ the true count, and with threshold=1 every key is
    reported (candidates cover the full small domain)."""
    from collections import Counter

    from hadron_spark.operators.sketch import heavy_hitters

    truth = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["key"]: r["est"]
        for r in heavy_hitters(
            df, "k", threshold=1, depth=depth, width=width
        ).collect()
    }
    assert set(got) == set(truth)
    assert all(got[k] >= truth[k] for k in truth)


def test_interval_sweep_carry_in_across_months(spark, tmp_path):
    """q92's month-partitioned sweep must equal the naive global
    sweep when intervals span several month boundaries — the carry-in
    spine is the part the oracle data barely stresses (orders are
    30-day intervals; here one interval covers 3 months)."""
    import datetime as dt

    from hadron_spark.queries import QUERIES

    rows = [
        # long interval: Jan 15 -> Feb 14 (+30d), present in Jan+Feb
        (1, 1, "O", 1.0, dt.datetime(1995, 1, 15), "x"),
        # cluster inside February only
        (2, 1, "O", 1.0, dt.datetime(1995, 2, 1), "x"),
        (3, 1, "O", 1.0, dt.datetime(1995, 2, 10), "x"),
        # isolated in April (gap month March has zero concurrency)
        (4, 1, "O", 1.0, dt.datetime(1995, 4, 20), "x"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = tmp_path / "sf"
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    out = {
        r["month"].date().isoformat(): r["max_concurrent"]
        for r in QUERIES["q92_max_concurrency"](spark, str(d)).collect()
    }
    # Jan: only order 1 open. Feb: orders 1+2+3 overlap on Feb 10-13.
    # Mar: order 3 (from Feb 10) is open until Mar 12 -> carry-in 1.
    # Apr/May: single isolated interval opens and closes.
    assert out["1995-01-01"] == 1
    assert out["1995-02-01"] == 3
    assert out["1995-03-01"] == 1
    assert out["1995-04-01"] == 1


def test_forward_fill_locf(spark):
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, None),
         (2, 1, None), (2, 2, 5.0)],
        "k int, t int, v double",
    )
    out = ops.forward_fill(df, ["k"], "t", ["v"]).orderBy("k", "t").collect()
    assert [r["v"] for r in out] == [None, 10.0, 10.0, 10.0, None, 5.0]
    # untouched columns survive
    assert [r["t"] for r in out] == [1, 2, 3, 4, 1, 2]


def test_weighted_sample_proportional_and_deterministic(spark):
    """A-ES: inclusion rate tracks weight (9:1 weights -> heavy rows
    strongly overrepresented), selection is a pure function of the
    keys (two runs identical), and exactly k rows survive."""
    rows = [(i, 9.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got1 = ops.weighted_sample(df, "id", "w", 100)
    got2 = ops.weighted_sample(df, "id", "w", 100)
    s1 = sorted(r["id"] for r in got1.collect())
    assert s1 == sorted(r["id"] for r in got2.collect())
    assert len(s1) == 100
    heavy = sum(1 for i in s1 if i < 100)
    # heavy rows are 10% of the pool with 9x weight; uniform sampling
    # would pick ~10, proportional-to-weight ~50. Require a wide
    # margin that only weight-awareness can reach.
    assert heavy >= 30


def test_pseudonymize_referential_and_null_safe(spark):
    df = spark.createDataFrame(
        [(1, "alice"), (2, "alice"), (3, "bob"), (4, None)],
        "id int, name string",
    )
    out = {r["id"]: r["name"] for r in ops.pseudonymize(df, ["name"], "pep").collect()}
    assert out[1] == out[2] != out[3]          # same value -> same token
    assert out[4] is None                      # NULL stays NULL
    # full 32-hex digest by default: a 64-bit truncation collides at
    # ~2^32 distinct values (ADVICE r1)
    assert out[1] != "alice" and len(out[1]) == 32
    # a different pepper rotates every token
    out2 = {r["id"]: r["name"] for r in ops.pseudonymize(df, ["name"], "pep2").collect()}
    assert out2[1] != out[1]


def test_range_rank_matches_builtin_window(spark):
    """ops.range_rank (equi-width banded global ranking, no
    single-partition window) must agree exactly with the built-in
    unpartitioned row_number/ntile it replaces — asc, desc via
    negated key, heavy-tailed keys, N < ntile, and constant keys."""
    import random

    from pyspark.sql import Window

    from hadron_spark.operators.ops import range_rank

    random.seed(11)
    rows = [
        (i, random.randint(0, 50), random.random() ** 4)
        for i in range(601)
    ]
    df = spark.createDataFrame(
        rows, "id long, g long, v double"
    ).repartition(8)

    exp = df.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).alias("rn"),
        F.ntile(7).over(Window.orderBy("v", "id")).alias("t"),
    )
    got = range_rank(
        df,
        F.col("v"),
        [F.col("v"), F.col("id")],
        rank_col="rn",
        ntile=7,
        ntile_col="t",
        buckets=13,
    ).select("id", "rn", "t")
    assert (
        exp.alias("e")
        .join(got.alias("g"), "id")
        .filter(
            (F.col("e.rn") != F.col("g.rn"))
            | (F.col("e.t") != F.col("g.t"))
        )
        .count()
        == 0
    )

    exp2 = df.select(
        "id",
        F.row_number().over(Window.orderBy(F.desc("g"), "id")).alias("rn"),
    )
    got2 = range_rank(
        df,
        -F.col("g"),
        [F.desc("g"), F.col("id")],
        rank_col="rn",
        buckets=5,
    ).select("id", "rn")
    assert (
        exp2.alias("e")
        .join(got2.alias("g"), "id")
        .filter(F.col("e.rn") != F.col("g.rn"))
        .count()
        == 0
    )

    # N < ntile and the hi == lo degenerate band
    small = spark.createDataFrame([(i,) for i in range(3)], "id long")
    out = (
        range_rank(
            small,
            F.col("id"),
            [F.col("id")],
            ntile=8,
            ntile_col="t",
            buckets=4,
            total_col="tot",
        )
        .orderBy("id")
        .collect()
    )
    assert [(r.rn, r.t, r.tot) for r in out] == [
        (1, 1, 3),
        (2, 2, 3),
        (3, 3, 3),
    ]
    const = spark.createDataFrame([(i, 5) for i in range(20)], "id long, k long")
    ranks = [
        r.rn
        for r in range_rank(
            const, F.col("k"), [F.col("k"), F.col("id")], buckets=4
        )
        .orderBy("id")
        .collect()
    ]
    assert ranks == list(range(1, 21))


def test_range_rank_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir set, range_rank's pin is a reliable
    (executor-loss-resilient) checkpoint and must produce the
    identical ranking with the identical plan shape — exactly one
    exchange downstream of the materialized input."""
    from hadron_spark.operators.ops import range_rank
    from hadron_spark.plans.inspect import shuffle_count

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(500)], "id long, v long"
    ).repartition(8)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "reliable_ckpt"))
    try:
        got = range_rank(
            df,
            F.col("v"),
            [F.col("v"), F.col("id")],
            rank_col="rn",
            buckets=7,
        )
        # one exchange: the within-band sort/rank shuffle; the
        # reliable checkpoint read replaces the input lineage
        assert shuffle_count(got) == 1
        ranks = [r.rn for r in got.orderBy("v", "id").collect()]
        assert ranks == sorted(ranks) and len(ranks) == 500
        assert ranks[0] == 1 and ranks[-1] == 500
    finally:
        # the session-scoped SparkContext is shared by every test
        spark.sparkContext._jsc.setCheckpointDir(None)


def test_spine_running_inclusive_exclusive(spark):
    from hadron_spark.operators.ops import spine_running

    sp = spark.createDataFrame(
        [(1, 10), (2, 5), (3, 20), (4, 1)], "k int, x int"
    )
    inc = {
        r.k: r.c
        for r in spine_running(sp, "k", "x", "c", "sum", True).collect()
    }
    assert inc == {1: 10, 2: 15, 3: 35, 4: 36}
    exc = {
        r.k: r.m
        for r in spine_running(sp, "k", "x", "m", "max", False).collect()
    }
    assert exc == {1: None, 2: 10, 3: 10, 4: 20}


def test_pin_evaluates_once_and_preserves_rows(spark):
    """ops.pin: same rows out, lineage truncated (no parquet/agg
    subtree left in the plan), so N consuming branches cannot re-run
    the derivation."""
    from hadron_spark.operators.ops import pin

    df = spark.range(100).withColumnRenamed("id", "k")
    agg = df.groupBy((F.col("k") % 10).alias("g")).agg(F.sum("k").alias("s"))
    pinned = pin(agg)
    assert sorted(r["s"] for r in pinned.collect()) == sorted(
        r["s"] for r in agg.collect()
    )
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan  # derivation happened pre-pin
    # two branches over the pinned frame share the one materialization
    j = pinned.alias("a").join(pinned.alias("b"), "g")
    jp = j._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in jp


def test_pin_reliability_follows_checkpoint_dir(spark, tmp_path):
    """Every pin in the library — ops.pin itself and the per-round
    pins inside graph.connected_components — writes a reliable
    checkpoint under the SparkContext's checkpoint dir when one is
    set, and nothing there once it is unset (local checkpoints).  The
    frames stay referenced while their dirs are listed: the cleaner
    deletes a dropped pin's dir."""
    from hadron_spark.operators.graph import connected_components
    from hadron_spark.operators.ops import pin

    ckpt = tmp_path / "ckpt"
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")

    def written():
        return {p.name for p in ckpt.rglob("rdd-*")}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        pinned = pin(spark.range(10))
        assert rows(pinned) == [(i,) for i in range(10)]
        after_pin = written()
        assert after_pin
        comps = connected_components(edges)
        assert rows(comps) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
        after_cc = written()
        assert after_pin < after_cc
    finally:
        # the session-scoped SparkContext is shared by every test
        spark.sparkContext._jsc.setCheckpointDir(None)
    assert spark.sparkContext.getCheckpointDir() is None
    assert rows(pin(spark.range(10))) == rows(pinned)
    assert rows(connected_components(edges)) == rows(comps)
    assert written() <= after_cc


def test_dropped_reliable_pins_are_deleted(spark, tmp_path):
    """Reliable pins do not leak files: once a pinned frame is garbage
    on both sides of py4j, the ContextCleaner deletes its rdd-N dir,
    while a pin still referenced keeps its dir and reads back."""
    import gc
    import time

    from hadron_spark.operators.ops import pin

    ckpt = tmp_path / "ckpt"

    def written():
        return {p.name for p in ckpt.rglob("rdd-*")}

    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        kept = pin(spark.range(5))
        kept_dir = written()
        assert len(kept_dir) == 1
        dropped = [pin(spark.range(n)) for n in (10, 20, 30)]
        assert len(written()) == 4
        del dropped
        deadline = time.monotonic() + 30
        while written() != kept_dir and time.monotonic() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)
        assert written() == kept_dir
        assert sorted(r.id for r in kept.collect()) == list(range(5))
    finally:
        spark.sparkContext._jsc.setCheckpointDir(None)


def test_grouping_sets_from_cells_matches_native(spark):
    """Cells-form rollup/cube == native .rollup()/.cube() row-for-row,
    including the tricky case where a dim VALUE is NULL (groups with
    the subtotal rows' NULL markers exactly like SQL does)."""
    from hadron_spark.operators.ops import grouping_sets_from_cells

    df = spark.createDataFrame(
        [("A", "x", 1), ("A", "y", 2), ("B", "x", 4), (None, "y", 8),
         ("A", "x", 16), (None, None, 32)],
        "d1 string, d2 string, v int",
    )
    partials = [F.sum("v").alias("_s"), F.count(F.lit(1)).alias("_n")]
    merges = [F.sum("_s").alias("_s"), F.sum("_n").alias("_n")]
    finals = {"s": F.col("_s"), "n": F.col("_n")}

    def key(rows):
        return sorted(
            [(r["d1"], r["d2"], r["s"], r["n"]) for r in rows],
            key=lambda t: tuple(str(x) for x in t),
        )

    for mode, native in (
        ("rollup", df.rollup("d1", "d2")),
        ("cube", df.cube("d1", "d2")),
    ):
        want = key(
            native.agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
        )
        got = key(
            grouping_sets_from_cells(
                df, ["d1", "d2"], partials, merges, finals, mode=mode
            ).collect()
        )
        assert got == want, f"{mode}: {got} != {want}"


def test_ordered_export_total_order_and_manifest(spark, tmp_path):
    """Band dirs read in order give a globally sorted corpus; the
    footer manifest agrees with direct counts/min/max; band
    assignment is reproducible across repartitionings."""
    import pandas as pd

    from hadron_spark.operators.ops import ordered_export

    pdf = pd.DataFrame({"doc_id": range(200), "k": [(i * 37) % 100 for i in range(200)]})
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "export")
    man = ordered_export(df, F.col("k"), out, bands=4).collect()
    got = {r["band"]: r for r in man}
    assert set(got) == {0, 1, 2, 3}
    assert sum(r["n_rows"] for r in man) == 200
    # manifest ranges tile [0, 99] without overlap, in band order
    ordered = [got[b] for b in sorted(got)]
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_key"] < b["min_key"]
    assert ordered[0]["min_key"] == 0 and ordered[-1]["max_key"] == 99
    # reading bands in order yields a total order
    keys = []
    for b in sorted(got):
        part = spark.read.parquet(f"{out}/_band={b}")
        keys += [r["_sort_key"] for r in part.collect()]
        # within-band files are internally sorted
        assert keys[-got[b]["n_rows"]:] == sorted(keys[-got[b]["n_rows"]:])
    assert keys == sorted(keys)
    # reproducible banding on a different layout
    out2 = str(tmp_path / "export2")
    man2 = ordered_export(
        df.repartition(13, "doc_id"), F.col("k"), out2, bands=4
    ).collect()
    assert {(r["band"], r["n_rows"]) for r in man2} == {
        (r["band"], r["n_rows"]) for r in man
    }


def test_exact_percentiles_matches_numpy(spark):
    import numpy as np

    vals = [((i * 73) % 997) * 1.25 for i in range(500)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x double"
    )
    ps = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = {
        r.p: r.value
        for r in ops.exact_percentiles(
            df, F.col("x"), [F.col("k")], ps, buckets=8
        ).collect()
    }
    want = np.quantile(np.array(vals), ps, method="linear")
    for p, w in zip(ps, want):
        assert abs(got[p] - float(w)) < 1e-9, (p, got[p], w)


def test_exact_percentiles_by_matches_numpy(spark):
    import numpy as np

    rows = []
    for g in ["a", "b", "c"]:
        for i in range(120 + 7 * ord(g[0]) % 13):
            rows.append((g, i, ((i * 31 + ord(g[0])) % 211) * 0.5))
    df = spark.createDataFrame(rows, "g string, k long, x double")
    ps = [0.25, 0.5, 0.9]
    got = {
        (r.g, r.p): r.value
        for r in ops.exact_percentiles_by(
            df, ["g"], F.col("x"), [F.col("k")], ps
        ).collect()
    }
    import collections

    by_g = collections.defaultdict(list)
    for g, _, x in rows:
        by_g[g].append(x)
    for g, vals in by_g.items():
        want = np.quantile(np.array(vals), ps, method="linear")
        for p, w in zip(ps, want):
            assert abs(got[(g, p)] - float(w)) < 1e-9, (g, p)


def test_weighted_percentile_matches_reference(spark):
    rows = [(i, ((i * 13) % 50) * 1.0, (i % 7) + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, x double, w long")
    got = {
        r.p: r.value
        for r in ops.weighted_percentile(
            df, F.col("x"), F.col("w"), [F.col("k")],
            [(1, 2), (9, 10)], buckets=8,
        ).collect()
    }
    # sequential reference: smallest x whose cumulative weight (in
    # (x, k) order) reaches num/den of the total
    srt = sorted((x, k, w) for k, x, w in rows)
    total = sum(w for _, _, w in srt)
    for num, den, p in [(1, 2, 0.5), (9, 10, 0.9)]:
        cum = 0
        want = None
        for x, _, w in srt:
            cum += w
            if cum * den >= num * total:
                want = x
                break
        assert got[p] == want, (p, got[p], want)


def test_cms_sketch_family(spark):
    from hadron_spark.operators.ops import (
        cms_build,
        cms_estimate,
        cms_heavy_hitters,
        cms_merge,
    )

    rows = (
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [("d",)] * 1
    )
    df = spark.createDataFrame(rows, ["k"])

    # wide sketch: no collisions expected -> estimates are exact
    wide = cms_build(df, "k", depth=4, width=4096)
    cand = df.select("k").distinct().withColumnRenamed("k", "item")
    est = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(wide, cand, "item", depth=4, width=4096).collect()
    }
    assert est == {"a": 50, "b": 30, "c": 5, "d": 1}

    # never-sketched key estimates 0 (empty buckets, not NULL)
    ghost = spark.createDataFrame([("zz",)], ["item"])
    assert (
        cms_estimate(wide, ghost, "item", depth=4, width=4096)
        .collect()[0]["cms_est"]
        == 0
    )

    # reserved sketch-schema names in items raise up front (ADVICE r4)
    import pytest

    clash = spark.createDataFrame([("a", 1)], ["item", "bucket"])
    with pytest.raises(ValueError, match="bucket"):
        cms_estimate(wide, clash, "item", depth=4, width=4096)

    # narrow sketch: one-sided error only (est >= true, never under)
    narrow = cms_build(df, "k", depth=2, width=2)
    est_n = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(narrow, cand, "item", depth=2, width=2).collect()
    }
    for k, true in [("a", 50), ("b", 30), ("c", 5), ("d", 1)]:
        assert est_n[k] >= true

    # linearity: sketch(half1) ++ sketch(half2) == sketch(whole)
    h1 = spark.createDataFrame(rows[:40], ["k"])
    h2 = spark.createDataFrame(rows[40:], ["k"])
    merged = cms_merge(
        cms_build(h1, "k", depth=4, width=64),
        cms_build(h2, "k", depth=4, width=64),
    )
    whole = cms_build(df, "k", depth=4, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    # heavy hitters: no true heavy key can be missed
    hh = {r["item"] for r in cms_heavy_hitters(df, "k", 30, 4, 4096).collect()}
    assert {"a", "b"} <= hh and "d" not in hh


def test_mad_outliers_exact_and_degenerate(spark):
    """Flags match a numpy reference; MAD==0 group flags strict
    off-median rows only; rational cutoff is exact."""
    import numpy as np
    import pytest

    from hadron_spark.operators.robust import mad_outliers

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 2, 3, 100])]
    rows += [("b", i, 5.0) for i in range(4)] + [("b", 99, 7.5)]
    df = spark.createDataFrame(rows, "g string, rid long, v double")
    out = mad_outliers(df, "v", ["g"], keep_cols=["rid"], cutoff_num=3)
    got = {(r["g"], r["rid"]): (r["med"], r["mad"]) for r in out.collect()}
    ya = np.array([100, 200, 200, 300, 10000])
    med = np.median(ya)
    mad = np.median(np.abs(ya - med))
    assert set(k for k in got if k[0] == "a") == {("a", 4)}
    assert got[("a", 4)] == (med, mad)
    # group b: mad == 0, only the strictly-off-median row flags
    assert set(k for k in got if k[0] == "b") == {("b", 99)}
    assert got[("b", 99)] == (500.0, 0.0)
    with pytest.raises(ValueError):
        mad_outliers(df, "v", ["g"], cutoff_den=0)


def test_pass_rate_ci_wilson(spark):
    """Wilson bounds match a python replay of the same chain; edge
    rates 0 and 1 stay inside [0, 1]."""
    import math

    from hadron_spark.operators.robust import pass_rate_ci

    rows = [("a", 1)] * 7 + [("a", 0)] * 3 + [("b", 1)] * 4 + [("c", 0)] * 5
    df = spark.createDataFrame(rows, "g string, f int")
    got = {r["g"]: r for r in pass_rate_ci(df, ["g"], "f").collect()}

    def ref(n, k, z=1.96):
        phat = k / n
        z2 = z * z
        denom = 1.0 + z2 / n
        center = phat + z2 / (2.0 * n)
        half = z * math.sqrt(phat * (1.0 - phat) / n + z2 / (4.0 * n * n))
        return (center - half) / denom, (center + half) / denom

    for g, (n, k) in {"a": (10, 7), "b": (4, 4), "c": (5, 0)}.items():
        lo, hi = ref(n, k)
        lo, hi = max(0.0, lo), min(1.0, hi)
        assert (got[g]["n"], got[g]["k"]) == (n, k)
        assert got[g]["ci_lo"] == lo and got[g]["ci_hi"] == hi, g
    assert got["b"]["rate"] == 1.0 and got["b"]["ci_hi"] <= 1.0
    assert got["c"]["rate"] == 0.0 and got["c"]["ci_lo"] >= 0.0


def test_multi_step_funnel_ordering_and_gap(spark):
    """Earliest-arrival ordering enforced (later-step event BEFORE
    the prior step doesn't count); gap bound drops slow converts;
    exact conversion ratios."""
    import datetime as dt

    import pytest

    from hadron_spark.operators.ops import multi_step_funnel

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 full ordered funnel
        (1, "view", T(0)), (1, "click", T(5)), (1, "purchase", T(10)),
        # u2 clicks BEFORE viewing -> stops at view
        (2, "click", T(0)), (2, "view", T(1)),
        # u3 view->click, purchase too late for gap=600s
        (3, "view", T(0)), (3, "click", T(2)), (3, "purchase", T(30)),
        # u4 never views
        (4, "click", T(0)), (4, "purchase", T(1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r["step_index"]: r
        for r in multi_step_funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert [got[i]["n_users"] for i in range(3)] == [3, 2, 2]
    assert got[2]["conv_from_first"] == 2 / 3 and got[2]["conv_from_prev"] == 1.0
    gapped = {
        r["step_index"]: r["n_users"]
        for r in multi_step_funnel(
            df, ["view", "click", "purchase"], max_gap_seconds=600
        ).collect()
    }
    assert gapped == {0: 3, 1: 2, 2: 1}
    with pytest.raises(ValueError):
        multi_step_funnel(df, ["view"])
    with pytest.raises(ValueError):
        multi_step_funnel(df, ["view", "view"])


def test_winsorized_mean_exact(spark):
    """Clip bounds are actual elements; outlier influence capped;
    python replay matches exactly."""
    import pytest

    from hadron_spark.operators.robust import winsorized_mean

    vals = [1.0] * 2 + [float(v) for v in range(10, 20)] + [1000.0]
    rows = [("g", v) for v in vals]
    df = spark.createDataFrame(rows, "k string, v double")
    r = winsorized_mean(df, "v", ["k"], p_lo=0.1, p_hi=0.9).collect()[0]
    ys = sorted(int(v * 100) for v in vals)
    n = len(ys)
    import math

    lo = ys[math.ceil(0.1 * n) - 1] if 0.1 * n == int(0.1 * n) else ys[int(0.1 * n)]
    # percentile_disc(p): smallest element with cume_dist >= p
    def disc(p):
        for i, y in enumerate(ys):
            if (i + 1) / n >= p:
                return y
    lo, hi = disc(0.1), disc(0.9)
    clip = [min(hi, max(lo, y)) for y in ys]
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (
        sum(1 for y in ys if y < lo),
        sum(1 for y in ys if y > hi),
    )
    assert r["wmean"] == sum(clip) / (n * 100)
    assert r["wmean"] < 100  # the 1000.0 outlier is capped
    with pytest.raises(ValueError):
        winsorized_mean(df, "v", ["k"], p_lo=0.9, p_hi=0.1)


def test_ks_two_sample_python_parity(spark):
    """Integer-exact D numerator, argmax location (smallest value on
    ties), and the single-division D vs a brute-force reference;
    identical samples give D = 0."""
    from hadron_spark.operators.robust import ks_two_sample

    a = [1, 1, 2, 3, 5, 5, 5, 8, 9]
    b = [1, 2, 2, 2, 3, 7, 9, 9]
    new = spark.createDataFrame([(x,) for x in a], "v long")
    old = spark.createDataFrame([(x,) for x in b], "v long")
    row = ks_two_sample(new, old, "v").collect()[0]
    n1, n2 = len(a), len(b)
    best_num, best_v = 0, None
    for v in sorted(set(a) | set(b)):
        num = abs(
            sum(1 for x in a if x <= v) * n2 - sum(1 for x in b if x <= v) * n1
        )
        if num > best_num:
            best_num, best_v = num, v
    assert (row["n_new"], row["n_old"]) == (n1, n2)
    assert row["d_num"] == best_num and row["at_value"] == best_v
    assert row["d"] == best_num / (n1 * n2)
    same = ks_two_sample(new, new, "v").collect()[0]
    assert same["d_num"] == 0


def test_mann_whitney_python_parity(spark):
    """Doubled-rank U and tie-corrected z vs a pure-python
    reference (average ranks, Σ(t³−t) correction); U_new + U_old
    = n1·n2."""
    import math
    from collections import Counter

    import pytest

    from hadron_spark.operators.robust import mann_whitney_u

    a = [3, 5, 5, 7, 9, 9, 9, 12]
    b = [1, 2, 5, 5, 6, 9, 10]
    new = spark.createDataFrame([(x,) for x in a], "v long")
    old = spark.createDataFrame([(x,) for x in b], "v long")
    row = mann_whitney_u(new, old, "v").collect()[0]
    n1, n2 = len(a), len(b)
    n = n1 + n2
    cnt = Counter(a + b)
    ranks, c = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        ranks[v] = c + (t + 1) / 2
        c += t
    r1 = sum(ranks[x] for x in a)
    u1 = r1 - n1 * (n1 + 1) / 2
    tie = sum(t**3 - t for t in cnt.values())
    var = n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    assert row["r1_x2"] == int(2 * r1) and row["u_x2"] == int(2 * u1)
    assert row["tie_term"] == tie and row["u"] == u1
    assert row["z"] == pytest.approx(z, rel=1e-12)
    flipped = mann_whitney_u(old, new, "v").collect()[0]
    assert row["u"] + flipped["u"] == n1 * n2


def test_spearman_rho_ties_and_closed_form(spark):
    """Tie-free case matches 1 − 6Σd²/(n(n²−1)); tied case matches
    Pearson-over-average-ranks computed in python; a constant axis
    gives NULL; perfect monotone gives exactly 1.0."""
    import pytest

    from hadron_spark.operators.robust import spearman_rho

    xs = [1, 2, 3, 4, 5, 6]
    ys = [10, 30, 20, 60, 40, 50]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    row = spearman_rho(df, "x", "y", ["g"]).collect()[0]
    n = len(xs)
    rx = {v: i + 1 for i, v in enumerate(sorted(xs))}
    ry = {v: i + 1 for i, v in enumerate(sorted(ys))}
    d2 = sum((rx[x] - ry[y]) ** 2 for x, y in zip(xs, ys))
    assert row["rho"] == pytest.approx(1 - 6 * d2 / (n * (n * n - 1)), rel=1e-14)

    xt = [1, 1, 2, 2, 3, 9]
    yt = [5, 5, 5, 7, 8, 8]
    dft = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xt, yt)], "g string, x long, y long"
    )

    def avg_ranks(vals):
        from collections import Counter

        cnt, out, c = Counter(vals), {}, 0
        for v in sorted(cnt):
            t = cnt[v]
            out[v] = c + (t + 1) / 2
            c += t
        return out

    rxa, rya = avg_ranks(xt), avg_ranks(yt)
    px = [rxa[x] for x in xt]
    py = [rya[y] for y in yt]
    nn = len(xt)
    sx, sy = sum(px), sum(py)
    sxx = sum(v * v for v in px)
    syy = sum(v * v for v in py)
    sxy = sum(u * v for u, v in zip(px, py))
    import math

    ref = (nn * sxy - sx * sy) / (
        math.sqrt(nn * sxx - sx * sx) * math.sqrt(nn * syy - sy * sy)
    )
    rowt = spearman_rho(dft, "x", "y", ["g"]).collect()[0]
    assert rowt["rho"] == pytest.approx(ref, rel=1e-14)

    const = spark.createDataFrame(
        [("g", 1, y) for y in ys], "g string, x long, y long"
    )
    assert spearman_rho(const, "x", "y", ["g"]).collect()[0]["rho"] is None
    mono = spark.createDataFrame(
        [("g", x, x * 7 - 3) for x in xs], "g string, x long, y long"
    )
    # sqrt(v)*sqrt(v) can round one ulp off v, so 1.0 only to 1 ulp
    assert spearman_rho(mono, "x", "y", ["g"]).collect()[0][
        "rho"
    ] == pytest.approx(1.0, abs=1e-15)


def test_kendall_tau_b_python_parity(spark):
    """Exact concordant/discordant/tie counts vs an O(n²) python
    reference on tied data; perfect monotone ~ 1; reversed ~ -1;
    all-tied axis gives NULL."""
    import math

    import pytest

    from hadron_spark.operators.robust import kendall_tau_b

    xs = [1, 1, 2, 2, 3, 3, 4, 9]
    ys = [2, 5, 2, 7, 7, 1, 9, 9]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    row = kendall_tau_b(df, "x", "y", ["g"]).collect()[0]
    n = len(xs)
    P = Q = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            dy = (ys[j] > ys[i]) - (ys[j] < ys[i])
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                P += 1
            elif dx * dy < 0:
                Q += 1
    n0 = n * (n - 1) // 2
    ref = (P - Q) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
    assert (row["concordant"], row["discordant"]) == (P, Q)
    assert (row["tie_x"], row["tie_y"]) == (tx, ty)
    assert row["n"] == n
    assert row["tau_b"] == pytest.approx(ref, rel=1e-14)

    mono = spark.createDataFrame(
        [("g", x, x + 5) for x in range(9)], "g string, x long, y long"
    )
    assert kendall_tau_b(mono, "x", "y", ["g"]).collect()[0][
        "tau_b"
    ] == pytest.approx(1.0, abs=1e-15)
    rev = spark.createDataFrame(
        [("g", x, -x) for x in range(9)], "g string, x long, y long"
    )
    assert kendall_tau_b(rev, "x", "y", ["g"]).collect()[0][
        "tau_b"
    ] == pytest.approx(-1.0, abs=1e-15)
    flat = spark.createDataFrame(
        [("g", 1, y) for y in range(5)], "g string, x long, y long"
    )
    frow = kendall_tau_b(flat, "x", "y", ["g"]).collect()[0]
    assert frow["tau_b"] is None and frow["concordant"] == 0


def test_cohort_retention_matrix(spark):
    """Handcrafted 3-user activity: cohort sizes, ages, retention
    ratios; age-0 retention is 1.0; week/day periods and the
    validation error."""
    import pytest

    from hadron_spark.operators.ops import cohort_retention

    rows = [
        ("u1", "2024-01-05"), ("u1", "2024-02-11"), ("u1", "2024-04-01"),
        ("u2", "2024-01-20"), ("u2", "2024-01-25"),
        ("u3", "2024-02-03"), ("u3", "2024-04-09"),
    ]
    df = spark.createDataFrame(rows, "u string, d string").select(
        "u", F.to_timestamp("d").alias("ts")
    )
    got = {
        (str(r["cohort"]), str(r["period"])): (
            r["age"], r["n_active"], r["cohort_size"], r["retention"]
        )
        for r in cohort_retention(df, "u", "ts", "month").collect()
    }
    assert got[("2024-01-01", "2024-01-01")] == (0, 2, 2, 1.0)
    assert got[("2024-01-01", "2024-02-01")] == (1, 1, 2, 0.5)
    assert got[("2024-01-01", "2024-04-01")] == (3, 1, 2, 0.5)
    assert got[("2024-02-01", "2024-02-01")] == (0, 1, 1, 1.0)
    assert got[("2024-02-01", "2024-04-01")] == (2, 1, 1, 1.0)
    assert len(got) == 5

    wk = cohort_retention(df, "u", "ts", "week").collect()
    assert all(r["age"] >= 0 for r in wk)
    assert {r["age"] for r in wk if str(r["cohort"]) == "2024-01-01"} >= {0}
    with pytest.raises(ValueError):
        cohort_retention(df, "u", "ts", "year")


def test_two_proportion_and_transition_matrix(spark):
    """two_proportion_test vs hand math incl. the zero-variance
    guard; transition_matrix counts and probabilities on a
    handcrafted sequence with a timestamp tie resolved by the
    secondary order column."""
    import math

    import pytest

    from hadron_spark.operators.ops import transition_matrix
    from hadron_spark.operators.robust import two_proportion_test

    new = spark.createDataFrame([(True,)] * 30 + [(False,)] * 70, "f boolean")
    old = spark.createDataFrame([(True,)] * 20 + [(False,)] * 80, "f boolean")
    r = two_proportion_test(new, old, "f").collect()[0]
    p1, p2 = 0.3, 0.2
    pool = 50 / 200
    var = pool * (1 - pool) * (1 / 100 + 1 / 100)
    assert (r["n_new"], r["k_new"], r["n_old"], r["k_old"]) == (100, 30, 100, 20)
    assert r["diff"] == pytest.approx(p1 - p2, rel=1e-15)
    assert r["z"] == pytest.approx((p1 - p2) / math.sqrt(var), rel=1e-12)
    allpos = spark.createDataFrame([(True,)] * 5, "f boolean")
    degen = two_proportion_test(allpos, allpos, "f").collect()[0]
    assert degen["z"] is None

    rows = [
        ("u1", 1, 1, "a"), ("u1", 2, 2, "b"), ("u1", 2, 3, "a"),
        ("u1", 3, 4, "b"),
        ("u2", 1, 5, "a"), ("u2", 2, 6, "a"),
    ]
    df = spark.createDataFrame(rows, "u string, t long, i long, s string")
    got = {
        (r["from_state"], r["to_state"]): (r["n"], r["row_total"], r["prob"])
        for r in transition_matrix(df, "u", "s", ["t", "i"]).collect()
    }
    # u1: a->b, b->a (tie at t=2 ordered by i), a->b ; u2: a->a
    assert got[("a", "b")] == (2, 3, 2 / 3)
    assert got[("a", "a")] == (1, 3, 1 / 3)
    assert got[("b", "a")] == (1, 1, 1.0)
    assert len(got) == 3


def test_theil_sen_python_parity(spark):
    """Lower weighted median of pairwise slopes vs a python
    reference on tied/weighted cells; a clean line recovers the
    exact slope; outlier resistance (one wild point doesn't move
    the median slope); constant-x group absent."""
    import pytest

    from hadron_spark.operators.robust import theil_sen_slope

    xs = [1, 1, 2, 3, 3, 4, 9]
    ys = [2, 3, 4, 6, 6, 8, 5]  # ~2x line with a wild point at x=9
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    row = theil_sen_slope(df, "x", "y", ["g"]).collect()[0]
    pairs = []
    for i in range(len(xs)):
        for j in range(len(xs)):
            if xs[i] < xs[j]:
                pairs.append((ys[j] - ys[i], xs[j] - xs[i]))
    pairs.sort(key=lambda p: (p[0] / p[1], p[0], p[1]))
    W = len(pairs)
    cum = 0
    for dy, dx in pairs:
        cum += 1
        if 2 * cum >= W:
            want = (dy, dx)
            break
    assert row["n_pairs"] == W
    assert (row["slope_dy"], row["slope_dx"]) == want
    assert row["slope"] == want[0] / want[1]

    line = spark.createDataFrame(
        [("g", x, 3 * x - 7) for x in range(10)], "g string, x long, y long"
    )
    lr = theil_sen_slope(line, "x", "y", ["g"]).collect()[0]
    assert lr["slope"] == 3.0

    const = spark.createDataFrame(
        [("g", 5, y) for y in range(4)], "g string, x long, y long"
    )
    assert theil_sen_slope(const, "x", "y", ["g"]).collect() == []


def test_cochran_armitage_reference(spark):
    """z vs a python reference on a dose-response table with a real
    trend; zero-trend symmetric table gives z ~ 0; one-dose and
    one-class degenerates give NULL."""
    import math

    import pytest

    from hadron_spark.operators.robust import cochran_armitage

    # dose 0..3, positives rising with dose
    table = {0: (50, 5), 1: (40, 8), 2: (30, 12), 3: (20, 15)}
    rows = []
    for x, (n, r) in table.items():
        rows += [(x, 1)] * r + [(x, 0)] * (n - r)
    df = spark.createDataFrame(rows, "x long, f long")
    got = cochran_armitage(df, "x", "f").collect()[0]
    N = sum(n for n, _ in table.values())
    R = sum(r for _, r in table.values())
    sxn = sum(x * n for x, (n, _) in table.items())
    sxr = sum(x * r for x, (_, r) in table.items())
    sxxn = sum(x * x * n for x, (n, _) in table.items())
    p = R / N
    z = (sxr - p * sxn) / math.sqrt(p * (1 - p) * (sxxn - sxn * sxn / N))
    assert (got["n"], got["pos"], got["n_doses"]) == (N, R, 4)
    assert (got["sxn"], got["sxr"], got["sxxn"]) == (sxn, sxr, sxxn)
    assert got["z"] == pytest.approx(z, rel=1e-12) and got["z"] > 4

    flat = spark.createDataFrame(
        [(x, y) for x in range(4) for y in (0, 1) for _ in range(10)],
        "x long, f long",
    )
    assert abs(cochran_armitage(flat, "x", "f").collect()[0]["z"]) < 1e-12
    one_dose = spark.createDataFrame([(2, 0), (2, 1)], "x long, f long")
    assert cochran_armitage(one_dose, "x", "f").collect()[0]["z"] is None
    one_class = spark.createDataFrame([(0, 1), (1, 1)], "x long, f long")
    assert cochran_armitage(one_class, "x", "f").collect()[0]["z"] is None


def _hilbert_ref(bits: int, x: int, y: int) -> int:
    """Reference xy2d (the classic reflect+swap walk)."""
    n = 1 << bits
    x &= n - 1
    y &= n - 1
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_value_bijection_adjacency_parity(spark):
    """bits=3 full grid: the 64 distances are a permutation of
    0..63 (space-filling bijection), consecutive distances are
    GRID-ADJACENT (the locality Z-order lacks at quadrant seams),
    the Spark fold matches the python reference on every cell AND
    on out-of-range inputs (masked), and validation rejects silly
    bits."""
    import pytest

    from hadron_spark.sources.layout import hilbert_sql, hilbert_value

    bits = 3
    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.withColumn("d", hilbert_value("x", "y", bits)).collect()
    }
    assert got == {(x, y): _hilbert_ref(bits, x, y) for x, y in pts}
    assert sorted(got.values()) == list(range(64))
    bypos = {d: xy for xy, d in got.items()}
    for d in range(63):
        (x1, y1), (x2, y2) = bypos[d], bypos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"jump at d={d}"
    # masking contract: high bits ignored, same as the reference
    wide = spark.createDataFrame(
        [(1007, 4021), (-1 & 0xFFFF, 12345)], "x long, y long"
    )
    wgot = [
        r["d"]
        for r in wide.withColumn("d", hilbert_value("x", "y", 5)).collect()
    ]
    assert wgot == [_hilbert_ref(5, 1007, 4021), _hilbert_ref(5, 0xFFFF, 12345)]
    with pytest.raises(ValueError):
        hilbert_sql("x", "y", 0)
    with pytest.raises(ValueError):
        hilbert_sql("x", "y", 32)


def test_anova_oneway_reference(spark):
    """F statistic vs a pure-python computation (same sorted-fold
    order), scipy-textbook fixture sanity, NULL filtering, and the
    degenerate guards (one group / all-equal values)."""
    rows = (
        [("a", v) for v in [3, 1, 2, 5, 4, 3]]
        + [("b", v) for v in [8, 7, 9, 6, 8]]
        + [("c", v) for v in [2, 3, 1, 2]]
        + [(None, 99), ("a", None)]
    )
    df = spark.createDataFrame(rows, "g string, y long")
    from hadron_spark.operators.robust import anova_oneway

    got = anova_oneway(df, "y", "g").collect()[0]
    # python reference (group-key-sorted fold, identical op order)
    data = {"a": [3, 1, 2, 5, 4, 3], "b": [8, 7, 9, 6, 8], "c": [2, 3, 1, 2]}
    N = sum(len(v) for v in data.values())
    S = sum(sum(v) for v in data.values())
    Q = sum(x * x for v in data.values() for x in v)
    A = 0.0
    for gk in sorted(data):
        s, n = sum(data[gk]), len(data[gk])
        A += float(s * s) / float(n)
    ssb = A - float(S) * S / N
    sst = float(Q) - float(S) * S / N
    ssw = sst - ssb
    fref = (ssb / 2.0) / (ssw / float(N - 3))
    assert got["k"] == 3 and got["n"] == N
    assert got["ss_between"] == ssb and got["ss_within"] == ssw
    assert got["f"] == fref
    # sanity: strongly separated groups -> large F
    assert got["f"] > 10
    # degenerate guards
    from pyspark.sql import functions as F

    one = anova_oneway(
        spark.createDataFrame([("a", 1), ("a", 2)], "g string, y long"), "y", "g"
    ).collect()[0]
    assert one["f"] is None
    flat = anova_oneway(
        spark.createDataFrame(
            [("a", 5), ("a", 5), ("b", 5)], "g string, y long"
        ),
        "y",
        "g",
    ).collect()[0]
    assert flat["f"] is None and flat["ss_within"] == 0.0


def test_kruskal_wallis_reference(spark):
    """H and tie-corrected H vs a pure-python average-rank
    computation (the scipy.stats.kruskal formula), fixed fold order;
    degenerate guards (one group, all-tied values, single row)."""
    from hadron_spark.operators.robust import kruskal_wallis

    data = {"a": [1, 3, 5, 7, 7], "b": [2, 4, 6, 7], "c": [1, 8, 9]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = kruskal_wallis(df, "y", "g").collect()[0]

    allv = sorted(v for vs in data.values() for v in vs)
    N = len(allv)
    # average rank per value (1-based, ties averaged)
    import collections

    cnt = collections.Counter(allv)
    rank = {}
    cum = 0
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = cum + (t + 1) / 2.0
        cum += t
    # python mirror of the sorted double-rank fold
    A = 0.0
    for gk in sorted(data):
        r2 = sum(int(2 * rank[v]) for v in data[gk])
        A += float(r2) * float(r2) / float(len(data[gk]))
    H = 3.0 * A / float(N * (N + 1)) - 3.0 * (N + 1)
    tsum = sum(t**3 - t for t in cnt.values())
    C = 1.0 - tsum / float(N**3 - N)
    assert got["k"] == 3 and got["n"] == N
    assert got["h"] == H
    assert got["tie_correction"] == C
    assert got["h_corrected"] == H / C
    # scipy cross-check of the algebra (classic H from average ranks)
    Hc_classic = (
        12.0 / (N * (N + 1))
        * sum(
            sum(rank[v] for v in vs) ** 2 / len(vs) for vs in data.values()
        )
        - 3.0 * (N + 1)
    ) / C
    assert abs(got["h_corrected"] - Hc_classic) < 1e-9

    one = kruskal_wallis(
        spark.createDataFrame([("a", 1), ("a", 2)], "g string, y long"), "y", "g"
    ).collect()[0]
    assert one["h_corrected"] is None
    tied = kruskal_wallis(
        spark.createDataFrame([("a", 5), ("b", 5)], "g string, y long"), "y", "g"
    ).collect()[0]
    assert tied["h_corrected"] is None and tied["tie_correction"] == 0.0
    single = kruskal_wallis(
        spark.createDataFrame([("a", 5)], "g string, y long"), "y", "g"
    ).collect()[0]
    assert single["h_corrected"] is None and single["tie_correction"] is None


def test_brown_forsythe_reference(spark):
    """BF == one-way ANOVA on |y − median_g| (python mirror with the
    same x2 integer lift and sorted fold); equal-spread groups score
    lower than a variance-exploded group fixture."""
    from hadron_spark.operators.robust import brown_forsythe

    data = {"a": [1, 2, 3, 4, 5], "b": [3, 4, 5, 6, 7], "c": [-20, 0, 30, 60]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = brown_forsythe(df, "y", "g").collect()[0]

    import statistics

    z = {
        g: [abs(2 * v - int(2 * statistics.median(vs))) for v in vs]
        for g, vs in data.items()
    }
    N = sum(len(v) for v in z.values())
    S = sum(sum(v) for v in z.values())
    Q = sum(x * x for v in z.values() for x in v)
    A = 0.0
    for gk in sorted(z):
        s, n = sum(z[gk]), len(z[gk])
        A += float(s * s) / float(n)
    ssb = A - float(S) * S / N
    ssw = (float(Q) - float(S) * S / N) - ssb
    fref = (ssb / 2.0) / (ssw / float(N - 3))
    assert got["f"] == fref and got["f"] > 3  # c's spread dominates
    # homogeneous fixture scores near zero
    h = brown_forsythe(
        spark.createDataFrame(
            [("a", v) for v in [1, 2, 3]] + [("b", v) for v in [11, 12, 13]],
            "g string, y long",
        ),
        "y",
        "g",
    ).collect()[0]
    assert h["f"] is not None and h["f"] < 1e-9


def test_friedman_reference(spark):
    """Friedman chi2 + Kendall's W vs a pure-python mirror (doubled
    within-block average ranks, tie-corrected denominator), the
    classic no-tie formula cross-check, incomplete-block dropping,
    and the all-tied NULL guard."""
    from hadron_spark.operators.robust import friedman

    # 5 blocks x 3 treatments, with ties inside blocks 4 and 5
    scores = {
        1: {"A": 10, "B": 20, "C": 30},
        2: {"A": 15, "B": 25, "C": 20},
        3: {"A": 12, "B": 28, "C": 31},
        4: {"A": 7, "B": 7, "C": 9},
        5: {"A": 5, "B": 6, "C": 6},
    }
    rows = [(b, t, v) for b, d in scores.items() for t, v in d.items()]
    rows.append((6, "A", 1))  # incomplete block -> dropped
    df = spark.createDataFrame(rows, "b long, t string, y long")
    got = friedman(df, "b", "t", "y").collect()[0]

    # python mirror in doubled ranks
    k, n = 3, 5
    r2 = {t: 0 for t in "ABC"}
    a2 = 0
    for d in scores.values():
        vals = sorted(d.values())
        for t, v in d.items():
            lt = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            rho = 2 * lt + eq + 1
            r2[t] += rho
            a2 += rho * rho
    num = sum((r2[t] - n * (k + 1)) ** 2 for t in r2)
    den = a2 - n * k * (k + 1) ** 2
    chi2 = (k - 1) * float(num) / float(den)
    assert got["k"] == 3 and got["n"] == 5 and got["n_blocks_dropped"] == 1
    assert got["chi2"] == chi2
    assert got["kendall_w"] == chi2 / float(n * (k - 1))

    # no ties: classic 12/(nk(k+1)) SUM R_j^2 - 3n(k+1) must agree
    nt = {b: d for b, d in scores.items() if b <= 3}
    rows2 = [(b, t, v) for b, d in nt.items() for t, v in d.items()]
    g2 = friedman(
        spark.createDataFrame(rows2, "b long, t string, y long"), "b", "t", "y"
    ).collect()[0]
    rj = {t: 0 for t in "ABC"}
    for d in nt.values():
        order = sorted(d, key=lambda t: d[t])
        for r, t in enumerate(order, 1):
            rj[t] += r
    classic = 12.0 / (3 * 3 * 4) * sum(v * v for v in rj.values()) - 3 * 3 * 4
    assert abs(g2["chi2"] - classic) < 1e-9

    # all-tied design: zero denominator -> NULL
    flat = friedman(
        spark.createDataFrame(
            [(b, t, 5) for b in (1, 2) for t in "AB"], "b long, t string, y long"
        ),
        "b", "t", "y",
    ).collect()[0]
    assert flat["chi2"] is None and flat["kendall_w"] is None

def test_page_trend_reference(spark):
    """Page's L + z vs a pure-python mirror (doubled within-block
    ranks, the 6x-scaled all-integer z form), the classic no-tie
    formula cross-check, order reversal antisymmetry, subset
    analysis, incomplete-block dropping, and validation."""
    import math

    from hadron_spark.operators.robust import page_trend

    # 5 blocks x 4 treatments with a real upward trend + ties
    scores = {
        1: {"t1": 10, "t2": 20, "t3": 30, "t4": 40},
        2: {"t1": 12, "t2": 12, "t3": 25, "t4": 30},   # tie in t1/t2
        3: {"t1": 5, "t2": 15, "t3": 10, "t4": 20},    # one inversion
        4: {"t1": 8, "t2": 18, "t3": 28, "t4": 28},    # tie t3/t4
        5: {"t1": 1, "t2": 2, "t3": 3, "t4": 4},
    }
    rows = [(b, t, v) for b, d in scores.items() for t, v in d.items()]
    rows.append((6, "t1", 7))  # incomplete block -> dropped
    df = spark.createDataFrame(rows, "b long, t string, y long")
    got = page_trend(df, "b", "t", "y").collect()[0]

    # python mirror: midranks, L = sum c_j R_j with c from label sort
    k, n = 4, 5
    order = ["t1", "t2", "t3", "t4"]
    L2 = 0
    for d in scores.values():
        vals = sorted(d.values())
        for t, v in d.items():
            lt = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            rho = 2 * lt + eq + 1
            L2 += (order.index(t) + 1) * rho
    num = 6 * L2 - 3 * n * k * (k + 1) ** 2
    rad = n * k * k * (k + 1) * (k * k - 1)
    assert got["k"] == 4 and got["n"] == 5 and got["n_blocks_dropped"] == 1
    assert got["l"] == L2 / 2.0
    assert got["z"] == float(num) / math.sqrt(float(rad))
    assert got["z"] > 2.0  # the planted trend is detected

    # no ties: classic L = sum c_j R_j must agree with the doubled form
    nt_rows = [(b, t, v) for b, d in scores.items() if b in (1, 3, 5)
               for t, v in d.items()]
    g2 = page_trend(
        spark.createDataFrame(nt_rows, "b long, t string, y long"),
        "b", "t", "y",
    ).collect()[0]
    L_classic = 0
    for b in (1, 3, 5):
        ranks = {t: r for r, t in enumerate(
            sorted(scores[b], key=lambda t: scores[b][t]), 1)}
        L_classic += sum((order.index(t) + 1) * ranks[t] for t in order)
    assert g2["l"] == float(L_classic)

    # explicit order: reversing the hypothesis flips z exactly
    rev = page_trend(df, "b", "t", "y", order=list(reversed(order))).collect()[0]
    assert rev["z"] == -got["z"]

    # subset analysis: only the listed treatments count
    sub = page_trend(df, "b", "t", "y", order=["t1", "t3"]).collect()[0]
    assert sub["k"] == 2

    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        page_trend(df, "b", "t", "y", order=["t1", "t1"])

    # k < 2 -> NULL statistics
    one = page_trend(df.filter(F.col("t") == "t1"), "b", "t", "y").collect()[0]
    assert one["l"] is None and one["z"] is None

def test_jonckheere_terpstra_reference(spark):
    """JT statistic + tie-corrected z vs a brute-force pure-python
    mirror (pairwise cross-group counts, Hollander-Wolfe variance),
    order reversal antisymmetry on tie-free data, subset analysis,
    and degenerate guards."""
    import math

    from hadron_spark.operators.robust import jonckheere_terpstra

    data = {
        "a": [1, 3, 3, 5, 7],
        "b": [2, 3, 6, 8, 8, 9],
        "c": [5, 9, 10, 12],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = jonckheere_terpstra(df, "y", "g").collect()[0]

    order = ["a", "b", "c"]

    def brute(groups):
        jt = 0.0
        names = [g for g in order if g in groups]
        for i in range(len(names)):
            for j in range(i + 1, len(names)):
                for x in groups[names[i]]:
                    for y in groups[names[j]]:
                        jt += 1.0 if x < y else (0.5 if x == y else 0.0)
        ns = [len(groups[g]) for g in names]
        N = sum(ns)
        vals = [v for g in names for v in groups[g]]
        from collections import Counter

        ties = Counter(vals).values()
        E = (N * N - sum(n * n for n in ns)) / 4.0
        t1 = (
            N * (N - 1) * (2 * N + 5)
            - sum(n * (n - 1) * (2 * n + 5) for n in ns)
            - sum(t * (t - 1) * (2 * t + 5) for t in ties)
        ) / 72.0
        t2 = (
            sum(n * (n - 1) * (n - 2) for n in ns)
            * sum(t * (t - 1) * (t - 2) for t in ties)
        ) / (36.0 * N * (N - 1) * (N - 2))
        t3 = (
            sum(n * (n - 1) for n in ns) * sum(t * (t - 1) for t in ties)
        ) / (8.0 * N * (N - 1))
        var = t1 + t2 + t3
        return jt, (jt - E) / math.sqrt(var)

    jt_ref, z_ref = brute(data)
    assert got["k"] == 3 and got["n"] == 15
    assert got["jt"] == jt_ref
    assert abs(got["z"] - z_ref) < 1e-12
    assert got["z"] > 1.5  # planted upward trend detected

    # tie-free data: reversing the order flips z exactly
    nf = {"a": [1, 4, 7], "b": [2, 5, 8], "c": [3, 6, 9]}
    ndf = spark.createDataFrame(
        [(g, v) for g, vs in nf.items() for v in vs], "g string, y long"
    )
    fwd = jonckheere_terpstra(ndf, "y", "g").collect()[0]
    rev = jonckheere_terpstra(
        ndf, "y", "g", order=["c", "b", "a"]
    ).collect()[0]
    assert rev["z"] == -fwd["z"]

    # subset analysis: only listed groups count
    sub = jonckheere_terpstra(df, "y", "g", order=["a", "c"]).collect()[0]
    jt_sub, z_sub = brute({"a": data["a"], "c": data["c"]})
    assert sub["k"] == 2 and sub["jt"] == jt_sub
    assert abs(sub["z"] - z_sub) < 1e-12

    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        jonckheere_terpstra(df, "y", "g", order=["a", "a"])
    one = jonckheere_terpstra(
        df.filter(F.col("g") == "a"), "y", "g"
    ).collect()[0]
    assert one["jt"] is None and one["z"] is None
    # all-tied: var == 0 -> NULL z, jt still defined
    flat = jonckheere_terpstra(
        spark.createDataFrame([("a", 5), ("b", 5), ("c", 5)],
                              "g string, y long"),
        "y", "g",
    ).collect()[0]
    assert flat["z"] is None and flat["jt"] == 1.5

def test_jonckheere_terpstra_degenerate_n2(spark):
    """ADVICE r6: n=2 (two groups of one row) makes term2's
    denominator 36·n(n−1)(n−2) = 0 — the division must never be
    evaluated (ANSI DIVIDE_BY_ZERO), and z must be NULL."""
    from hadron_spark.operators.robust import jonckheere_terpstra

    two = jonckheere_terpstra(
        spark.createDataFrame([("a", 1), ("b", 2)], "g string, y long"),
        "y", "g",
    ).collect()[0]
    assert two["n"] == 2 and two["z"] is None
    assert two["jt"] == 1.0  # the one cross-pair counts


def test_page_trend_gapped_order(spark):
    """ADVICE r6: a treatment listed in `order` but absent from the
    data must not leave a gap in the position set — positions are
    renumbered densely over present treatments, so the result equals
    the order with the absent entry removed (the null moments assume
    positions exactly 1..k)."""
    from hadron_spark.operators.robust import page_trend

    scores = {1: {"t1": 3, "t3": 9}, 2: {"t1": 4, "t3": 7},
              3: {"t1": 2, "t3": 8}, 4: {"t1": 5, "t3": 6}}
    rows = [(b, t, v) for b, d in scores.items() for t, v in d.items()]
    df = spark.createDataFrame(rows, "b long, t string, y long")
    gapped = page_trend(df, "b", "t", "y",
                        order=["t1", "absent", "t3"]).collect()[0]
    dense = page_trend(df, "b", "t", "y", order=["t1", "t3"]).collect()[0]
    assert gapped["k"] == 2 == dense["k"]
    assert gapped["l"] == dense["l"] and gapped["z"] == dense["z"]
    # and the hypothesized direction survives renumbering
    assert gapped["z"] > 0


def test_dunn_test_reference(spark):
    """Dunn's pairwise z vs a pure-python mirror (pooled midranks,
    KW tie correction), sign convention, all-pairs coverage, and the
    all-tied NULL guard."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import dunn_test

    data = {
        "a": [1, 3, 3, 5],
        "b": [2, 3, 6, 8, 8],
        "c": [5, 9, 10, 12, 12, 14],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in dunn_test(df, "y", "g").collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    # python mirror: pooled midranks
    pooled = sorted(v for vs in data.values() for v in vs)
    N = len(pooled)
    tie = Counter(pooled)
    first = {}
    pos = 1
    for v in sorted(tie):
        first[v] = pos
        pos += tie[v]
    midrank = {v: first[v] + (tie[v] - 1) / 2.0 for v in tie}
    T = sum(t ** 3 - t for t in tie.values())
    var_base = N * (N + 1) / 12.0 - T / (12.0 * (N - 1))
    for ga, gb in got:
        ra = sum(midrank[v] for v in data[ga]) / len(data[ga])
        rb = sum(midrank[v] for v in data[gb]) / len(data[gb])
        z = (ra - rb) / math.sqrt(
            var_base * (1.0 / len(data[ga]) + 1.0 / len(data[gb]))
        )
        r = got[(ga, gb)]
        assert abs(r["z"] - z) < 1e-12, (ga, gb, r["z"], z)
        assert abs(r["mean_rank_a"] - ra) < 1e-12
        assert abs(r["mean_rank_b"] - rb) < 1e-12
        assert (r["n_a"], r["n_b"]) == (len(data[ga]), len(data[gb]))
    # the planted c-dominates ordering shows in the signs
    assert got[("a", "c")]["z"] < 0 and got[("b", "c")]["z"] < 0

    # all-tied -> A = 0 -> NULL z
    flat = dunn_test(
        spark.createDataFrame(
            [("a", 5), ("a", 5), ("b", 5)], "g string, y long"
        ),
        "y", "g",
    ).collect()[0]
    assert flat["z"] is None

def test_cliffs_delta_reference(spark):
    """Cliff's delta vs brute-force cross-pair counting: sign
    convention (positive = later label dominates), complete
    dominance = +/-1, identical groups = 0, tie handling."""
    from hadron_spark.operators.robust import cliffs_delta

    data = {
        "a": [1, 2, 3, 3],
        "b": [2, 3, 5, 6, 6],
        "c": [10, 11, 12],          # completely above a and b
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in cliffs_delta(df, "y", "g").collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    def brute(xa, xb):
        gt = sum(1 for x in xa for y in xb if y > x)
        lt = sum(1 for x in xa for y in xb if y < x)
        return (gt - lt) / (len(xa) * len(xb))

    for ga, gb in got:
        want = brute(data[ga], data[gb])
        r = got[(ga, gb)]
        assert r["delta"] == want, (ga, gb, r["delta"], want)
        assert (r["n_a"], r["n_b"]) == (len(data[ga]), len(data[gb]))
    assert got[("a", "c")]["delta"] == 1.0   # complete dominance
    assert got[("b", "c")]["delta"] == 1.0

    # identical distributions -> 0
    same = cliffs_delta(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 1), ("b", 2)], "g string, y long"
        ),
        "y", "g",
    ).collect()[0]
    assert same["delta"] == 0.0

@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]),
                  st.integers(min_value=0, max_value=6)),
        min_size=6,
        max_size=40,
    )
)
def test_ordered_rank_stats_property(spark, rows):
    """Hypothesis: on ANY small tied dataset, jonckheere_terpstra and
    cliffs_delta match brute-force cross-pair counting exactly (the
    tie-handling edge cases fixed fixtures can miss)."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import cliffs_delta, jonckheere_terpstra

    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    df = spark.createDataFrame(rows, "g string, y long")
    names = sorted(groups)

    # brute-force JT
    jt = 0.0
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            for x in groups[names[i]]:
                for y in groups[names[j]]:
                    jt += 1.0 if x < y else (0.5 if x == y else 0.0)
    got = jonckheere_terpstra(df, "y", "g").collect()[0]
    if len(names) > 1:
        assert got["jt"] == jt
    else:
        assert got["jt"] is None
    if got["z"] is not None:
        ns = [len(groups[g]) for g in names]
        N = sum(ns)
        ties = Counter(v for vs in groups.values() for v in vs).values()
        E = (N * N - sum(n * n for n in ns)) / 4.0
        t1 = (N * (N - 1) * (2 * N + 5)
              - sum(n * (n - 1) * (2 * n + 5) for n in ns)
              - sum(t * (t - 1) * (2 * t + 5) for t in ties)) / 72.0
        t2 = (sum(n * (n - 1) * (n - 2) for n in ns)
              * sum(t * (t - 1) * (t - 2) for t in ties)) / (
                  36.0 * N * (N - 1) * (N - 2))
        t3 = (sum(n * (n - 1) for n in ns)
              * sum(t * (t - 1) for t in ties)) / (8.0 * N * (N - 1))
        var = t1 + t2 + t3
        assert abs(got["z"] - (jt - E) / math.sqrt(var)) < 1e-9

    # brute-force Cliff's delta per pair
    deltas = {
        (r["group_a"], r["group_b"]): r["delta"]
        for r in cliffs_delta(df, "y", "g").collect()
    }
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            xa, xb = groups[names[i]], groups[names[j]]
            gt = sum(1 for x in xa for y in xb if y > x)
            lt = sum(1 for x in xa for y in xb if y < x)
            want = (gt - lt) / (len(xa) * len(xb))
            assert deltas[(names[i], names[j])] == want

def test_bootstrap_ci_mean_reference(spark):
    """Deterministic Poisson bootstrap vs a hashlib mirror: identical
    md5 uniforms -> identical Poisson(1) weights -> identical
    replicate means -> identical percentile picks (exact equality,
    no tolerance); grouping; CI brackets the mean; validation."""
    import hashlib

    from hadron_spark.operators.robust import (
        bootstrap_ci_mean,
        poisson1_cdf_thresholds,
    )

    rows = [(f"d{i}", "g1" if i % 2 else "g2", (i * 7) % 23)
            for i in range(60)]
    df = spark.createDataFrame(rows, "id string, g string, y long")
    got = {
        r["g"]: r
        for r in bootstrap_ci_mean(
            df, "y", "id", n_boot=50, alpha=0.1, seed=7, group_cols=["g"]
        ).collect()
    }

    th = poisson1_cdf_thresholds()

    def weight(u):
        for k, t in enumerate(th):
            if u < t:
                return k
        return len(th)

    data = {}
    for i, g, y in rows:
        data.setdefault(g, []).append((i, y))
    for g, pairs in data.items():
        means = []
        for r in range(1, 51):
            sw = swy = 0
            for i, y in pairs:
                h = hashlib.md5(f"{i}:{r}:7".encode()).hexdigest()
                u = int(h[:13], 16) / 2 ** 52
                w = weight(u)
                sw += w
                swy += w * y
            if sw > 0:
                means.append(swy / sw)
        means.sort()
        b = len(means)
        lo_i = max(1, (b * 1 + 19) // 20)    # alpha/2 = 0.05 = 1/20
        hi_i = min(b, (b * 19 + 19) // 20)
        r = got[g]
        assert r["n_boot_eff"] == b
        assert r["ci_lo"] == means[lo_i - 1]
        assert r["ci_hi"] == means[hi_i - 1]
        ys = [y for _, y in pairs]
        assert r["mean"] == sum(ys) / len(ys)
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]

    import pytest

    with pytest.raises(ValueError, match="n_boot"):
        bootstrap_ci_mean(df, "y", "id", n_boot=0)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_ci_mean(df, "y", "id", alpha=1.5)

def test_seasonal_decompose_reference(spark):
    """Classical additive decomposition vs an exact python mirror
    (same telescoped phase formula, same fold order, same resid
    chain — exact float equality); planted weekly pattern recovered;
    edge-row NULL trend; seasonal centering; validation."""
    import pytest

    from hadron_spark.operators.ops import seasonal_decompose

    # two series: trend 3/day + weekly additive pattern
    pattern = [40, -10, -30, 0, 20, 50, -70]
    rows = []
    for g, base_lvl in (("s1", 100), ("s2", 500)):
        for d in range(28):
            rows.append((g, d, base_lvl + 3 * d + pattern[d % 7]))
    df = spark.createDataFrame(rows, "g string, day int, v long")
    got = {
        (r["g"], r["day"]): r
        for r in seasonal_decompose(
            df, "day", "v", period=7, partition_cols=["g"]
        ).collect()
    }

    W = 7
    k = 3
    for g, base_lvl in (("s1", 100), ("s2", 500)):
        ys = [base_lvl + 3 * d + pattern[d % 7] for d in range(28)]
        S = {
            i: sum(ys[i - k: i + k + 1])
            for i in range(k, 28 - k)
        }
        # telescoped phase effects over full-frame rows
        raw = {}
        for j in range(7):
            idx = [i for i in range(k, 28 - k) if i % 7 == j]
            num = sum(ys[i] * W - S[i] for i in idx)
            raw[j] = num / (len(idx) * W)
        mean = 0.0
        for j in sorted(raw):
            mean = mean + raw[j]
        mean = mean / len(raw)
        seas = {j: raw[j] - mean for j in raw}
        for d in range(28):
            r = got[(g, d)]
            assert r["phase"] == d % 7
            if k <= d < 28 - k:
                assert r["trend"] == S[d] / float(W)
                assert r["seasonal"] == seas[d % 7]
                assert r["resid"] == ys[d] - S[d] / float(W) - seas[d % 7]
            else:
                assert r["trend"] is None and r["resid"] is None
        # the planted pattern is recovered up to the trend slope's
        # within-week tilt: seasonal ordering matches the pattern's
        order_got = sorted(range(7), key=lambda j: seas[j])
        order_want = sorted(range(7), key=lambda j: pattern[j])
        assert order_got == order_want
        # centering: phase effects sum to ~0
        assert abs(sum(seas.values())) < 1e-9

    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(df, "day", "v", period=1)
    with pytest.raises(ValueError, match="trend_window"):
        seasonal_decompose(df, "day", "v", period=7, trend_window=4)

def test_ewma_reference(spark):
    """EWMA fold vs the exact python recurrence (same multiply-add
    chain, exact float equality), per-key independence, NULL
    rejection, validation."""
    import pytest

    from hadron_spark.operators.ops import ewma

    rows = [("a", i, float(v)) for i, v in enumerate([10, 20, 5, 5, 40])]
    rows += [("b", i, float(v)) for i, v in enumerate([100, 0, 50])]
    df = spark.createDataFrame(rows, "g string, t int, v double")
    got = {
        (r["g"], r["t"]): (r["y"], r["ewma"])
        for r in ewma(df, "t", "v", alpha=0.25, partition_cols=["g"]).collect()
    }
    for g, vals in (("a", [10, 20, 5, 5, 40]), ("b", [100, 0, 50])):
        e = None
        for t, v in enumerate(vals):
            e = float(v) if e is None else 0.25 * v + 0.75 * e
            assert got[(g, t)] == (float(v), e), (g, t)

    # alpha=1 degenerates to the series itself
    ident = ewma(df, "t", "v", alpha=1.0, partition_cols=["g"]).collect()
    assert all(r["ewma"] == r["y"] for r in ident)

    with pytest.raises(ValueError, match="alpha"):
        ewma(df, "t", "v", alpha=0.0)

def test_holt_winters_reference(spark):
    """Holt-Winters vs a pure-python mirror of the documented walk
    (two-season init, ring-buffer recurrences), bit-exact; short
    series dropped; param validation."""
    from hadron_spark.operators.ops import holt_winters

    m, a, b, g = 4, 0.25, 0.125, 0.25

    def synth(key, n, amp):
        # level + trend + seasonal + deterministic jitter
        return [
            (key, t, 10.0 * amp + 0.5 * t + amp * (t % m) + ((t * 7) % 3))
            for t in range(1, n + 1)
        ]

    rows = synth("x", 20, 1.0) + synth("y", 17, 3.0) + synth("z", 7, 2.0)
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        (r["k"], r["t"]): (r["level"], r["trend"], r["seasonal"],
                           r["fitted"])
        for r in holt_winters(
            df, "t", "v", period=m, alpha=a, beta=b, gamma=g,
            partition_cols=["k"],
        ).collect()
    }

    def mirror(ys):
        s1 = 0.0
        for i in range(m):
            s1 += ys[i]
        lvl = s1 / m
        s2 = 0.0
        for i in range(m, 2 * m):
            s2 += ys[i]
        tr = (s2 / m - s1 / m) / m
        ring = [ys[i] - lvl for i in range(m)]
        out = {}
        for t in range(m, len(ys)):
            y, s_old = ys[t], ring[0]
            f = lvl + tr + s_old
            l_new = a * (y - s_old) + (1 - a) * (lvl + tr)
            b_new = b * (l_new - lvl) + (1 - b) * tr
            s_new = g * (y - lvl - tr) + (1 - g) * s_old
            out[t + 1] = (l_new, b_new, s_new, f)
            ring = ring[1:] + [s_new]
            lvl, tr = l_new, b_new
        return out

    expect = {}
    for key, n, amp in (("x", 20, 1.0), ("y", 17, 3.0)):
        ys = [v for _, _, v in synth(key, n, amp)]
        for t, vals in mirror(ys).items():
            expect[(key, t)] = vals
    assert got == expect  # bit-exact, including the fitted forecasts
    # series z has 7 < 2m rows: dropped entirely
    assert not any(k == "z" for k, _ in got)

    import pytest

    with pytest.raises(ValueError, match="alpha"):
        holt_winters(df, "t", "v", period=m, alpha=0.0, beta=b, gamma=g)
    with pytest.raises(ValueError, match="period"):
        holt_winters(df, "t", "v", period=1, alpha=a, beta=b, gamma=g)
    with pytest.raises(ValueError, match="gamma"):
        holt_winters(df, "t", "v", period=m, alpha=a, beta=b, gamma=1.5)

def test_bootstrap_ci_median_reference(spark):
    """Weighted-lower-median Poisson bootstrap vs a hashlib mirror:
    identical uniforms -> identical weights -> identical per-replicate
    weighted medians -> identical percentile picks (exact longs end
    to end); overall lower median; validation."""
    import hashlib

    from hadron_spark.operators.robust import (
        bootstrap_ci_median,
        poisson1_cdf_thresholds,
    )

    rows = [(f"d{i}", "g1" if i % 2 else "g2", (i * 7) % 23)
            for i in range(60)]
    df = spark.createDataFrame(rows, "id string, g string, y long")
    got = {
        r["g"]: r
        for r in bootstrap_ci_median(
            df, "y", "id", n_boot=50, alpha=0.1, seed=7, group_cols=["g"]
        ).collect()
    }

    th = poisson1_cdf_thresholds()

    def weight(u):
        for k, t in enumerate(th):
            if u < t:
                return k
        return len(th)

    def wmedian(pairs_wy):
        """lower weighted median: min y with 2*cum >= total."""
        total = sum(w for w, _ in pairs_wy)
        if total == 0:
            return None
        cum = 0
        for w, y in sorted(pairs_wy, key=lambda p: p[1]):
            cum += w
            if 2 * cum >= total:
                return y

    data = {}
    for i, g, y in rows:
        data.setdefault(g, []).append((i, y))
    for g, pairs in data.items():
        meds = []
        for r in range(1, 51):
            wy = []
            for i, y in pairs:
                h = hashlib.md5(f"{i}:{r}:7".encode()).hexdigest()
                u = int(h[:13], 16) / 2 ** 52
                wy.append((weight(u), y))
            m = wmedian(wy)
            if m is not None:
                meds.append(m)
        meds.sort()
        b = len(meds)
        lo_i = max(1, (b + 19) // 20)
        hi_i = min(b, (b * 19 + 19) // 20)
        r = got[g]
        assert r["n_boot_eff"] == b
        assert r["ci_lo"] == meds[lo_i - 1]
        assert r["ci_hi"] == meds[hi_i - 1]
        assert r["median"] == wmedian([(1, y) for _, y in pairs])
        assert r["ci_lo"] <= r["median"] <= r["ci_hi"]

    import pytest

    with pytest.raises(ValueError, match="n_boot"):
        bootstrap_ci_median(df, "y", "id", n_boot=0)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_ci_median(df, "y", "id", alpha=0.0)


def test_conover_iman_reference(spark):
    """Conover-Iman pairwise t vs a pure-python mirror of the FULL
    textbook formula (S^2, tie-corrected H, (N-1-H)/(N-k) factor) --
    proving the collapsed Delta*sqrt((N-k)/(prod*(Q2-G2))) form
    implemented is algebraically the same statistic; sign convention;
    degenerate guards."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import conover_iman

    data = {
        "a": [1, 3, 3, 5, 7],
        "b": [2, 3, 6, 8, 8, 9],
        "c": [5, 9, 10, 12],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in conover_iman(df, "y", "g").collect()
    }

    # pooled midranks
    vals = sorted(v for vs in data.values() for v in vs)
    N = len(vals)
    ranks = {}
    for v, cnt in Counter(vals).items():
        lo = sum(1 for x in vals if x < v)
        ranks[v] = lo + (cnt + 1) / 2.0
    rsum = {g: sum(ranks[v] for v in vs) for g, vs in data.items()}
    ns = {g: len(vs) for g, vs in data.items()}
    s2 = (sum(ranks[v] ** 2 for vs in data.values() for v in vs)
          - N * (N + 1) ** 2 / 4.0) / (N - 1)
    h = (sum(rsum[g] ** 2 / ns[g] for g in data)
         - N * (N + 1) ** 2 / 4.0) / s2
    k = len(data)
    for ga, gb in (("a", "b"), ("a", "c"), ("b", "c")):
        t_ref = (rsum[ga] / ns[ga] - rsum[gb] / ns[gb]) / math.sqrt(
            s2 * ((N - 1 - h) / (N - k)) * (1.0 / ns[ga] + 1.0 / ns[gb])
        )
        r = got[(ga, gb)]
        assert abs(r["t"] - t_ref) < 1e-12
        assert r["n_a"] == ns[ga] and r["n_b"] == ns[gb]
        assert r["mean_rank_a"] == rsum[ga] / ns[ga]
    # planted order a < b < c: every pair trends negative
    assert all(r["t"] < 0 for r in got.values())

    # degenerate: every group one row (N == k) -> NULL t
    one = conover_iman(
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)],
                              "g string, y long"),
        "y", "g",
    ).collect()
    assert all(r["t"] is None for r in one)
    # all-tied: Q2 == G2 -> NULL t
    flat = conover_iman(
        spark.createDataFrame([("a", 5), ("a", 5), ("b", 5), ("b", 5)],
                              "g string, y long"),
        "y", "g",
    ).collect()
    assert all(r["t"] is None for r in flat)


def test_mann_kendall_reference(spark):
    """Mann-Kendall S / tie-corrected variance / continuity-corrected
    z vs a pure-python mirror of Kendall's full two-axis tie formula;
    degenerate guards (n < 3, all-tied values)."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import mann_kendall

    # ties on both axes: times [1,1,2,3,4,5], values with a tie run
    data = [(1, 5), (1, 7), (2, 5), (3, 9), (4, 9), (5, 12)]
    df = spark.createDataFrame(data, "t long, y long")
    r = mann_kendall(df, "t", "y").collect()[0]

    n = len(data)
    s_ref = 0
    for i in range(n):
        for j in range(n):
            if data[i][0] < data[j][0]:
                d = data[j][1] - data[i][1]
                s_ref += (d > 0) - (d < 0)
    tt = Counter(t for t, _ in data).values()
    uu = Counter(y for _, y in data).values()

    def k25(sizes):
        return sum(x * (x - 1) * (2 * x + 5) for x in sizes)

    def k3(sizes):
        return sum(x * (x - 1) * (x - 2) for x in sizes)

    def k2(sizes):
        return sum(x * (x - 1) for x in sizes)

    var_num = (
        n * (n - 1) * (n - 2)
        * (n * (n - 1) * (2 * n + 5) - k25(tt) - k25(uu))
        + 2 * k3(tt) * k3(uu)
        + 9 * (n - 2) * k2(tt) * k2(uu)
    )
    var = var_num / (18 * n * (n - 1) * (n - 2))
    z_ref = (s_ref - (s_ref > 0) + (s_ref < 0)) / math.sqrt(var)
    assert r["n"] == n and r["s"] == s_ref
    assert r["tie_time"] == sum(x * (x - 1) // 2 for x in tt)
    assert r["tie_value"] == sum(x * (x - 1) // 2 for x in uu)
    assert abs(r["z"] - z_ref) < 1e-12

    # no-ties sanity: reduces to the textbook variance n(n-1)(2n+5)/18
    clean = [(i, v) for i, v in enumerate([3, 1, 4, 1 + 10, 5, 9, 2, 6])]
    rc = mann_kendall(
        spark.createDataFrame(clean, "t long, y long"), "t", "y"
    ).collect()[0]
    s2 = sum(
        (b[1] > a[1]) - (b[1] < a[1])
        for i, a in enumerate(clean)
        for b in clean[i + 1:]
    )
    m = len(clean)
    vref = m * (m - 1) * (2 * m + 5) / 18.0
    zref = (s2 - (s2 > 0) + (s2 < 0)) / math.sqrt(vref)
    assert rc["s"] == s2 and abs(rc["z"] - zref) < 1e-12

    # degenerate: n < 3 -> z NULL; all-tied values -> var 0 -> NULL
    small = mann_kendall(
        spark.createDataFrame([(1, 2), (2, 3)], "t long, y long"), "t", "y"
    ).collect()[0]
    assert small["z"] is None
    flat = mann_kendall(
        spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "t long, y long"),
        "t", "y",
    ).collect()[0]
    assert flat["s"] == 0 and flat["z"] is None


def test_cochran_q_reference(spark):
    """Cochran's Q vs the textbook formula on a planted 3-treatment
    design; incomplete blocks dropped whole; degenerate guard."""
    # blocks x treatments (binary), block 'b9' incomplete -> dropped
    grid = {
        "b1": (1, 1, 0), "b2": (1, 0, 0), "b3": (1, 1, 1),
        "b4": (0, 0, 0), "b5": (1, 1, 0), "b6": (1, 0, 1),
        "b7": (1, 1, 0), "b8": (0, 1, 0),
    }
    from hadron_spark.operators.robust import cochran_q

    rows = [
        (b, f"t{j}", v)
        for b, vs in grid.items()
        for j, v in enumerate(vs)
    ] + [("b9", "t0", 1)]
    df = spark.createDataFrame(rows, "blk string, trt string, y int")
    r = cochran_q(df, "blk", "trt", "y").collect()[0]

    k = 3
    gj = [sum(vs[j] for vs in grid.values()) for j in range(k)]
    li = [sum(vs) for vs in grid.values()]
    t = sum(gj)
    q_ref = (k - 1) * (k * sum(g * g for g in gj) - t * t) / (
        k * t - sum(x * x for x in li)
    )
    assert r["k"] == 3 and r["n_blocks"] == 8
    assert abs(r["q"] - q_ref) < 1e-12

    # degenerate: every block all-1 -> denominator 0 -> NULL
    flat = cochran_q(
        spark.createDataFrame(
            [(b, t_, 1) for b in ("x", "y") for t_ in ("a", "b")],
            "blk string, trt string, y int",
        ),
        "blk", "trt", "y",
    ).collect()[0]
    assert flat["q"] is None


def test_mood_median_reference(spark):
    """Mood's median test vs a pure-python k x 2 Pearson chi2 on the
    pooled lower-median split; degenerate guard (one-sided split)."""
    data = {
        "a": [1, 3, 3, 5, 7, 2],
        "b": [2, 3, 6, 8, 8, 9],
        "c": [5, 9, 10, 12, 4],
    }
    from hadron_spark.operators.robust import mood_median_test

    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y long")
    r = mood_median_test(df, "y", "g").collect()[0]

    pooled = sorted(v for vs in data.values() for v in vs)
    n = len(pooled)
    # lower weighted median: smallest value with 2*cum >= n
    cum = 0
    for v in pooled:
        cum += 1
        if 2 * cum >= n:
            med = v
            break
    aj = {g: sum(1 for v in vs if v > med) for g, vs in data.items()}
    nj = {g: len(vs) for g, vs in data.items()}
    a_tot = sum(aj.values())
    b_tot = n - a_tot
    chi2_ref = 0.0
    for g in data:
        ea = nj[g] * a_tot / n
        eb = nj[g] * b_tot / n
        chi2_ref += (aj[g] - ea) ** 2 / ea + (nj[g] - aj[g] - eb) ** 2 / eb
    assert r["grand_median"] == med and r["n"] == n and r["k"] == 3
    assert abs(r["chi2"] - chi2_ref) < 1e-10

    # degenerate: all values equal -> A == 0 -> NULL
    flat = mood_median_test(
        spark.createDataFrame(
            [("a", 5), ("a", 5), ("b", 5)], "g string, y long"
        ),
        "y", "g",
    ).collect()[0]
    assert flat["chi2"] is None


def test_benjamini_hochberg_reference(spark):
    """BH step-up adjusted p-values vs the statsmodels-definition
    python mirror; monotonicity; cap at 1; NULL pass-through."""
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.5, 0.99]
    from hadron_spark.operators.robust import benjamini_hochberg

    rows = [(f"t{i:02d}", p) for i, p in enumerate(ps)] + [("tnull", None)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    got = {
        r["test_id"]: r
        for r in benjamini_hochberg(df, "p", ["test_id"]).collect()
    }

    m = len(ps)
    ref = [p * m / (i + 1) for i, p in enumerate(sorted(ps))]
    for i in range(m - 2, -1, -1):
        ref[i] = min(ref[i], ref[i + 1])
    ref = [min(1.0, x) for x in ref]
    order = sorted(range(m), key=lambda i: ps[i])
    for rank0, idx in enumerate(order):
        r = got[f"t{idx:02d}"]
        assert r["rank"] == rank0 + 1 and r["m"] == m
        assert abs(r["p_adj"] - ref[rank0]) < 1e-15
    # adjusted values are monotone in rank and never below raw p
    adj = [got[f"t{idx:02d}"]["p_adj"] for idx in order]
    assert adj == sorted(adj)
    assert all(a >= p - 1e-15 for a, p in zip(adj, sorted(ps)))
    nul = got["tnull"]
    assert nul["p_adj"] is None and nul["rank"] is None and nul["m"] is None


def test_sign_test_reference(spark):
    """Exact two-sided sign test vs scipy-definition python mirror
    (exact binomial tail, zeros dropped); dyadic exactness for small
    n; degenerate all-zero group."""
    from math import comb

    from hadron_spark.operators.robust import sign_test

    cases = {"a": [1, 1, 1, -1, 1, 1, 0, 1], "b": [1, -1, 1, -1, 0, 0]}
    rows = [(g, float(v)) for g, vs in cases.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, d double")
    got = {r["g"]: r for r in sign_test(df, "d", ["g"]).collect()}
    for g, vs in cases.items():
        nz = [v for v in vs if v != 0]
        n, pos = len(nz), sum(1 for v in nz if v > 0)
        m = min(pos, n - pos)
        p_ref = min(1.0, 2 * sum(comb(n, i) for i in range(m + 1)) / 2**n)
        r = got[g]
        assert r["n"] == n and r["n_pos"] == pos and r["n_neg"] == n - pos
        # dyadic for n <= 52: equality is EXACT
        assert r["p"] == p_ref
    # all-zero diffs: the group vanishes (no evidence either way)
    empty = sign_test(
        spark.createDataFrame([("z", 0.0)], "g string, d double"), "d", ["g"]
    ).collect()
    assert empty == []


def test_cusum_changepoint_reference(spark):
    """CUSUM argmax vs a brute-force python mirror on a planted level
    shift; tie-to-earliest; min_segment; short-series absence."""
    from hadron_spark.operators.ops import cusum_changepoint

    # planted shift after index 6: mean 10 -> mean 30
    ys = [10, 11, 9, 10, 12, 8, 10, 30, 29, 31, 30, 28, 32]
    rows = [("s1", i, y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "g string, t long, y long")
    r = cusum_changepoint(df, "t", "y", ["g"]).collect()[0]

    n, tot = len(ys), sum(ys)
    best = max(
        (
            (abs(n * sum(ys[:i]) - i * tot), -i, i)
            for i in range(1, n)
        ),
    )
    i_ref = best[2]
    assert r["n"] == n
    assert r["cp_index"] == i_ref == 7
    assert r["cp_order"] == i_ref - 1
    assert r["cusum_max"] == best[0] / n
    assert r["mean_left"] == sum(ys[:i_ref]) / i_ref
    assert r["mean_right"] == sum(ys[i_ref:]) / (n - i_ref)
    assert abs(r["delta"] - (r["mean_right"] - r["mean_left"])) == 0.0

    # constant series: every D == 0, tie -> earliest split (i=1)
    flat = cusum_changepoint(
        spark.createDataFrame(
            [("f", i, 5) for i in range(6)], "g string, t long, y long"
        ),
        "t", "y", ["g"],
    ).collect()[0]
    assert flat["cp_index"] == 1 and flat["cusum_max"] == 0.0

    # min_segment trims the edges; 3-row series with min_segment=2 vanishes
    got = cusum_changepoint(
        spark.createDataFrame(
            [("m", i, y) for i, y in enumerate([1, 100, 1, 1])],
            "g string, t long, y long",
        ),
        "t", "y", ["g"], min_segment=2,
    ).collect()[0]
    assert 2 <= got["cp_index"] <= 2
    short = cusum_changepoint(
        spark.createDataFrame(
            [("x", i, i) for i in range(3)], "g string, t long, y long"
        ),
        "t", "y", ["g"], min_segment=2,
    ).collect()
    assert short == []


def test_gini_reference(spark):
    """Gini coefficient vs the pairwise |xi-xj|/(2 n^2 mean) python
    mirror; 0 for constant, known value for extreme concentration;
    all-zero NULL."""
    from hadron_spark.operators.ops import gini

    data = {"a": [1, 2, 3, 4, 10], "b": [5, 5, 5, 5], "c": [0, 0, 0, 12]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in gini(df, "v", ["g"]).collect()}
    for g, vs in data.items():
        n = len(vs)
        s = sum(abs(x - y) for x in vs for y in vs)
        ref = s / (2 * n * sum(vs)) if sum(vs) else None
        r = got[g]
        assert r["n"] == n and r["total"] == sum(vs)
        if ref is None:
            assert r["gini"] is None
        else:
            assert abs(r["gini"] - ref) < 1e-15
    assert got["b"]["gini"] == 0.0
    # 3 zeros + all mass on one of 4: G = (n-1)/n = 0.75
    assert got["c"]["gini"] == 0.75
    zero = gini(
        spark.createDataFrame([("z", 0), ("z", 0)], "g string, v long"),
        "v", ["g"],
    ).collect()[0]
    assert zero["gini"] is None


def test_forecast_accuracy_reference(spark):
    """MAE/RMSE/MASE vs python mirror; constant series -> NULL MASE;
    seasonal naive_lag; validation."""
    import math

    import pytest

    from hadron_spark.operators.ops import forecast_accuracy

    ys = [10, 12, 9, 14, 13, 8, 15, 11]
    fs = [11, 10, 10, 12, 14, 9, 13, 12]
    rows = [("s", t, y, f) for t, (y, f) in enumerate(zip(ys, fs))]
    df = spark.createDataFrame(rows, "g string, t long, y long, f long")
    r = forecast_accuracy(df, "t", "y", "f", ["g"]).collect()[0]
    n = len(ys)
    mae = sum(abs(y - f) for y, f in zip(ys, fs)) / n
    rmse = math.sqrt(sum((y - f) ** 2 for y, f in zip(ys, fs)) / n)
    nae = [abs(ys[i] - ys[i - 1]) for i in range(1, n)]
    mase = mae / (sum(nae) / len(nae))
    assert r["n"] == n and r["mae"] == mae and r["rmse"] == rmse
    assert r["n_naive"] == n - 1
    assert abs(r["mase"] - mase) < 1e-15

    # seasonal naive (lag 2)
    r2 = forecast_accuracy(df, "t", "y", "f", ["g"], naive_lag=2).collect()[0]
    nae2 = [abs(ys[i] - ys[i - 2]) for i in range(2, n)]
    assert r2["n_naive"] == n - 2
    assert abs(r2["mase"] - mae / (sum(nae2) / len(nae2))) < 1e-15

    # constant actuals: naive MAE 0 -> MASE NULL
    flat = forecast_accuracy(
        spark.createDataFrame(
            [("c", t, 5, 6) for t in range(4)], "g string, t long, y long, f long"
        ),
        "t", "y", "f", ["g"],
    ).collect()[0]
    assert flat["mase"] is None and flat["mae"] == 1.0

    with pytest.raises(ValueError, match="naive_lag"):
        forecast_accuracy(df, "t", "y", "f", ["g"], naive_lag=0)


def test_cohens_d_reference(spark):
    """Cohen's d + Hedges' g vs the textbook pooled-SD python mirror;
    sign convention; degenerate guards (zero variance, df <= 0)."""
    import math

    from hadron_spark.operators.robust import cohens_d

    xa = [12, 15, 11, 14, 13, 16]
    xb = [9, 10, 8, 11, 10]
    da = spark.createDataFrame([(v,) for v in xa], "v long")
    db = spark.createDataFrame([(v,) for v in xb], "v long")
    r = cohens_d(da, db, "v").collect()[0]
    na, nb = len(xa), len(xb)
    ma, mb = sum(xa) / na, sum(xb) / nb
    va = sum((x - ma) ** 2 for x in xa) / (na - 1)
    vb = sum((x - mb) ** 2 for x in xb) / (nb - 1)
    sp = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d_ref = (ma - mb) / sp
    g_ref = d_ref * (1 - 3 / (4 * (na + nb - 2) - 1))
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["mean_a"] == ma and r["mean_b"] == mb
    assert abs(r["d"] - d_ref) < 1e-12
    assert abs(r["g"] - g_ref) < 1e-12
    assert r["d"] > 0  # a's mean is higher

    # zero pooled variance -> NULL
    flat = cohens_d(
        spark.createDataFrame([(5,), (5,)], "v long"),
        spark.createDataFrame([(7,), (7,)], "v long"),
        "v",
    ).collect()[0]
    assert flat["d"] is None and flat["g"] is None


def test_fisher_exact_reference(spark):
    """Fisher exact two-sided p vs the comb() hypergeometric python
    mirror (scipy convention: sum of tables with pmf <= observed);
    classic tea-tasting table; odds ratio; zero-cell guard."""
    from math import comb

    from hadron_spark.operators.robust import fisher_exact

    def mirror(a, b, c, d):
        n1, K, N = a + b, a + c, a + b + c + d
        kmin, kmax = max(0, n1 + K - N), min(K, n1)
        pmf = {
            k: comb(K, k) * comb(N - K, n1 - k) / comb(N, n1)
            for k in range(kmin, kmax + 1)
        }
        return sum(p for k, p in pmf.items() if p <= pmf[a] * (1 + 1e-9))

    cases = [(3, 1, 1, 3), (1, 9, 11, 3), (7, 2, 3, 8), (5, 0, 2, 6)]
    for a, b, c, d in cases:
        new = spark.createDataFrame(
            [(1,)] * a + [(0,)] * b, "f int"
        )
        old = spark.createDataFrame(
            [(1,)] * c + [(0,)] * d, "f int"
        )
        r = fisher_exact(new, old, "f").collect()[0]
        assert (r["k_new"], r["n_new"], r["k_old"], r["n_old"]) == (
            a, a + b, c, c + d,
        )
        p_ref = mirror(a, b, c, d)
        assert abs(r["p"] - p_ref) < 1e-12, (a, b, c, d, r["p"], p_ref)
        if b > 0 and c > 0:
            assert r["odds_ratio"] == (a * d) / (b * c)
        else:
            assert r["odds_ratio"] is None
    # scipy cross-check values: fisher_exact([[1,9],[11,3]]) ~ 0.002759
    r = fisher_exact(
        spark.createDataFrame([(1,)] * 1 + [(0,)] * 9, "f int"),
        spark.createDataFrame([(1,)] * 11 + [(0,)] * 3, "f int"),
        "f",
    ).collect()[0]
    assert abs(r["p"] - 0.0027594561852200836) < 1e-12


def test_wilcoxon_signed_rank_reference(spark):
    """Wilcoxon signed-rank W+/z vs a pure-python midrank mirror
    (scipy 'wilcox' zero handling, tie-corrected normal z); zeros
    dropped; all-zero group vanishes."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import wilcoxon_signed_rank

    diffs = [5, -3, 8, 8, -2, 12, 3, -8, 7, 0, 4, -4, 15]
    df = spark.createDataFrame([(float(d),) for d in diffs], "d double")
    r = wilcoxon_signed_rank(df, "d").collect()[0]

    nz = [d for d in diffs if d != 0]
    n = len(nz)
    ads = sorted(abs(d) for d in nz)
    # midranks x2
    cnt = Counter(ads)
    r2 = {}
    before = 0
    for v in sorted(cnt):
        r2[v] = 2 * before + cnt[v] + 1
        before += cnt[v]
    wp2 = sum(r2[abs(d)] for d in nz if d > 0)
    wn2 = sum(r2[abs(d)] for d in nz if d < 0)
    t_term = sum(t**3 - t for t in cnt.values())
    z_ref = (wp2 - n * (n + 1) / 2) / math.sqrt(
        (2 * n * (n + 1) * (2 * n + 1) - t_term) / 12
    )
    assert r["n"] == n
    assert r["w_pos_x2"] == wp2 and r["w_neg_x2"] == wn2
    assert r["tie_term"] == t_term
    assert abs(r["z"] - z_ref) < 1e-12
    # identity: W+ + W- = n(n+1)/2 (x2 scale: n(n+1))
    assert r["w_pos_x2"] + r["w_neg_x2"] == n * (n + 1)

    empty = wilcoxon_signed_rank(
        spark.createDataFrame([(0.0,), (0.0,)], "d double"), "d"
    ).collect()
    assert empty == []


def test_runs_test_reference(spark):
    """Runs count + z vs the textbook Wald-Wolfowitz formulas;
    perfect alternation z > 0, single streak z < 0; one-sided
    guard."""
    import math

    from hadron_spark.operators.robust import runs_test

    def mirror(signs):
        nz = [s for s in signs if s != 0]
        n, n1 = len(nz), sum(1 for s in nz if s > 0)
        n2 = n - n1
        runs = 1 + sum(
            1 for i in range(1, len(nz)) if (nz[i] > 0) != (nz[i - 1] > 0)
        )
        e = 1 + 2 * n1 * n2 / n
        var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        return runs, (runs - e) / math.sqrt(var)

    seqs = {
        "alt": [1, -1, 1, -1, 1, -1, 1, -1],
        "streak": [1, 1, 1, 1, -1, -1, -1, -1],
        "mixed": [1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 0],
    }
    rows = [
        (g, t, float(s)) for g, ss in seqs.items() for t, s in enumerate(ss)
    ]
    df = spark.createDataFrame(rows, "g string, t long, s double")
    got = {r["g"]: r for r in runs_test(df, "t", "s", ["g"]).collect()}
    for g, ss in seqs.items():
        runs, z = mirror(ss)
        assert got[g]["runs"] == runs, g
        assert abs(got[g]["z"] - z) < 1e-12, g
    assert got["alt"]["z"] > 0 and got["streak"]["z"] < 0

    one = runs_test(
        spark.createDataFrame(
            [("o", t, 1.0) for t in range(5)], "g string, t long, s double"
        ),
        "t", "s", ["g"],
    ).collect()[0]
    assert one["z"] is None


def test_durbin_watson_reference(spark):
    """DW vs the ratio-of-sums python mirror; white-noise-ish ~2,
    perfectly trending -> small; all-zero NULL."""
    from hadron_spark.operators.ops import durbin_watson

    series = {
        "noisy": [3, -5, 4, -2, 6, -7, 1, -3],
        "trend": [1, 2, 3, 4, 5, 6, 7, 8],
        "zero": [0, 0, 0],
    }
    rows = [
        (g, t, e) for g, es in series.items() for t, e in enumerate(es)
    ]
    df = spark.createDataFrame(rows, "g string, t long, e long")
    got = {r["g"]: r for r in durbin_watson(df, "t", "e", ["g"]).collect()}
    for g, es in series.items():
        den = sum(x * x for x in es)
        if den == 0:
            assert got[g]["dw"] is None
            continue
        num = sum(
            (es[i] - es[i - 1]) ** 2 for i in range(1, len(es))
        )
        assert got[g]["dw"] == num / den, g
    assert got["noisy"]["dw"] > 2.5 and got["trend"]["dw"] < 0.5


def test_kaplan_meier_reference(spark):
    """KM product-limit curve vs a lifelines-definition python
    mirror on censored data; censor-only steps keep survival flat;
    uncensored reduces to the empirical survivor function."""
    import pytest

    from hadron_spark.operators.survival import kaplan_meier

    # (duration, event): censored rows have event=0
    data = [(2, 1), (3, 1), (3, 0), (5, 1), (5, 1), (7, 0), (8, 1),
            (8, 1), (8, 0), (10, 0), (12, 1), (4, 0)]
    df = spark.createDataFrame(data, "t long, e int")
    rows = {r["t"]: r for r in kaplan_meier(df, "t", "e").collect()}

    # python mirror
    from collections import Counter

    times = sorted({t for t, _ in data})
    d = Counter(t for t, e in data if e == 1)
    c = Counter(t for t, e in data if e == 0)
    n = len(data)
    at_risk, s, ref = n, 1.0, {}
    for t in times:
        if d[t] > 0:
            s = s * (1.0 - d[t] / at_risk)
        ref[t] = (at_risk, d[t], c[t], s)
        at_risk -= d[t] + c[t]
    assert set(rows) == set(times)
    for t in times:
        r = rows[t]
        nr, dd, cc, sv = ref[t]
        assert (r["n_risk"], r["d"], r["c"]) == (nr, dd, cc), t
        assert r["survival"] == sv, t
    # censor-only time keeps survival flat
    assert rows[4]["survival"] == rows[3]["survival"]
    assert rows[7]["survival"] == rows[5]["survival"]

    # no censoring: KM == empirical survivor function
    unc = [(t, 1) for t in (1, 2, 2, 3, 4)]
    got = {
        r["t"]: r["survival"]
        for r in kaplan_meier(
            spark.createDataFrame(unc, "t long, e int"), "t", "e"
        ).collect()
    }
    assert got[1] == 0.8 and got[2] == pytest.approx(0.4) and got[4] == 0.0


def test_logrank_reference(spark):
    """Log-rank O-E/V/z vs a pure-python pooled-spine mirror;
    identical arms give z ~ 0; a separated pair gives |z| large;
    degenerate V guard."""
    import math
    from collections import Counter

    from hadron_spark.operators.survival import logrank_test

    arm_a = [(2, 1), (4, 1), (5, 0), (7, 1), (9, 1), (11, 0)]
    arm_b = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 0)]
    da = spark.createDataFrame(arm_a, "t long, e int")
    db = spark.createDataFrame(arm_b, "t long, e int")
    r = logrank_test(da, db, "t", "e").collect()[0]

    def mirror(a, b):
        times = sorted({t for t, _ in a + b})
        la = lb = 0
        oe = v = 0.0
        for t in times:
            r1, r2 = len(a) - la, len(b) - lb
            rt = r1 + r2
            d1 = sum(1 for tt, e in a if tt == t and e == 1)
            d2 = sum(1 for tt, e in b if tt == t and e == 1)
            dt = d1 + d2
            oe += d1 - dt * r1 / rt
            if rt > 1:
                v += dt * (r1 / rt) * (1 - r1 / rt) * (rt - dt) / (rt - 1)
            la += sum(1 for tt, _ in a if tt == t)
            lb += sum(1 for tt, _ in b if tt == t)
        return oe, v
    oe, v = mirror(arm_a, arm_b)
    assert r["n_a"] == 6 and r["n_b"] == 6
    assert r["events_a"] == 4 and r["events_b"] == 5
    assert abs(r["o_minus_e"] - oe) < 1e-12
    assert abs(r["v"] - v) < 1e-12
    assert abs(r["z"] - oe / math.sqrt(v)) < 1e-12
    # b's events are earlier -> a survives longer -> O_a < E_a
    assert r["z"] < 0

    # identical arms: z == 0 exactly (O-E telescopes to 0)
    same = logrank_test(da, da, "t", "e").collect()[0]
    assert abs(same["z"]) < 1e-12


def test_paired_t_reference(spark):
    """Paired t vs the textbook python mirror; zero-variance and
    n < 2 guards."""
    import math

    from hadron_spark.operators.robust import paired_t

    ds = [5, -3, 8, 2, -1, 7, 4, -2, 6, 3]
    df = spark.createDataFrame([(d,) for d in ds], "d long")
    r = paired_t(df, "d").collect()[0]
    n = len(ds)
    m = sum(ds) / n
    s2 = sum((x - m) ** 2 for x in ds) / (n - 1)
    t_ref = m / math.sqrt(s2 / n)
    assert r["n"] == n and r["mean_diff"] == m
    assert abs(r["t"] - t_ref) < 1e-12

    flat = paired_t(
        spark.createDataFrame([(4,), (4,), (4,)], "d long"), "d"
    ).collect()[0]
    assert flat["t"] is None and flat["mean_diff"] == 4.0
    single = paired_t(
        spark.createDataFrame([(4,)], "d long"), "d"
    ).collect()[0]
    assert single["t"] is None


def test_restricted_mean_survival_reference(spark):
    """RMST vs a python step-integral mirror; tau inside and beyond
    the last event; uncensored sanity (tau past max = plain mean);
    validation."""
    import pytest

    from hadron_spark.operators.survival import restricted_mean_survival

    data = [(2, 1), (3, 1), (3, 0), (5, 1), (5, 1), (7, 0), (8, 1),
            (8, 1), (8, 0), (10, 0), (12, 1), (4, 0)]
    df = spark.createDataFrame(data, "t long, e int")

    def mirror(tau):
        from collections import Counter

        times = sorted({t for t, _ in data})
        d = Counter(t for t, e in data if e == 1)
        c = Counter(t for t, e in data if e == 0)
        n = len(data)
        at_risk, s = n, 1.0
        curve = []  # (t, S(t))
        for t in times:
            if d[t] > 0:
                s = s * (1.0 - d[t] / at_risk)
            curve.append((t, s))
            at_risk -= d[t] + c[t]
        area = min(times[0], tau) * 1.0
        for i, (t, sv) in enumerate(curve):
            t_next = curve[i + 1][0] if i + 1 < len(curve) else tau
            width = max(min(t_next, tau) - min(t, tau), 0)
            area += sv * width
        return area

    for tau in (6, 9, 20):
        r = restricted_mean_survival(df, "t", "e", tau).collect()[0]
        assert r["tau"] == tau and r["n"] == len(data)
        assert r["rmst"] == pytest.approx(mirror(tau), abs=1e-12), tau

    # no censoring, tau beyond max: RMST == plain mean duration
    unc = [(t, 1) for t in (1, 2, 2, 3, 4)]
    r = restricted_mean_survival(
        spark.createDataFrame(unc, "t long, e int"), "t", "e", 100
    ).collect()[0]
    assert r["rmst"] == pytest.approx(sum(t for t, _ in unc) / len(unc))

    with pytest.raises(ValueError, match="tau"):
        restricted_mean_survival(df, "t", "e", 0)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=5),
                  st.integers(min_value=-4, max_value=4)),
        min_size=4,
        max_size=36,
    )
)
def test_trend_and_paired_rank_property(spark, rows):
    """Hypothesis: on ANY small tied dataset, mann_kendall's S and
    two-axis tie-corrected z match brute force, and
    wilcoxon_signed_rank's W+/z match the midrank mirror — the tie
    interactions fixed fixtures can miss."""
    import math
    from collections import Counter

    from hadron_spark.operators.robust import (
        mann_kendall,
        wilcoxon_signed_rank,
    )

    df = spark.createDataFrame(rows, "t long, y long")

    # --- mann_kendall brute force (ties on both axes) ---
    n = len(rows)
    s_ref = 0
    for i in range(n):
        for j in range(n):
            if rows[i][0] < rows[j][0]:
                d = rows[j][1] - rows[i][1]
                s_ref += (d > 0) - (d < 0)
    r = mann_kendall(df, "t", "y").collect()[0]
    assert r["s"] == s_ref and r["n"] == n
    if r["z"] is not None:
        tt = Counter(t for t, _ in rows).values()
        uu = Counter(y for _, y in rows).values()

        def k(f, sizes):
            return sum(f(x) for x in sizes)

        vn = (
            n * (n - 1) * (n - 2)
            * (n * (n - 1) * (2 * n + 5)
               - k(lambda x: x * (x - 1) * (2 * x + 5), tt)
               - k(lambda x: x * (x - 1) * (2 * x + 5), uu))
            + 2 * k(lambda x: x * (x - 1) * (x - 2), tt)
            * k(lambda x: x * (x - 1) * (x - 2), uu)
            + 9 * (n - 2) * k(lambda x: x * (x - 1), tt)
            * k(lambda x: x * (x - 1), uu)
        )
        var = vn / (18 * n * (n - 1) * (n - 2))
        z_ref = (s_ref - (s_ref > 0) + (s_ref < 0)) / math.sqrt(var)
        assert abs(r["z"] - z_ref) < 1e-9

    # --- wilcoxon on the value column as paired diffs ---
    nz = [y for _, y in rows if y != 0]
    got = wilcoxon_signed_rank(df, "y").collect()
    if not nz:
        assert got == []
        return
    w = got[0]
    cnt = Counter(abs(d) for d in nz)
    r2, before = {}, 0
    for v in sorted(cnt):
        r2[v] = 2 * before + cnt[v] + 1
        before += cnt[v]
    wp2 = sum(r2[abs(d)] for d in nz if d > 0)
    m = len(nz)
    t_term = sum(t**3 - t for t in cnt.values())
    assert w["n"] == m and w["w_pos_x2"] == wp2
    assert w["w_pos_x2"] + w["w_neg_x2"] == m * (m + 1)
    rad = (2 * m * (m + 1) * (2 * m + 1) - t_term) / 12
    z_ref = (wp2 - m * (m + 1) / 2) / math.sqrt(rad)
    assert abs(w["z"] - z_ref) < 1e-9


def test_expectations_suite(spark):
    """Expectation suite: one-pass conditional aggregates vs hand
    counts; unique via exact distinct; grouped run; gate raises with
    the failing checks named; validation."""
    import pytest

    from hadron_spark.operators.expectations import (
        accepted_values,
        custom,
        expect,
        fail_on_violations,
        in_range,
        matches,
        not_null,
        unique,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "a@x.com", 10, "US"),
        (2, None, 500, "US"),
        (3, "bad-email", -5, "ZZ"),
        (3, "c@y.org", 20, "DE"),
    ]
    df = spark.createDataFrame(rows, "id long, email string, v long, cc string")
    suite = [
        not_null("email"),
        unique("id"),
        in_range("v", 0, 100),
        accepted_values("cc", ["US", "DE", "FR"]),
        matches("email", r"^[^@]+@[^@]+\.[a-z]+$"),
        custom("v_even", "v", F.col("v") % 2 != 0),
    ]
    rep = {r["check"]: r for r in expect(df, suite).collect()}
    assert all(r["n_rows"] == 4 for r in rep.values())
    assert rep["not_null(email)"]["n_violations"] == 1
    assert rep["unique(id)"]["n_violations"] == 1  # one surplus dup
    assert rep["in_range(v,0,100)"]["n_violations"] == 2  # 500, -5
    assert rep["accepted_values(cc)"]["n_violations"] == 1  # ZZ
    assert rep["matches(email)"]["n_violations"] == 1  # bad-email
    assert rep["v_even"]["n_violations"] == 1  # -5
    assert not rep["unique(id)"]["pass"]

    # grouped: per-country violation counts
    g = {
        (r["cc"], r["check"]): r["n_violations"]
        for r in expect(df, [in_range("v", 0, 100)], ["cc"]).collect()
    }
    assert g[("US", "in_range(v,0,100)")] == 1
    assert g[("ZZ", "in_range(v,0,100)")] == 1
    assert g[("DE", "in_range(v,0,100)")] == 0

    with pytest.raises(AssertionError, match="unique"):
        fail_on_violations(expect(df, suite))
    # a clean suite passes silently
    fail_on_violations(expect(df, [not_null("id")]))

    with pytest.raises(ValueError, match="empty"):
        expect(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        expect(df, [not_null("id"), not_null("id")])


def test_expectations_foreign_key(spark):
    """FK expectation: orphan counting, null child keys ignored,
    report unions with expect()'s rows."""
    from hadron_spark.operators.expectations import (
        expect,
        foreign_key,
        not_null,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    rep = foreign_key(child, "fk", parent, "pk").collect()[0]
    assert rep["n_rows"] == 4 and rep["n_violations"] == 1  # 99 only
    assert not rep["pass"]

    combined = expect(child, [not_null("fk")]).unionByName(
        foreign_key(child, "fk", parent, "pk")
    )
    assert combined.count() == 2


def test_ols_fit_reference(spark):
    """Cramer-rule OLS vs numpy lstsq on 1- and 2-predictor designs;
    exact fit recovers planted coefficients; collinear design NULL;
    validation."""
    import numpy as np
    import pytest

    from hadron_spark.operators.robust import ols_fit

    rng = np.random.RandomState(5)
    x1 = rng.randint(0, 50, 40)
    x2 = rng.randint(-20, 20, 40)
    noise = rng.randint(-3, 4, 40)
    yy = 7 + 3 * x1 - 2 * x2 + noise
    rows = [
        (int(a), int(b), int(c)) for a, b, c in zip(x1, x2, yy)
    ]
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")

    r = ols_fit(df, "y", ["x1", "x2"]).collect()[0]
    X = np.column_stack([np.ones(len(x1)), x1, x2])
    beta, *_ = np.linalg.lstsq(X, yy.astype(float), rcond=None)
    assert r["n"] == 40
    for got, want in zip((r["b0"], r["b1"], r["b2"]), beta):
        assert abs(got - want) < 1e-9
    resid = yy - X @ beta
    sst = ((yy - yy.mean()) ** 2).sum()
    assert abs(r["r2"] - (1 - (resid**2).sum() / sst)) < 1e-9

    # single predictor
    r1 = ols_fit(df, "y", ["x1"]).collect()[0]
    X1 = np.column_stack([np.ones(len(x1)), x1])
    beta1, *_ = np.linalg.lstsq(X1, yy.astype(float), rcond=None)
    assert abs(r1["b0"] - beta1[0]) < 1e-9
    assert abs(r1["b1"] - beta1[1]) < 1e-9

    # exact noiseless fit: r2 == 1 (up to the two divisions)
    exact = spark.createDataFrame(
        [(int(x), int(5 + 2 * x)) for x in range(10)], "x long, y long"
    )
    re = ols_fit(exact, "y", ["x"]).collect()[0]
    assert re["b0"] == pytest.approx(5.0, abs=1e-12)
    assert re["b1"] == pytest.approx(2.0, abs=1e-12)
    assert re["r2"] == pytest.approx(1.0, abs=1e-12)

    # collinear: x2 = 2*x1 -> singular -> NULL betas
    col = spark.createDataFrame(
        [(int(x), int(2 * x), int(x + 1)) for x in range(8)],
        "x1 long, x2 long, y long",
    )
    rc = ols_fit(col, "y", ["x1", "x2"]).collect()[0]
    assert rc["b0"] is None and rc["b1"] is None and rc["b2"] is None

    with pytest.raises(ValueError, match="predictors"):
        ols_fit(df, "y", ["x1", "x2", "x1"])


def test_survival_group_cols(spark):
    """KM and log-rank honor group_cols: per-group curves equal the
    separately-computed ungrouped runs."""
    from hadron_spark.operators.survival import kaplan_meier, logrank_test

    d1 = [(2, 1), (3, 0), (5, 1), (7, 1), (9, 0)]
    d2 = [(1, 1), (2, 1), (4, 0), (6, 1), (8, 1), (9, 0)]
    both = spark.createDataFrame(
        [("g1", t, e) for t, e in d1] + [("g2", t, e) for t, e in d2],
        "g string, t long, e int",
    )
    grouped = {
        (r["g"], r["t"]): r["survival"]
        for r in kaplan_meier(both, "t", "e", ["g"]).collect()
    }
    for g, data in (("g1", d1), ("g2", d2)):
        solo = {
            r["t"]: r["survival"]
            for r in kaplan_meier(
                spark.createDataFrame(data, "t long, e int"), "t", "e"
            ).collect()
        }
        for t, s in solo.items():
            assert grouped[(g, t)] == s, (g, t)

    # grouped log-rank: each group compares its own arms
    arms = both.withColumn("arm", (F.col("t") % 2 == 0).cast("int"))
    gl = {
        r["g"]: r
        for r in logrank_test(
            arms.filter("arm = 0"), arms.filter("arm = 1"), "t", "e", ["g"]
        ).collect()
    }
    for g, data in (("g1", d1), ("g2", d2)):
        solo_df = spark.createDataFrame(data, "t long, e int")
        a = solo_df.filter(F.col("t") % 2 != 0)
        b = solo_df.filter(F.col("t") % 2 == 0)
        solo = logrank_test(a, b, "t", "e").collect()[0]
        assert gl[g]["o_minus_e"] == solo["o_minus_e"], g
        assert gl[g]["v"] == solo["v"], g


def test_dispersion_test_reference(spark):
    """Index of dispersion vs the python mirror; Poisson-ish ~ 1,
    constant -> 0, bursty >> 1; zero-sum guard."""
    from hadron_spark.operators.robust import dispersion_test

    series = {
        "flat": [4, 4, 4, 4, 4],
        "bursty": [0, 0, 20, 0, 0, 18, 0],
        "mixed": [3, 5, 4, 6, 2, 4, 5],
        "zero": [0, 0, 0],
    }
    rows = [(g, v) for g, vs in series.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    got = {r["g"]: r for r in dispersion_test(df, "x", ["g"]).collect()}
    for g, vs in series.items():
        n, s = len(vs), sum(vs)
        r = got[g]
        assert r["n"] == n and r["mean"] == s / n
        if s == 0:
            assert r["chi2"] is None and r["vmr"] is None
            continue
        chi2 = (n * sum(v * v for v in vs) - s * s) / s
        assert r["chi2"] == chi2 and r["vmr"] == chi2 / (n - 1)
    assert got["flat"]["vmr"] == 0.0
    assert got["bursty"]["vmr"] > 10
    assert 0.3 < got["mixed"]["vmr"] < 3


def test_grouping_sets_grand_total_on_empty_input(spark, sf_dir, tmp_path):
    """ROLLUP (q14) and CUBE (q33) over an empty lineitem: the grand
    total row counts n = 0 like the DuckDB oracle, never a NULL from
    summing zero cells."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadron_spark.queries import ORACLES, QUERIES

    schema = pq.read_schema(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "lineitem.parquet")
    pq.write_table(pa.Table.from_pylist([], schema=schema), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")

    def rows(dicts):
        return sorted(repr(sorted(d.items())) for d in dicts)

    for name in ("q14_rollup", "q33_cube"):
        got = [r.asDict() for r in QUERIES[name](spark, str(tmp_path)).collect()]
        cur = con.execute(ORACLES[name])
        cols = [c[0] for c in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        assert rows(got) == rows(want), name
        assert [d["n"] for d in got] == [0], name
