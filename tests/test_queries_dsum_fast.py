"""Equivalence pins for the split-long exact decimal-sum fast path
(queries.dsum / dsum_dec / dprodsum / _split4_*, optimization r08).

The fast path must be bit-identical to the DECIMAL(18,4) accumulation
it replaced for every input in its documented invariant class:
finite ≤4-decimal doubles, NULLs allowed.  |x| < 9·10⁸ takes the
rint(x·10⁴) quantization; the [9·10⁸, 10¹⁴) band falls back to the
decimal cast itself and must still sum exactly (never drop the row).
NaN and ±Inf quantize to NULL exactly like the decimal cast does.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hadron_spark.queries import (
    _dec,
    _split4_merge,
    _split4_partials,
    _split4_value,
    dprodsum,
    dsum,
    dsum_dec,
)


def _ref_dsum(c, alias):
    return F.sum(_dec(c)).cast("decimal(18,4)").cast("double").alias(alias)


def _mk_values(n=4000, seed=11):
    rng = random.Random(seed)
    vals = []
    for _ in range(n):
        pick = rng.random()
        if pick < 0.05:
            vals.append(None)
        elif pick < 0.15:
            # extremes near the invariant bound (±9·10⁸ exclusive)
            vals.append(rng.choice([1, -1]) * rng.randint(0, 8_999_999_999_999) / 1e4)
        else:
            # typical money values, 0-4 decimal digits, both signs
            scale = 10 ** rng.randint(0, 4)
            vals.append(rng.choice([1, -1]) * rng.randint(0, 8 * 10**8) / scale)
    # adversarial in-class values: zeros, single units, bound-adjacent.
    # (5-decimal values like 0.00005 are OUT of class — x·10⁴ is not an
    # integer there, and HALF_UP-of-shortest-repr vs binary rounding
    # legitimately differ: that divergence is the documented reason for
    # the ≤4-decimal precondition.)
    vals += [0.0, -0.0, 1e-4, -1e-4, 899_999_999.9999, -899_999_999.9999]
    return vals


def test_dsum_fast_matches_decimal_reference(spark):
    vals = _mk_values()
    rows = [(i % 7, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, x double")
    got = {
        r["k"]: (r["fast"], r["ref"])
        for r in df.groupBy("k")
        .agg(dsum("x", "fast"), _ref_dsum("x", "ref"))
        .collect()
    }
    assert len(got) == 7
    for k, (fast, ref) in got.items():
        assert fast == ref, f"group {k}: fast={fast!r} ref={ref!r}"


def test_dsum_dec_matches_decimal_reference(spark):
    df = spark.createDataFrame([(v,) for v in _mk_values(seed=12)], "x double")
    row = df.agg(
        dsum_dec("x").alias("fast"),
        F.sum(_dec("x")).cast("decimal(18,4)").alias("ref"),
    ).first()
    assert row["fast"] == row["ref"]


def test_dsum_out_of_class_inputs_null_like_decimal_cast(spark):
    # NaN/±Inf quantize to NULL (the decimal cast nulls them too); a
    # group of only such rows sums to NULL on both paths
    bad = [float("nan"), float("inf"), float("-inf")]
    df = spark.createDataFrame([(0, v) for v in bad], "k int, x double")
    row = df.groupBy("k").agg(dsum("x", "fast"), _ref_dsum("x", "ref")).first()
    assert row["fast"] is None and row["ref"] is None


def test_dprodsum_matches_decimal_product_reference(spark):
    rng = random.Random(13)
    rows = []
    for i in range(4000):
        price = rng.randint(0, 10**9) / 100  # ≤ 10⁷, 2-decimal
        disc = rng.randint(0, 1000) / 10**4  # 0.0000-0.1000
        rows.append((i % 5, price, disc))
    rows += [(0, None, 0.05), (1, 100.0, None), (2, 0.0, 0.0)]
    df = spark.createDataFrame(rows, "k int, p double, d double")
    ref_prod = _dec("p") * (F.lit(1).cast("decimal(18,4)") - _dec("d"))
    from hadron_spark.queries import _scaled4

    got = (
        df.groupBy("k")
        .agg(
            dprodsum("p", F.lit(10**4) - _scaled4("d"), "fast"),
            F.sum(ref_prod).cast("decimal(18,4)").cast("double").alias("ref"),
        )
        .collect()
    )
    assert len(got) == 5
    for r in got:
        assert r["fast"] == r["ref"], f"k={r['k']}: {r['fast']!r} != {r['ref']!r}"


def test_split4_two_level_matches_one_level(spark):
    # partial → merge re-aggregation (q14/q33/q57/q70 shape) must be
    # bit-identical to the one-level dsum under any intermediate keying
    vals = _mk_values(n=2000, seed=14)
    rows = [(i % 11, i % 3, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, salt int, x double")
    cells = df.groupBy("k", "salt").agg(*_split4_partials("x", "_s"))
    two = (
        cells.groupBy("k")
        .agg(*_split4_merge("_s"))
        .select("k", _split4_value("_s").cast("double").alias("fast"))
    )
    one = df.groupBy("k").agg(_ref_dsum("x", "ref"))
    got = {r["k"]: r["fast"] for r in two.collect()}
    for r in one.collect():
        assert got[r["k"]] == r["ref"], f"k={r['k']}"


def test_dsum_plan_has_no_decimal_sum_buffer(spark):
    # the whole point: the aggregate sums LONGs (primitive buffers),
    # recombining in decimal once per group
    df = spark.createDataFrame([(1, 2.5)], "k int, x double")
    plan = (
        df.groupBy("k")
        .agg(dsum("x", "t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # the old shape's DECIMAL(28,4) sum buffer must be gone
    assert "decimal(28,4)" not in plan
    # and the partial-aggregate buffers are primitive LONGs (sum#NL)
    assert re.search(r"partial_sum\(.*\n.*sum#\d+L, sum#\d+L, sum#\d+L", plan) or re.search(
        r"output=\[.*sum#\d+L, sum#\d+L, sum#\d+L\]", plan
    ), plan


def _band_values(rng, n):
    """Finite values in the [9·10⁸, 10¹⁴) fallback band, both signs;
    per-group totals stay inside DECIMAL(18,4)."""
    return [
        rng.choice([1, -1]) * rng.randint(9 * 10**12, 10**16) / 1e4
        for _ in range(n)
    ]


def test_dsum_band_value_is_not_dropped(spark):
    # {1e9, 1.0}: the decimal reference gives 1000000001.0; a fast path
    # that nulls the out-of-band row would give 1.0
    df = spark.createDataFrame([(1e9,), (1.0,)], "x double")
    row = df.agg(dsum("x", "fast"), dsum_dec("x").alias("dec")).first()
    assert row["fast"] == 1000000001.0
    assert str(row["dec"]) == "1000000001.0000"


def test_dsum_band_matches_decimal_reference(spark):
    rng = random.Random(15)
    vals = _mk_values(n=1000, seed=16) + _band_values(rng, 300)
    vals += [9e8, -9e8, 899_999_999.9999, 99_999_999_999.9999, 1.5e13, -3e13]
    rng.shuffle(vals)
    rows = [(i % 7, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, x double")
    got = (
        df.groupBy("k")
        .agg(
            dsum("x", "fast"),
            _ref_dsum("x", "ref"),
            dsum_dec("x").alias("fast_dec"),
            F.sum(_dec("x")).cast("decimal(18,4)").alias("ref_dec"),
        )
        .collect()
    )
    assert len(got) == 7
    for r in got:
        assert r["fast"] == r["ref"], f"k={r['k']}: {r['fast']!r} != {r['ref']!r}"
        assert r["fast_dec"] == r["ref_dec"], f"k={r['k']}"


def test_dprodsum_band_matches_decimal_product_reference(spark):
    rng = random.Random(17)
    rows = []
    for i in range(2000):
        if i % 4 == 0:  # band prices, |price·frac| inside the long product
            price = rng.choice([1, -1]) * rng.randint(9 * 10**10, 9 * 10**11) / 100
        else:
            price = rng.randint(0, 10**9) / 100
        rows.append((i % 5, price, rng.randint(0, 1000) / 10**4))
    rows += [(0, 1e9, 0.0), (1, 8_999_999_999.99, 0.0999)]
    df = spark.createDataFrame(rows, "k int, p double, d double")
    ref_prod = _dec("p") * (F.lit(1).cast("decimal(18,4)") - _dec("d"))
    from hadron_spark.queries import _scaled4

    got = (
        df.groupBy("k")
        .agg(
            dprodsum("p", F.lit(10**4) - _scaled4("d"), "fast"),
            F.sum(ref_prod).cast("decimal(18,4)").cast("double").alias("ref"),
        )
        .collect()
    )
    assert len(got) == 5
    for r in got:
        assert r["fast"] == r["ref"], f"k={r['k']}: {r['fast']!r} != {r['ref']!r}"


def test_dprodsum_past_long_product_raises(spark):
    # |price| ≥ 9·10⁹ can overflow the scale-8 long product: under ANSI
    # (the session default) that raises instead of summing a wrapped value
    from hadron_spark.queries import _scaled4

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(1e13, 0.0)], "p double, d double")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(dprodsum("p", F.lit(10**4) - _scaled4("d"), "fast")).collect()
