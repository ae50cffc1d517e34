"""Query registry: every implemented operator from SURVEY.md §2 (plus
the LLM-pipeline extensions) exercised as a named query with a DuckDB
oracle where SQL-expressible.

Each entry: name → (builder(spark, sf_dir) → DataFrame, oracle SQL | None).
Builders go through the engine modules (ops/joins/mapreduce/llm) so
the registry doubles as the engine's integration surface.

Determinism contract with the oracle (driver hashes values):
- double SUM/AVG go through DECIMAL(18,4) accumulation then cast back
  to double — decimal addition is exact + associative, so both
  engines produce bit-identical doubles regardless of row order.
- the exact decimal sum is RE-ROUNDED to DECIMAL(18,4) before the
  double cast: a scale-8 product sum whose scaled integer exceeds
  2^53 converts to double with TWO roundings in one engine and one
  in the other (1-ulp divergence, observed at sf0.1); at scale 4 the
  scaled integer stays under 2^53 so both engines perform a single
  correctly-rounded division and agree bit-for-bit.
- every computed column is aliased identically in Spark and SQL.
- top-k / first-per-key queries carry a unique tie-break column.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadron_spark.operators import joins, ops
from hadron_spark.llm import dedup, similarity, textstats
from hadron_spark.sources.taps import Tap, concat_taps, merge_taps

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    df = Tap([f"{sf_dir}/{table}.parquet"]).read(spark)
    # events.ts arrives as either parquet TIMESTAMP(NANOS) (read as
    # bigint nanos under nanosAsLong — normalize via integer `div`,
    # matching DuckDB's nanos→micros truncation) or TIMESTAMP(MICROS)
    # (read as TIMESTAMP_NTZ — cast to TIMESTAMP; the session tz is
    # pinned UTC so the cast is value-preserving). Downstream code
    # always sees a plain TIMESTAMP.
    from pyspark.sql.types import LongType, TimestampType

    if table == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(dt, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_STREAM_STAGING: dict[str, str] = {}
_STREAM_SCHEMA: dict[str, object] = {}


def events_stream(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """Stage events.parquet behind a directory symlink (file-stream
    sources need a directory) and return it as an unbounded stream.

    The staging dir is cached per sf_dir and removed at interpreter
    exit — repeated query runs reuse one symlink dir instead of
    leaking a mkdtemp per call (ADVICE r1).

    The stream schema is probed from the batch footer rather than
    hard-coded, so the source works whether the file stores ts as
    TIMESTAMP(NANOS) (read as bigint under nanosAsLong) or
    TIMESTAMP(MICROS); either way `ts` is normalized to a timestamp.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import LongType

    from hadron_spark.streaming import stream_tap

    d = _STREAM_STAGING.get(sf_dir)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=prefix)
        os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
        _STREAM_STAGING[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    # footer-probe once per sf_dir: the probe spins a small driver-side
    # job per call otherwise — repeated streaming queries in one
    # session paid it every invocation (optimization r07).  Keyed on
    # sf_dir ALONE (r08, ADVICE r07): the parquet footer schema is a
    # session-independent StructType, and the old (sf_dir, id(spark))
    # key both leaked per-session entries and could alias a recycled
    # id() after a stopped session was garbage-collected.
    schema = _STREAM_SCHEMA.get(sf_dir)
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        _STREAM_SCHEMA[sf_dir] = schema
    raw = stream_tap(spark, d, schema)
    if isinstance(schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # watermarks require TIMESTAMP (with tz); the session tz is
        # pinned to UTC so the NTZ→TIMESTAMP cast is value-preserving
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _dec(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,4)")


# --- exact decimal-sum fast path (optimization r08, guide §2.3/§5) ---------
#
# SUM(CAST(x AS DECIMAL(18,4))) carries a DECIMAL(28,4) buffer whose
# per-row update allocates BigDecimal objects (the >18-digit buffer is
# non-compact); measured ~0.5 s/cell at sf0.1 on every dsum query.  The
# fast path quantizes each double to its scaled-long unscaled value
# (rint(x·10⁴) — bit-identical to the decimal cast under the invariant
# below), splits it into three overlap-free 21-bit components, sums each
# in a PRIMITIVE long buffer (codegen, no allocation), and recombines
# exactly in DECIMAL(38,0) once per group.  Long addition of the
# components is exact and associative, so the result is bit-identical
# to the decimal accumulation for every row order and partitioning.
#
# INVARIANT (holds for every money/value column in the star schema and
# is the documented precondition of dsum/dsum_dec/dprodsum):
#  - inputs are finite doubles exactly representing ≤4-decimal values
#    (x·10⁴ is an integer; all generator money columns are 2-decimal),
#  - |x| < 9·10⁸ takes the fast quantization (then ulp(x) < 2·10⁻⁴, so
#    the 4-decimal value is the ONLY ≤4-decimal value in x's rounding
#    interval: Spark's decimal cast — HALF_UP of the shortest
#    round-trip repr — and rint(x·10⁴) both recover the exact scaled
#    integer).  Beyond that bound the two quantizations can
#    legitimately differ by 1 unit, so out-of-band rows fall back to
#    the decimal cast itself, CAST(CAST(x AS DECIMAL(18,4)) * 10⁴ AS
#    BIGINT): exact for |x| < 10¹⁴, NULL for NaN/±Inf, and past
#    DECIMAL(18,4) the cast's own overflow path (NULL, or an error
#    under ANSI) — the same answer the decimal accumulation gives,
#    never a silently dropped row,
#  - so |scaled| < 10¹⁸ and the sign-carrying component hi = s >> 42
#    stays under 2¹⁸ (dprodsum's scale-8 product under 2²¹): with
#    fewer than 2⁴¹ ≈ 2.2·10¹² accepted rows per group every component
#    sum stays under 2⁶³ (~10¹² rows per group at the 100 TB target).
# Equivalence is pinned by tests/test_queries_dsum_fast.py (property
# test over the invariant class incl. NULLs/negatives/extremes and the
# [9·10⁸, 10¹⁴) fallback band) and by the full-registry oracle sweeps
# at sf0.001/0.01/0.1.

_SPLIT_MASK = (1 << 21) - 1


def _scaled4(c) -> F.Column:
    """Unscaled BIGINT of CAST(x AS DECIMAL(18,4)) under the dsum
    invariant: rint(x·10⁴) for |x| < 9·10⁸, the decimal cast itself
    beyond; NULL for NULL/NaN/±Inf."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(
        F.abs(col) < F.lit(9.0e8), F.rint(col * F.lit(1.0e4)).cast("bigint")
    ).otherwise((col.cast("decimal(18,4)") * F.lit(10**4)).cast("bigint"))


def _split_sum(s: F.Column) -> F.Column:
    """Exact Σs as DECIMAL(38,0) via three primitive long sums of
    overlap-free 21-bit components (s = hi·2⁴² + mid·2²¹ + lo with
    lo, mid ∈ [0, 2²¹), hi sign-carrying — the two's-complement
    shift/mask identity, exact for negatives)."""
    lo = F.sum(s.bitwiseAND(F.lit(_SPLIT_MASK)))
    mid = F.sum(F.shiftright(s, 21).bitwiseAND(F.lit(_SPLIT_MASK)))
    hi = F.sum(F.shiftright(s, 42))
    return (
        hi.cast("decimal(38,0)") * F.lit(1 << 42)
        + mid.cast("decimal(38,0)") * F.lit(1 << 21)
        + lo.cast("decimal(38,0)")
    )


def _unscale4(total: F.Column) -> F.Column:
    """DECIMAL(38,0) count of 10⁻⁴ units → exact DECIMAL(18,4) value
    (the division by 10⁴ of a scale-4 total is exact at result scale 6;
    the (18,4) cast nulls >18-digit totals exactly like the decimal
    sum's overflow path)."""
    return (total / F.lit(10**4)).cast("decimal(18,4)")


def dsum_dec(c) -> F.Column:
    """Exact DECIMAL(18,4) sum of a ≤4-decimal double column — the
    split-long fast path (see invariant above); bit-identical to
    SUM(CAST(c AS DECIMAL(18,4))) re-rounded to DECIMAL(18,4)."""
    return _unscale4(_split_sum(_scaled4(c)))


def dsum(c, alias: str) -> F.Column:
    """Deterministic double sum via exact decimal accumulation
    (split-long fast path, optimization r08)."""
    return dsum_dec(c).cast("double").alias(alias)


def _split4_partials(c, prefix: str) -> list[F.Column]:
    """Two-level form of dsum: the three long component sums as named
    partial-aggregate columns (merge with _split4_merge, read the exact
    DECIMAL(18,4) value with _split4_value) — long partials are exact +
    associative, so any re-aggregation tree is bit-identical to the
    one-level sum (same invariant as dsum)."""
    s = _scaled4(c)
    return [
        F.sum(s.bitwiseAND(F.lit(_SPLIT_MASK))).alias(f"{prefix}0"),
        F.sum(F.shiftright(s, 21).bitwiseAND(F.lit(_SPLIT_MASK))).alias(f"{prefix}1"),
        F.sum(F.shiftright(s, 42)).alias(f"{prefix}2"),
    ]


def _split4_merge(prefix: str) -> list[F.Column]:
    return [F.sum(f"{prefix}{i}").alias(f"{prefix}{i}") for i in range(3)]


def _split4_value(prefix: str) -> F.Column:
    """Exact DECIMAL(18,4) total from merged split components."""
    return _unscale4(
        F.col(f"{prefix}2").cast("decimal(38,0)") * F.lit(1 << 42)
        + F.col(f"{prefix}1").cast("decimal(38,0)") * F.lit(1 << 21)
        + F.col(f"{prefix}0").cast("decimal(38,0)")
    )


def dprodsum(price, frac_unscaled: F.Column, alias: str) -> F.Column:
    """Exact double sum of price·frac where frac arrives as its scale-4
    unscaled long (e.g. 10⁴ − scaled4(discount) for price·(1−disc)):
    per-row product is a scale-8 long (|price| < 9·10⁹ and |frac| ≤ 10⁵
    keep it < 2⁶³; past that the long multiply overflows, which raises
    ARITHMETIC_OVERFLOW under ANSI, the session default), split-summed
    exactly, then HALF_UP-rounded from
    scale 8 to scale 4 in pure DECIMAL(38,0) integer arithmetic —
    bit-identical to CAST(SUM(dec·dec) AS DECIMAL(18,4)) (q76 lesson:
    pmod-based half-away rounding, pinned by the dsum property test)."""
    total = _split_sum(_scaled4(price) * frac_unscaled)  # scale-8 units
    sign = F.when(total < 0, F.lit(-1)).otherwise(F.lit(1))
    a = F.abs(total) + F.lit(5000)
    u4 = sign * ((a - F.pmod(a, F.lit(10**4))) / F.lit(10**4))
    return _unscale4(u4).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# A. aggregation core (SURVEY §2.4: A1-A4 reducer/combiner folds)
# ---------------------------------------------------------------------------


@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE)
        AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H-Q1-style pricing summary — the reference's reducer-fold
    archetype (examples/WordCount.hs:26-29 generalized; combiner =
    automatic partial agg). groupBy two low-cardinality keys: partial
    agg shrinks 100 TB of lineitem to |groups|·|partitions| rows
    before the exchange."""
    li = load(spark, sf_dir, "lineitem")
    from hadron_spark.operators.mapreduce import monoid_reduce

    one_minus_disc = F.lit(10**4) - _scaled4("l_discount")  # scale-4 unscaled
    return monoid_reduce(
        li.filter(F.col("l_shipdate") <= "1998-09-02"),
        ["l_returnflag", "l_linestatus"],
        [
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dprodsum("l_extendedprice", one_minus_disc, "sum_disc_price"),
            (dsum_dec("l_quantity").cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


@_register(
    "q02_wordcount",
    """
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q02(spark, sf_dir):
    """The reference's flagship example (examples/WordCount.hs:21-29):
    tokenize → explode → count."""
    return textstats.word_count(load(spark, sf_dir, "documents"))


@_register(
    "q03_filter_project",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    """,
)
def q03(spark, sf_dir):
    """Map-side filter+project (M1) — predicate and column pruning
    reach the parquet scan (PushedFilters/ReadSchema)."""
    c = load(spark, sf_dir, "customer")
    return ops.project(
        ops.filter_rows(c, (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0)),
        "c_custkey", "c_name", "c_acctbal",
    )


@_register(
    "q04_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q04(spark, sf_dir):
    """Global top-k (SURVEY §2.6 gap, declared free capability):
    TakeOrderedAndProject — per-partition heap, no global sort."""
    o = load(spark, sf_dir, "orders")
    return ops.top_k(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


@_register("q05_distinct_parts", "SELECT DISTINCT p_brand, p_type FROM part")
def q05(spark, sf_dir):
    """distinct/dedup (A5) — one shuffle, map-side partial distinct."""
    return ops.distinct_rows(load(spark, sf_dir, "part").select("p_brand", "p_type"))


@_register(
    "q06_first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) t
    WHERE rn = 1
    """,
)
def q06(spark, sf_dir):
    """firstBy 'first object per key wins' (Controller.hs:1257-1274)
    with a deterministic winner."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    # plain-name order = ascending nulls-first, which routes first_by
    # through its partial-aggregating min_by shape (optimization r07)
    return ops.first_by(o, ["o_custkey"], ["o_orderdate", "o_orderkey"])


# ---------------------------------------------------------------------------
# B. joins (SURVEY §2.5: J1-J9 monoidal n-way, broadcast, semi/anti, as-of)
# ---------------------------------------------------------------------------


@_register(
    "q07_join_nway_revenue",
    """
    SELECT c_custkey, c_name,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name
    """,
)
def q07(spark, sf_dir):
    """n-way required (inner) monoidal join (joinStep,
    Controller.hs:1157-1221) + revenue fold. Shuffles: lineitem⋈orders
    on orderkey, then re-key to custkey for customer ⋈ + agg."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), F.col("o_custkey").alias("custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    ol = joins.monoidal_join(["orderkey"], [joins.JoinSide(o), joins.JoinSide(li)])
    col = joins.monoidal_join(["custkey"], [joins.JoinSide(c), joins.JoinSide(ol)])
    one_minus_disc = F.lit(10**4) - _scaled4("l_discount")  # scale-4 unscaled
    return col.groupBy(F.col("custkey").alias("c_custkey"), "c_name").agg(
        dprodsum("l_extendedprice", one_minus_disc, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_register(
    "q08_join_optional_fill",
    """
    SELECT c_custkey, c_name,
      CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
      COALESCE(spent, 0.0) AS spent
    FROM customer
    LEFT JOIN (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS spent
      FROM orders GROUP BY o_custkey) o
      ON c_custkey = o_custkey
    """,
)
def q08(spark, sf_dir):
    """required + optional monoidal join with mempty fill (JOptional,
    Join.hs:49, 81-104): customers without orders emit the monoid
    identity (0, 0.0) instead of disappearing."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    o_agg = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "spent"))
    )
    out = joins.monoidal_join(
        ["custkey"],
        [joins.JoinSide(c, joins.REQUIRED), joins.JoinSide(o_agg, joins.OPTIONAL)],
        fill={"n_orders": 0, "spent": 0.0},
    )
    return out.select(
        F.col("custkey").alias("c_custkey"), "c_name", "n_orders", "spent"
    )


@_register(
    "q09_broadcast_region_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q09(spark, sf_dir):
    """Small-dim broadcast joins (J9 — the true map-side join the
    reference only claims): nation+region broadcast to every
    executor; the only shuffle is the final agg."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


@_register(
    "q10_semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
    """,
)
def q10(spark, sf_dir):
    """left-semi join (EXISTS) — beyond-reference taxonomy."""
    c = load(spark, sf_dir, "customer")
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return joins.semi_join(c, big, ["c_custkey"]).select("c_custkey", "c_name")


@_register(
    "q11_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q11(spark, sf_dir):
    """left-anti join (NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.anti_join(c, o, ["c_custkey"]).select("c_custkey", "c_name")


@_register(
    "q12_union_taps",
    """
    SELECT c_mktsegment, COUNT(*) AS n FROM (
      SELECT * FROM customer UNION ALL SELECT * FROM customer) t
    GROUP BY c_mktsegment
    """,
)
def q12(spark, sf_dir):
    """concatTaps (S2, Controller.hs:364-376): union of same-typed
    taps, then aggregate."""
    t = Tap([f"{sf_dir}/customer.parquet"])
    u = concat_taps(spark, [t, Tap(list(t.paths))])
    return u.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q13_merge_taps",
    """
    SELECT 'left' AS side, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_bal
    FROM customer
    UNION ALL
    SELECT 'right' AS side, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_bal
    FROM supplier
    """,
)
def q13(spark, sf_dir):
    """mergeTaps (S3, Controller.hs:422-439): two differently-typed
    taps unioned as a tagged sum (Either a b → `_side` tag +
    null-fill), then per-side aggregate."""
    m = merge_taps(
        spark,
        Tap([f"{sf_dir}/customer.parquet"]),
        Tap([f"{sf_dir}/supplier.parquet"]),
    )
    bal = F.coalesce(F.col("c_acctbal"), F.col("s_acctbal"))
    return m.groupBy(F.col("_side").alias("side")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(bal, "total_bal"),
    )


# ---------------------------------------------------------------------------
# C. sorts / windows / composite keys (SURVEY §2.6-2.7, O1-O2, A2)
# ---------------------------------------------------------------------------


@_register(
    "q14_rollup",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q14(spark, sf_dir):
    """rollup grouping sets — via ops.grouping_sets_from_cells, not
    native `.rollup()`: the native plan's Expand replicates every
    fact row once per grouping set (3× map-side volume here) before
    the shuffle; the cells form aggregates the fact ONCE onto the
    tiny (flag,status) cell table and derives the subtotal levels by
    re-aggregating cells. Decimal partials stay exact so the
    two-level sum is bit-identical to the native/oracle one-level
    form.  An empty lineitem returns the one grand-total row with
    n = 0 and a NULL sum_qty, as SQL's ROLLUP does — `n` is coalesced
    because summing zero cells gives NULL."""
    li = load(spark, sf_dir, "lineitem")
    return ops.grouping_sets_from_cells(
        li,
        ["l_returnflag", "l_linestatus"],
        [*_split4_partials("l_quantity", "_q"), F.count(F.lit(1)).alias("_n")],
        [*_split4_merge("_q"), F.sum("_n").alias("_n")],
        {
            "sum_qty": _split4_value("_q").cast("double"),
            "n": F.coalesce(F.col("_n"), F.lit(0)),
        },
        mode="rollup",
    )


@_register(
    "q15_window_lag",
    """
    SELECT event_id, user_id,
      value - lag(value) OVER w AS delta,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DECIMAL(18,4)) AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q15(spark, sf_dir):
    """Window functions over the per-key sorted stream (SURVEY §2.7:
    the reference's A2 substrate, hand-rolled lag/lead → native
    window). Running sum accumulates in decimal for determinism."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.sum(_dec("value")).over(wr).cast("decimal(18,4)").cast("double").alias("running_value"),
    )


@_register(
    "q16_sessionize",
    """
    SELECT user_id,
      CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_sessions,
      COUNT(*) AS n_events
    FROM (SELECT user_id,
            epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id) AS gap
          FROM events) t
    GROUP BY user_id
    """,
)
def q16(spark, sf_dir):
    """Sessionization via window (gap > 30 min ⇒ new session) — the
    classic per-key sorted-stream fold (A1/A2)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1000 * 1000), 1).otherwise(0)
    return (
        e.withColumn("_ns", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("_ns").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_register(
    "q17_sessionize_stream",
    # same oracle as q16 — proves the custom streaming reducer
    """
    SELECT user_id,
      CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_sessions,
      COUNT(*) AS n_events
    FROM (SELECT user_id,
            epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id) AS gap
          FROM events) t
    GROUP BY user_id
    """,
)
def q17(spark, sf_dir):
    """Same sessionization through the CUSTOM constant-space streaming
    reducer (mapreduce.reduce_stream_sorted — the faithful analog of
    the reference's per-key conduit reducers + group splitter,
    Basic.hs:231-269): secondary sort, then stream each user's events
    in ts order counting gap>30min boundaries, state carried across
    Arrow batches."""
    import pandas as pd

    from hadron_spark.operators.mapreduce import reduce_stream_sorted

    # epoch-micros as int64 up front: integer math end-to-end, no
    # pandas datetime-unit ambiguity inside the reducer
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )

    def sessions(key, chunks):
        user_id = key[0]
        n_sessions = 0
        n_events = 0
        last_us = None  # carry across chunk boundary
        gap_us = 1800 * 1000 * 1000
        for pdf in chunks:
            us = pdf["ts_us"].to_numpy()
            if not len(us):
                continue
            # vectorized: a session boundary is a gap > 30 min to the
            # predecessor; the first row compares to the carried last_us
            first_is_boundary = last_us is None or us[0] - last_us > gap_us
            n_sessions += int((us[1:] - us[:-1] > gap_us).sum()) + int(first_is_boundary)
            n_events += len(us)
            last_us = int(us[-1])
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    return reduce_stream_sorted(
        e,
        partition_keys=["user_id"],
        sort_keys=["ts_us", "event_id"],
        fn=sessions,
        schema="user_id bigint, n_sessions bigint, n_events bigint",
    )


@_register(
    "q18_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q18(spark, sf_dir):
    """JSON scalar extraction from the props column (schema-on-read —
    the Protocol/codec spirit of Protocol.hs, as a column op)."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    )


@_register(
    "q19_month_agg",
    """
    SELECT date_trunc('month', o_orderdate) AS month,
      COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def q19(spark, sf_dir):
    """Timestamp grouping keys (MRKey UTCTime analog,
    Controller.hs:254-266 — Spark sorts timestamps natively, no
    text-sortability hack)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue")
    )


@_register(
    "q20_asof_join",
    """
    SELECT e.event_id, e.user_id, o.o_totalprice AS last_order_price
    FROM events e
    ASOF LEFT JOIN (
      SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate) o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def q20(spark, sf_dir):
    """as-of (backward) join — custom operator Spark lacks natively,
    composed as union+window (joins.asof_join; no UDF, one shuffle).
    Right side pre-aggregated to one row per (key, ts) so the match
    is deterministic."""
    e = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id"), F.col("ts")
    )
    o = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(F.max("o_totalprice").alias("last_order_price"))
    )
    return joins.asof_join(
        e,
        o,
        keys=["user_id"],
        left_ts="ts",
        right_ts="order_ts",
        right_vals=["last_order_price"],
    ).select("event_id", "user_id", "last_order_price")


# ---------------------------------------------------------------------------
# D. LLM-pipeline operators (BASELINE.json north_star)
# ---------------------------------------------------------------------------


@_register(
    "q21_dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q21(spark, sf_dir):
    """Exact dedup: hash-groupBy with deterministic keeper."""
    return dedup.exact_dedup_stats(load(spark, sf_dir, "documents"))


@_register(
    "q22_token_counts",
    """
    SELECT source,
      CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT)
        AS total_tokens,
      COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q22(spark, sf_dir):
    """Token counting per source (BPE-ish regex tokenizer = whitespace
    regex here; array size per row — no explode)."""
    return textstats.token_counts(load(spark, sf_dir, "documents"))


@_register(
    "q23_quality_scores",
    """
    SELECT doc_id,
      CAST(len(toks) AS INT) AS n_tokens,
      CAST(length(text) AS INT) AS n_chars,
      CASE WHEN len(toks) > 0
           THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS mean_token_len,
      CASE WHEN len(toks) > 0
           THEN CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','an','and','or','of','to','in','is','it',
                 'for','on','with','as','at','by','be','this','that'], lower(t)))) AS DOUBLE)
                / len(toks)
           ELSE 0.0 END AS stopword_ratio
    FROM (SELECT doc_id, text,
            list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
          FROM documents) t
    """,
)
def q23(spark, sf_dir):
    """Per-document quality features (length/stopword/token stats)."""
    out = textstats.quality_scores(load(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_chars").cast("int").alias("n_chars"),
        "mean_token_len",
        "stopword_ratio",
    )


@_register(
    "q24_fingerprint",
    """
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(
        list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))), ' ')) AS fp
    FROM documents
    """,
)
def q24(spark, sf_dir):
    """Document fingerprinting: canonical token-set md5."""
    return textstats.fingerprints(load(spark, sf_dir, "documents"))


@_register(
    "q25_ann_bruteforce",
    """
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id)
          AS rank
      FROM embeddings c
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE c.vec_id <> q.vec_id) t
    WHERE rank <= 10
    """,
)
def q25(spark, sf_dir):
    """Exact cosine top-k similarity search (brute-force baseline):
    broadcast query set, expression-level dot product, window top-k."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, q, k=10).select(
        "query_id", "neighbor_id", "rank"
    )


# --- rows-only checks (non-SQL-expressible / approximate operators) --------


@_register("q26_minhash_pairs", None)
def q26(spark, sf_dir):
    """MinHash-LSH near-dup candidate pairs (signature→band→bucket
    join — never n²). Approximate by construction → rows-only check."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle_k=5
    )


@_register("q27_simhash_pairs", None)
def q27(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole block equi-join + exact
    hamming filter."""
    return dedup.simhash_near_pairs(
        load(spark, sf_dir, "documents"), max_hamming=12, blocks=4
    )


@_register("q28_lsh_topk", None)
def q28(spark, sf_dir):
    """Approximate ANN via hyperplane-LSH bucket join. NOT the default
    approximate tier — q41's IVF is (recall 0.88 vs LSH's 0.07–0.12 on
    these noise fixtures, RECALL.md); LSH is exercised here as the
    clustered-corpus alternative whose per-query cost needs no
    quantizer training pass."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, q, k=10, n_planes=6, multiprobe=2).select(
        "query_id", "neighbor_id", "rank"
    )


# the 12-language profile VALUES block shared by every oracle that
# re-states textstats._LANG_PROFILES (q29, q100, q230) — ONE source
# so a profile change cannot silently desynchronize a subset of them
_LID_PROFILE_VALUES_SQL = """('da', ['og','i','det','at','en','den','til','er','som','ikke'], ['æ','ø','å']),
        ('de', ['der','die','und','das','ist','nicht','mit','ein','zu','den'], ['sch','ung','ä','ö','ü','ß']),
        ('en', ['the','and','of','to','in','is','that','it','for','was'], ['th','ing','tion']),
        ('es', ['el','los','que','de','en','un','una','es','por','con'], ['ción','ñ','rr']),
        ('fi', ['ja','on','ei','se','että','oli','hän','mutta','niin','kuin'], ['ää','yy','kk','ll']),
        ('fr', ['le','la','et','les','des','un','une','est','dans','que'], ['eau','é','è','ç']),
        ('it', ['il','lo','la','gli','che','di','e','un','una','per'], ['zione','gli','cch']),
        ('nl', ['de','het','een','en','van','ik','dat','niet','op','te'], ['ij','aa','sch']),
        ('pl', ['i','w','nie','na','się','z','do','to','że','jest'], ['cz','sz','rz','ł']),
        ('pt', ['o','a','os','as','que','de','em','um','uma','não'], ['ção','ã','õ','lh']),
        ('sv', ['och','att','det','som','en','är','av','för','på','med'], ['å','ä','ö','sk']),
        ('tr', ['ve','bir','bu','da','de','için','ile','ne','o','çok'], ['ğ','ş','ı','ç'])"""


@_register(
    "q29_language_id",
    """
    WITH low AS (SELECT doc_id, lower(text) AS t FROM documents),
    toks AS (
      SELECT doc_id, t,
             list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS toks
      FROM low),
    scores AS (
      SELECT doc_id, p.lang,
             4 * len(list_filter(toks, x -> list_contains(p.words, x)))
             + list_sum(list_transform(p.grams, g ->
                 (length(t) - length(replace(t, g, ''))) // length(g))) AS num
      FROM toks, (VALUES
        """ + _LID_PROFILE_VALUES_SQL + r""") p(lang, words, grams)),
    best AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY num DESC, lang DESC) AS rk
      FROM scores)
    SELECT lang AS lang_pred, COUNT(*) AS n FROM best WHERE rk = 1
    GROUP BY lang_pred
    """,
)
def q29(spark, sf_dir):
    """Language-ID distribution over the 12-language wordlist +
    char-n-gram profile model (textstats._LANG_PROFILES): per-doc
    argmax on EXACT INTEGER numerators (4·word_hits + char-sequence
    occurrences; denominator shared across languages), so the whole
    prediction — including every tie — is a full SQL oracle.
    Tie-break contract: highest numerator, then lexicographically-
    highest language code (array_max over (num, lang) structs; the
    oracle mirrors with ORDER BY num DESC, lang DESC)."""
    out = textstats.language_id(load(spark, sf_dir, "documents"))
    return out.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))


@_register("q30_embedding_dup_pairs", None)
def q30(spark, sf_dir):
    """Embedding-cosine near-dup pairs via hyperplane-LSH candidate
    buckets + exact cosine filter."""
    return dedup.embedding_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.8, n_planes=6
    )


# ---------------------------------------------------------------------------
# E. streaming + further relational breadth
# ---------------------------------------------------------------------------


@_register(
    "q31_stream_window",
    """
    SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS win_start,
           event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q31(spark, sf_dir):
    """Structured Streaming 5-minute tumbling window aggregation,
    driven to completion (availableNow) against the memory sink and
    verified against the batch oracle — batch/stream parity is the
    core argument for the Spark-first architecture (the reference has
    no streaming at all, SURVEY §2.7)."""
    from hadron_spark.streaming import run_stream_to_memory, windowed_agg

    ev = events_stream(spark, sf_dir, "q31_events_")
    agg = windowed_agg(
        ev,
        "ts",
        "5 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    out = run_stream_to_memory(agg, "q31_win", output_mode="complete")
    return out.select("win_start", "event_type", "n", "total_value")


@_register(
    "q32_set_ops",
    """
    SELECT c_nationkey FROM customer WHERE c_acctbal > 5000.0
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q32(spark, sf_dir):
    """intersect/except set ops (SURVEY §2.7: union-only in the
    reference; the rest declared free capability)."""
    c = load(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000.0).select("c_nationkey")
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    return ops.intersect(rich, bld)


@_register(
    "q33_cube",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q33(spark, sf_dir):
    """cube grouping sets — cells form (see q14): one fact shuffle
    onto the finest cells instead of the native Expand's 4× map-side
    replication; all four cube levels derive from the pinned cell
    table."""
    li = load(spark, sf_dir, "lineitem")
    return ops.grouping_sets_from_cells(
        li,
        ["l_returnflag", "l_linestatus"],
        [*_split4_partials("l_quantity", "_q"), F.count(F.lit(1)).alias("_n")],
        [*_split4_merge("_q"), F.sum("_n").alias("_n")],
        {
            "sum_qty": _split4_value("_q").cast("double"),
            "n": F.coalesce(F.col("_n"), F.lit(0)),
        },
        mode="cube",
    )


@_register(
    "q34_pivot",
    """
    SELECT l_returnflag,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DECIMAL(18,4)) AS DOUBLE) AS F,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DECIMAL(18,4)) AS DOUBLE) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q34(spark, sf_dir):
    """pivot (wide aggregation) with an explicit value list — at scale
    always pass the values to avoid the extra distinct scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum_dec("l_quantity").cast("double"))
    )


@_register(
    "q35_count_distinct",
    """
    SELECT n_name,
      COUNT(DISTINCT s_suppkey) AS n_suppliers,
      COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM nation
    LEFT JOIN supplier ON s_nationkey = n_nationkey
    LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q35(spark, sf_dir):
    """multi count-distinct over joined dims (expand-based distinct
    aggregation — each distinct adds one expand branch, not one extra
    scan)."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@_register(
    "q36_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS t
      FROM documents WHERE doc_id < 40)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CASE WHEN len(list_distinct(a.t || b.t)) > 0
           THEN CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                / len(list_distinct(a.t || b.t))
           ELSE 0.0 END AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    """,
)
def q36(spark, sf_dir):
    """Exact token-set Jaccard on candidate pairs (the verification
    stage of the LSH dedup funnel) — SQL-oracled on a bounded
    candidate set."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    ids = docs.select("doc_id")
    cand = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return dedup.ngram_jaccard_pairs(docs, cand, n=1)


@_register(
    "q37_doc_frequency",
    """
    SELECT word, COUNT(DISTINCT doc_id) AS df FROM (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
      FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def q37(spark, sf_dir):
    """Document frequency per term (IDF substrate for quality/TF-IDF
    scoring): explode + distinct count; partial agg bounds the shuffle
    at |vocab| per partition."""
    from hadron_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
    )


@_register(
    "q38_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q38(spark, sf_dir):
    """explicit grouping sets via the SQL API (same Catalyst plan as
    the DataFrame route — exercised through spark.sql on a temp
    view)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("q38_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
        FROM q38_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@_register("q39_multimodal_meta", None)
def q39(spark, sf_dir):
    """Multimodal binary-column pipeline: deterministic VALID media
    files derived from documents (idempotent staging; real PNG
    signature + IHDR chunk with per-doc dimensions), distributed
    binaryFile ingestion (S4 binaryDirTap analog), REAL header
    parsing via the Arrow-batched default decode_fn
    (multimodal.parse_media_header). Rows-only check (binary I/O is
    not SQL-expressible)."""
    import os
    import struct
    import zlib

    from hadron_spark.llm import multimodal

    media_dir = os.path.join("/tmp", f"q39_media_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.isdir(media_dir) or not os.listdir(media_dir):
        os.makedirs(media_dir, exist_ok=True)
        docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(32).collect()
        for r in docs:
            w, h = 16 + (r["doc_id"] % 1024), 16 + (len(r["text"]) % 1024)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            payload = (
                b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13)
                + b"IHDR"
                + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
                + r["text"].encode("utf-8")[:256]
            )
            with open(os.path.join(media_dir, f"doc_{r['doc_id']:05d}.png"), "wb") as fh:
                fh.write(payload)
    ingested = multimodal.ingest_binary_dir(spark, media_dir, glob="*.png")
    return multimodal.extract_media_meta(ingested).select(
        "path", "format", "byte_len", "width", "height"
    )


@_register("q41_ivf_topk", None)
def q41(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer + cell-probe search) — the
    100 TB scale path for q25; approximate → rows-only check."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", "rank"
    )


@_register(
    "q42_either_decode",
    """
    SELECT _codec, COUNT(*) AS n FROM (
      SELECT CASE WHEN json_valid(props) THEN 'json' ELSE 'csv' END AS _codec
      FROM events) t
    GROUP BY _codec
    """,
)
def q42(spark, sf_dir):
    """Fallback per-line decoding (eitherProtocol, Protocol.hs:271-287):
    events.props decoded as JSON with CSV fallback; counts per codec.
    All rows are valid JSON in this corpus, so the oracle reduces to
    json-validity counting — the CSV branch is exercised in unit
    tests."""
    from hadron_spark.sources.taps import either_decode

    e = load(spark, sf_dir, "events").select(F.col("props").alias("value"))
    out = either_decode(e, "value", "k int", "k int")
    return out.groupBy("_codec").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q43_range_join",
    """
    SELECT b.bucket_name, COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders o
    JOIN (VALUES ('small', 0.0, 100000.0),
                 ('medium', 100000.0, 300000.0),
                 ('large', 300000.0, 600000.0)) b(bucket_name, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.bucket_name
    """,
)
def q43(spark, sf_dir):
    """Point-in-interval range join (beyond-reference taxonomy,
    joins.range_join): orders bucketed by broadcast interval table.
    The interval side is tiny → BroadcastNestedLoopJoin; big-big
    range joins must bucketize first (see range_join docstring)."""
    o = load(spark, sf_dir, "orders")
    buckets = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("medium", 100000.0, 300000.0),
         ("large", 300000.0, 600000.0)],
        "bucket_name string, lo double, hi double",
    )
    joined = joins.range_join(
        o, F.broadcast(buckets), o["o_totalprice"], buckets["lo"], buckets["hi"]
    ).filter(F.col("o_totalprice") < F.col("hi"))  # half-open [lo, hi)
    return joined.groupBy("bucket_name").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue")
    )


@_register(
    "q44_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer) t
    WHERE rk <= 3
    """,
)
def q44(spark, sf_dir):
    """Top-k per group (ops.top_k_per_group): one shuffle on the group
    key, rank window, deterministic tie-break."""
    c = load(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey", "c_acctbal")
    return ops.top_k_per_group(
        c, ["c_mktsegment"], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 3
    )


@_register(
    "q45_except_all",
    """
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q45(spark, sf_dir):
    """exceptAll (multiset difference — preserves multiplicity, unlike
    EXCEPT DISTINCT)."""
    o = load(spark, sf_dir, "orders")
    return ops.except_all(
        o.select("o_custkey"),
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey"),
    )


@_register(
    "q40_quantiles",
    """
    SELECT o_orderpriority,
      quantile_cont(o_totalprice, 0.5) AS median_price,
      quantile_cont(o_totalprice, 0.9) AS p90_price,
      COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def q40(spark, sf_dir):
    """Exact continuous quantiles per group (percentile — sort-based
    exact; for the 100 TB path swap to approx_percentile, a one-word
    change with a t-digest sketch plan)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q46_pipeline_wordcount",
    """
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents),
    wc AS (
      SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> '' GROUP BY word)
    SELECT substring(word, 1, 5) AS prefix,
           CAST(SUM(cnt) AS BIGINT) AS total
    FROM wc GROUP BY prefix
    """,
)
def q46(spark, sf_dir):
    """The reference's flagship 3-stage pipeline
    (examples/WordCountLocal.hs:86-92) run through the Controller
    analog: stage 1 word frequency (shuffle agg) → stage 2 MAP-ONLY
    truncation to a 5-char prefix (no shuffle, numReduce=0 path,
    Controller.hs:902-906) → stage 3 re-aggregate per prefix. Each
    stage writes a parquet tap and the next reads it back —
    exercising connect/makeTap/RerunStrategy (C1/C2/C8) inside the
    correctness gate, not just unit tests."""
    import shutil
    import tempfile

    from hadron_spark.pipeline import RS_RERUN, Pipeline
    from hadron_spark.sources.taps import Tap

    workdir = tempfile.mkdtemp(prefix="hadron_q46_")
    pipe = Pipeline(spark, rerun=RS_RERUN, workdir=workdir)
    docs_tap = Tap([f"{sf_dir}/documents.parquet"], "parquet")

    wc = pipe.connect("wordcount", lambda df: textstats.word_count(df), [docs_tap])
    truncated = pipe.connect(
        "truncate",  # map-only: narrow select, no exchange in the plan
        lambda df: df.select(
            F.col("word").substr(1, 5).alias("prefix"), F.col("cnt")
        ),
        [wc],
    )
    totals = pipe.connect(
        "totals",
        lambda df: df.groupBy("prefix").agg(F.sum("cnt").alias("total")),
        [truncated],
    )
    out = totals.read(spark)
    # the result is materialized on disk; hand the driver an in-memory
    # copy so the temp workdir can be removed eagerly
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(workdir, ignore_errors=True)
    return result


@_register(
    "q47_reduce_step_gaps",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days
    FROM (
      SELECT o_custkey,
             date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate),
               o_orderdate) AS gap
      FROM orders)
    GROUP BY o_custkey
    """,
)
def q47(spark, sf_dir):
    """Arbitrary per-key reducer (reference Reducer conduit,
    Types.hs:39-53) through reduce_step/applyInPandas: per customer,
    order count and the maximum day-gap between consecutive orders.
    The gap multiset depends only on the sorted dates, so date ties
    need no secondary tie-break. Whole-group-in-memory contract —
    groups here are per-customer order lists (bounded); unbounded
    keys go through reduce_stream_sorted instead (q17)."""
    import pandas as pd

    from hadron_spark.operators.mapreduce import reduce_step

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        dates = pd.to_datetime(pdf["o_orderdate"]).sort_values()
        max_gap = (
            int(dates.diff().dt.days.max()) if len(dates) > 1 else None
        )
        return pd.DataFrame(
            {
                "o_custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_orders": [len(pdf)],
                "max_gap_days": [max_gap],
            }
        )

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return reduce_step(
        o,
        ["o_custkey"],
        gaps,
        "o_custkey long, n_orders long, max_gap_days long",
    )


@_register(
    "q48_hash_split",
    """
    WITH b AS (
      SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
        AS bkt FROM documents)
    SELECT CASE WHEN bkt < 90 THEN 'train'
                WHEN bkt < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM b GROUP BY split
    """,
)
def q48(spark, sf_dir):
    """Deterministic train/val/test split (ops.hash_split): bucket =
    first 8 md5 hex chars of the key — engine-portable, RNG-free, and
    re-shard-stable, so the assignment survives corpus growth and
    cluster changes (the property DataFrame.sample lacks). Narrow —
    no shuffle before the count."""
    docs = load(spark, sf_dir, "documents")
    out = ops.hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q49_fanout_stats",
    """
    SELECT concat('status=', o_orderstatus) AS route, COUNT(*) AS rows
    FROM orders GROUP BY route
    """,
)
def q49(spark, sf_dir):
    """Dynamic fan-out sink (fanOutTap, Controller.hs:479-514): routes
    orders into one directory per status and returns the per-route
    stats frame as the step's official output (fanStats semantics,
    Run/FanOut.hs:93-146). The write really happens (to a temp dir,
    removed after) — the oracle checks the stats the sink reports."""
    import shutil
    import tempfile

    from hadron_spark.sources.fanout import fan_out_write

    out_dir = tempfile.mkdtemp(prefix="hadron_q49_")
    o = load(spark, sf_dir, "orders")
    stats = fan_out_write(
        o,
        out_dir,
        F.concat(F.lit("status="), F.col("o_orderstatus")),
        sequential=True,
    )
    result = spark.createDataFrame(stats.collect(), stats.schema)
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


@_register(
    "q50_profile",
    """
    SELECT 'o_orderstatus' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           CAST(MIN(o_orderstatus) AS VARCHAR) AS min_str,
           CAST(MAX(o_orderstatus) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           COUNT(DISTINCT o_custkey),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def q50(spark, sf_dir):
    """Single-pass multi-column data-quality profile (ops.profile):
    nulls, exact distincts, min/max per column — the QA step before a
    training corpus ships. Min/max are typed (double columns stay
    double) so the driver's value hash never depends on double→string
    formatting, which is not bit-portable between the JVM and DuckDB."""
    o = load(spark, sf_dir, "orders")
    return ops.profile(o, ["o_orderstatus", "o_totalprice", "o_custkey"])


@_register(
    "q51_quality_rules",
    """
    WITH t AS (
      SELECT text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
    m AS (
      SELECT length(text) AS n_chars,
             len(list_filter(list_transform(toks, x -> lower(x)),
                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                     'for','on','with','as','at','by','be','this','that'], x)))
               AS stop_hits,
             CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0)
                  AS DOUBLE) / greatest(len(toks), 1) AS mean_len,
             CAST(len(list_filter(toks, x -> x LIKE '#%' OR x LIKE '@%')) AS DOUBLE)
               / greatest(len(toks), 1) AS sym_ratio
      FROM t)
    SELECT 'too_short' AS rule,
           CAST(SUM(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM m
    UNION ALL SELECT 'too_long',
           CAST(SUM(CASE WHEN n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) FROM m
    UNION ALL SELECT 'low_stopword',
           CAST(SUM(CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END) AS BIGINT) FROM m
    UNION ALL SELECT 'word_len_out_of_range',
           CAST(SUM(CASE WHEN mean_len < 3.0 OR mean_len > 12.0 THEN 1 ELSE 0 END) AS BIGINT) FROM m
    UNION ALL SELECT 'high_symbol_ratio',
           CAST(SUM(CASE WHEN sym_ratio > 0.1 THEN 1 ELSE 0 END) AS BIGINT) FROM m
    """,
)
def q51(spark, sf_dir):
    """C4/Gopher-style quality-rule monitoring (llm.filters): per-rule
    violation counts over the corpus in one wide aggregate pass."""
    from hadron_spark.llm.filters import rule_violation_counts

    return rule_violation_counts(load(spark, sf_dir, "documents"))


@_register(
    "q52_contamination",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
               AS bkt
      FROM documents),
    grams AS (
      SELECT doc_id, bkt,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(l) - 4, 0) + 1),
               i -> array_to_string(l[i:i+4], ' ')))) AS g
      FROM toks)
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_common
    FROM grams t JOIN grams e ON t.g = e.g
    WHERE t.bkt < 90 AND e.bkt >= 90
    GROUP BY train_id, eval_id
    """,
)
def q52(spark, sf_dir):
    """Train/eval contamination: hash_split the corpus 90/10, then
    n-gram-overlap join between the splits (dedup.contamination_pairs).
    The split and the grams are both deterministic, so the pair list
    is oracle-checkable."""
    docs = load(spark, sf_dir, "documents")
    split = ops.hash_split(docs, "doc_id", {"train": 0.9, "eval": 0.1})
    return dedup.contamination_pairs(
        split.filter(F.col("split") == "train"),
        split.filter(F.col("split") == "eval"),
        n=5,
    )


@_register(
    "q53_input_file_routing",
    """
    SELECT 'nation' AS src, COUNT(*) AS n FROM nation
    UNION ALL
    SELECT 'region' AS src, COUNT(*) AS n FROM region
    """,
)
def q53(spark, sf_dir):
    """getFileName parity (M6, Basic.hs:122-126): per-record input-file
    identity via F.input_file_name drives routing — here rows of a
    two-path tap are counted per source file (the mechanism behind
    mergeTaps' per-file decode dispatch, Controller.hs:422-439)."""
    from hadron_spark.sources.taps import taps, with_input_file

    df = taps([f"{sf_dir}/nation.parquet", f"{sf_dir}/region.parquet"]).read(spark)
    tagged = with_input_file(df)
    src = F.regexp_extract(F.col("input_file"), r"([a-z]+)\.parquet", 1)
    return tagged.groupBy(src.alias("src")).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q54_join_mr_monoid",
    """
    SELECT c.nationkey, c.n_cust + s.n_supp AS total_accounts
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
          FROM customer GROUP BY 1) c
    JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
          FROM supplier GROUP BY 1) s
    USING (nationkey)
    """,
)
def q54(spark, sf_dir):
    """2-way inner monoidal join (joinMR, Controller.hs:1316-1354):
    both sides pre-reduced per key, then merged with the monoid's <>
    (here: +). The reference caches Lefts and streams Rights; Spark's
    SMJ/BHJ does the same buffering under the hood."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return joins.join_mr(
        c, s, ["nationkey"],
        [(F.col("n_cust") + F.col("n_supp")).alias("total_accounts")],
    )


@_register(
    "q55_dedup_stats",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY text_hash
    """,
)
def q55(spark, sf_dir):
    """Exact-dedup stats view (llm.dedup.exact_dedup_stats): one row
    per distinct text with the deterministic keeper and copy count —
    the monitoring output of the dedup stage (md5 is engine-portable,
    so the whole frame is oracle-checkable)."""
    return dedup.exact_dedup_stats(load(spark, sf_dir, "documents"))


@_register(
    "q56_window_suite",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           ntile(4) OVER w AS quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q56(spark, sf_dir):
    """Window-function breadth (SURVEY §2.7 — the reference's per-key
    sorted stream hand-rolls these): rank/ntile/percent_rank/
    cume_dist/lead in ONE window spec = one shuffle + one sort.
    percent_rank and cume_dist are exact small-integer ratios, so the
    doubles are engine-identical without decimal staging."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    )
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cdist"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@_register(
    "q57_salted_agg",
    """
    SELECT l_returnflag,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
        AS sum_qty,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q57(spark, sf_dir):
    """Skew-safe two-stage aggregation (ops.salted_agg): group by
    (key, random salt) then re-aggregate on the key — the result is
    salt-invariant (decimal partials are exact + associative), which
    is exactly what this oracle checks. Use when a single hot key's
    partial-agg rows still overwhelm one reducer."""
    li = load(spark, sf_dir, "lineitem")
    return ops.salted_agg(
        li,
        ["l_returnflag"],
        [
            *_split4_partials("l_quantity", "_q"),
            F.count(F.lit(1)).alias("_n"),
        ],
        [
            _unscale4(
                F.sum("_q2").cast("decimal(38,0)") * F.lit(1 << 42)
                + F.sum("_q1").cast("decimal(38,0)") * F.lit(1 << 21)
                + F.sum("_q0").cast("decimal(38,0)")
            ).cast("double").alias("sum_qty"),
            F.sum("_n").alias("n"),
        ],
        salt_buckets=8,
    )


_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
)


@_register(
    "q58_merge_upsert",
    f"""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT {_ORDER_COLS} FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
    UNION ALL
    SELECT {_ORDER_COLS} FROM upd
    """,
)
def q58(spark, sf_dir):
    """MERGE/upsert (operators.maintenance.merge_upsert): a small
    update batch replaces matching keys and inserts new ones. The
    batch is BROADCAST into an anti join, so the (100 TB) target is
    never shuffled — one narrow pass + union. Doubles pass through
    unchanged, so the full frame is oracle-checkable."""
    from hadron_spark.operators.maintenance import merge_upsert

    o = load(spark, sf_dir, "orders")
    upd = (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    # the batch is derived from the target here (fixture); pin it so
    # merge_upsert's two consumers (broadcast anti-join probe +
    # union) don't each re-scan orders to rebuild it.
    upd = ops.pin(upd)
    return merge_upsert(o, upd, ["o_orderkey"])


@_register(
    "q59_cdc_apply",
    f"""
    SELECT {_ORDER_COLS} FROM orders
    WHERE o_orderkey % 40 <> 0 AND o_orderkey % 30 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           '9-CDC' AS o_orderpriority
    FROM orders WHERE o_orderkey % 30 = 0 AND o_orderkey % 40 <> 0
    UNION ALL
    SELECT o_orderkey + 200000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def q59(spark, sf_dir):
    """CDC apply (operators.maintenance.cdc_apply): a change log with
    op ∈ {{I,U,D}} and per-key sequence collapses to latest-change-
    per-key, then deletes/upserts against the snapshot. The log here
    has superseded changes (U seq=1 then D seq=2 on the same key) to
    exercise the sequencing; the oracle states the FINAL table
    analytically, independent of the log mechanics."""
    from hadron_spark.operators.maintenance import cdc_apply

    o = load(spark, sf_dir, "orders")

    def ch(pred, op, seq, **edits):
        d = o.filter(pred)
        for c, v in edits.items():
            d = d.withColumn(c, v)
        return d.withColumn("op", F.lit(op)).withColumn("seq", F.lit(seq))

    k = F.col("o_orderkey")
    changes = (
        ch(k % 40 == 0, "U", 1, o_orderpriority=F.lit("1-OLD"))
        .unionByName(ch(k % 40 == 0, "D", 2))
        .unionByName(
            ch((k % 30 == 0) & (k % 40 != 0), "U", 1, o_orderpriority=F.lit("9-CDC"))
        )
        .unionByName(ch(k % 97 == 0, "I", 1, o_orderkey=k + F.lit(200000000)))
    )
    # the change log is derived from the snapshot here (fixture);
    # pin it so cdc_apply's two consumers (latest-change anti-join
    # probe + upsert rows) don't each re-scan orders to rebuild it.
    changes = ops.pin(changes)
    return cdc_apply(o, changes, ["o_orderkey"])


@_register(
    "q60_connected_components",
    """
    SELECT o_orderkey AS node,
           MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS component
    FROM orders
    """,
)
def q60(spark, sf_dir):
    """Connected components (operators.graph, large-star/small-star —
    Kiveris et al. SoCC'14): the cluster-resolution stage the
    reference cannot express across reducer keys. Input: chain edges
    linking each customer's consecutive orders — the worst case for
    naive min-propagation (diameter = chain length), converged here
    in O(log^2) rounds. The oracle states components analytically
    (min orderkey per customer)."""
    from hadron_spark.operators.graph import connected_components

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        o.withColumn("prev", F.lag("o_orderkey").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("o_orderkey").alias("src"), F.col("prev").alias("dst"))
    )
    return connected_components(edges, nodes=o.select("o_orderkey"))


@_register(
    "q61_tfidf_topk",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok
      WHERE word <> '' GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score_lin
      FROM tf JOIN dfreq USING (word) CROSS JOIN n
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_lin DESC, word) AS rn
      FROM scored
    )
    SELECT doc_id, word, tf, df, score_lin, rn FROM ranked WHERE rn <= 5
    """,
)
def q61(spark, sf_dir):
    """Top-5 TF-IDF terms per document (llm.textstats.tfidf_topk).
    The linear-idf score double(tf·N)/df is a single correctly-rounded
    IEEE division of exact integers, so ranks AND score doubles are
    bit-identical cross-engine — the whole frame is oracle-checkable
    (the ln-weighted scorer, bm25_topk/q62, is not bit-portable and
    is checked rows-only)."""
    return textstats.tfidf_topk(load(spark, sf_dir, "documents"), k=5)


@_register("q62_bm25_topk", None)
def q62(spark, sf_dir):
    """Okapi BM25 top-10 retrieval (llm.textstats.bm25_topk) for a
    fixed stopword-free query. ln() is not correctly rounded across
    engines, so this is a rows-only driver check (row count = min(k,
    matching docs) is deterministic); numeric agreement with a pure
    Python reference is asserted in tests/test_llm_ops.py."""
    return textstats.bm25_topk(
        load(spark, sf_dir, "documents"),
        ["data", "model", "learning"],
        k=10,
    )


@_register(
    "q63_stream_static_join",
    """
    SELECT make_timestamp((epoch_us(e.ts) // 600000000) * 600000000) AS win_start,
           c.c_mktsegment AS segment, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q63(spark, sf_dir):
    """Stream-static enrichment join (streaming.enrich): the events
    stream joins the customer dimension per micro-batch, then a
    10-minute windowed aggregation per market segment — driven to
    completion with availableNow and verified against the batch
    oracle (batch/stream parity). The static side is re-read each
    batch, so dimension updates are picked up without restarting;
    at scale it should be broadcast-sized or bucketed on the key."""
    from hadron_spark.streaming import enrich, run_stream_to_memory, windowed_agg

    ev = events_stream(spark, sf_dir, "q63_events_")
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = windowed_agg(
        enrich(ev, dim, on=["user_id"], how="inner"),
        "ts",
        "10 minutes",
        ["segment"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    out = run_stream_to_memory(agg, "q63_win", output_mode="complete")
    return out.select("win_start", "segment", "n", "total_value")


@_register(
    "q64_gap_fill",
    """
    WITH m AS (
      SELECT c_nationkey AS nationkey, date_trunc('month', o_orderdate) AS month,
             COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
                  AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), spans AS (
      SELECT nationkey, MIN(month) AS mn, MAX(month) AS mx FROM m GROUP BY 1
    ), grid AS (
      SELECT nationkey, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
      FROM spans
    )
    SELECT g.nationkey, g.month,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue
    FROM grid g LEFT JOIN m ON g.nationkey = m.nationkey AND g.month = m.month
    """,
)
def q64(spark, sf_dir):
    """Time-series gap fill (ops.gap_fill): nation-level monthly
    revenue densified to EVERY month in each nation's observed span,
    absent months zero-filled — sequence()+explode generates the
    grid engine-side (no driver loop), one join keyed like the grid.
    The reference cannot express this (no generator source)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )
    return ops.gap_fill(
        monthly,
        ["nationkey"],
        "month",
        "1 month",
        fills={"n_orders": F.lit(0), "revenue": F.lit(0.0)},
    )


@_register(
    "q65_stratified_sample",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10000)
          < CASE o_orderpriority
              WHEN '1-URGENT' THEN 5000
              WHEN '2-HIGH' THEN 2500
              WHEN '3-MEDIUM' THEN 1000
              WHEN '4-NOT SPECIFIED' THEN 500
              WHEN '5-LOW' THEN 100
              ELSE 0 END
    GROUP BY o_orderpriority
    """,
)
def q65(spark, sf_dir):
    """Deterministic stratified sampling (ops.stratified_sample):
    per-class downsampling ratios (the data-mixing knob) applied via
    the md5 hash bucket of the key — RNG-free, re-shard-stable, and
    therefore exactly reproducible by the oracle. key_sum checksums
    row identity, not just counts. Narrow: filter pushes to the scan."""
    o = load(spark, sf_dir, "orders")
    sampled = ops.stratified_sample(
        o,
        "o_orderpriority",
        "o_orderkey",
        {
            "1-URGENT": 0.5,
            "2-HIGH": 0.25,
            "3-MEDIUM": 0.1,
            "4-NOT SPECIFIED": 0.05,
            "5-LOW": 0.01,
        },
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum")
    )


@_register(
    "q66_collocations",
    """
    WITH tok AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM tok
    ), ucnt AS (
      SELECT w, COUNT(*) AS c FROM uni GROUP BY w
    ), tot AS (SELECT COUNT(*) AS t FROM uni),
    bg AS (
      SELECT unnest(list_transform(list_zip(toks, toks[2:]),
                                   p -> p[1] || ' ' || p[2])) AS bigram
      FROM tok
    ), bcnt AS (
      SELECT bigram, COUNT(*) AS n_ab FROM bg WHERE bigram IS NOT NULL
      GROUP BY bigram HAVING COUNT(*) >= 5
    ), scored AS (
      SELECT b.bigram, b.n_ab, a.c AS c1, z.c AS c2,
             CAST(b.n_ab * tot.t AS DOUBLE) / (a.c * z.c) AS lift
      FROM bcnt b
      JOIN ucnt a ON a.w = string_split(b.bigram, ' ')[1]
      JOIN ucnt z ON z.w = string_split(b.bigram, ' ')[2]
      CROSS JOIN tot
    )
    SELECT bigram, n_ab, c1, c2, lift,
           row_number() OVER (ORDER BY lift DESC, bigram) AS rn
    FROM scored ORDER BY lift DESC, bigram LIMIT 20
    """,
)
def q66(spark, sf_dir):
    """Bigram collocation mining (llm.textstats.collocations_topk):
    top-20 bigrams by lift = n_ab·T/(n_a·n_b) — exp(PMI), rank-
    identical to PMI but exactly computable (one IEEE division of
    exact integers), so scores hash-match the oracle bit-for-bit."""
    return textstats.collocations_topk(
        load(spark, sf_dir, "documents"), k=20, min_count=5
    )


@_register(
    "q67_window_frames",
    """
    SELECT o_custkey, o_orderkey,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w3 AS DECIMAL(18,4))
           AS DOUBLE) / COUNT(*) OVER w3 AS ma3,
      COUNT(*) OVER wr AS n_trailing_30d
    FROM orders
    WINDOW
      w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      wr AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) // 1000000
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """,
)
def q67(spark, sf_dir):
    """Explicit window FRAMES (rows + range — q15/q56 cover only
    unframed windows): 3-row trailing moving average and a 30-day
    trailing event count per customer. Decimal accumulation inside
    the frame keeps the moving average bit-portable; the range frame
    orders on integer epoch seconds so both engines build identical
    peer groups. One shuffle on the partition key serves both frames."""
    o = load(spark, sf_dir, "orders")
    w3 = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, 0)
    )
    # NTZ won't cast to long directly; via LTZ is exact under the
    # engine-portable UTC session timezone (session.py)
    epoch_s = F.col("o_orderdate").cast("timestamp_ltz").cast("long")
    wr = Window.partitionBy("o_custkey").orderBy(epoch_s).rangeBetween(-2592000, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(_dec("o_totalprice")).over(w3).cast("decimal(18,4)").cast("double")
            / F.count(F.lit(1)).over(w3)
        ).alias("ma3"),
        F.count(F.lit(1)).over(wr).alias("n_trailing_30d"),
    )


@_register(
    "q68_fuzzy_pairs",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b ON a.p_brand = b.p_brand
    WHERE a.p_partkey < b.p_partkey
      AND levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q68(spark, sf_dir):
    """Blocked edit-distance linkage (llm.dedup.fuzzy_pairs): within-
    brand part-name pairs at levenshtein ≤ 3 — the verify stage of a
    fuzzy-dedup funnel (blocking confines the quadratic cross-product;
    levenshtein is an integer, so exact cross-engine)."""
    p = load(spark, sf_dir, "part")
    return dedup.fuzzy_pairs(
        p, ["p_brand"], id_col="p_partkey", text_col="p_name", max_dist=3
    )


@_register(
    "q69_bpe_token_counts",
    """
    SELECT source,
      CAST(SUM(len(regexp_extract_all(text,
        '''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')))
        AS BIGINT) AS total_bpe_tokens,
      COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q69(spark, sf_dir):
    """Token-budget accounting with a BPE-style pretokenizer
    (functions.text.bpe_ish_tokenize — GPT-2-family pattern restricted
    to constructs with identical Java-regex/RE2 semantics): per-source
    totals. No explode — array length per row, then a partial-agg'd
    sum (shuffle = |sources| rows)."""
    from hadron_spark.functions.text import bpe_token_count

    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(bpe_token_count(F.col("text"))).alias("total_bpe_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@_register(
    "q70_incremental_rollup",
    """
    SELECT date_trunc('month', o_orderdate) AS month,
      COUNT(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
        AS revenue
    FROM orders GROUP BY 1
    """,
)
def q70(spark, sf_dir):
    """Continuous-aggregate maintenance (maintenance.incremental_
    rollup): history rolled up once, a new batch rolled up alone,
    the two MERGED by monoid re-aggregation — never rescanning the
    history. Partial sums stay in DECIMAL (exact + associative), so
    the oracle can state the result as a from-scratch aggregation:
    merged-incremental ≡ recomputed is precisely the property being
    verified."""
    from hadron_spark.operators.maintenance import incremental_rollup

    o = load(spark, sf_dir, "orders")
    cutoff = "1997-01-01"

    def partial(frame):
        return frame.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            *_split4_partials("o_totalprice", "_r"),
        )

    prev = partial(o.filter(F.col("o_orderdate") < cutoff))
    batch = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = incremental_rollup(
        prev,
        batch,
        ["month"],
        [
            F.sum("n_orders").alias("n_orders"),
            *_split4_merge("_r"),
        ],
    )
    return merged.select(
        "month",
        "n_orders",
        _split4_value("_r").cast("double").alias("revenue"),
    )


@_register("q71_pagerank", None)
def q71(spark, sf_dir):
    """PageRank (operators.graph.pagerank, 5 fixed rounds) over the
    customer→nation→region containment DAG (ids offset into one
    space). Iterative double arithmetic isn't bit-portable across
    engines, so this is a rows-only check (row count = |nodes| is
    deterministic); convergence behavior is asserted in
    tests/test_maintenance.py."""
    from hadron_spark.operators.graph import pagerank

    c = load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 100000).alias("src"),
        (F.col("c_nationkey") + 100).cast("long").alias("dst"),
    )
    n = load(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).cast("long").alias("src"),
        F.col("n_regionkey").cast("long").alias("dst"),
    )
    return pagerank(c.unionByName(n), iters=5)


@_register("q72_sketch_profile", None)
def q72(spark, sf_dir):
    """Sketch-tier profiling (ops.sketch_profile): HyperLogLog++
    approximate distincts + approximate-quantile digests per group,
    single pass, mergeable state — the 100 TB companion to the exact
    q35/q40/q50. Sketch estimates aren't cross-engine, so rows-only
    (row count = |groups| is deterministic); estimate-vs-exact error
    bounds are asserted in tests/test_ops.py."""
    o = load(spark, sf_dir, "orders")
    return ops.sketch_profile(
        o,
        ["o_orderpriority"],
        distinct_cols=["o_custkey"],
        quantile_cols=["o_totalprice"],
    )


@_register(
    "q73_outlier_trim",
    """
    WITH b AS (
      SELECT o_orderpriority,
             quantile_disc(o_totalprice, 0.1) AS p10,
             quantile_disc(o_totalprice, 0.9) AS p90
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority, COUNT(*) AS n_outliers,
           CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum
    FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
    WHERE o.o_totalprice < b.p10 OR o.o_totalprice > b.p90
    GROUP BY o.o_orderpriority
    """,
)
def q73(spark, sf_dir):
    """Quantile-based outlier trimming (data-QA stage): per-group
    DISCRETE p10/p90 bounds (percentile_disc returns an actual data
    element — no interpolation arithmetic, hence bit-portable, unlike
    continuous quantiles), broadcast back, rows outside the band
    counted with a key checksum. The bounds frame is |groups| rows →
    broadcast join; the big side is never shuffled."""
    o = load(spark, sf_dir, "orders")
    bounds = o.groupBy("o_orderpriority").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY o_totalprice)").alias("p10"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").alias("p90"),
    )
    return (
        o.join(F.broadcast(bounds), "o_orderpriority")
        .filter((F.col("o_totalprice") < F.col("p10")) | (F.col("o_totalprice") > F.col("p90")))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_outliers"), F.sum("o_orderkey").alias("key_sum"))
    )


@_register(
    "q74_unpivot",
    """
    SELECT l_returnflag, metric,
      CAST(CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS total,
      COUNT(*) AS n
    FROM (
      SELECT l_returnflag, l_quantity, l_extendedprice, l_discount, l_tax
      FROM lineitem
    ) UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
    GROUP BY l_returnflag, metric
    """,
)
def q74(spark, sf_dir):
    """unpivot/melt (inverse of q34's pivot — wide metric columns to
    long key/value rows): native DataFrame.unpivot is an Expand node,
    narrow (no shuffle until the aggregation), vs the explode-of-
    structs workaround. Decimal-staged sums keep the totals
    oracle-exact."""
    li = load(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return melted.groupBy("l_returnflag", "metric").agg(
        dsum("val", "total"), F.count(F.lit(1)).alias("n")
    )


@_register(
    "q75_asof_forward",
    """
    SELECT e.event_id, e.user_id, o.o_totalprice AS next_order_price
    FROM events e
    ASOF LEFT JOIN (
      SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate) o
      ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
    """,
)
def q75(spark, sf_dir):
    """FORWARD as-of join (joins.asof_join direction='forward'): for
    each event, the customer's EARLIEST order at-or-after the event —
    the lookahead companion of q20's backward as-of, same union+window
    plan mirrored (first_value over the following frame), one shuffle,
    no UDF."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(F.max("o_totalprice").alias("next_order_price"))
    )
    return joins.asof_join(
        e,
        o,
        keys=["user_id"],
        left_ts="ts",
        right_ts="order_ts",
        right_vals=["next_order_price"],
        direction="forward",
    ).select("event_id", "user_id", "next_order_price")


@_register(
    "q76_histogram",
    """
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), span AS (
      SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c
    )
    SELECT LEAST(CAST(((cents - mn) * 20) // (mx - mn) AS INT), 19) AS bucket,
           COUNT(*) AS n
    FROM c CROSS JOIN span
    GROUP BY 1
    """,
)
def q76(spark, sf_dir):
    """Equal-width histogram (profiling primitive): prices become
    integer cents, bucket = ((x−min)·20) intdiv (max−min) — all-
    integer math, exact in any engine. Neither double NOR decimal
    division is safe here: double flips edge rows by 1 ulp, and
    decimal÷decimal returns different types per engine (Spark keeps
    DECIMAL, DuckDB produces DOUBLE — measured), so floor() would
    disagree. The 1-row span aggregate is broadcast; the scan stays
    narrow until the |buckets|-row aggregation."""
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    span = cents.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    bucket = F.least(
        F.expr("((cents - mn) * 20) div (mx - mn)").cast("int"), F.lit(19)
    )
    return (
        cents.join(F.broadcast(span))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "q77_referential_integrity",
    """
    SELECT 'orders_without_customer' AS check_name, COUNT(*) AS n_violations
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_without_order', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'customer_without_nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def q77(spark, sf_dir):
    """Referential-integrity audit (pipeline QA stage): orphan counts
    via LEFT ANTI joins — each check is one broadcast-able anti join
    (the key side is just the distinct FK column), unioned into a
    single conformance report. At 100 TB the anti join's build side
    is the dimension's key column only — prune before broadcast."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")

    def orphans(name, child, fk, parent, pk):
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        return (
            child.join(F.broadcast(keys), fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )

    return (
        orphans("orders_without_customer", o, "o_custkey", c, "c_custkey")
        .unionByName(
            orphans("lineitem_without_order", li, "l_orderkey", o, "o_orderkey")
        )
        .unionByName(
            orphans("customer_without_nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


def _q78_zsql():
    from hadron_spark.sources.layout import zorder_sql

    return zorder_sql(["c_custkey", "c_nationkey"], bits=10)


@_register(
    "q78_zorder_value",
    f"""
    SELECT c_custkey, {_q78_zsql()} AS zval FROM customer
    """,
)
def q78(spark, sf_dir):
    """Z-order (Morton) clustering value (sources.layout): the bit-
    interleave that zorder_write range-sorts on so row-group min/max
    stats prune filters on ANY participating dimension. Pure bitwise
    integer math — the SAME generated SQL string runs on Spark and
    the oracle (one F.expr parse, no per-term py4j round-trips).
    Layout locality (disjoint per-file ranges) is asserted in
    tests/test_plans.py."""
    from hadron_spark.sources.layout import zorder_value

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", zorder_value(["c_custkey", "c_nationkey"], bits=10).alias("zval")
    )


@_register(
    "q79_share_of_total",
    """
    WITH nat AS (
      SELECT c_nationkey AS nationkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    )
    SELECT nationkey, CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS share
    FROM nat
    """,
)
def q79(spark, sf_dir):
    """Share-of-total (ratio_to_report): per-nation revenue over the
    grand total via an unpartitioned window SUM over the |groups|-row
    aggregate (cheap — the global window runs on 25 rows, never on
    the fact table). Division is double(decimal)/double(decimal) —
    both operands exact, one IEEE division — because decimal÷decimal
    result types differ per engine (q76's lesson)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(dsum_dec("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy()
    return nat.select(
        "nationkey",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double")
        ).alias("share"),
    )


@_register(
    "q80_group_concat",
    """
    SELECT n_regionkey AS regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation GROUP BY 1
    """,
)
def q80(spark, sf_dir):
    """Ordered string aggregation (listagg/group_concat): collect_list
    is order-nondeterministic under parallelism, so the list is
    array_sort'ed before joining — the only way a concatenated string
    is reproducible on ANY cluster (and hash-comparable to the
    oracle's ORDER BY form). Keep groups bounded: the result row
    carries the whole group in one value."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q81_sequence_packing",
    """
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
             AS INT) AS pack_id
      FROM toks
    )
    SELECT source, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY source, pack_id
    """,
)
def q81(spark, sf_dir):
    """Sequence packing for pretraining batches: documents are packed
    in deterministic (source, doc_id) order into ~512-token bins —
    pack_id = tokens-before-this-doc intdiv budget (budget-quantized
    packing: no doc is split, a bin may overrun by one doc's tail).
    All-integer window math, so the assignment is engine-exact; the
    per-source window parallelizes (one shuffle on source). True
    greedy packing needs a sequential scan — this quantized form is
    the distributed-friendly equivalent."""
    from hadron_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = toks.withColumn(
        "_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("pack_id", F.expr("CAST(_before div 512 AS INT)"))
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


@_register(
    "q82_nullsafe_join",
    """
    WITH l AS (
      SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderkey % 97 END AS k, o_orderkey
      FROM orders
    ), r AS (
      SELECT CASE WHEN g % 5 = 0 THEN NULL ELSE g END AS k, g
      FROM (SELECT unnest(range(0, 97)) AS g)
    )
    SELECT l.k, COUNT(*) AS n, CAST(SUM(l.o_orderkey) AS BIGINT) AS key_sum
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def q82(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the join semantics CDC
    and dimension pipelines need when NULL is a legitimate key value.
    Spark plans <=> as a regular hash join (NULL hashes like a
    value), not a nested loop."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    left = o.select(
        F.when(k % 5 == 0, F.lit(None)).otherwise(k % 97).alias("k"), "o_orderkey"
    )
    right = spark.range(0, 97).select(
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("id")).alias("k")
    )
    return (
        left.join(right, left["k"].eqNullSafe(right["k"]))
        .groupBy(left["k"].alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum"))
    )


@_register(
    "q83_time_weighted_avg",
    """
    WITH seg AS (
      SELECT user_id,
        CAST(ROUND(value * 10000) AS BIGINT) AS v4,
        epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
          - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id,
      (CAST(CAST(SUM(CAST(v4 AS DECIMAL(38,0)) * dt_us) AS DECIMAL(38,0)) AS DOUBLE)
        / CAST(SUM(dt_us) AS DOUBLE)) / 10000.0 AS twa,
      COUNT(*) AS n_segments
    FROM seg WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id
    """,
)
def q83(spark, sf_dir):
    """Time-weighted average per key (the hypertable `time_weight`
    analog): each observation weighted by how long it was current
    (lead(ts) − ts in µs). Values are scaled to integers (×10⁴) so
    the Σ value·Δt accumulates as a SCALE-0 decimal — exact and
    associative, and its double conversion is a SINGLE int→double
    rounding in any engine (a scale-4 sum above 2⁵³ double-rounds
    differently per engine — measured here). Finish: one division by
    the exact Δt sum, one descale — identical op sequence both sides.
    One shuffle serves both the window and the aggregation."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros, not cast-to-long: the long cast truncates to whole
    # seconds and would diverge from the oracle's epoch_us
    seg = e.select(
        "user_id",
        F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dt_us"
        ),
    )
    return (
        seg.filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
        .groupBy("user_id")
        .agg(
            (
                (
                    F.sum(F.col("v4").cast("decimal(38,0)") * F.col("dt_us"))
                    .cast("decimal(38,0)")
                    .cast("double")
                    / F.sum("dt_us").cast("double")
                )
                / 10000.0
            ).alias("twa"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


@_register(
    "q84_funnel",
    """
    WITH per_user AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
      COUNT(first_view) AS n_viewed,
      CAST(SUM(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT)
        AS n_converted
    FROM per_user
    """,
)
def q84(spark, sf_dir):
    """Conversion funnel (view → later purchase): per-user MIN/MAX
    conditional timestamps in ONE aggregation pass — no self-join,
    no explode; the sequence condition is a comparison of the two
    aggregates. Shuffle carries |users| rows."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_view").alias("n_viewed"),
        F.sum(
            F.when(F.col("last_purchase") > F.col("first_view"), 1).otherwise(0)
        ).cast("bigint").alias("n_converted"),
    )


@_register(
    "q85_copurchase_pairs",
    """
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def q85(spark, sf_dir):
    """Market-basket co-occurrence: part pairs appearing in the same
    order ≥ 2 times — the candidate-pair stage of frequent-itemset
    mining. Self-join keyed on the order id: per-order fan-out is
    |items|² but orders are small (≤7 items), so the join output is
    ~|lineitem|·avg_items — linear-ish, and the pair aggregation's
    partial agg bounds the shuffle."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@_register(
    "q86_cohort_retention",
    """
    WITH firsts AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    )
    SELECT f.cohort, date_trunc('month', o.o_orderdate) AS activity_month,
           COUNT(DISTINCT o.o_custkey) AS active_customers
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def q86(spark, sf_dir):
    """Cohort retention grid: customers bucketed by first-order month,
    counted distinct in every later activity month. The firsts table
    is |customers| rows keyed like the fact join — one shuffle
    produces it, the join reuses the key, and the distinct count's
    partial aggregation bounds the final exchange."""
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy("cohort", F.date_trunc("month", "o_orderdate").alias("activity_month"))
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


@_register(
    "q87_stateful_running_totals",
    """
    SELECT user_id,
      CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
        AS total,
      COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
)
def q87(spark, sf_dir):
    """Custom stateful streaming operator under the oracle gate:
    applyInPandasWithState running (total, n) per user, driven to
    completion (single availableNow batch over the fixture file) and
    compared against the batch aggregate. int_scale accumulation
    makes the totals bit-exact — float Σ inside the state function
    would depend on row arrival order."""
    from hadron_spark.streaming import run_stream_to_memory, stateful_running_totals

    raw = events_stream(spark, sf_dir, "q87_events_")
    totals = stateful_running_totals(raw, "user_id", "value", int_scale=10000)
    out = run_stream_to_memory(totals, "q87_totals", output_mode="update")
    return out.select("user_id", "total", "n")


@_register(
    "q88_sliding_window",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS t FROM events
    ), w AS (
      SELECT event_type, t,
             unnest([ (t // 300000000) * 300000000,
                      (t // 300000000) * 300000000 - 300000000 ]) AS win_start
      FROM e
    )
    SELECT make_timestamp(win_start) AS win_start, event_type, COUNT(*) AS n
    FROM w
    WHERE t >= win_start AND t < win_start + 600000000
    GROUP BY 1, 2
    """,
)
def q88(spark, sf_dir):
    """Sliding (hopping) windows in BATCH: 10-minute windows every 5
    minutes — F.window(size, slide) assigns each event to its
    size/slide overlapping windows (an Expand, narrow). The oracle
    derives the same assignment from integer epoch arithmetic
    (unnest of the 2 candidate starts + containment filter) — exact.
    Same expression works under readStream: batch/stream parity."""
    e = load(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        e.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n"
        )
    )


@_register(
    "q89_event_transitions",
    """
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q89(spark, sf_dir):
    """Event-transition matrix (path/Markov analysis): per-user
    chronological lead() pairs each event with its successor, then a
    global count per (from, to). One shuffle for the per-user window;
    the |types|² aggregation rides partial agg. The per-key ordered
    stream is exactly the reference's secondary-sorted reducer input
    (O1) — here one window function."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "q90_mom_growth",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month, CAST(rev AS DOUBLE) AS revenue,
      (CAST(rev AS DOUBLE) - CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE))
        / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) AS mom_growth
    FROM m
    """,
)
def q90(spark, sf_dir):
    """Month-over-month growth: lag() over the |months|-row monthly
    aggregate (the global window runs on ~80 rows, never the fact
    table). Numerator and denominator are exact decimal sums cast to
    double; subtraction and division are the identical op sequence in
    both engines, so the ratio doubles hash-match."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        dsum_dec("o_totalprice").alias("rev")
    )
    w = Window.partitionBy().orderBy("month")
    rev_d = F.col("rev").cast("double")
    prev_d = F.lag("rev").over(w).cast("double")
    return m.select(
        "month",
        rev_d.alias("revenue"),
        ((rev_d - prev_d) / prev_d).alias("mom_growth"),
    )


@_register(
    "q91_order_streaks",
    """
    WITH d AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
      FROM orders
    ), r AS (
      SELECT o_custkey, d,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d) AS rn
      FROM d
    ), s AS (
      SELECT o_custkey, d - CAST(rn AS INTEGER) AS grp, COUNT(*) AS len
      FROM r GROUP BY o_custkey, d - CAST(rn AS INTEGER)
    )
    SELECT o_custkey, MAX(len) AS longest_streak,
           COUNT(*) AS n_streaks
    FROM s GROUP BY o_custkey
    """,
)
def q91(spark, sf_dir):
    """Gaps-and-islands: longest consecutive-day order streak per
    customer (hadron's sorted-reducer idiom as one window + two
    partial aggs). `date - row_number()` is constant within an island,
    so islands fall out of a single per-customer window — one shuffle
    on o_custkey that both the window and the two follow-up
    aggregations reuse (no re-shuffle: grouping keys are a superset
    prefix of the window partition key)."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    islands = d.withColumn(
        "grp", F.date_sub("d", F.row_number().over(w))
    )
    streaks = islands.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("o_custkey").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@_register(
    "q92_max_concurrency",
    """
    WITH iv AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e
      FROM orders
    ), ev AS (
      SELECT s AS t, 1 AS delta, o_orderkey FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta, o_orderkey FROM iv
    ), run AS (
      SELECT date_trunc('month', t) AS month,
             SUM(delta) OVER (
               ORDER BY t, delta, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c
      FROM ev
    )
    SELECT month, CAST(MAX(c) AS BIGINT) AS max_concurrent
    FROM run GROUP BY month
    """,
)
def q92(spark, sf_dir):
    """Interval sweep (max overlapping 30-day order windows per
    month) WITHOUT a global sort: the classic +1/-1 sweep is
    partitioned by month, and each month's carry-in (intervals still
    open at its start) is the prefix sum of per-month delta totals —
    a window over ~|months| rows. The oracle runs the naive global
    sweep; the two decompose identically because the event ordering
    (t, delta, key) keeps months contiguous. At 100 TB the heavy
    running sum is per-month parallel; only the tiny month-total
    spine is single-partition."""
    o = load(spark, sf_dir, "orders")
    iv = o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("e"),
    )
    ev = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "o_orderkey"
    ).unionAll(
        iv.select(
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            "o_orderkey",
        )
    ).withColumn("month", F.date_trunc("month", "t"))
    # the ±1 event stream feeds BOTH the carry-in totals and the
    # within-month sweep, but is NOT pinned (optimization r07): the
    # totals branch re-derives from a two-column pruned orders scan +
    # a 12-row aggregate — far cheaper at scale than materializing a
    # corpus-width frame to executor storage (measured local-neutral:
    # 1.26/1.28 s unpinned vs 1.26/1.55 s pinned, interleaved).
    # carry-in per month: EXCLUSIVE prefix sum of month delta totals
    # over the tiny month spine — ops.spine_running (triangular
    # broadcast self-join), not an unpartitioned window, so the plan
    # is warning-free and the bench's zero-WindowExec invariant holds
    totals = ev.groupBy("month").agg(F.sum("delta").alias("msum"))
    carry = ops.spine_running(
        totals, "month", "msum", "carry_in", inclusive=False
    ).select(
        "month", F.coalesce(F.col("carry_in"), F.lit(0)).alias("carry_in")
    )
    # within-month sweep: partitioned running sum + per-month max.
    wrun = Window.partitionBy("month").orderBy(
        "t", "delta", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peak = (
        ev.withColumn("run", F.sum("delta").over(wrun))
        .groupBy("month")
        .agg(F.max("run").alias("peak"))
    )
    return peak.join(carry, "month").select(
        "month", (F.col("carry_in") + F.col("peak")).alias("max_concurrent")
    )


@_register(
    "q93_modal_event_type",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type
             ) AS rn
      FROM c
    )
    SELECT user_id, event_type AS modal_type, n AS modal_n
    FROM r WHERE rn = 1
    """,
)
def q93(spark, sf_dir):
    """Per-group mode (most frequent event_type per user,
    deterministic lexicographic tie-break). count → row_number()
    keeps the same user_id shuffle partitioning across both steps;
    WindowGroupLimit prunes to 1 row per user before the filter."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("modal_n"),
        )
    )


@_register(
    "q94_pareto_brands",
    """
    WITH b AS (
      SELECT p_brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    ), t AS (
      SELECT p_brand, rev,
             CAST(SUM(rev) OVER (
               ORDER BY rev DESC, p_brand
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DECIMAL(18,4)) AS cum,
             CAST(SUM(rev) OVER () AS DECIMAL(18,4)) AS total,
             ROW_NUMBER() OVER (ORDER BY rev DESC, p_brand) AS rnk
      FROM b
    )
    SELECT p_brand, CAST(rev AS DOUBLE) AS revenue, rnk,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
    FROM t
    """,
)
def q94(spark, sf_dir):
    """Pareto analysis: brand revenue ranked with cumulative share of
    total. The broadcast dim join + partial agg collapse the fact
    table to |brands| rows BEFORE the global cumulative window, so
    the single-partition stage sees ~25 rows at any scale. Decimal
    running sums are exact in both engines; the one double division
    happens last."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    b = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand")
        .agg(dsum_dec("l_extendedprice").alias("rev"))
    )
    wo = Window.partitionBy().orderBy(F.col("rev").desc(), "p_brand")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    return b.select(
        "p_brand",
        F.col("rev").cast("double").alias("revenue"),
        F.row_number().over(wo).alias("rnk"),
        (
            F.sum("rev").over(wcum).cast("decimal(18,4)").cast("double")
            / F.sum("rev").over(wall).cast("decimal(18,4)").cast("double")
        ).alias("cum_share"),
    )


@_register("q95_dedup_canonical", None)
def q95(spark, sf_dir):
    """End-to-end near-dup canonicalization: MinHash-LSH candidate
    pairs → connected components over the pair graph → every doc in a
    component maps to its min doc_id. This is the full training-data
    dedup path the per-pair queries (q26/q30) only start: the output
    is the keep/drop decision itself. Approximate (LSH recall) →
    rows-only check."""
    from hadron_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_k=5
    ).filter(F.col("est_jaccard") >= 0.5)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    return cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
    )


@_register(
    "q96_chunk_text",
    """
    WITH s AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(n_chars, 1), 448)) AS start
      FROM documents
    )
    SELECT doc_id,
           (start - 1) // 448 AS chunk_no,
           start,
           CAST(length(substring(text, CAST(start AS INTEGER), 512)) AS BIGINT)
             AS chunk_len,
           md5(substring(text, CAST(start AS INTEGER), 512)) AS chunk_md5
    FROM s
    """,
)
def q96(spark, sf_dir):
    """Fixed-width chunking with overlap (512 chars, 64 overlap) —
    the context-window pre-tokenization step. sequence+posexplode is
    a narrow fan-out: zero shuffles, chunks stay co-located with
    their document. The md5 column proxies the chunk text through the
    value-hash compare."""
    docs = load(spark, sf_dir, "documents")
    c = textstats.chunk_text(docs, chunk_chars=512, overlap=64)
    return c.select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.col("start").cast("long").alias("start"),
        F.col("chunk_len").cast("long").alias("chunk_len"),
        "chunk_md5",
    )


@_register(
    "q97_weighted_median",
    """
    WITH t AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
             ) AS cum,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
             ) AS total
      FROM lineitem
    )
    SELECT l_returnflag, CAST(MIN(v) AS DOUBLE) AS weighted_median
    FROM t WHERE 2 * cum >= total GROUP BY l_returnflag
    """,
)
def q97(spark, sf_dir):
    """Quantity-weighted median price per return flag: smallest value
    whose RANGE-framed cumulative weight reaches half the total. The
    default window frame (RANGE UNBOUNDED..CURRENT) includes all
    peers of a tied value in both engines, so the selected value is
    order-independent; weights are exact integer sums and the chosen
    value is copied, never computed — bit-portable with no decimal
    detour."""
    li = load(spark, sf_dir, "lineitem")
    w_ord = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    w_all = Window.partitionBy("l_returnflag")
    qty = F.col("l_quantity").cast("long")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(qty).over(w_ord).alias("cum"),
        F.sum(qty).over(w_all).alias("total"),
    )
    return (
        t.filter(2 * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("v").cast("double").alias("weighted_median"))
    )


@_register(
    "q98_cms_heavy_hitters",
    """
    SELECT event_type AS key, COUNT(*) AS est
    FROM events GROUP BY event_type HAVING COUNT(*) >= 2
    """,
)
def q98(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators.sketch): partition
    sketches built Arrow-batched, merged by slot with an ordinary
    partial-agg groupBy (the sketch is a monoid), probed via a
    broadcast join. With |event_type| ≪ width the probe slots are
    collision-free, so the CMS upper bound is EXACT and the sketch
    path reproduces the exact GROUP BY oracle — the point of the
    demo: same answer, sub-linear state."""
    from hadron_spark.operators.sketch import heavy_hitters

    e = load(spark, sf_dir, "events")
    return heavy_hitters(e, "event_type", threshold=2)


@_register(
    "q99_triangle_count",
    """
    WITH p AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      GROUP BY 1, 2
    )
    SELECT COUNT(*) AS triangles
    FROM p e1
    JOIN p e2 ON e1.b = e2.a
    JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q99(spark, sf_dir):
    """Triangle count of the co-purchase graph (parts sharing an
    order). The Spark side runs the degree-ordered orientation
    (operators.graph.triangle_count — wedge fan-out bounded O(√m) on
    skewed graphs); the oracle runs the naive id-orientation 3-way
    join. Any total order counts each triangle once, so the two
    different algorithms must produce the identical count — an
    algebraic cross-check, not just a reimplementation echo."""
    from hadron_spark.operators.graph import triangle_count

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
        # no .distinct(): triangle_count _canon-dedups (r08)
    )
    return triangle_count(edges)


@_register(
    "q100_corpus_prep",
    r"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '')
               AS rawtoks
      FROM documents),
    q AS (
      SELECT doc_id, text, rawtoks FROM toks
      WHERE length(text) >= 200 AND len(rawtoks) >= 30),
    d AS (
      SELECT doc_id, text, rawtoks,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM q),
    kept AS (
      SELECT doc_id, lower(text) AS t, rawtoks FROM d
      WHERE doc_id = keeper),
    scores AS (
      SELECT kept.doc_id, p.lang,
             4 * len(list_filter(
                    list_transform(kept.rawtoks, x -> lower(x)),
                    x -> list_contains(p.words, x)))
             + list_sum(list_transform(p.grams, g ->
                 (length(t) - length(replace(t, g, ''))) // length(g)))
               AS num
      FROM kept, (VALUES
        """ + _LID_PROFILE_VALUES_SQL + r""") p(lang, words, grams)),
    best AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY num DESC, lang DESC) AS rk
      FROM scores),
    lab AS (
      SELECT kept.doc_id, len(kept.rawtoks) AS ntok, b.lang
      FROM kept JOIN best b ON kept.doc_id = b.doc_id AND b.rk = 1),
    sp AS (
      SELECT lang, ntok,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100) AS bkt
      FROM lab)
    SELECT CASE WHEN bkt < 90 THEN 'train'
                WHEN bkt < 95 THEN 'val'
                ELSE 'test' END AS split,
           lang AS lang_pred,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens
    FROM sp GROUP BY 1, 2
    """,
)
def q100(spark, sf_dir):
    """Capstone: the full corpus-preparation pipeline as ONE lazy
    plan — quality gate (integer thresholds) → exact dedup (min-id
    per text hash) → language ID (marker argmax) → deterministic
    hash split → per-(split, lang) doc/token budget. Every stage is
    an engine operator (functions.text / llm.textstats / ops); the
    oracle re-states all five stages as a CTE chain. Catalyst fuses
    the narrow stages into single codegen spans; the only shuffles
    are the dedup hash-window and the final 12-row aggregate. All
    output columns are copies or integer sums — bit-portable."""
    from hadron_spark.functions.text import quality_features, token_count
    from hadron_spark.operators.ops import hash_split

    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    kept = docs.filter(
        (feats["n_chars"] >= 200) & (feats["n_tokens"] >= 30)
    )
    # min-id dedup as groupBy + min(struct) instead of a hash window
    # (optimization r07, guide §2.2): the window shuffled every kept
    # row's full text AND sorted each hash partition; the aggregate
    # gets map-side partial aggregation (duplicate texts collapse
    # before the shuffle) and no sort.  Keeper row identical: doc_id
    # is unique AND non-null in the documents table (generator
    # invariant, ADVICE r07 — a NULL doc_id would sort first in the
    # struct min where the old window+filter dropped it), so
    # min(struct(doc_id, text)) is the min-doc_id row.
    deduped = (
        kept.groupBy(F.md5("text").alias("_h"))
        .agg(F.min(F.struct("doc_id", "text")).alias("_s"))
        .select(F.col("_s.doc_id").alias("doc_id"), F.col("_s.text").alias("text"))
    )
    lang = textstats.language_id(deduped)
    split = hash_split(
        lang, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    return split.groupBy("split", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
    )


@_register(
    "q101_table_diff",
    """
    WITH b AS (
      SELECT o_orderkey, o_totalprice,
             (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 20) AS bkt
      FROM orders),
    l AS (SELECT o_orderkey, o_totalprice FROM b WHERE bkt <> 2),
    r AS (SELECT o_orderkey,
                 CASE WHEN bkt = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM b WHERE bkt <> 1),
    j AS (SELECT l.o_totalprice AS lv, r.o_totalprice AS rv,
                 l.o_orderkey IS NULL AS lnull,
                 r.o_orderkey IS NULL AS rnull
          FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
    SELECT CASE WHEN rnull THEN 'only_left'
                WHEN lnull THEN 'only_right'
                WHEN lv = rv THEN 'same'
                ELSE 'changed' END AS status,
           COUNT(*) AS n
    FROM j GROUP BY 1
    """,
)
def q101(spark, sf_dir):
    """Table reconciliation (maintenance.table_diff): two 100 TB
    tables diff by reducing every row to (key, md5 row-hash) BEFORE
    the full-outer join — comparison columns never shuffle. The test
    harness derives left/right from orders with deterministic
    hash-bucket edits (5% changed, 5% dropped each side); the oracle
    classifies by direct value comparison — hash-classification and
    value-classification must agree on every key."""
    from hadron_spark.operators.maintenance import table_diff
    from hadron_spark.operators.ops import hash_bucket

    o = load(spark, sf_dir, "orders").withColumn(
        "bkt", hash_bucket("o_orderkey", 20)
    )
    left = o.filter(F.col("bkt") != 2).select("o_orderkey", "o_totalprice")
    right = o.filter(F.col("bkt") != 1).select(
        "o_orderkey",
        F.when(F.col("bkt") == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    d = table_diff(left, right, ["o_orderkey"])
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q102_salted_join_rollup",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
                AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q102(spark, sf_dir):
    """Skew-proof fact⋈dim rollup through ops.salted_join: the fact
    side's key is salted so a hot user spreads across salt_buckets
    tasks; the dim replicates ×buckets (broadcast of a range spine).
    The oracle is the PLAIN join — salting must be invisible in the
    result. Decimal-accumulated sum for the cross-engine hash."""
    from hadron_spark.operators.ops import salted_join

    e = load(spark, sf_dir, "events").select("user_id", "value")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(e, c, ["user_id"], salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "total_value"),
    )


@_register(
    "q103_share_of_parent",
    """
    WITH n AS (
      SELECT r.r_name, nt.n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      JOIN region r ON nt.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, nt.n_name
    )
    SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE)
             / CAST(CAST(SUM(rev) OVER (PARTITION BY r_name)
                         AS DECIMAL(18,4)) AS DOUBLE) AS share_of_region,
           CAST(rev AS DOUBLE)
             / CAST(CAST(SUM(rev) OVER () AS DECIMAL(18,4)) AS DOUBLE)
               AS share_of_total
    FROM n
    """,
)
def q103(spark, sf_dir):
    """Hierarchical percent-of-parent: nation revenue as a share of
    its region and of the grand total, computed over the |nations|-row
    aggregate (the windows never see the fact table). nation/region
    broadcast; customer is fact-sized at scale so its join is left to
    AQE (shuffle join is the 100 TB-correct default — at test SFs AQE
    converts it to broadcast at runtime). Parent sums are exact
    decimal re-aggregations so the two divisions hash-match."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .join(F.broadcast(r), nt.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum_dec("o_totalprice").alias("rev"))
    )
    wr = Window.partitionBy("r_name")
    wt = Window.partitionBy()
    rev_d = F.col("rev").cast("double")
    parent = F.sum("rev").over(wr).cast("decimal(18,4)").cast("double")
    total = F.sum("rev").over(wt).cast("decimal(18,4)").cast("double")
    return n.select(
        "r_name",
        "n_name",
        rev_d.alias("revenue"),
        (rev_d / parent).alias("share_of_region"),
        (rev_d / total).alias("share_of_total"),
    )


@_register(
    "q104_custdist",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q104(spark, sf_dir):
    """Distribution-of-counts (TPC-H Q13 motif): orders per customer,
    then customers per order-count. The LEFT join keeps zero-order
    customers (COUNT of a null key = 0 — the monoid mempty the
    reference's optional-join fill encodes, joins.py J5). Both
    aggregations ride partial agg; the second groups ~|distinct
    counts| rows."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@_register(
    "q105_session_window_batch",
    """
    WITH t AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
      FROM t
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
                AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def q105(spark, sf_dir):
    """Native session_window in BATCH mode (the same expression the
    streaming path uses — batch/stream parity like q88's hopping
    windows): per-session rows with [start, last+gap) bounds. The
    oracle hand-rolls sessionization from first principles (lag-gap
    flags + running session ids), so Spark's built-in session merge
    semantics (new session iff diff ≥ gap) are cross-checked, not
    assumed. Decimal-accumulated session values for the hash."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "session_value"),
    )
    return g.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "session_value",
    )


@_register("q106_kmeans_clusters", None)
def q106(spark, sf_dir):
    """Lloyd's k-means over the embeddings table (llm.similarity):
    per-cluster sizes and mean within-cluster squared distance after
    5 rounds. Iterative floating-point refinement → rows-only check
    (FP sum order varies per partitioning; the per-round contract is
    pinned by tests instead)."""
    emb = load(spark, sf_dir, "embeddings")
    a = similarity.kmeans(emb, k=8, iters=5)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("sq_dist").alias("mean_sq_dist"),
    )


@_register(
    "q107_growth_accounting",
    """
    WITH am AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS m FROM events
    ), hist AS (
      SELECT user_id, m,
             lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
             min(m) OVER (PARTITION BY user_id) AS first_m
      FROM am
    )
    SELECT m AS day,
           CAST(SUM(CASE WHEN m = first_m THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN m <> first_m
                          AND prev_m = m - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           CAST(SUM(CASE WHEN m <> first_m
                          AND prev_m < m - INTERVAL 1 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
    FROM hist GROUP BY m
    """,
)
def q107(spark, sf_dir):
    """Growth accounting (new / retained / resurrected per day —
    the standard DAU/MAU decomposition): distinct user-months, then
    ONE per-user window pass computes both the previous active month
    and the first-ever month, and a conditional aggregation
    classifies. The user-key shuffle is shared by lag and min
    windows; the month rollup is partial-agg'd. Integer counts —
    bit-portable."""
    e = load(spark, sf_dir, "events")
    am = e.select(
        "user_id", F.date_trunc("day", "ts").alias("m")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("m")
    wall = Window.partitionBy("user_id")
    hist = am.select(
        "user_id",
        "m",
        F.lag("m").over(w).alias("prev_m"),
        F.min("m").over(wall).alias("first_m"),
    )
    is_new = F.col("m") == F.col("first_m")
    consec = F.col("prev_m") == F.col("m") - F.expr("INTERVAL 1 DAY")
    gap = F.col("prev_m") < F.col("m") - F.expr("INTERVAL 1 DAY")
    return hist.groupBy(F.col("m").alias("day")).agg(
        F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("new_users"),
        F.sum(F.when(~is_new & consec, 1).otherwise(0))
        .cast("long")
        .alias("retained"),
        F.sum(F.when(~is_new & gap, 1).otherwise(0))
        .cast("long")
        .alias("resurrected"),
    )


@_register(
    "q108_cumulative_distinct_customers",
    """
    WITH fm AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS first_m
      FROM orders GROUP BY o_custkey
    ), per AS (
      SELECT first_m AS month, COUNT(*) AS new_customers FROM fm GROUP BY 1
    )
    SELECT month, new_customers,
           CAST(SUM(new_customers) OVER (
             ORDER BY month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_customers
    FROM per
    """,
)
def q108(spark, sf_dir):
    """Cumulative distinct customers per month via the
    first-appearance trick: COUNT(DISTINCT) over an expanding window
    re-scans O(n·months) naively, but each customer contributes
    exactly at their first month, so a per-customer min + per-month
    count + prefix sum over the ~|months|-row spine gives the
    identical series with two ordinary partial-agg'd aggregations and
    one tiny global window."""
    o = load(spark, sf_dir, "orders")
    fm = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("first_m")
    )
    per = fm.groupBy(F.col("first_m").alias("month")).agg(
        F.count(F.lit(1)).alias("new_customers")
    )
    w = (
        Window.partitionBy()
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "month",
        "new_customers",
        F.sum("new_customers").over(w).cast("long").alias(
            "cumulative_customers"
        ),
    )


@_register(
    "q109_max_drawdown",
    """
    WITH b AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DECIMAL(18,4)) AS bal
      FROM orders
    ), r AS (
      SELECT o_custkey, bal,
             CAST(MAX(bal) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS DECIMAL(18,4)) AS peak
      FROM b
    )
    SELECT o_custkey,
           CAST(MAX(peak - bal) AS DOUBLE) AS max_drawdown
    FROM r GROUP BY o_custkey
    """,
)
def q109(spark, sf_dir):
    """Max drawdown per customer: running balance (cumulative spend),
    its running peak, and the largest peak-to-current gap — three
    stacked computations over ONE window spec, so the per-customer
    shuffle+sort happens once and the final rollup reuses the same
    clustering (no second exchange for the groupBy). Every step
    (cumsum, max, subtraction) is exact decimal arithmetic; the lone
    double cast is last."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bal = F.sum(_dec("o_totalprice")).over(w).cast("decimal(18,4)")
    r = o.select(
        "o_custkey",
        bal.alias("bal"),
        F.max(bal).over(w).cast("decimal(18,4)").alias("peak"),
    )
    return r.groupBy("o_custkey").agg(
        F.max(F.col("peak") - F.col("bal"))
        .cast("double")
        .alias("max_drawdown")
    )


@_register(
    "q110_topk_with_ties",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC) AS rk
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM r WHERE rk <= 3
    """,
)
def q110(spark, sf_dir):
    """Top-k per group WITH ties (rank(), not row_number()): a price
    tie at rank 3 keeps every tied order, so the output cardinality
    is data-dependent — the semantic q44's row_number() variant
    deliberately avoids. Catalyst still prunes with WindowGroupLimit
    (rank-based running-limit pushdown), so partitions never
    materialize full groups."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@_register(
    "q111_mad_outliers",
    """
    WITH med AS (
      SELECT l_returnflag,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
               AS m
      FROM lineitem GROUP BY l_returnflag
    ), dev AS (
      SELECT l.l_returnflag, abs(l.l_extendedprice - med.m) AS d
      FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
    )
    SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS mad
    FROM dev GROUP BY l_returnflag
    """,
)
def q111(spark, sf_dir):
    """Median absolute deviation per group — the robust dispersion
    statistic: inner median (percentile_disc: an ACTUAL element, no
    interpolation → bit-portable) broadcasts back onto the fact scan,
    |x − m| is one IEEE subtraction both engines perform identically,
    outer median again copies an element. The two-level
    quantile-broadcast shape is q73's outlier trim generalized to a
    derived statistic."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("m")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("m")).alias("d"),
    )
    return dev.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("mad")
    )


@_register(
    "q112_impute_missing",
    """
    WITH masked AS (
      SELECT event_id, event_type,
             CASE WHEN (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                         ::BIGINT % 10) = 0
                  THEN NULL ELSE value END AS value
      FROM events
    ), med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS m
      FROM masked WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT masked.event_id, masked.event_type,
           COALESCE(masked.value, med.m) AS value,
           masked.value IS NULL AS imputed
    FROM masked JOIN med ON masked.event_type = med.event_type
    """,
)
def q112(spark, sf_dir):
    """Missing-value imputation by group median — the data-prep
    staple: a deterministic 10% of readings are masked (hash bucket,
    so both engines mask identical rows), per-type medians are
    computed over the survivors (percentile_disc copies an element —
    portable) and broadcast back to COALESCE the holes. Same
    quantile-broadcast shape as q73/q111; the `imputed` flag makes
    the fill auditable downstream."""
    from hadron_spark.operators.ops import hash_bucket

    e = load(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        "event_type",
        F.when(hash_bucket("event_id", 10) == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    med = (
        masked.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
            ).alias("m")
        )
    )
    return masked.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.coalesce(F.col("value"), F.col("m")).alias("value"),
        F.col("value").isNull().alias("imputed"),
    )


@_register(
    "q113_rolling_active_users",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT d,
           (SELECT COUNT(DISTINCT e.user_id) FROM events e
            WHERE CAST(e.ts AS DATE) BETWEEN days.d - 6 AND days.d)
             AS active_7d
    FROM days
    """,
)
def q113(spark, sf_dir):
    """Trailing-7-day distinct active users per day. Rolling DISTINCT
    cannot ride an ordinary window frame (distinct state doesn't
    merge), and a range join re-scans the fact per day; instead each
    (user, day) contributes itself to the ≤7 spine days it can serve
    — a BOUNDED explode fan-out (×7) followed by one distinct-count,
    which scales linearly at any corpus size. The oracle computes the
    same series the naive way (correlated COUNT DISTINCT per day) —
    another two-algorithms-one-answer cross-check."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add("day", 6),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
    )
    spine = ud.select("day").distinct().withColumnRenamed("day", "d")
    return (
        contrib.join(spine, "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(F.col("d").cast("timestamp").alias("d"), "active_7d")
    )


@_register(
    "q114_price_trend_slope",
    """
    WITH p AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(round(o_totalprice * 10000) AS BIGINT) AS y
      FROM orders
    ), s AS (
      SELECT o_custkey, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM p GROUP BY o_custkey
    )
    SELECT o_custkey, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
    FROM s WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
)
def q114(spark, sf_dir):
    """Per-customer OLS price-trend slope as ONE exact aggregation:
    x = days since epoch (int), y = price scaled to integer cents●4,
    and slope = (nΣxy − ΣxΣy)/(nΣxx − ΣxΣx) where every sum and
    product stays in exact int64 (bounds documented: |x|≤~2.5e3,
    |y|≤~6e9 ⇒ Σxy per customer ≤ ~5e14 ≪ 2^63; a 100 TB deployment
    with >~1e4 rows per key moves the sums to DECIMAL(38,0)). The
    ONLY floating-point op is the final division of two exact
    integers — one correctly-rounded IEEE op, so both engines agree
    bit-for-bit. Regression-as-aggregation: no ML library, partial
    aggs do the work map-side."""
    o = load(spark, sf_dir, "orders")
    x = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
    ).cast("long")
    y = F.round(F.col("o_totalprice") * 10000).cast("long")
    p = o.select("o_custkey", x.alias("x"), y.alias("y"))
    s = p.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter((F.col("n") >= 2) & (den != 0)).select(
        "o_custkey",
        "n",
        (num.cast("double") / den.cast("double")).alias("slope"),
    )


@_register(
    "q115_ab_welch_t",
    """
    WITH p AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS sy,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS syy
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    ), w AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'click' THEN sy END) AS sy1,
        MAX(CASE WHEN event_type = 'click' THEN syy END) AS syy1,
        MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'purchase' THEN sy END) AS sy2,
        MAX(CASE WHEN event_type = 'purchase' THEN syy END) AS syy2
      FROM p
    )
    SELECT n1, n2,
           CAST(sy1 AS DOUBLE) / n1 AS mean1,
           CAST(sy2 AS DOUBLE) / n2 AS mean2,
           (CAST(sy1 AS DOUBLE) / n1 - CAST(sy2 AS DOUBLE) / n2)
             / sqrt(
                 (CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
               + (CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE)
                   / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2
               ) AS t_welch
    FROM w
    """,
)
def q115(spark, sf_dir):
    """Welch's t-statistic (A/B test: click vs purchase values) with
    NO floating-point aggregation: counts and first/second moments
    accumulate as exact int64 (values quantized to cents — a defined
    metric, applied identically in both engines), variance numerators
    are exact integer algebra (n·Σy² − (Σy)²), and the only FP ops
    are the final divisions and one sqrt — an IDENTICAL, correctly
    rounded op sequence in Spark and DuckDB, so even the t-statistic
    double hash-matches. The usual var_samp() is NOT portable
    (engine-internal summation order); exact moments are."""
    e = load(spark, sf_dir, "events")
    y = F.round(F.col("value") * 100).cast("long")
    p = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )

    def pick(col, t):
        return F.max(F.when(F.col("event_type") == t, F.col(col)))

    w = p.agg(
        pick("n", "click").alias("n1"),
        pick("sy", "click").alias("sy1"),
        pick("syy", "click").alias("syy1"),
        pick("n", "purchase").alias("n2"),
        pick("sy", "purchase").alias("sy2"),
        pick("syy", "purchase").alias("syy2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mean1 = F.col("sy1").cast("double") / n1
    mean2 = F.col("sy2").cast("double") / n2
    v1 = (n1 * F.col("syy1") - F.col("sy1") * F.col("sy1")).cast(
        "double"
    ) / (n1.cast("double") * (n1 - 1))
    v2 = (n2 * F.col("syy2") - F.col("sy2") * F.col("sy2")).cast(
        "double"
    ) / (n2.cast("double") * (n2 - 1))
    return w.select(
        "n1",
        "n2",
        mean1.alias("mean1"),
        mean2.alias("mean2"),
        ((mean1 - mean2) / F.sqrt(v1 / n1 + v2 / n2)).alias("t_welch"),
    )


@_register(
    "q116_gini_impurity",
    """
    WITH c AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    ), g AS (
      SELECT c_nationkey, CAST(SUM(n) AS BIGINT) AS n_customers,
             CAST(SUM(n * n) AS BIGINT) AS ss
      FROM c GROUP BY 1
    )
    SELECT c_nationkey, n_customers,
           1 - CAST(ss AS DOUBLE)
                 / (CAST(n_customers AS DOUBLE) * n_customers) AS gini
    FROM g
    """,
)
def q116(spark, sf_dir):
    """Gini impurity of the market-segment mix per nation — the
    class-balance health check a training-data pipeline runs on every
    stratified source. Entropy needs ln() (library-dependent last
    ulp); Gini = 1 − Σnᵢ²/N² is an EXACT integer ratio until one
    final double division, so it hash-matches across engines. Two
    partial-aggregated shuffles on shrinking keys (nation×segment,
    then nation) — at 100 TB nothing but counts ever moves."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = c.groupBy("c_nationkey").agg(
        F.sum("n").alias("n_customers"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    return g.select(
        "c_nationkey",
        "n_customers",
        (
            F.lit(1)
            - F.col("ss").cast("double")
            / (F.col("n_customers").cast("double") * F.col("n_customers"))
        ).alias("gini"),
    )


@_register(
    "q117_cooccurrence_jaccard",
    """
    WITH ue AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sz AS (
      SELECT event_type, COUNT(*) AS n FROM ue GROUP BY 1
    ), pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) AS jaccard
    FROM pair
    JOIN sz sa ON pair.type_a = sa.event_type
    JOIN sz sb ON pair.type_b = sb.event_type
    """,
)
def q117(spark, sf_dir):
    """Audience-overlap Jaccard between event types: |users(A) ∩
    users(B)| / |users(A) ∪ users(B)|, all three terms exact integers
    (union by inclusion-exclusion — never materialized), one final
    division. The self-join runs on the DEDUPLICATED (user, type)
    set, so per-user fan-out is bounded by (#types per user)², not
    by event count — the co-occurrence shape that stays safe at
    100 TB where a raw-events self-join would explode. Type-level
    set sizes are a tiny broadcast back onto the pair counts."""
    # the deduplicated (user, type) set feeds the self-join's two
    # sides AND the size table — pinned so the events scan + distinct
    # shuffle runs once instead of three times (ops.pin rationale).
    ue = ops.pin(
        load(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    sz = ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ue.alias("a")
    b = ue.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pair.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


@_register(
    "q118_decile_lift",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
               AS s
      FROM orders GROUP BY 1
    ), d AS (
      SELECT o_custkey, s,
             ntile(10) OVER (ORDER BY s DESC, o_custkey) AS decile
      FROM spend
    ), t AS (
      SELECT decile, COUNT(*) AS n_customers,
             CAST(SUM(s) AS DECIMAL(18,4)) AS rev
      FROM d GROUP BY 1
    )
    SELECT decile, n_customers, CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
             AS rev_share,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
             * CAST(SUM(n_customers) OVER () AS DOUBLE) / n_customers
             AS lift
    FROM t
    """,
)
def q118(spark, sf_dir):
    """Decile lift table (model-eval / campaign-targeting staple):
    customers ranked by total spend into ntile(10) buckets, each
    decile's revenue share against the 10%-of-customers baseline.
    ntile is deterministic because the ORDER BY is a total order
    (spend DESC, then key). The decile assignment runs through
    ops.range_rank — cutpoint-banded global ranking, NO
    single-partition window even though the input is only the
    per-customer aggregate — and the grand totals come from a 1-row
    cross-joined aggregate instead of `SUM OVER ()`. Revenue stays
    DECIMAL until one final double cast; share and lift are
    identical left-associated double op chains in both engines."""
    from hadron_spark.operators.ops import range_rank

    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum_dec("o_totalprice").alias("s"))
    )
    d = range_rank(
        spend,
        -F.col("s"),
        [F.col("s").desc(), F.col("o_custkey")],
        ntile=10,
        ntile_col="decile",
    )
    t = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dec(F.sum("s")).alias("rev"),
    )
    # grand totals from `spend` directly (Σ per-decile rev == Σ s) —
    # the totals branch must NOT hang off `t`, or it would recompute
    # the whole ranking; off `spend` it shares the one heavy
    # per-customer exchange via AQE stage reuse.
    tot = spend.agg(
        _dec(F.sum("s")).cast("double").alias("_tot_rev"),
        F.count(F.lit(1)).cast("double").alias("_tot_n"),
    )
    rev_d = F.col("rev").cast("double")
    return t.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        rev_d.alias("revenue"),
        (rev_d / F.col("_tot_rev")).alias("rev_share"),
        (
            rev_d / F.col("_tot_rev") * F.col("_tot_n")
            / F.col("n_customers")
        ).alias("lift"),
    )


@_register(
    "q119_zscore_outliers",
    """
    WITH q AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy
      FROM q GROUP BY 1
    )
    SELECT event_id, event_type, z FROM (
      SELECT q.event_id, q.event_type,
             (CAST(q.y AS DOUBLE) - CAST(m.sy AS DOUBLE) / m.n)
               / sqrt((CAST(m.syy AS DOUBLE)
                        - CAST(m.sy AS DOUBLE) * m.sy / m.n)
                      / (m.n - 1)) AS z
      FROM q JOIN m ON q.event_type = m.event_type
    ) WHERE abs(z) > 3
    """,
)
def q119(spark, sf_dir):
    """Per-group z-score anomaly flagging: every event scored against
    its event_type's mean/stddev, |z| > 3 kept. Moments accumulate
    as EXACT int64 (cents quantization), then convert to double ONCE
    — a correctly-rounded op both engines perform identically — and
    every subsequent op (two divisions, one subtraction, one sqrt)
    is the same IEEE sequence, so even the z values hash-match.
    Doing the algebra in doubles-from-exact-moments (not n·Σy²−(Σy)²
    integer form) keeps it overflow-free at any scale. The tiny
    per-type moment table broadcasts back onto the event scan —
    one partial-agg shuffle total."""
    q = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    mean = F.col("sy").cast("double") / n
    var = (
        F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    ) / (n - 1)
    z = (F.col("y").cast("double") - mean) / F.sqrt(var)
    return (
        q.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3)
    )


@_register(
    "q120_topn_other_rollup",
    """
    WITH rev AS (
      SELECT c_nationkey, o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
               AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), rk AS (
      SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY r DESC, o_custkey) AS rn
      FROM rev
    )
    SELECT c_nationkey,
           CASE WHEN rn <= 3 THEN CAST(o_custkey AS VARCHAR)
                ELSE 'OTHER' END AS who,
           CAST(CAST(SUM(r) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM rk GROUP BY 1, 2
    """,
)
def q120(spark, sf_dir):
    """Top-N per group WITH an 'Other' rollup bucket — the dashboard
    shape (top 3 customers per nation, rest folded into one row) that
    naive top-k drops on the floor. Unlike q44/q110 the non-top rows
    are NOT discarded, so no WindowGroupLimit pruning applies; the
    window ranks the per-(nation, customer) AGGREGATE (small), and
    the re-aggregation groups on (nation, label). Deterministic
    label: row_number over a total order (revenue DESC, key)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(dsum_dec("o_totalprice").alias("r"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("r").desc(), F.col("o_custkey")
    )
    rk = rev.withColumn("rn", F.row_number().over(w))
    who = F.when(
        F.col("rn") <= 3, F.col("o_custkey").cast("string")
    ).otherwise(F.lit("OTHER"))
    return (
        rk.select("c_nationkey", who.alias("who"), "r")
        .groupBy("c_nationkey", "who")
        .agg(_dec(F.sum("r")).cast("double").alias("revenue"))
    )


@_register(
    "q121_locf_resample",
    """
    WITH ranked AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(round(value * 100) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), daily AS (
      SELECT user_id, d, y FROM ranked WHERE rn = 1
    ), spans AS (
      SELECT user_id, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS d
      FROM spans
    )
    SELECT g.user_id, g.d,
           last_value(daily.y IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.d) AS y_filled,
           daily.y IS NULL AS filled
    FROM grid g
    LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d
    """,
)
def q121(spark, sf_dir):
    """Daily resample + LOCF forward fill (ops.gap_fill →
    ops.forward_fill): each user's last reading per day (row_number
    over a total order — deterministic), densified to every day in
    the user's span, gaps carrying the previous reading forward with
    an auditable `filled` flag (the sensor/price-series semantic
    where absent means unchanged, vs q64's fill-with-constant and
    q112's fill-with-statistic). The LOCF window orders by the SAME
    key the grid join partitioned on, so the fill pass adds no new
    exchange. Readings quantized to integer cents — carried values
    hash-match exactly."""
    wd = Window.partitionBy("user_id", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("user_id", "d", "y")
    )
    grid = ops.gap_fill(daily, ["user_id"], "d", step="1 day")
    flagged = grid.withColumn("filled", F.col("y").isNull())
    out = ops.forward_fill(flagged, ["user_id"], "d", ["y"])
    return out.select(
        "user_id", "d", F.col("y").alias("y_filled"), "filled"
    )


@_register("q122_hll_incremental_distinct", None)
def q122(spark, sf_dir):
    """Incremental distinct-user maintenance via stored HLL sketches
    (operators.sketch.hll_rollup/hll_merge/hll_estimate): per-day
    DataSketches HLL sketches roll up to per-month estimates by
    LOSSLESS register-max union — the continuous-aggregate form
    where month (or all-time) distincts are an O(sketch-count) merge
    of persisted state, never an O(data) rescan. Approximate by
    design (no SQL oracle); tests/test_maintenance.py asserts
    merge-vs-direct equality (union of the parts == sketch of the
    whole, exactly) and the estimate's error bound vs exact."""
    from hadron_spark.operators.sketch import hll_estimate, hll_merge, hll_rollup

    e = load(spark, sf_dir, "events").withColumn(
        "d", F.date_trunc("day", F.col("ts"))
    )
    day = hll_rollup(e, "d", "user_id", lg_k=12)
    month = hll_merge(
        day.withColumn("m", F.date_trunc("month", F.col("d"))), "m"
    )
    return hll_estimate(month).select(
        "m", F.col("est").cast("long").alias("est_users")
    )


@_register(
    "q123_below_avg_quantity",
    """
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_partkey, COUNT(*) AS n_small,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                     AS DECIMAL(18,4)) AS DOUBLE) AS small_revenue
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < CAST(0.2 AS DOUBLE) * pa.avg_qty
    GROUP BY 1
    """,
)
def q123(spark, sf_dir):
    """TPC-H Q17 motif — rows compared against THEIR OWN group's
    average ("small" lineitems below 20% of the part's mean
    quantity). The correlated scalar subquery decorrelates into a
    per-part aggregate joined back onto the fact scan — written
    explicitly as that join (the plan Catalyst's subquery
    decorrelation would produce), with the per-part side
    partial-aggregated and broadcast when small. Quantities are
    integral doubles → exact int64 sum → ONE division for the mean;
    the 0.2·avg threshold is the same two IEEE ops in both engines,
    so even boundary rows filter identically."""
    li = load(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(pa), "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum_dec("l_extendedprice").cast("double").alias("small_revenue"),
        )
    )


@_register(
    "q124_conversion_latency",
    """
    WITH g AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN ts END)
               AS first_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY 1
    ), lat AS (
      SELECT epoch_us(first_purchase) - epoch_us(first_click) AS lat_us
      FROM g
      WHERE first_click IS NOT NULL AND first_purchase >= first_click
    )
    SELECT COUNT(*) AS n_converted,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_us)
             AS median_latency_us,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_us)
             AS p90_latency_us
    FROM lat
    """,
)
def q124(spark, sf_dir):
    """Click→purchase conversion latency (funnel timing): first click
    and first purchase per user come from ONE conditional-min pass
    over the event scan — a single partial-aggregated shuffle, where
    the naive two-CTE formulation scans and shuffles twice. Latency
    is exact integer micros; the median/p90 use percentile_disc
    (actual elements, no interpolation) so they hash-match."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("first_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = g.filter(
        F.col("first_click").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_click")
        ).alias("lat_us")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_us)")
        .cast("long")
        .alias("median_latency_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_us)")
        .cast("long")
        .alias("p90_latency_us"),
    )


@_register(
    "q125_relational_division",
    """
    WITH np AS (
      SELECT COUNT(DISTINCT o_orderpriority) AS n_total FROM orders
    ), cu AS (
      SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_priorities
      FROM orders GROUP BY 1
    )
    SELECT cu.o_custkey, cu.n_priorities
    FROM cu, np WHERE cu.n_priorities = np.n_total
    """,
)
def q125(spark, sf_dir):
    """Relational division ("for all"): customers who have placed
    orders in EVERY priority class that exists. Division via
    cardinality match — per-customer distinct-priority counts against
    the global distinct count, the set-cover formulation that needs
    no per-element anti-join. The global count is a 1-row broadcast;
    per-customer distinct-counts partial-aggregate (two-phase
    distinct) on the customer key."""
    o = load(spark, sf_dir, "orders")
    np_ = o.agg(F.count_distinct("o_orderpriority").alias("n_total"))
    cu = o.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").alias("n_priorities")
    )
    return (
        cu.crossJoin(F.broadcast(np_))
        .filter(F.col("n_priorities") == F.col("n_total"))
        .select("o_custkey", "n_priorities")
    )


@_register(
    "q126_benford_audit",
    """
    WITH d AS (
      SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice > 0
    )
    SELECT digit, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM d GROUP BY digit
    """,
)
def q126(spark, sf_dir):
    """Benford first-digit audit (fraud/data-quality screen): the
    leading digit of every order total, counted and shared against
    the whole. Digit extraction goes through integer cents → string
    (bigint-to-decimal-string is identical in every engine — float
    formatting is NOT), so the grouping is bit-portable; shares are
    exact int ratios. One partial-agg shuffle over 9 keys; the
    window total is 9 rows."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        ).alias("digit")
    )
    t = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return t.select(
        "digit",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double")
        ).alias("share"),
    )


@_register(
    "q127_first_touch_attribution",
    """
    WITH ft AS (
      SELECT user_id, event_type AS first_touch FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events) t
      WHERE rn = 1
    )
    SELECT ft.first_touch,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS attributed_revenue
    FROM events e JOIN ft ON e.user_id = ft.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
)
def q127(spark, sf_dir):
    """First-touch attribution: every purchase's value credited to
    the channel (event_type) of the user's FIRST event. The
    first-touch map is one ranked-window pass (total order → 
    deterministic) producing |users| rows that broadcast back onto
    the purchase scan — no per-purchase backward search. Revenue
    accumulates as exact integer cents; /100 at the end is one
    IEEE division."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (
        e.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_touch"))
    )
    return (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(ft), "user_id")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100
            ).alias("attributed_revenue"),
        )
    )


@_register(
    "q128_ship_latency_histogram",
    """
    SELECT CAST(floor(date_diff('day', o_orderdate, l_shipdate) / 7)
                AS BIGINT) AS week_bucket,
           COUNT(*) AS n_lineitems
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q128(spark, sf_dir):
    """Order→ship latency histogram in week buckets: the fulfilment
    SLA distribution. The day difference is exact integer calendar
    math (date_diff on timestamps — no epoch division ambiguity),
    bucketed by integer floor-division. The fact⋈fact join shuffles
    both sides on orderkey once; the histogram itself
    partial-aggregates to a handful of buckets."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    days = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        j.select(
            F.floor(days / 7).cast("long").alias("week_bucket")
        )
        .groupBy("week_bucket")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )


@_register(
    "q129_bloom_prefilter_join",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                     AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN (SELECT * FROM part WHERE p_size <= 2) p
      ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def q129(spark, sf_dir):
    """Selective fact⋈dim join behind a Bloom pre-filter
    (joins.bloom_prefilter_join): 2-hash sparse-bitmap words built
    from the filtered dim's keys broadcast onto the lineitem scan,
    dropping non-matching fact rows BEFORE the join — the
    runtime-filter pattern that, at 100 TB, turns a full fact
    shuffle into a shuffle of only plausible matches. False
    positives are re-checked by the real join, so the oracle is the
    PLAIN join — the bloom pass must be invisible in the results,
    exactly like q102's salting."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 2)
    j = joins.bloom_prefilter_join(li, p, "l_partkey", "p_partkey")
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum_dec("l_extendedprice").cast("double").alias("revenue"),
    )


@_register(
    "q130_stream_stream_join",
    """
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, ts AS c_ts FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts AS p_ts FROM events
          WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.p_ts >= c.c_ts - INTERVAL 30 MINUTE
     AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    GROUP BY 1
    """,
)
def q130(spark, sf_dir):
    """Stream-stream interval join (streaming.stream_stream_join):
    clicks joined to purchases by the same user within ±30 minutes,
    BOTH sides watermarked with the band in the join condition so
    buffered state expires (without it a stream-stream join holds
    both streams forever). One availableNow pass lands every pair in
    one micro-batch — nothing is watermark-dropped — so the appended
    output equals the BATCH band join and the oracle is plain SQL:
    the strongest batch/stream-parity statement in the suite (q31/
    q63 check windowed aggregates; this checks join semantics)."""
    from hadron_spark.streaming import run_stream_to_memory, stream_stream_join

    ev = events_stream(spark, sf_dir, "q130_events_")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = stream_stream_join(
        clicks,
        purch,
        ["user_id"],
        "c_ts",
        "p_ts",
        bound="30 minutes",
        watermark="2 hours",
    )
    pairs = run_stream_to_memory(joined, "q130_pairs", output_mode="append")
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@_register(
    "q131_stream_dedup",
    """
    SELECT event_type, COUNT(*) AS n_unique_users
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY 1
    """,
)
def q131(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state
    (streaming.stream_dedup → dropDuplicatesWithinWatermark): first
    (event_type, user_id) sighting survives, duplicates within the
    watermark horizon drop, and a key's state is freed once the
    watermark passes it — state ∝ arrival rate × watermark, not
    stream history. Over the whole file in one availableNow batch
    nothing expires mid-run, so the surviving set equals batch
    DISTINCT and the oracle is plain SQL (batch/stream dedup
    parity)."""
    from hadron_spark.streaming import run_stream_to_memory, stream_dedup

    ev = events_stream(spark, sf_dir, "q131_events_")
    uniq = stream_dedup(
        ev.select("event_type", "user_id", "ts"),
        ["event_type", "user_id"],
        ts_col="ts",
        watermark="1 hour",
    )
    got = run_stream_to_memory(uniq, "q131_uniq", output_mode="append")
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_users")
    )


@_register(
    "q132_chi2_contingency",
    """
    WITH o AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS obs
      FROM customer GROUP BY 1, 2
    ), r AS (
      SELECT c_nationkey, SUM(obs) AS rt FROM o GROUP BY 1
    ), c AS (
      SELECT c_mktsegment, SUM(obs) AS ct FROM o GROUP BY 1
    ), n AS (
      SELECT SUM(obs) AS tot FROM o
    )
    SELECT o.c_nationkey, o.c_mktsegment, o.obs,
           CAST(r.rt AS DOUBLE) * c.ct / n.tot AS expected,
           (o.obs - CAST(r.rt AS DOUBLE) * c.ct / n.tot)
             * (o.obs - CAST(r.rt AS DOUBLE) * c.ct / n.tot)
             / (CAST(r.rt AS DOUBLE) * c.ct / n.tot) AS chi2_term
    FROM o
    JOIN r ON o.c_nationkey = r.c_nationkey
    JOIN c ON o.c_mktsegment = c.c_mktsegment
    CROSS JOIN n
    """,
)
def q132(spark, sf_dir):
    """Chi-square contingency table (nation × market segment):
    observed counts, independence-expected counts, and each cell's
    (O−E)²/E contribution. Everything derives from ONE aggregated
    pass (marginals re-aggregate the tiny cell table, then broadcast
    back); expected = double(R)·C/N avoids the R·C int64 overflow a
    4B-row margin would hit. Per-CELL statistics are each an
    independent exact-int→IEEE chain, so every row hash-matches —
    the grand χ² total is deliberately left to the reader because a
    parallel SUM of doubles is order-dependent (the same reason
    q115 rejects var_samp)."""
    cu = load(spark, sf_dir, "customer")
    # the ≤|nations|×|segments| cell table feeds four branches (cells,
    # row margins, column margins, grand total) — pinned so the
    # customer scan + cell aggregation runs once, not four times.
    o = ops.pin(
        cu.groupBy("c_nationkey", "c_mktsegment").agg(
            F.count(F.lit(1)).alias("obs")
        )
    )
    r = o.groupBy("c_nationkey").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("c_mktsegment").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("tot"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("tot")
    d = F.col("obs") - e
    return (
        o.join(F.broadcast(r), "c_nationkey")
        .join(F.broadcast(c), "c_mktsegment")
        .crossJoin(F.broadcast(n))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "obs",
            e.alias("expected"),
            (d * d / e).alias("chi2_term"),
        )
    )


@_register(
    "q133_hierarchy_depth",
    """
    WITH RECURSIVE e AS (
      SELECT c_custkey AS node,
             CASE WHEN c_custkey = 0 THEN NULL
                  ELSE (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                        1, 8))::BIGINT % c_custkey)
             END AS parent
      FROM customer
    ), walk AS (
      SELECT node, 0 AS depth FROM e WHERE parent IS NULL
      UNION ALL
      SELECT e.node, w.depth + 1
      FROM e JOIN walk w ON e.parent = w.node
    )
    SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS key_sum
    FROM walk GROUP BY 1
    """,
)
def q133(spark, sf_dir):
    """Recursive hierarchy traversal — the org-chart/BOM closure
    Spark SQL has no WITH RECURSIVE for. A deterministic forest is
    derived over the customer keys (parent(k) = md5-hash(k) mod k,
    root 0 — the identical expression in both engines, like q48's
    hash split) and per-node depth computed by POINTER DOUBLING
    (operators.graph.tree_depth): ⌈log₂ height⌉ key-partitioned
    self-joins instead of height frontier rounds, lineage truncated
    per round. The oracle walks the same forest with DuckDB's
    recursive CTE; depths, node counts and key sums must agree
    exactly."""
    from hadron_spark.operators.graph import tree_depth

    k = F.col("c_custkey")
    e = load(spark, sf_dir, "customer").select(
        k.alias("node"),
        F.when(k == 0, F.lit(None).cast("long"))
        .otherwise(
            F.conv(F.substring(F.md5(k.cast("string")), 1, 8), 16, 10).cast(
                "long"
            )
            % k
        )
        .alias("parent"),
    )
    return (
        tree_depth(e)
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("key_sum"),
        )
    )


@_register("q134_weighted_sample", None)
def q134(spark, sf_dir):
    """Quality-weighted corpus subsample (ops.weighted_sample):
    Efraimidis–Spirakis A-ES over the documents table, 50 docs per
    source weighted by length — inclusion probability ∝ weight, yet
    fully deterministic (u derives from the md5 of the doc key, as
    in hash_split), so the mix is reproducible across runs and
    re-shards. No SQL oracle: the selection depends on ln(u)/w
    ranking, which has no portable cross-engine form (pow/ln differ
    in the last ulp); determinism + proportionality are pinned in
    tests/test_ops.py instead. One group-keyed window shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    samp = ops.weighted_sample(
        d, "doc_id", F.col("n_chars").cast("double"), 50, ["source"]
    )
    return samp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sampled_chars"),
    )


@_register(
    "q135_pseudonymize",
    """
    SELECT c_custkey,
           md5(c_name || ':pepper42') AS c_name,
           c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS acctbal_band
    FROM customer
    """,
)
def q135(spark, sf_dir):
    """De-identification for training/analytics hand-off
    (ops.pseudonymize): names replaced by keyed md5 tokens —
    deterministic, so joins/group-bys/dedup still work on masked
    data, non-invertible without the pepper — and the quasi-
    identifier acctbal generalized to a 100-unit band (coarse
    binning, the k-anonymity lever). All narrow projection work: the
    masking pass adds zero shuffles at any scale, and md5 is the
    identical function in both engines so even the tokens
    hash-match."""
    c = load(spark, sf_dir, "customer")
    masked = ops.pseudonymize(c, ["c_name"], "pepper42")
    return masked.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 100) * 100)
        .cast("long")
        .alias("acctbal_band"),
    )


@_register(
    "q136_sketch_guided_frequent",
    """
    SELECT l_partkey, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 40
    """,
)
def q136(spark, sf_dir):
    """Exact frequent-part mining behind a count-min screen
    (sketch.frequent_items_exact): the CMS estimate upper-bounds
    every key's count, so screening at the threshold keeps a
    candidate superset — never drops a true frequent item — and the
    exact re-count runs over candidate rows only. The oracle is the
    naive GROUP BY … HAVING: like salting (q102) and the bloom
    pre-filter (q129), the sketch must be invisible in the results.
    At 100 TB the exact shuffle carries only the candidate sliver
    instead of the full key domain."""
    from hadron_spark.operators.sketch import frequent_items_exact

    li = load(spark, sf_dir, "lineitem")
    return frequent_items_exact(li.select("l_partkey"), "l_partkey", 40)


@_register(
    "q137_hhi_concentration",
    """
    WITH r AS (
      SELECT c_nationkey,
             o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), g AS (
      SELECT c_nationkey,
             COUNT(*) AS n_customers,
             SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS ss,
             SUM(cents) AS tot
      FROM r GROUP BY 1
    )
    SELECT c_nationkey, n_customers,
           CAST(ss AS DOUBLE)
             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi
    FROM g
    """,
)
def q137(spark, sf_dir):
    """Herfindahl–Hirschman concentration of revenue per nation: HHI
    = Σ(shareᵢ²) computed as Σcentsᵢ²/ (Σcents)² — numerator and
    denominator each one EXACT integer/decimal aggregate (cents² in
    DECIMAL(38,0): overflow-free where bigint is not), then two
    double conversions and one division, identical in both engines.
    Summing squared double shares directly would be order-dependent
    across partitions — the q115/q132 lesson applied to a market-
    structure metric. Shuffles shrink: orders⋈customer, per-customer
    agg, per-nation agg."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = F.sum(
        F.round(F.col("o_totalprice") * 100).cast("long")
    ).alias("cents")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(cents)
    )
    g = r.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "ss"
        ),
        F.sum("cents").alias("tot"),
    )
    return g.select(
        "c_nationkey",
        "n_customers",
        (
            F.col("ss").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double"))
        ).alias("hhi"),
    )


@_register(
    "q138_trending_rank_delta",
    """
    WITH wk AS (
      SELECT date_trunc('week', ts) AS week, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), rk AS (
      SELECT week, event_type, n,
             rank() OVER (PARTITION BY week ORDER BY n DESC, event_type)
               AS rnk
      FROM wk
    )
    SELECT week, event_type, n, rnk,
           rnk - lag(rnk) OVER (PARTITION BY event_type ORDER BY week)
             AS rank_delta
    FROM rk
    """,
)
def q138(spark, sf_dir):
    """Weekly trending: event types ranked by volume within each
    week, with the rank movement vs the prior week (negative delta =
    climbing). Two window passes on DIFFERENT keys — rank within
    week, lag within type — is the irreducible shape; both run over
    the tiny (week × type) aggregate, never the raw events. Ranks
    are total-ordered (count DESC, then name) so ties are
    deterministic in both engines."""
    e = load(spark, sf_dir, "events")
    wk = (
        e.select(F.date_trunc("week", F.col("ts")).alias("week"), "event_type")
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.partitionBy("week").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    rk = wk.withColumn("rnk", F.rank().over(w_rank))
    w_lag = Window.partitionBy("event_type").orderBy("week")
    return rk.select(
        "week",
        "event_type",
        "n",
        "rnk",
        (F.col("rnk") - F.lag("rnk").over(w_lag)).alias("rank_delta"),
    )


@_register(
    "q139_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY 1
    ), scored AS (
      SELECT o_custkey, frequency,
             CAST(monetary_cents AS DOUBLE) / 100 AS monetary,
             ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
      FROM base
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(frequency) AS BIGINT) AS total_orders
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q139(spark, sf_dir):
    """RFM segmentation (recency/frequency/monetary quartiles — the
    classic CRM grid): per-customer aggregates scored by three
    ntile(4) windows, then the 4×4×4 cell census. Every ntile ORDER
    BY ends with the key, so quartile assignment is a total order —
    deterministic and engine-portable (same discipline as q118's
    deciles). All three quartile assignments run through
    ops.range_rank (cutpoint-banded, no single-partition window):
    three band shuffles of the slim per-customer aggregate instead
    of three everything-through-one-task sorts — the 100 TB form
    the old docstring only promised. Dates band via unix_date."""
    from hadron_spark.operators.ops import range_rank

    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )

    def q4(key, first, col):
        # rank from `base` directly (not chained) — three shallow
        # independent rank plans joined on the key; AQE reuses the
        # one heavy per-customer exchange under all three.
        return range_rank(
            base,
            key,
            [first, F.col("o_custkey")],
            rank_col=f"_rn_{col}",
            ntile=4,
            ntile_col=col,
        ).select("o_custkey", col)

    scored = (
        base.select("o_custkey", "frequency")
        .join(
            q4(
                F.unix_date(F.to_date("last_order")),
                F.col("last_order"),
                "r_score",
            ),
            "o_custkey",
        )
        .join(q4(F.col("frequency"), F.col("frequency"), "f_score"), "o_custkey")
        .join(
            q4(F.col("monetary_cents"), F.col("monetary_cents"), "m_score"),
            "o_custkey",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("frequency").alias("total_orders"),
    )


@_register(
    "q140_duplicate_payment_scan",
    """
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.o_custkey,
           CAST(floor(a.o_totalprice / 1000) AS BIGINT) AS amount_band,
           date_diff('day', a.o_orderdate, b.o_orderdate) AS gap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND floor(a.o_totalprice / 1000) = floor(b.o_totalprice / 1000)
     AND a.o_orderkey < b.o_orderkey
    """,
)
def q140(spark, sf_dir):
    """Duplicate-payment screen: candidate pairs where the same
    customer has two orders in the same $1000 amount band — the
    blocking-key self-join every fraud/dedup pipeline starts from.
    BOTH blocking attributes ride the shuffle key (custkey + banded
    amount: floor(x/1000) is one IEEE division+floor, bit-identical
    in both engines), so fan-out is quadratic only WITHIN a
    (customer, band) collision cluster — the suspicious signal
    itself — never across the table. The day gap comes out for
    triage ordering downstream; the key inequality halves the pairs
    and de-dups mirror matches."""
    o = load(spark, sf_dir, "orders")
    band = lambda side: F.floor(F.col(f"{side}.o_totalprice") / 1000)  # noqa: E731
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (band("a") == band("b"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            band("a").cast("long").alias("amount_band"),
            F.datediff(
                F.col("b.o_orderdate").cast("date"),
                F.col("a.o_orderdate").cast("date"),
            ).alias("gap_days"),
        )
    )


@_register(
    "q141_wilson_return_rate",
    """
    WITH b AS (
      SELECT p_brand,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    )
    SELECT p_brand, n, r,
           CAST(r AS DOUBLE) / n AS p_hat,
           (CAST(r AS DOUBLE) / n + 1.92199044 / n
             - 1.959964 * sqrt((CAST(r AS DOUBLE) / n
                                * (1 - CAST(r AS DOUBLE) / n)
                                + 0.96099522 / n) / n))
             / (1 + 3.84398088 / n) AS wilson_lower
    FROM b
    """,
)
def q141(spark, sf_dir):
    """Return-rate ranking by Wilson lower bound — the statistically
    honest way to rank proportions (a brand with 2/2 returns must
    not outrank one with 90/100): n and r are exact integer
    aggregates, and the Wilson score is one identical IEEE chain in
    both engines (z and z²/2, z²/4, z² folded to double literals so
    neither engine's constant-folder can reassociate differently).
    Shape: fact⋈dim join, partial-agg to |brands| rows, scalar math
    on the tiny aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("r"),
        )
    )
    n = F.col("n")
    ph = F.col("r").cast("double") / n
    wilson = (
        ph
        + F.lit(1.92199044) / n
        - F.lit(1.959964)
        * F.sqrt((ph * (F.lit(1) - ph) + F.lit(0.96099522) / n) / n)
    ) / (F.lit(1) + F.lit(3.84398088) / n)
    return b.select("p_brand", "n", "r", ph.alias("p_hat"), wilson.alias("wilson_lower"))


@_register(
    "q142_seasonality_index",
    """
    WITH m AS (
      SELECT event_type, CAST(month(ts) AS BIGINT) AS month,
             COUNT(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(n) AS tn, SUM(cents) AS tcents
      FROM m GROUP BY 1
    )
    SELECT m.event_type, m.month, m.n,
           (CAST(m.cents AS DOUBLE) / m.n)
             / (CAST(t.tcents AS DOUBLE) / t.tn) AS seasonality
    FROM m JOIN t ON m.event_type = t.event_type
    """,
)
def q142(spark, sf_dir):
    """Seasonality index: each (event type, calendar month)'s mean
    value relative to the type's overall mean — the ratio every
    demand-planning pipeline normalizes by. Both means derive from
    exact integer (cents) sums; the index is two divisions of one
    exact-int-sourced double each, the same chain in both engines.
    The per-type totals re-aggregate the tiny month table (no second
    scan) and broadcast back onto it."""
    e = load(spark, sf_dir, "events")
    m = (
        e.select(
            "event_type",
            F.month("ts").cast("long").alias("month"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "month")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    t = m.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("cents").alias("tcents")
    )
    return m.join(F.broadcast(t), "event_type").select(
        "event_type",
        "month",
        "n",
        (
            (F.col("cents").cast("double") / F.col("n"))
            / (F.col("tcents").cast("double") / F.col("tn"))
        ).alias("seasonality"),
    )


@_register(
    "q143_skyline_orders",
    """
    WITH lat AS (
      SELECT o_orderkey, o_totalprice,
             CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
               AS latency_days
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), sk AS (
      SELECT o_orderkey, o_totalprice, latency_days,
             max(o_totalprice) OVER (
               ORDER BY latency_days
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_faster
      FROM lat
    )
    SELECT o_orderkey, o_totalprice, latency_days
    FROM sk
    WHERE best_faster IS NULL OR o_totalprice > best_faster
    """,
)
def q143(spark, sf_dir):
    """2-D skyline (Pareto frontier): orders not STRICTLY dominated
    on (faster first-ship, higher value) — the multi-objective
    shortlist query. The classic O(n²) dominance test needs only
    best_faster(l) = max price over latencies < l, which is a
    function of the LATENCY SPINE (distinct integer day counts —
    bounded by the date domain, not the order count): per-latency
    max price, exclusive prefix max over the spine via
    ops.spine_running (triangular broadcast join, no
    single-partition window anywhere), broadcast back onto the
    per-order frame. The |orders|-sized frame is never globally
    sorted — the old RANGE-frame window funneled every (key, price,
    latency) triple through one task."""
    from hadron_spark.operators.ops import spine_running

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.min(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("long")
            .alias("latency_days")
        )
    )
    per_lat = lat.groupBy("latency_days").agg(
        F.max("o_totalprice").alias("_best_here")
    )
    spine = spine_running(
        per_lat, "latency_days", "_best_here", "best_faster",
        fn="max", inclusive=False,
    ).drop("_best_here")
    return (
        lat.join(F.broadcast(spine), "latency_days")
        .filter(
            F.col("best_faster").isNull()
            | (F.col("o_totalprice") > F.col("best_faster"))
        )
        .select("o_orderkey", "o_totalprice", "latency_days")
    )


@_register(
    "q144_new_vs_repeat_mix",
    """
    WITH f AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY 1
    ), lab AS (
      SELECT date_trunc('month', o.o_orderdate) AS month,
             CASE WHEN o.o_orderdate = f.first_dt
                  THEN 'new' ELSE 'repeat' END AS cohort,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey
    ), m AS (
      SELECT month, cohort, COUNT(*) AS n_orders, SUM(cents) AS cents
      FROM lab GROUP BY 1, 2
    )
    SELECT month, cohort, n_orders,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           CAST(cents AS DOUBLE)
             / CAST(SUM(cents) OVER (PARTITION BY month) AS DOUBLE)
             AS revenue_share
    FROM m
    """,
)
def q144(spark, sf_dir):
    """New-vs-repeat revenue mix by month — the acquisition-health
    readout: each order labeled against its customer's FIRST order
    date (per-customer min broadcast back, one extra shuffle, no
    window over the fact), then monthly cohort shares from exact
    cents sums. The share window partitions by month over the tiny
    (month × cohort) aggregate. An order on the exact first date
    counts as 'new' — including same-day repeat orders, a stated
    tie rule both engines apply identically."""
    o = load(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    lab = o.join(F.broadcast(f), "o_custkey").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.when(F.col("o_orderdate") == F.col("first_dt"), "new")
        .otherwise("repeat")
        .alias("cohort"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = lab.groupBy("month", "cohort").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents")
    )
    w = Window.partitionBy("month")
    return m.select(
        "month",
        "cohort",
        "n_orders",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(w).cast("double")
        ).alias("revenue_share"),
    )


@_register(
    "q145_session_funnel",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ), s AS (
      SELECT user_id, ts, event_type,
             SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
      FROM g
    ), f AS (
      SELECT user_id, sess_id,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             COUNT(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS sessions_with_click,
           CAST(SUM(CASE WHEN first_click IS NOT NULL
                     AND first_purchase >= first_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS converted_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM f
    """,
)
def q145(spark, sf_dir):
    """In-session conversion funnel: sessionize (30-min gap rule —
    the q16 boundary-flag running sum) and measure click→purchase
    WITHIN each session, not across a user's whole history (q124's
    scope). The lag window and the session-id running sum share one
    user-key shuffle (same partition key, nested ordering), the
    funnel per session is conditional-min aggregation (no per-stage
    rescans), and the final readout is a 1-row summary. All integer
    micros — exact everywhere."""
    e = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(wo)
        ).alias("gap"),
    )
    s = g.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(
            F.when(
                F.col("gap").isNull() | (F.col("gap") > 1_800_000_000), 1
            ).otherwise(0)
        )
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess_id"),
    )
    f = s.groupBy("user_id", "sess_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(
            F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        ).alias("sessions_with_click"),
        F.sum(
            F.when(
                F.col("first_click").isNotNull()
                & (F.col("first_purchase") >= F.col("first_click")),
                1,
            ).otherwise(0)
        ).alias("converted_sessions"),
        F.sum("n_events").alias("total_events"),
    )


@_register(
    "q146_discount_band_response",
    """
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT discount_pct, COUNT(*) AS n,
           CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(cents) AS DOUBLE) / (100 * COUNT(*)) AS avg_price
    FROM b GROUP BY 1
    """,
)
def q146(spark, sf_dir):
    """Demand response by discount band (the pricing-analytics read
    behind TPC-H Q6's revenue-change question): average quantity and
    ticket per integer discount percent. Discounts and prices
    quantize to exact integers at the scan, so each band's means are
    one division of exact sums — and the whole query is a single
    partial-aggregated shuffle over ~12 bands."""
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("long").alias("discount_pct"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    n = F.count(F.lit(1))
    return b.groupBy("discount_pct").agg(
        n.alias("n"),
        (F.sum("qty").cast("double") / n).alias("avg_qty"),
        (F.sum("cents").cast("double") / (F.lit(100) * n)).alias("avg_price"),
    )


@_register(
    "q147_scd2_as_of",
    """
    WITH hist AS (
      SELECT o_custkey, o_orderpriority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS valid_to,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               IS NULL AS is_current
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ), upd AS (
      SELECT o_custkey, o_orderpriority, o_orderdate FROM (
        SELECT o_custkey, o_orderpriority, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01') t
      WHERE rn = 1
    ), merged AS (
      SELECT h.o_custkey, h.o_orderpriority, h.valid_from,
             CASE WHEN h.is_current AND u.o_orderdate IS NOT NULL
                  THEN u.o_orderdate ELSE h.valid_to END AS valid_to,
             h.is_current AND u.o_orderdate IS NULL AS is_current
      FROM hist h LEFT JOIN upd u ON h.o_custkey = u.o_custkey
      UNION ALL
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
             NULL AS valid_to, TRUE AS is_current
      FROM upd
    )
    SELECT o_orderpriority, COUNT(*) AS n_customers
    FROM merged
    WHERE valid_from <= TIMESTAMP '1998-01-01'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1998-01-01')
    GROUP BY 1
    """,
)
def q147(spark, sf_dir):
    """SCD2 maintenance + time-travel read
    (operators.maintenance.scd2_close_out in the oracle gate): a
    type-2 dimension of each customer's order priority is built from
    pre-1997 orders (lead() closes each version), the first 1997+
    order per customer arrives as an update batch — close-out flips
    the current rows and appends new versions via one broadcast join,
    no history shuffle — and the result is read AS OF 1998-01-01
    (versions are non-overlapping by construction, so the as-of
    predicate picks exactly one version per customer). The oracle
    replays the identical algebra in SQL."""
    from hadron_spark.operators.maintenance import scd2_close_out

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    as_of = F.lit("1998-01-01").cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = (
        o.filter(F.col("o_orderdate") < cut)
        .select(
            "o_custkey",
            "o_orderpriority",
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    upd = (
        o.filter(F.col("o_orderdate") >= cut)
        .select(
            "o_custkey",
            "o_orderpriority",
            "o_orderdate",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # scd2_close_out consumes `updates` twice (close-out keys +
    # appended fresh versions); upd is a windowed derivation of the
    # fact, so pin it to one evaluation.
    upd = ops.pin(upd)
    merged = scd2_close_out(hist, upd, ["o_custkey"], "o_orderdate")
    return (
        merged.filter(
            (F.col("valid_from") <= as_of)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > as_of))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "q148_qty_discount_corr",
    """
    WITH b AS (
      SELECT p_brand,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), s AS (
      SELECT p_brand, COUNT(*) AS n,
             SUM(q) AS sq, SUM(d) AS sd,
             SUM(q * q) AS sqq, SUM(d * d) AS sdd, SUM(q * d) AS sqd
      FROM b GROUP BY 1
    )
    SELECT p_brand, n,
           CAST(n * sqd - sq * sd AS DOUBLE)
             / (sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
                * sqrt(CAST(n * sdd - sd * sd AS DOUBLE)))
             AS corr_qty_discount
    FROM s
    """,
)
def q148(spark, sf_dir):
    """Pearson correlation of quantity vs discount depth per brand
    ('do bigger orders get deeper discounts?') with NO floating-point
    aggregation: both variables quantize to exact small integers at
    the scan (qty ≤ 50, discount 0–10 pct-points), the five moment
    sums accumulate as exact int64, and — because those bounded
    ranges keep every derived integer below 2^53 through ~sf1 — the
    final casts are EXACT in both engines, sidestepping DuckDB's
    double-rounding int128→double cast that breaks 1-ulp parity on
    cent-scaled variables. The only FP ops are two sqrts, one
    multiply, one divide — identical correctly-rounded sequences, so
    the r double hash-matches. corr()/covar_samp() built-ins are NOT
    cross-engine portable (internal summation order); exact moments
    are. Scale shape: broadcast part join, then ONE partial-aggregated
    shuffle onto ~25 brand keys — only 6 numbers per brand ever move."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    s = b.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
    )
    n = F.col("n")
    num = (n * F.col("sqd") - F.col("sq") * F.col("sd")).cast("double")
    dq = F.sqrt((n * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double"))
    dd = F.sqrt((n * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double"))
    return s.select(
        "p_brand", "n", (num / (dq * dd)).alias("corr_qty_discount")
    )


@_register(
    "q149_revenue_bridge",
    """
    WITH m AS (
      SELECT p_brand, date_trunc('month', l_shipdate) AS month,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev,
             SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), l AS (
      SELECT p_brand, month, rev, qty,
             lag(rev) OVER (PARTITION BY p_brand ORDER BY month) AS rev_p,
             lag(qty) OVER (PARTITION BY p_brand ORDER BY month) AS qty_p
      FROM m
    )
    SELECT p_brand, month,
           CAST(rev - rev_p AS BIGINT) AS rev_delta_cents,
           CAST(qty - qty_p AS DOUBLE) * (CAST(rev_p AS DOUBLE) / qty_p)
             AS volume_effect_cents,
           CAST(qty AS DOUBLE)
             * (CAST(rev AS DOUBLE) / qty - CAST(rev_p AS DOUBLE) / qty_p)
             AS price_effect_cents
    FROM l WHERE rev_p IS NOT NULL
    """,
)
def q149(spark, sf_dir):
    """Revenue bridge (price/volume decomposition) — the FP&A
    waterfall explaining month-over-month revenue change per brand:
    volume effect = Δqty × prior unit price, price effect = current
    qty × Δunit price; the two sum to ΔRev up to one rounding. Sums
    stay exact cents until the final, identically-ordered double
    expressions. Scale shape: the 100 TB lineitem scan partial-
    aggregates onto brand×month (~2k rows); the lag window then
    re-shuffles only those pre-aggregated rows by brand."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("month")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("rev"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy("month")
    l = m.select(
        "p_brand",
        "month",
        "rev",
        "qty",
        F.lag("rev").over(w).alias("rev_p"),
        F.lag("qty").over(w).alias("qty_p"),
    ).filter(F.col("rev_p").isNotNull())
    rev, qty = F.col("rev"), F.col("qty")
    rev_p, qty_p = F.col("rev_p"), F.col("qty_p")
    unit_p = rev_p.cast("double") / qty_p
    return l.select(
        "p_brand",
        "month",
        (rev - rev_p).alias("rev_delta_cents"),
        ((qty - qty_p).cast("double") * unit_p).alias("volume_effect_cents"),
        (qty.cast("double") * (rev.cast("double") / qty - unit_p)).alias(
            "price_effect_cents"
        ),
    )


@_register(
    "q150_rank_stability",
    """
    WITH m AS (
      SELECT p_brand, date_trunc('month', l_shipdate) AS month,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), r AS (
      SELECT p_brand, month,
             row_number() OVER (PARTITION BY month
                                ORDER BY rev DESC, p_brand) AS rk
      FROM m
    ), pr AS (
      SELECT month, p_brand, rk,
             lag(rk) OVER (PARTITION BY p_brand ORDER BY month) AS rk_prev,
             lag(month) OVER (PARTITION BY p_brand ORDER BY month)
               AS month_prev
      FROM r
    ), p2 AS (
      SELECT month, p_brand, rk, rk_prev FROM pr
      WHERE rk_prev IS NOT NULL
        AND datediff('month', month_prev, month) = 1
    ), pairs AS (
      SELECT a.month,
             COUNT(*) AS n_pairs,
             SUM(CASE WHEN (a.rk - b.rk) * (a.rk_prev - b.rk_prev) > 0
                      THEN 1 ELSE 0 END) AS concordant
      FROM p2 a JOIN p2 b
        ON a.month = b.month AND a.p_brand < b.p_brand
      GROUP BY 1
    )
    SELECT month, n_pairs, CAST(concordant AS BIGINT) AS concordant,
           CAST(2 * concordant - n_pairs AS DOUBLE) / n_pairs AS tau
    FROM pairs
    """,
)
def q150(spark, sf_dir):
    """Kendall tau-a rank stability of the brand revenue leaderboard
    between consecutive months — the 'did the market reorder or just
    wiggle' read. Ranks are row_number over exact-cents revenue
    (deterministic tie-break by brand), restricted to brands present
    in both months; tau = (C − D)/pairs stays exact integers until
    one final division. Scale shape: the lineitem scan partial-
    aggregates onto brand×month; ranks, lags, and the within-month
    pair self-join all run on that ~2k-row frame (pairs are bounded
    by brands², ~300/month) — quadratic work on an aggregate, never
    on raw data."""
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand", F.date_trunc("month", "l_shipdate").alias("month")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("rev")
        )
    )
    wm = Window.partitionBy("month").orderBy(F.desc("rev"), "p_brand")
    wb = Window.partitionBy("p_brand").orderBy("month")
    p2 = (
        m.select(
            "p_brand", "month", F.row_number().over(wm).alias("rk")
        )
        .select(
            "month",
            "p_brand",
            "rk",
            F.lag("rk").over(wb).alias("rk_prev"),
            F.lag("month").over(wb).alias("month_prev"),
        )
        .filter(
            F.col("rk_prev").isNotNull()
            & (F.months_between(F.col("month"), F.col("month_prev")) == 1)
        )
        .drop("month_prev")
    )
    a = p2.alias("a")
    b = p2.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.month") == F.col("b.month"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.month").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(
                    (F.col("a.rk") - F.col("b.rk"))
                    * (F.col("a.rk_prev") - F.col("b.rk_prev"))
                    > 0,
                    1,
                ).otherwise(0)
            ).alias("concordant"),
        )
    )
    return pairs.select(
        "month",
        "n_pairs",
        "concordant",
        (
            (2 * F.col("concordant") - F.col("n_pairs")).cast("double")
            / F.col("n_pairs")
        ).alias("tau"),
    )


@_register(
    "q151_sla_compliance",
    """
    SELECT o_orderpriority,
           date_trunc('month', o_orderdate) AS month,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
           CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS ontime_rate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def q151(spark, sf_dir):
    """Shipping-SLA compliance: share of lineitems shipped within 30
    days of order placement, by order priority and month — the ops
    dashboard number behind TPC-H Q4's 'late orders' question. The
    day difference is integer calendar days in both engines (Spark
    datediff truncates timestamps to dates; DuckDB datediff('day')
    counts day boundaries — same function on this data), so the rate
    is an exact small-int ratio with one final division. Scale
    shape: the one fact⋈fact join shuffles both sides on orderkey —
    the canonical candidate for co-bucketing both tables on
    l_orderkey/o_orderkey at write time (sources.bucketing), which
    deletes both exchanges; the group-by then partial-aggregates
    onto ~60 priority×month keys."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    ontime = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 30, 1
    ).otherwise(0)
    g = j.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("month"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(ontime).alias("n_ontime"),
    )
    return g.select(
        "o_orderpriority",
        "month",
        "n_lines",
        "n_ontime",
        (F.col("n_ontime").cast("double") / F.col("n_lines")).alias(
            "ontime_rate"
        ),
    )


@_register(
    "q152_activity_heatmap",
    """
    WITH g AS (
      SELECT isodow(ts) - 1 AS dow, hour(ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hr, n,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM g
    """,
)
def q152(spark, sf_dir):
    """Weekday×hour activity heatmap (the traffic-shape read behind
    capacity planning and anomaly baselines): event counts per
    (day-of-week, hour) cell plus each cell's share of the total.
    Day numbering is pinned to Monday=0 explicitly — Spark weekday()
    vs DuckDB isodow()−1 — because default dayofweek disagrees
    between engines. Scale shape: one partial-aggregated shuffle
    onto ≤168 cells; the share window runs single-partition over
    those 168 rows only. The grouped timestamp-field extraction
    stays in whole-stage codegen — no UDF."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        F.expr("weekday(ts)").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return g.select(
        "dow",
        "hr",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
    )


@_register(
    "q153_largest_remainder",
    """
    WITH c AS (
      SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1
    ), t AS (
      SELECT c_nationkey, n, SUM(n) OVER () AS total FROM c
    ), b AS (
      SELECT c_nationkey, n,
             (10000 * n) // total AS base,
             (10000 * n) % total AS rem
      FROM t
    ), s AS (
      SELECT c_nationkey, n, base, rem,
             10000 - SUM(base) OVER () AS k,
             row_number() OVER (ORDER BY rem DESC, c_nationkey) AS rn
      FROM b
    )
    SELECT c_nationkey, n AS n_customers,
           CAST(base + CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM s
    """,
)
def q153(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split a fixed
    10000-unit budget across nations proportionally to customer
    count so the parts sum EXACTLY to the budget — the quota /
    seat-allocation / sampling-budget primitive naive rounding gets
    wrong. Everything is integer arithmetic (integral div + mod,
    remainder ranking with a total-order tie-break); no floating
    point anywhere, so cross-engine parity is trivial. Scale shape:
    the 100 TB customer scan partial-aggregates onto ~25 nation
    keys; every window after that runs on 25 rows."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wall = Window.partitionBy()
    t = c.select(
        "c_nationkey", "n", F.sum("n").over(wall).alias("total")
    )
    b = t.select(
        "c_nationkey",
        "n",
        F.expr("(10000 * n) div total").alias("base"),
        F.expr("(10000 * n) % total").alias("rem"),
    )
    s = b.select(
        "c_nationkey",
        "n",
        "base",
        (F.lit(10000) - F.sum("base").over(wall)).alias("k"),
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "c_nationkey"))
        .alias("rn"),
    )
    return s.select(
        "c_nationkey",
        F.col("n").alias("n_customers"),
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
        ).alias("alloc"),
    )


@_register(
    "q154_segment_migration",
    """
    WITH a AS (
      SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ), b AS (
      SELECT o_custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    ), qa AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY s DESC, o_custkey) AS seg
      FROM a
    ), qb AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY s DESC, o_custkey) AS seg
      FROM b
    )
    SELECT qa.seg AS seg_1995, qb.seg AS seg_1996,
           COUNT(*) AS n_customers
    FROM qa JOIN qb ON qa.o_custkey = qb.o_custkey
    GROUP BY 1, 2
    """,
)
def q154(spark, sf_dir):
    """Customer segment migration matrix: spend-quartile in 1995 vs
    1996 for customers active in both years — the churn/upgrade flow
    behind retention planning (which quartile feeds which). ntile is
    deterministic under the total order (exact-cents spend DESC,
    then key). Both rankings run through ops.range_rank — the
    approx-quantile cutpoint banding the old docstring promised for
    100 TB is now the actual implementation (cutpoints only BAND;
    the exact within-band row_number keeps ntile assignment
    bit-identical to the oracle). Output is a ≤16-cell integer
    matrix — exact everywhere."""
    from hadron_spark.operators.ops import range_rank

    o = load(spark, sf_dir, "orders")

    def yearly(year):
        spend = (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("s")
            )
        )
        return range_rank(
            spend,
            -F.col("s"),
            [F.desc("s"), F.col("o_custkey")],
            ntile=4,
            ntile_col="seg",
        ).select("o_custkey", "seg")

    qa = yearly(1995).withColumnRenamed("seg", "seg_1995")
    qb = yearly(1996).withColumnRenamed("seg", "seg_1996")
    return (
        qa.join(qb, "o_custkey")
        .groupBy("seg_1995", "seg_1996")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "q155_revenue_autocorr",
    """
    WITH d AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             CAST(round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        / 100000.0) AS BIGINT) AS x
      FROM lineitem GROUP BY 1
    ), p AS (
      SELECT x, lag(x) OVER (ORDER BY day) AS y FROM d
    ), s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM p WHERE y IS NOT NULL
    )
    SELECT n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             AS autocorr_lag1
    FROM s
    """,
)
def q155(spark, sf_dir):
    """Lag-1 autocorrelation of the daily revenue series — the 'is
    today like yesterday' persistence read behind forecasting and
    anomaly baselining. Daily revenue is quantized to exact $1000
    units (a defined metric: round(cents/1e5); one correctly-rounded
    division in both engines), which keeps every moment product
    below 2^53 well past sf1 so the final casts are exact — the same
    bounded-range discipline as q148. The day series is tiny (~2.4k
    rows), so the ordering window and moment aggregation cost
    nothing; the only real work is the partial-aggregated shuffle of
    the 100 TB fact onto day keys."""
    li = load(spark, sf_dir, "lineitem")
    d = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
        .select(
            "day",
            F.round(F.col("cents") / 100000.0).cast("long").alias("x"),
        )
    )
    p = d.select(
        "x", F.lag("x").over(Window.orderBy("day")).alias("y")
    ).filter(F.col("y").isNotNull())
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s.select("n", (num / (dx * dy)).alias("autocorr_lag1"))


@_register(
    "q156_churn_hazard",
    """
    WITH last AS (
      SELECT o_custkey, MAX(date_trunc('month', o_orderdate)) AS m
      FROM orders GROUP BY 1
    ), d AS (
      SELECT m, COUNT(*) AS n_last FROM last GROUP BY 1
    ), r AS (
      SELECT m, n_last,
             SUM(n_last) OVER (ORDER BY m DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_at_risk
      FROM d
    )
    SELECT m AS month, n_last AS n_churned,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_last AS DOUBLE) / n_at_risk AS hazard
    FROM r
    """,
)
def q156(spark, sf_dir):
    """Monthly churn hazard table (discrete survival analysis on
    customer lifetimes): of customers still active entering month m
    — i.e. whose LAST order lands in m or later — the fraction whose
    last order is exactly m. The at-risk denominator is a reverse
    cumulative sum over the month aggregate, so the full
    Kaplan-Meier-style table needs no per-customer windows: one
    per-customer max, one count-by-month, one ~80-row window. Exact
    integer counts with a single final division per row. (The
    right-censoring caveat — recent months conflate 'churned' with
    'not yet reordered' — is inherent to the metric, not the
    engine.)"""
    o = load(spark, sf_dir, "orders")
    last = o.groupBy("o_custkey").agg(
        F.max(F.date_trunc("month", "o_orderdate")).alias("m")
    )
    d = last.groupBy("m").agg(F.count(F.lit(1)).alias("n_last"))
    w = (
        Window.orderBy(F.desc("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "m", "n_last", F.sum("n_last").over(w).alias("n_at_risk")
    )
    return r.select(
        F.col("m").alias("month"),
        F.col("n_last").alias("n_churned"),
        "n_at_risk",
        (F.col("n_last").cast("double") / F.col("n_at_risk")).alias(
            "hazard"
        ),
    )


@_register(
    "q157_spend_gini",
    """
    WITH s AS (
      SELECT o_custkey,
             CAST(round(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        / 100.0) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), r AS (
      SELECT x,
             row_number() OVER (ORDER BY x, o_custkey) AS i
      FROM s
    ), t AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(i * x) AS six FROM r
    )
    SELECT n,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
    FROM t
    """,
)
def q157(spark, sf_dir):
    """Gini coefficient of customer spend concentration (Lorenz-curve
    inequality — 'do 20% of customers carry 80% of revenue?'), via
    the rank-weighted identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
    over spend sorted ascending with a total-order tie-break. Spend
    is quantized to whole dollars (defined metric, one
    correctly-rounded division) so the rank-weighted sum stays below
    2^53 through ~sf10 and the final casts are exact; the result is
    pure integer algebra until one multiply and one divide. The
    ranking runs through ops.range_rank (cutpoint-banded global
    row_number — no single-partition window), so the rank-weighted
    sum parallelizes at any scale."""
    from hadron_spark.operators.ops import range_rank

    o = load(spark, sf_dir, "orders")
    s = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .select(
            "o_custkey",
            F.round(F.col("cents") / 100.0).cast("long").alias("x"),
        )
    )
    r = range_rank(
        s, F.col("x"), [F.col("x"), F.col("o_custkey")], rank_col="i"
    ).select("x", "i")
    t = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    return t.select(
        "n",
        (
            (2 * six - (n + 1) * sx).cast("double")
            / (n.cast("double") * sx.cast("double"))
        ).alias("gini"),
    )


@_register(
    "q158_return_rate_ztest",
    """
    WITH f AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'rushed' ELSE 'standard' END AS grp,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), s AS (
      SELECT grp, COUNT(*) AS n, CAST(SUM(ret) AS BIGINT) AS x
      FROM f GROUP BY 1
    ), w AS (
      SELECT
        MAX(CASE WHEN grp = 'rushed' THEN n END) AS n1,
        MAX(CASE WHEN grp = 'rushed' THEN x END) AS x1,
        MAX(CASE WHEN grp = 'standard' THEN n END) AS n2,
        MAX(CASE WHEN grp = 'standard' THEN x END) AS x2
      FROM s
    )
    SELECT n1, x1, n2, x2,
           CAST(x1 AS DOUBLE) / n1 AS p1,
           CAST(x2 AS DOUBLE) / n2 AS p2,
           (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
             / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2))
             AS z
    FROM w
    """,
)
def q158(spark, sf_dir):
    """Two-proportion z-test: do rushed orders (URGENT/HIGH priority)
    get returned more than standard ones? The q115 discipline applied
    to proportions: counts and successes accumulate exactly, the
    pivot to one row is a conditional-max, and the pooled-variance z
    is a fixed chain of correctly-rounded double ops written
    IDENTICALLY in both engines — so even the test statistic
    hash-matches. Scale shape: the orderkey fact⋈fact join (again
    the co-bucketing candidate), then a partial-aggregated shuffle
    onto TWO keys; the z algebra runs on one row."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "rushed"
        )
        .otherwise("standard")
        .alias("grp"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    s = f.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ret").alias("x")
    )

    def pick(col, g):
        return F.max(F.when(F.col("grp") == g, F.col(col)))

    w = s.agg(
        pick("n", "rushed").alias("n1"),
        pick("x", "rushed").alias("x1"),
        pick("n", "standard").alias("n2"),
        pick("x", "standard").alias("x2"),
    )
    n1, x1 = F.col("n1"), F.col("x1")
    n2, x2 = F.col("n2"), F.col("x2")
    p1 = x1.cast("double") / n1
    p2 = x2.cast("double") / n2
    pp = (x1 + x2).cast("double") / (n1 + n2)
    se = F.sqrt(
        pp * (F.lit(1) - pp)
        * (F.lit(1).cast("double") / n1 + F.lit(1).cast("double") / n2)
    )
    return w.select(
        "n1", "x1", "n2", "x2",
        p1.alias("p1"), p2.alias("p2"),
        ((p1 - p2) / se).alias("z"),
    )


@_register(
    "q159_multi_sourcing",
    """
    WITH pn AS (
      SELECT DISTINCT l_partkey, s_nationkey
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    ), x AS (
      SELECT l_partkey, COUNT(*) AS n_nations FROM pn GROUP BY 1
    )
    SELECT n_nations, COUNT(*) AS n_parts
    FROM x GROUP BY 1
    """,
)
def q159(spark, sf_dir):
    """Multi-sourcing exposure: for each part, how many distinct
    supplier NATIONS actually shipped it — then the distribution of
    parts over that count (procurement's single-source-risk
    histogram). The supplier dim broadcasts onto the fact scan; the
    distinct collapses part×nation BEFORE any counting, so the heavy
    shuffle carries at most |parts|×|nations| rows with partial
    (map-side) dedup; the two counting shuffles after it shrink to
    |parts| and then ~25 rows. Pure integer output — trivially
    portable."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pn = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .select("l_partkey", "s_nationkey")
        .distinct()
    )
    x = pn.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_nations"))
    return x.groupBy("n_nations").agg(F.count(F.lit(1)).alias("n_parts"))


@_register(
    "q160_bollinger_bands",
    """
    WITH d AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             CAST(round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        / 100000.0) AS BIGINT) AS x
      FROM lineitem GROUP BY 1
    ), w AS (
      SELECT day, x,
             COUNT(*) OVER win AS n,
             CAST(SUM(x) OVER win AS BIGINT) AS s,
             CAST(SUM(x * x) OVER win AS BIGINT) AS ss
      FROM d
      WINDOW win AS (ORDER BY day ROWS BETWEEN 19 PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day, x,
           CAST(s AS DOUBLE) / n AS mid,
           CAST(s AS DOUBLE) / n
             + 2 * sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) AS band_hi,
           CAST(s AS DOUBLE) / n
             - 2 * sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) AS band_lo
    FROM w WHERE n = 20
    """,
)
def q160(spark, sf_dir):
    """Bollinger bands (20-day rolling mean ± 2 population σ) over
    the daily revenue series — the rolling control-chart read behind
    'is today out of band'. Rolling mean AND σ come from integer
    window sums of $1000-quantized revenue (Σx, Σx² over a ROWS
    frame stay exact int64 far past sf1), so the per-row band math
    is a fixed correctly-rounded chain — engine-internal sliding-sum
    algebra (Spark's running frame vs DuckDB's segment tree) never
    touches a double. Warm-up rows (frame < 20) are excluded by the
    exact COUNT. The ordering window is single-partition but runs on
    the ~2.4k-row DAY aggregate, not the fact."""
    li = load(spark, sf_dir, "lineitem")
    d = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
        .select(
            "day",
            F.round(F.col("cents") / 100000.0).cast("long").alias("x"),
        )
    )
    win = Window.orderBy("day").rowsBetween(-19, 0)
    w = d.select(
        "day",
        "x",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("ss"),
    ).filter(F.col("n") == 20)
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mid = s.cast("double") / n
    band = F.lit(2) * F.sqrt(
        (n * ss - s * s).cast("double") / (n.cast("double") * n)
    )
    return w.select(
        "day",
        "x",
        mid.alias("mid"),
        (mid + band).alias("band_hi"),
        (mid - band).alias("band_lo"),
    )


@_register(
    "q161_peak_detection",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), l AS (
      SELECT event_type, n,
             lag(n) OVER w AS prev, lead(n) OVER w AS next
      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
    SELECT event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND next IS NOT NULL
                     AND n > prev AND n > next THEN 1 ELSE 0 END)
                AS BIGINT) AS n_peaks,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND next IS NOT NULL
                          AND n > prev AND n > next THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS peak_rate
    FROM l GROUP BY 1
    """,
)
def q161(spark, sf_dir):
    """Local-maximum (peak) detection on each event type's hourly
    volume series — the signal-shape primitive under alerting and
    burst analysis: an observed hour is a peak when it strictly
    exceeds both neighboring observed hours (series endpoints are
    not peaks). Pure integer compares over lag/lead — trivially
    portable. Scale shape: the fact partial-aggregates onto
    type×hour; lag and lead share ONE window over the per-type
    partitions of that aggregate; the summary shuffles onto ~6 type
    keys."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    l = h.select(
        "event_type",
        "n",
        F.lag("n").over(w).alias("prev"),
        F.lead("n").over(w).alias("next"),
    )
    is_peak = F.when(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("n") > F.col("prev"))
        & (F.col("n") > F.col("next")),
        1,
    ).otherwise(0)
    g = l.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(is_peak).alias("n_peaks"),
    )
    return g.select(
        "event_type",
        "n_hours",
        "n_peaks",
        (F.col("n_peaks").cast("double") / F.col("n_hours")).alias(
            "peak_rate"
        ),
    )


@_register(
    "q162_effective_tax_rate",
    """
    WITH m AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS base_cents,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_tax * 100) AS BIGINT)) AS tax_weighted
      FROM lineitem GROUP BY 1
    )
    SELECT month,
           CAST(base_cents AS BIGINT) AS base_cents,
           CAST(tax_weighted AS DOUBLE) / (100 * base_cents)
             AS effective_tax_rate
    FROM m
    """,
)
def q162(spark, sf_dir):
    """Revenue-weighted effective tax rate by ship month — the
    finance roll-up where the naive avg(l_tax) is WRONG (it ignores
    line value). Numerator and denominator accumulate as exact
    integer products (cents × integer tax points), so the rate is
    one final division of exact sums; both stay below 2^53 through
    ~sf10, keeping the casts exact. ONE partial-aggregated shuffle
    onto ~84 month keys — two extra multiply columns ride the same
    aggregate, no second pass."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    taxpct = F.round(F.col("l_tax") * 100).cast("long")
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("month")
    ).agg(
        F.sum(cents).alias("base_cents"),
        F.sum(cents * taxpct).alias("tax_weighted"),
    )
    return m.select(
        "month",
        "base_cents",
        (
            F.col("tax_weighted").cast("double")
            / (F.lit(100) * F.col("base_cents"))
        ).alias("effective_tax_rate"),
    )


@_register(
    "q163_minmax_scaling",
    """
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), nk AS (
      SELECT c_nationkey, MIN(bal) AS mn, MAX(bal) AS mx
      FROM c GROUP BY 1
    ), g AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             COUNT(*) AS n, SUM(c.bal) AS sb,
             MAX(nk.mn) AS mn, MAX(nk.mx) AS mx
      FROM c JOIN nk ON c.c_nationkey = nk.c_nationkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n,
           CAST(sb - n * mn AS DOUBLE)
             / (CAST(n AS DOUBLE) * (mx - mn)) AS avg_scaled
    FROM g
    """,
)
def q163(spark, sf_dir):
    """Min-max feature scaling, the training-data normalization
    staple, done without ever materializing a scaled double: the
    per-nation-scaled account balance's SEGMENT MEAN collapses
    algebraically to (Σx − n·min)/(n·(max − min)) — exact integer
    sums, one final division — so the result hash-matches where a
    naive avg((x−mn)/(mx−mn)) would drift with engine summation
    order. Scale shape: one aggregate builds the ~25-row nation
    min/max table, which BROADCASTS back onto the scan (the q73/q119
    broadcast-moments pattern); the only real shuffle is the
    partial-aggregated nation×segment rollup."""
    c = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    nk = c.groupBy("c_nationkey").agg(
        F.min("bal").alias("mn"), F.max("bal").alias("mx")
    )
    g = (
        c.join(F.broadcast(nk), "c_nationkey")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal").alias("sb"),
            F.max("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    n = F.col("n")
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        (
            (F.col("sb") - n * F.col("mn")).cast("double")
            / (n.cast("double") * (F.col("mx") - F.col("mn")))
        ).alias("avg_scaled"),
    )


@_register(
    "q164_cohort_ltv_curve",
    """
    WITH f AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ), r AS (
      SELECT f.cohort,
             datediff('month', f.cohort,
                      date_trunc('month', o.o_orderdate)) AS age,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ), c AS (
      SELECT cohort, age,
             CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_rev
      FROM r
    ), sz AS (
      SELECT cohort, COUNT(*) AS n_customers FROM f GROUP BY 1
    )
    SELECT c.cohort, c.age, sz.n_customers, c.cum_rev,
           CAST(c.cum_rev AS DOUBLE) / (100 * sz.n_customers)
             AS ltv_per_customer
    FROM c JOIN sz ON c.cohort = sz.cohort
    """,
)
def q164(spark, sf_dir):
    """Cohort LTV curve: cumulative revenue per acquisition cohort by
    month-age, divided by cohort size — the payback-period read that
    extends the q86 retention grid from counts to dollars. Revenue
    stays exact cents through the running sum; the only double is
    the final per-customer division. Scale shape: the first-order
    cohort map broadcasts back onto orders (q144 pattern; at 100 TB
    this becomes the co-bucketed customer-key join), the running
    window and cohort-size join then run on the cohort×age
    aggregate — ~84×84 rows at most."""
    o = load(spark, sf_dir, "orders")
    # the first-order cohort map feeds both the broadcast-back join
    # and the cohort-size aggregate — pinned to one derivation.
    f = ops.pin(
        o.groupBy("o_custkey").agg(
            F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
        )
    )
    r = (
        o.join(F.broadcast(f), "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("long")
            .alias("age"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = r.select(
        "cohort", "age", F.sum("rev").over(w).alias("cum_rev")
    )
    sz = f.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return c.join(F.broadcast(sz), "cohort").select(
        "cohort",
        "age",
        "n_customers",
        "cum_rev",
        (
            F.col("cum_rev").cast("double")
            / (F.lit(100) * F.col("n_customers"))
        ).alias("ltv_per_customer"),
    )


@_register(
    "q165_reorder_gap_median",
    """
    WITH g AS (
      SELECT o_custkey,
             datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate,
                                                      o_orderkey),
                      o_orderdate) AS gap
      FROM orders
    ), gg AS (
      SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL
    ), rk AS (
      SELECT o_custkey, gap,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY gap) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM gg
    ), med AS (
      SELECT o_custkey, gap AS med_gap FROM rk
      WHERE rn = (n + 1) // 2
    )
    SELECT med_gap // 7 AS gap_weeks, COUNT(*) AS n_customers
    FROM med GROUP BY 1
    """,
)
def q165(spark, sf_dir):
    """Reorder-cadence profile: each customer's MEDIAN gap between
    consecutive orders (lower median — the ((n+1) div 2)-th smallest
    gap, an exact integer order statistic that needs no
    interpolation and is therefore bit-portable where
    percentile_cont is not), rolled into a week-bucket histogram.
    The kth-order-statistic value is deterministic even with tied
    gaps. Scale shape: the gap lag and the median-selection rank
    share the SAME customer-key partitioning — one shuffle does both
    windows — and the histogram shuffles only |customers| medians."""
    o = load(spark, sf_dir, "orders")
    wg = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wg)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    wr = Window.partitionBy("o_custkey").orderBy("gap")
    wn = Window.partitionBy("o_custkey")
    rk = g.select(
        "o_custkey",
        "gap",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = rk.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.col("gap").alias("med_gap")
    )
    return med.groupBy(
        F.expr("med_gap div 7").alias("gap_weeks")
    ).agg(F.count(F.lit(1)).alias("n_customers"))


@_register(
    "q166_trade_corridors",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    """,
)
def q166(spark, sf_dir):
    """Trade-corridor matrix (the TPC-H Q7 'volume shipping' motif):
    revenue between every customer nation and supplier nation — the
    5-table star-snowflake join that exercises Catalyst's join
    ordering. Exact-cents revenue; pure integers out. Scale shape:
    ONE fact⋈fact shuffle on orderkey; customer, supplier, and both
    nation aliases all broadcast (customer is the largest dim — at
    true 100 TB it graduates to a co-bucketed custkey join); the
    final aggregate partial-aggregates onto ≤625 corridor cells."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cnk"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk"),
        F.col("n_name").alias("supp_nation"),
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
    )
    return j.groupBy("cust_nation", "supp_nation").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("rev_cents")
    )


@_register(
    "q167_feature_hashing",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), b AS (
      SELECT w,
             (('0x' || substr(md5(w), 1, 8))::BIGINT % 64) AS bucket
      FROM tok
    )
    SELECT bucket, COUNT(*) AS n_tokens,
           COUNT(DISTINCT w) AS n_distinct_tokens
    FROM b GROUP BY 1
    """,
)
def q167(spark, sf_dir):
    """Feature hashing (the 'hashing trick' that replaces unbounded
    vocabularies with a fixed feature space): every whitespace token
    maps to one of 64 slots via the same first-8-md5-hex-chars
    primitive as ops.hash_bucket — engine-portable and
    re-shard-stable, so train-time and serve-time hashing agree.
    Output is the per-slot load census: total hits plus distinct
    tokens (the collision count ML debugging actually needs). Scale
    shape: tokenize+hash is a narrow fan-out; the count-distinct
    partial-deduplicates (bucket, w) map-side, then shrinks to 64
    slots."""
    from hadron_spark.operators.ops import hash_bucket

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    b = tok.select("w", hash_bucket(F.col("w"), 64).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct_tokens"),
    )


@_register(
    "q168_vocab_growth",
    """
    WITH d AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS pos,
             COUNT(*) OVER () AS n_docs
      FROM documents
    ), tok AS (
      SELECT d.pos, d.n_docs,
             unnest(list_filter(string_split_regex(doc.text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents doc JOIN d ON doc.doc_id = d.doc_id
    ), fs AS (
      SELECT w, MIN(pos) AS first_pos, MAX(n_docs) AS n_docs
      FROM tok GROUP BY w
    ), dec AS (
      SELECT ((first_pos - 1) * 10) // n_docs AS decile,
             COUNT(*) AS new_tokens
      FROM fs GROUP BY 1
    )
    SELECT decile, new_tokens,
           CAST(SUM(new_tokens) OVER (ORDER BY decile
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
    FROM dec
    """,
)
def q168(spark, sf_dir):
    """Vocabulary growth curve (the Heaps-law saturation read a
    corpus-curation pipeline uses to decide 'is more data still
    adding new tokens?'): distinct-token count at each decile of the
    corpus in doc_id order, from each token's FIRST-SEEN position.
    All integer: position, min-reduction, decile bucketing
    (integral-div), running sum. Scale shape: the position map
    ranks doc_id ONLY (the text column never enters the sort)
    through ops.range_rank — cutpoint-banded, no single-partition
    window — and joins back onto the scan (AQE picks broadcast
    while the id map is small); first-seen is a partial-aggregated
    min onto token keys; the 10-row decile running sum goes through
    ops.spine_running (triangular join, windowless)."""
    from hadron_spark.operators.ops import range_rank, spine_running

    docs = load(spark, sf_dir, "documents")
    ids = range_rank(
        docs.select("doc_id"),
        F.col("doc_id"),
        [F.col("doc_id")],
        rank_col="pos",
        total_col="n_docs",
    )
    tok = (
        docs.join(ids, "doc_id")
        .select(
            "pos",
            "n_docs",
            F.explode(F.split("text", r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    fs = tok.groupBy("w").agg(
        F.min("pos").alias("first_pos"), F.max("n_docs").alias("n_docs")
    )
    dec = fs.groupBy(
        F.expr("((first_pos - 1) * 10) div n_docs").alias("decile")
    ).agg(F.count(F.lit(1)).alias("new_tokens"))
    return spine_running(dec, "decile", "new_tokens", "cum_vocab")


@_register(
    "q169_burstiness_fano",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM d GROUP BY 1
    )
    SELECT event_type, n,
           CAST(sx AS DOUBLE) / n AS mean_daily,
           (CAST(n * sxx - sx * sx AS DOUBLE)
              / (CAST(n AS DOUBLE) * n))
             / (CAST(sx AS DOUBLE) / n) AS fano
    FROM s
    """,
)
def q169(spark, sf_dir):
    """Burstiness via the Fano factor (variance-to-mean ratio of
    daily event counts per type): ≈1 = Poisson-like arrivals, >1 =
    bursty — the dispersion read behind rate-limit and capacity
    models. Daily counts are exact integers, population variance
    comes from exact moments (the q148 discipline; counts are small
    so everything is far below 2^53), and mean and Fano are fixed
    correctly-rounded chains. Two partial-aggregated shuffles on
    shrinking keys (type×day, then type)."""
    e = load(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    mean = sx.cast("double") / n
    var = (n * sxx - sx * sx).cast("double") / (n.cast("double") * n)
    return s.select(
        "event_type", "n", mean.alias("mean_daily"), (var / mean).alias("fano")
    )


@_register(
    "q170_sequence_audit",
    """
    WITH g AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx,
             COUNT(DISTINCT l_linenumber) AS n_distinct
      FROM lineitem GROUP BY 1
    )
    SELECT
      COUNT(*) AS n_orders,
      CAST(SUM(CASE WHEN mn = 1 AND mx = n_lines AND n_distinct = n_lines
               THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
      CAST(SUM(CASE WHEN mn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_start,
      CAST(SUM(CASE WHEN mx <> n_lines THEN 1 ELSE 0 END) AS BIGINT)
        AS n_gapped,
      CAST(SUM(CASE WHEN n_distinct <> n_lines THEN 1 ELSE 0 END) AS BIGINT)
        AS n_duplicated
    FROM g
    """,
)
def q170(spark, sf_dir):
    """Dense-sequence integrity audit: every order's line numbers
    must be exactly 1..n with no gaps or duplicates — the
    child-record completeness check (the sibling of q77's
    foreign-key audit) that catches partial writes and replayed
    appends. min=1 ∧ max=count ∧ distinct=count is a complete dense
    test, all computed in ONE partial-aggregated pass per order plus
    a one-row rollup — no sorting, no self-join, no windows. Pure
    integer output."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    g = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
        F.countDistinct("l_linenumber").alias("n_distinct"),
    )
    ok = (
        (F.col("mn") == 1)
        & (F.col("mx") == F.col("n_lines"))
        & (F.col("n_distinct") == F.col("n_lines"))
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_violations"),
        flag(F.col("mn") != 1).alias("n_bad_start"),
        flag(F.col("mx") != F.col("n_lines")).alias("n_gapped"),
        flag(F.col("n_distinct") != F.col("n_lines")).alias(
            "n_duplicated"
        ),
    )


@_register(
    "q171_fanout_arbitrary",
    """
    SELECT o_orderpriority || '.jsonl' AS path, COUNT(*) AS n_rows
    FROM orders GROUP BY 1
    """,
)
def q171(spark, sf_dir):
    """TRUE arbitrary record→path fan-out (fan_out_arbitrary — the
    full fanOutTap semantic, Controller.hs:479-514 + Run/FanOut.hs
    handle cache / tmp-then-rename): orders routed to literally
    computed file paths, per-path fanStats as the official output.
    The write really happens to a temp dir (removed after); the
    oracle checks the reported stats with the dynamic prefix
    stripped."""
    import shutil
    import tempfile

    from hadron_spark.sources.fanout import fan_out_arbitrary

    out_dir = tempfile.mkdtemp(prefix="hadron_q171_")
    o = load(spark, sf_dir, "orders")
    stats = fan_out_arbitrary(
        o,
        F.concat(F.lit(out_dir + "/"), F.col("o_orderpriority"), F.lit(".jsonl")),
    )
    result = stats.select(
        F.replace(
            F.col("path"), F.lit(out_dir + "/"), F.lit("")
        ).alias("path"),
        F.col("rows").alias("n_rows"),
    )
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


@_register(
    "q172_html_clean",
    r"""
    WITH h AS (
      SELECT doc_id,
             '<html><head><script type="text/javascript">var x = 1 < 2;'
             || '</script><style>p { color: red; }</style></head><body>'
             || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
             || text
             || ' &amp; more &lt;tail&gt;</p><!-- footer --></body></html>'
             AS html
      FROM documents
    ), s1 AS (
      SELECT doc_id, regexp_replace(html,
        '(?is)<script[^>]*>.*?(</script\s*>|$)|<style[^>]*>.*?(</style\s*>|$)',
        ' ', 'g') AS t FROM h
    ), s2 AS (
      SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1
    ), s3 AS (
      SELECT doc_id, regexp_replace(t,
        '(?i)</(p|div|br|h[1-6]|li|tr|table|blockquote)\s*>|<br\s*/?>',
        chr(10), 'g') AS t FROM s2
    ), s4 AS (
      SELECT doc_id, regexp_replace(t, '(?s)<[a-zA-Z/!][^>]*>', ' ', 'g') AS t FROM s3
    ), s5 AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(t,
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t
      FROM s4
    ), s6 AS (
      SELECT doc_id, regexp_replace(t, '[ \t\x0b\r\f]+', ' ', 'g') AS t FROM s5
    ), s7 AS (
      SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6
    ), s8 AS (
      SELECT doc_id, regexp_replace(t, '\n{2,}', chr(10), 'g') AS t FROM s7
    )
    SELECT doc_id, regexp_replace(t, '^\s+|\s+$', '', 'g') AS clean_text FROM s8
    """,
)
def q172(spark, sf_dir):
    """Web-crawl boilerplate stripping (functions.text.html_to_text):
    documents wrapped in deterministic HTML chrome (script + style +
    headings + entities + comments), cleaned back to training text
    entirely in codegen'd JVM regexps. The oracle replays the exact
    regexp/replace chain in DuckDB — the patterns are deliberately
    RE2-compatible (no backreferences, no lookaround), so the SAME
    pattern strings run in both engines and the full cleaned string
    hash-matches. Narrow one-pass projection: no shuffle, no Python."""
    from hadron_spark.functions.text import html_to_text

    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><script type="text/javascript">var x = 1 < 2;'
            "</script><style>p { color: red; }</style></head><body>"
            "<h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(" &amp; more &lt;tail&gt;</p><!-- footer --></body></html>"),
    )
    return docs.select(
        "doc_id", html_to_text(html).alias("clean_text")
    )


@_register(
    "q173_pii_redaction",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or call +1 (415) 555-01' || tail
             || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7; see'
             || ' https://docs.example.com/p/' || CAST(doc_id AS VARCHAR)
             AS text
      FROM (SELECT doc_id, text,
                   lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS tail
            FROM documents)
    ), counted AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, 'https?://[^\s<>"]+', 0)) AS n_url,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS n_email,
             len(regexp_extract_all(text, '(\d{1,3}\.){3}\d{1,3}', 0)) AS n_ip,
             len(regexp_extract_all(text, '\+?\d[\d ()-]{7,}\d', 0)) AS n_phone
      FROM seeded
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^\s<>"]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g'),
             '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g') AS redacted,
           CAST(n_url AS INT) AS n_url, CAST(n_email AS INT) AS n_email,
           CAST(n_ip AS INT) AS n_ip, CAST(n_phone AS INT) AS n_phone
    FROM counted
    """,
)
def q173(spark, sf_dir):
    """PII scrubbing for corpus release (functions.text.redact_pii +
    pii_counts): deterministic synthetic PII (email, phone, IPv4, URL
    derived from doc_id) appended to each document, then audited and
    redacted to typed placeholders. The DuckDB oracle replays the
    IDENTICAL RE2-compatible patterns, so the fully-redacted string
    AND the per-entity counts hash-match byte-for-byte. Narrow
    single-pass projection — the scrub adds zero shuffles to a
    corpus-export plan."""
    from hadron_spark.functions.text import pii_counts, redact_pii

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1 (415) 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7; see https://docs.example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return seeded.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
    )


@_register(
    "q174_line_dedup",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             'ACCEPT COOKIES' || chr(10) || text || chr(10)
             || 'ACCEPT COOKIES' || chr(10) || 'Footer (c) Example'
             || chr(10) || 'ACCEPT COOKIES' AS text
      FROM documents
    ), arr AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM seeded
    )
    SELECT doc_id,
           array_to_string(
             list_filter(lines, (x, i) -> list_position(lines, x) = i),
             chr(10)) AS deduped,
           CAST(len(lines) AS INT) AS n_before,
           CAST(len(list_filter(lines,
                (x, i) -> list_position(lines, x) = i)) AS INT) AS n_after
    FROM arr
    """,
)
def q174(spark, sf_dir):
    """Per-document line dedup (functions.text.dedup_lines — the C4
    boilerplate-kill): repeated nav/banner lines seeded around each
    document collapse to their first occurrence, order preserved.
    Zero-shuffle narrow projection (indexed array filter, no
    groupBy); the oracle replays the identical first-occurrence
    lambda in DuckDB and the full deduped string hash-matches."""
    from hadron_spark.functions.text import dedup_lines

    docs = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("ACCEPT COOKIES"), nl, F.col("text"), nl,
            F.lit("ACCEPT COOKIES"), nl, F.lit("Footer (c) Example"),
            nl, F.lit("ACCEPT COOKIES"),
        ).alias("text"),
    )
    lines = F.split(F.col("text"), "\n")
    return seeded.select(
        "doc_id",
        dedup_lines("text").alias("deduped"),
        F.size(lines).cast("int").alias("n_before"),
        F.size(F.split(dedup_lines("text"), "\n")).cast("int").alias("n_after"),
    )


@_register(
    "q175_gopher_repetition",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             text || chr(10) || 'Subscribe now' || chr(10) || 'Subscribe now'
             || chr(10) || '- bullet item' || chr(10) || 'trailing thoughts...'
             AS text
      FROM documents
    ), base AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             length(text) AS n_chars
      FROM seeded
    ), firsts AS (
      SELECT *, list_filter(lines, (x, i) -> list_position(lines, x) = i) AS first_occ
      FROM base
    ), grams AS (
      SELECT *,
        list_transform(range(1, greatest(len(toks) - 2 + 2, 1)),
                       i -> array_to_string(toks[i:i+1], ' ')) AS g2,
        list_transform(range(1, greatest(len(toks) - 3 + 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' ')) AS g3,
        list_transform(range(1, greatest(len(toks) - 4 + 2, 1)),
                       i -> array_to_string(toks[i:i+3], ' ')) AS g4
      FROM firsts
    ), gr AS (
      SELECT doc_id, 2 AS n, unnest(g2) AS g FROM grams
      UNION ALL SELECT doc_id, 3, unnest(g3) FROM grams
      UNION ALL SELECT doc_id, 4, unnest(g4) FROM grams
    ), c AS (
      SELECT doc_id, n, g, COUNT(*) AS m FROM gr GROUP BY 1, 2, 3
    ), w AS (
      SELECT doc_id, n, m, length(g) AS lg,
             max(m) OVER (PARTITION BY doc_id, n) AS mm
      FROM c
    ), a AS (
      SELECT doc_id, n, any_value(mm) AS m,
             max(lg) FILTER (WHERE m = mm) AS l
      FROM w GROUP BY 1, 2
    ), p AS (
      SELECT doc_id,
             max(m) FILTER (WHERE n = 2) AS m2, max(l) FILTER (WHERE n = 2) AS l2,
             max(m) FILTER (WHERE n = 3) AS m3, max(l) FILTER (WHERE n = 3) AS l3,
             max(m) FILTER (WHERE n = 4) AS m4, max(l) FILTER (WHERE n = 4) AS l4
      FROM a GROUP BY 1
    )
    SELECT g.doc_id,
      CAST(len(g.lines) - len(g.first_occ) AS DOUBLE) / greatest(len(g.lines), 1) AS dup_line_frac,
      CASE WHEN list_sum(list_transform(g.lines, x -> length(x))) > 0
           THEN CAST(list_sum(list_transform(g.lines, x -> length(x)))
                     - list_sum(list_transform(g.first_occ, x -> length(x))) AS DOUBLE)
                / list_sum(list_transform(g.lines, x -> length(x)))
           ELSE 0.0 END AS dup_line_char_frac,
      CASE WHEN p.m2 >= 2 AND g.n_chars > 0
           THEN least(1.0, CAST(p.m2 * p.l2 AS DOUBLE) / g.n_chars) ELSE 0.0 END AS top2gram_char_frac,
      CASE WHEN p.m3 >= 2 AND g.n_chars > 0
           THEN least(1.0, CAST(p.m3 * p.l3 AS DOUBLE) / g.n_chars) ELSE 0.0 END AS top3gram_char_frac,
      CASE WHEN p.m4 >= 2 AND g.n_chars > 0
           THEN least(1.0, CAST(p.m4 * p.l4 AS DOUBLE) / g.n_chars) ELSE 0.0 END AS top4gram_char_frac,
      CAST(len(list_filter(g.lines, x -> starts_with(x, '- ') OR starts_with(x, '* ')
                                          OR starts_with(x, '•'))) AS DOUBLE)
        / greatest(len(g.lines), 1) AS bullet_line_frac,
      CAST(len(list_filter(g.lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE)
        / greatest(len(g.lines), 1) AS ellipsis_line_frac,
      CAST(len(list_filter(g.toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        / greatest(len(g.toks), 1) AS alpha_word_frac
    FROM grams g LEFT JOIN p ON g.doc_id = p.doc_id
    """,
)
def q175(spark, sf_dir):
    """Gopher repetition/layout metrics (llm.filters.repetition_
    features — Rae et al. 2021 A1, public): documents seeded with
    repeated boilerplate lines, bullets, and an ellipsis line; all
    eight per-doc fractions computed as zero-shuffle array
    expressions and hash-matched against a full DuckDB replay of the
    same list algebra (exact-int ratios → one IEEE division each).
    The scan stays the only stage — the quality pass adds no
    exchange at any scale."""
    from hadron_spark.llm.filters import repetition_features

    docs = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), nl, F.lit("Subscribe now"), nl,
            F.lit("Subscribe now"), nl, F.lit("- bullet item"), nl,
            F.lit("trailing thoughts..."),
        ).alias("text"),
    )
    from hadron_spark.functions.text import tokenize as _tok

    seeded = seeded.withColumn(
        "__rf_lines", F.split(F.col("text"), "\n")
    ).withColumn("__rf_toks", _tok(F.col("text")))
    feats = repetition_features(
        "text", _toks=F.col("__rf_toks"), _lines=F.col("__rf_lines")
    )
    return seeded.select("doc_id", *[v.alias(k) for k, v in feats.items()])


@_register(
    "q176_crawl_pipeline",
    r"""
    WITH seeded AS (
      SELECT doc_id, source,
             '<html><head><script>var t = 1;</script></head><body><p>'
             || text || '</p><p>Subscribe now</p><p>Subscribe now</p>'
             || '<p>Contact crawl' || CAST(doc_id AS VARCHAR)
             || '@example.net</p></body></html>' AS html
      FROM documents
    ), clean AS (
      SELECT doc_id, source,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
              '(?is)<script[^>]*>.*?(</script\s*>|$)|<style[^>]*>.*?(</style\s*>|$)',
              ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '(?i)</(p|div|br|h[1-6]|li|tr|table|blockquote)\s*>|<br\s*/?>',
              chr(10), 'g'),
              '(?s)<[a-zA-Z/!][^>]*>', ' ', 'g'),
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
          '[ \t\x0b\r\f]+', ' ', 'g'),
          ' ?\n ?', chr(10), 'g'),
          '\n{2,}', chr(10), 'g'),
          '^\s+|\s+$', '', 'g') AS text
      FROM seeded
    ), deduped AS (
      SELECT doc_id, source,
             array_to_string(
               list_filter(string_split(text, chr(10)),
                           (x, i) -> list_position(string_split(text, chr(10)), x) = i),
               chr(10)) AS text
      FROM clean
    ), redacted AS (
      SELECT doc_id, source,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          'https?://[^\s<>"]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g'),
          '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g') AS text
      FROM deduped
    ), gated AS (
      SELECT doc_id, source, text,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM redacted
    ), kept AS (
      SELECT source, text, toks FROM gated
      WHERE length(text) >= 50
        AND CAST(len(lines) - len(list_filter(lines,
              (x, i) -> list_position(lines, x) = i)) AS DOUBLE)
            / greatest(len(lines), 1) <= 0.3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM kept GROUP BY source
    """,
)
def q176(spark, sf_dir):
    """Crawl-cleaning capstone: the full web→corpus hygiene chain —
    HTML boilerplate strip (html_to_text) → per-doc line dedup
    (dedup_lines kills the seeded 'Subscribe now' repeats) → PII
    redaction (redact_pii catches the seeded emails) → repetition +
    length gate → per-source corpus accounting — FUSED into one
    narrow projection chain plus ONE aggregation shuffle on ~|sources|
    keys. At 100 TB this is the shape that matters: every hygiene
    stage is codegen'd expression work inside the scan stage, nothing
    materializes between stages, and the only exchange carries a few
    grouped rows per source. The oracle replays the entire chain in
    DuckDB and the final accounting hash-matches."""
    from hadron_spark.functions.text import (
        dedup_lines,
        html_to_text,
        redact_pii,
        tokenize,
    )
    from hadron_spark.llm.filters import repetition_features

    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var t = 1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p><p>Subscribe now</p><p>Subscribe now</p><p>Contact crawl"),
        F.col("doc_id").cast("string"),
        F.lit("@example.net</p></body></html>"),
    )
    cleaned = docs.select(
        "doc_id",
        "source",
        redact_pii(dedup_lines(html_to_text(html))).alias("text"),
    )
    dup_line_frac = repetition_features("text")["dup_line_frac"]
    kept = cleaned.filter(
        (F.length("text") >= 50) & (dup_line_frac <= 0.3)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokenize(F.col("text")))).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@_register(
    "q177_line_protocol",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> ''))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source
    """,
)
def q177(spark, sf_dir):
    """P11 tab wire format end-to-end (sources.pysource.read_lines
    through a `hadron_line` Tap — reference Protocol.hs
    lineC/parseLine): documents staged as `source \t doc_id \t text`
    line files through the tap's own writer (idempotent, at most 100
    docs per file so the scan fans out multi-partition; the staging
    dir is keyed on the absolute `sf_dir`, so two datasets never share
    staged lines; a NULL cell stages as ""), read back as a JVM text
    scan plus one split with key_segments=2, then aggregated per
    source key. The oracle computes the same
    accounting straight from the parquet table — framing and
    unframing must be lossless for the hashes to match."""
    import hashlib
    import os
    import shutil

    from hadron_spark.functions.text import tokenize

    sf_abs = os.path.abspath(sf_dir)
    staged = os.path.join(
        "/tmp",
        f"q177_lines_{os.path.basename(sf_abs)}_"
        f"{hashlib.sha1(sf_abs.encode()).hexdigest()[:12]}",
    )
    if not os.path.isdir(staged) or not os.listdir(staged):
        # stage whole, then rename: a run cut mid-write never leaves a
        # partial dir that later runs would reuse
        tmp = f"{staged}.tmp{os.getpid()}"
        docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
        Tap([tmp], "hadron_line", options={"maxRecordsPerFile": "100"}).write(
            docs, mode="overwrite"
        )
        try:
            os.rename(tmp, staged)
        except OSError:  # a concurrent run renamed its copy first
            shutil.rmtree(tmp)
    lines = Tap([staged], "hadron_line", options={"key_segments": "2"}).read(spark)
    return lines.groupBy(F.col("k1").alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokenize(F.col("value")))).alias("total_tokens"),
    )


@_register(
    "q178_mixture_weights",
    r"""
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source),
    m AS (
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE)
               AS natural_share,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                             / CAST(t.total AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS mw
      FROM per_src, (SELECT SUM(n_tokens) AS total FROM per_src) t)
    SELECT source, n_docs, n_tokens, natural_share,
           CAST(mw AS DOUBLE) / CAST(s.mt AS DOUBLE) AS weight,
           CAST((10000 * mw) // s.mt AS BIGINT) AS planned_docs
    FROM m, (SELECT SUM(mw) AS mt FROM m) s
    """,
)
def q178(spark, sf_dir):
    """Domain-mixture temperature reweighting (llm.mixing
    .mixture_weights): per-source token shares tempered by sqrt
    (alpha=0.5, the standard T=2 knob) into normalized sampling
    weights plus an exact-integer per-source document budget. The
    tempered share is quantized to integer micro-units before
    normalizing, so weight and planned_docs are ratios of exact
    integers — bit-portable across engines (sqrt is IEEE-correctly-
    rounded; general pow is not, see the module docstring). One
    partial-agg shuffle over the corpus; the rollup is ~|sources|
    rows and all later algebra rides broadcast single-row totals."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import mixing

    docs = load(spark, sf_dir, "documents")
    return mixing.mixture_weights(
        docs, "source", token_count(F.col("text")), alpha=0.5, budget=10000
    )


@_register(
    "q179_mixture_resample",
    r"""
    WITH toks AS (
      SELECT source,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents),
    per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source),
    m AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                             / CAST(t.total AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS mw
      FROM per_src, (SELECT SUM(n_tokens) AS total FROM per_src) t),
    w AS (
      SELECT source, CAST((1000 * mw) // s.mt AS BIGINT) AS planned_docs
      FROM m, (SELECT SUM(mw) AS mt FROM m) s),
    ranked AS (
      SELECT d.source, d.doc_id, w.planned_docs,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS hr
      FROM documents d JOIN w USING (source))
    SELECT source, COUNT(*) AS n_drawn,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM ranked WHERE hr <= planned_docs
    GROUP BY source
    """,
)
def q179(spark, sf_dir):
    """Deterministic mixture resampling (llm.mixing.mixture_resample):
    draw each source's planned_docs documents by md5-hash rank — the
    same re-shard-stable ordering as ops.hash_split, so the draw is
    identical on any cluster layout and any engine. The weights frame
    is |sources| rows → broadcast join; ranking is a per-source
    window (parallel across sources; for one enormous source use
    ops.range_rank on the hash key). The oracle re-derives the exact
    drawn set and checksums it (count / min / sum of doc ids)."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import mixing

    docs = load(spark, sf_dir, "documents")
    w = mixing.mixture_weights(
        docs, "source", token_count(F.col("text")), alpha=0.5, budget=1000
    )
    drawn = mixing.mixture_resample(docs, "source", "doc_id", w)
    return drawn.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_drawn"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
    )


@_register(
    "q180_int8_quantize",
    """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS max_abs
      FROM e)
    SELECT vec_id, max_abs,
           CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT) ELSE
             CAST(list_aggregate(list_transform(v, x ->
               CAST(greatest(-127.0, least(127.0,
                 floor(x * (127.0 / max_abs) + 0.5))) AS BIGINT)), 'sum')
               AS BIGINT)
           END AS code_sum,
           CASE WHEN max_abs = 0 THEN 0.0 ELSE
             list_max(list_transform(v, x ->
               abs(x - greatest(-127.0, least(127.0,
                     floor(x * (127.0 / max_abs) + 0.5)))
                     / (127.0 / max_abs))))
           END AS max_err
    FROM m
    """,
)
def q180(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding corpus
    (functions.vectors.int8_quantize) — 4x smaller vectors for the
    ANN tiers — verified code-for-code against the oracle: code_sum
    checksums the integer codes, max_err the reconstruction bound.
    floor(x+0.5) instead of round() because engine round()
    tie-breaking differs; every other step is IEEE double algebra,
    so both columns hash identically. Narrow per-row expression work
    — no shuffle at all; at 100 TB this runs at scan speed."""
    from hadron_spark.functions import vectors

    emb = load(spark, sf_dir, "embeddings")
    q = vectors.int8_quantize(F.col("embedding"))
    return emb.select(
        "vec_id",
        vectors.max_abs(F.col("embedding")).alias("max_abs"),
        F.aggregate(
            q,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint"),
        ).alias("code_sum"),
        vectors.int8_dequant_max_err(F.col("embedding")).alias("max_err"),
    )


@_register(
    "q181_inverted_index",
    r"""
    WITH t AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS lst
      FROM documents),
    toks AS (
      SELECT doc, unnest(lst) AS token,
             CAST(unnest(range(len(lst))) AS INT) AS pos
      FROM t)
    SELECT token, CAST(doc % 16 AS INT) AS shard,
           COUNT(DISTINCT doc) AS n_docs, COUNT(*) AS n_occ,
           array_to_string(
             (list(CAST(doc AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
                   ORDER BY doc, pos))[1:5], ',') AS postings_head,
           CAST(SUM(doc * 100003 + pos) AS BIGINT) AS checksum
    FROM toks GROUP BY token, shard
    """,
)
def q181(spark, sf_dir):
    """Positional inverted-index build (llm.textstats.inverted_index):
    token → sorted (doc, pos) posting lists, group key sharded by
    pmod(doc, 16) so no stop-word posting list ever exceeds ~1/16 of
    its corpus-wide size (the skew that kills a naive groupBy(token)
    at 100 TB). The oracle re-derives every posting and checks the
    full list through an order-sensitive head sample plus an exact
    integer checksum over (doc, pos) pairs."""
    from hadron_spark.llm.textstats import inverted_index

    docs = load(spark, sf_dir, "documents")
    idx = inverted_index(docs, "doc_id", "text", shards=16)
    head = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.col("postings"), 1, 5),
            lambda p: F.concat_ws(":", p["doc"].cast("string"), p["pos"].cast("string")),
        ),
    )
    checksum = F.aggregate(
        F.col("postings"),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + p["doc"].cast("bigint") * F.lit(100003).cast("bigint")
        + p["pos"].cast("bigint"),
    )
    return idx.select(
        "token",
        "shard",
        "n_docs",
        "n_occ",
        head.alias("postings_head"),
        checksum.alias("checksum"),
    )


@_register(
    "q182_ordered_export",
    r"""
    WITH t AS (
      SELECT len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS k
      FROM documents),
    b AS (SELECT MIN(CAST(k AS DOUBLE)) AS lo, MAX(CAST(k AS DOUBLE)) AS hi
          FROM t),
    banded AS (
      SELECT k,
             CASE WHEN hi > lo THEN
               least(7, greatest(0,
                 CAST(floor((CAST(k AS DOUBLE) - lo) / ((hi - lo) / 8.0))
                      AS INT)))
             ELSE 0 END AS band
      FROM t, b)
    SELECT band, COUNT(*) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key
    FROM banded GROUP BY band
    """,
)
def q182(spark, sf_dir):
    """Curriculum-ordered corpus export (ops.ordered_export):
    documents written easy→hard by token count across 8 band dirs,
    each file internally sorted — a total order with no single-
    partition sort. The write really happens (temp dir, removed
    after); the returned manifest is assembled from the committed
    parquet footers (zero data re-read), and the oracle recomputes
    the same deterministic equi-width banding from the raw table —
    footer statistics must agree with a from-scratch SQL derivation
    for the hashes to match."""
    import shutil
    import tempfile

    from hadron_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    out_dir = tempfile.mkdtemp(prefix="q182_export_")
    try:
        manifest = ops.ordered_export(
            docs, F.col("n_tok"), out_dir, bands=8
        )
        # materialize the manifest before the dir is removed (it is
        # driver-side rows already — createDataFrame over footer
        # stats — so this is cheap and safe)
        return manifest
    finally:
        import atexit

        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)


_PACK_SPANS_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                  AS BIGINT) AS n
      FROM documents),
    c AS (
      SELECT doc_id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS b
      FROM t),
    s AS (SELECT doc_id, n, b, CAST(b + n AS BIGINT) AS e FROM c WHERE n > 0),
    spans AS (
      SELECT CAST(u.seq_id AS BIGINT) AS seq_id,
             s.doc_id,
             CAST(GREATEST(s.b, u.seq_id*128) - u.seq_id*128 AS BIGINT)
               AS begin_in_seq,
             CAST(LEAST(s.e, (u.seq_id+1)*128) - u.seq_id*128 AS BIGINT)
               AS end_in_seq,
             CAST(GREATEST(0, u.seq_id*128 - s.b) AS BIGINT) AS doc_offset,
             CAST(LEAST(s.e, (u.seq_id+1)*128) - GREATEST(s.b, u.seq_id*128)
                  AS BIGINT) AS n_tok
      FROM s, unnest(generate_series(s.b // 128, (s.e-1) // 128)) AS u(seq_id))
"""


@_register(
    "q183_pack_sequences",
    _PACK_SPANS_SQL + "SELECT * FROM spans",
)
def q183(spark, sf_dir):
    """Concat-and-chunk sequence packing (llm.packing.pack_sequences):
    the corpus token stream sliced into fixed 128-token training
    sequences, one span row per (document x overlapped sequence).
    The global token offset is a banded range_cumsum — range_rank's
    literal-offset trick applied to a prefix SUM — so the plan has
    ONE hash exchange and no single-partition window at any corpus
    size. All-long arithmetic: bit-identical across engines."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import packing

    docs = load(spark, sf_dir, "documents")
    return packing.pack_sequences(
        docs, "doc_id", token_count(F.col("text")), seq_len=128
    )


@_register(
    "q184_pack_stats",
    _PACK_SPANS_SQL
    + """
    SELECT seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS fill_tokens,
           MIN(begin_in_seq) AS first_begin,
           MAX(end_in_seq) AS last_end
    FROM spans GROUP BY seq_id
    """,
)
def q184(spark, sf_dir):
    """Per-sequence fill accounting over the packed span table:
    every sequence must be exactly full (fill_tokens = seq_len,
    first_begin = 0, last_end = seq_len) except the corpus tail —
    the invariant a trainer's dataloader relies on. Narrow groupBy
    over the span table on top of q183's one-shuffle plan."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import packing

    docs = load(spark, sf_dir, "documents")
    packed = packing.pack_sequences(
        docs, "doc_id", token_count(F.col("text")), seq_len=128
    )
    return packing.packing_stats(packed)


@_register(
    "q185_gram_matrix",
    r"""
    WITH q AS (SELECT list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)*100000 + 0.5) AS BIGINT)) AS v
               FROM embeddings),
    g AS (
     SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
            CAST(CAST(SUM(q.v[CAST(i.i AS INT)+1] * q.v[CAST(j.j AS INT)+1])
                      AS DECIMAL(38,0)) AS DOUBLE) AS g
     FROM q, range(64) i(i), range(64) j(j)
     WHERE i.i <= j.j GROUP BY 1,2),
    sums AS (
     SELECT CAST(i.i AS INT) AS i, CAST(-1 AS INT) AS j,
            CAST(CAST(SUM(q.v[CAST(i.i AS INT)+1]) AS DECIMAL(38,0))
                 AS DOUBLE) AS g
     FROM q, range(64) i(i) GROUP BY 1,2),
    cnt AS (SELECT CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
                   CAST(COUNT(*) AS DOUBLE) AS g FROM q)
    SELECT * FROM g UNION ALL SELECT * FROM sums UNION ALL SELECT * FROM cnt
    """,
)
def q185(spark, sf_dir):
    """Exact distributed Gram matrix of the embedding column
    (llm.embeddings.gram_matrix): one Arrow-batched pass computing
    int64 X'X partials per batch, a d(d+1)/2-row partial-sum shuffle,
    DECIMAL(38,0) accumulation, one double cast. The corpus itself
    never shuffles — only per-batch d x d partials move. Column sums
    ride as j=-1 rows and the count as (-1,-1): the full sufficient
    statistic for PCA from one pass."""
    from hadron_spark.llm import embeddings

    return embeddings.gram_matrix(load(spark, sf_dir, "embeddings"))


@_register("q186_pca_variance", None)
def q186(spark, sf_dir):
    """PCA explained-variance diagnostic (llm.embeddings.pca_fit +
    pca_explained_variance): distributed Gram pass (q185's plan) then
    an O(d^3) driver eigendecomposition of the d x d covariance —
    only d^2 scalars reach the driver (the kmeans-centroid
    contract). No SQL oracle: the eigensolve is iterative LAPACK;
    test_embeddings pins it against a same-data numpy reference."""
    from hadron_spark.llm import embeddings

    return embeddings.pca_explained_variance(
        load(spark, sf_dir, "embeddings"), k=8
    )


@_register("q187_semantic_dedup", None)
def q187(spark, sf_dir):
    """SemDeDup semantic dedup (llm.dedup.semantic_dedup): k-means
    clusters bound the cosine comparison to within-cluster pairs
    (Σ|cluster|² work, skew-guarded), greedy min-id keeper. No SQL
    oracle — the clustering is iterative; test_llm_ops pins planted-
    duplicate behavior and the keeper/audit invariants."""
    from hadron_spark.llm.dedup import semantic_dedup

    return semantic_dedup(
        load(spark, sf_dir, "embeddings"), k=8, iters=3, threshold=0.95
    )


@_register("q188_bpe_merges", None)
def q188(spark, sf_dir):
    """Distributed BPE merge training (llm.bpe.bpe_train): the merge
    table learned from the documents corpus — one corpus wordcount
    pass, then |vocab|-bounded pair-count rounds with a deterministic
    (count desc, pair asc) argmax and a JVM fold rewriting symbol
    arrays. No SQL oracle (iterative); test_bpe pins the whole run
    against a pure-Python reference implementation byte-for-byte."""
    from hadron_spark.llm import bpe

    merges, _ = bpe.bpe_train(
        load(spark, sf_dir, "documents"), num_merges=16
    )
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    )


@_register("q189_bpe_token_counts", None)
def q189(spark, sf_dir):
    """Corpus tokenized under the trained BPE vocab
    (llm.bpe.bpe_apply): per-source BPE token totals via one
    broadcast word->tokens join — the corpus text never shuffles.
    Rows-only (depends on the iterative training); exactness is
    pinned in test_bpe."""
    from hadron_spark.llm import bpe

    docs = load(spark, sf_dir, "documents")
    _, vocab = bpe.bpe_train(docs, num_merges=16)
    return bpe.bpe_apply(docs, vocab, ["source"]).orderBy("source")


@_register(
    "q190_packed_shards",
    _PACK_SPANS_SQL
    + """
    SELECT CAST(seq_id // 8 AS INT) AS shard, COUNT(*) AS n_spans,
           MIN(seq_id) AS min_seq, MAX(seq_id) AS max_seq
    FROM spans GROUP BY 1
    """,
)
def q190(spark, sf_dir):
    """Packed-shard export (llm.packing.write_packed_shards): the
    span table written as trainer-facing shard dirs (8 sequences per
    shard here), manifest assembled from the committed parquet
    FOOTERS — so footer statistics must agree with the oracle's
    from-scratch SQL derivation of the same sharding for the hashes
    to match (the q182 ordered-export discipline). The write really
    happens into a temp dir removed at exit."""
    import atexit
    import shutil
    import tempfile

    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import packing

    docs = load(spark, sf_dir, "documents")
    packed = packing.pack_sequences(
        docs, "doc_id", token_count(F.col("text")), seq_len=128
    )
    out_dir = tempfile.mkdtemp(prefix="q190_shards_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    return packing.write_packed_shards(packed, out_dir, seqs_per_shard=8)


@_register("q191_pq_topk", None)
def q191(spark, sf_dir):
    """Product-quantization ANN (llm.similarity.pq_topk, Jégou et al.
    2011): corpus encoded as m=8 codes (one narrow JVM pass — 32×
    smaller rows), ADC scoring via m array lookups per row, exact
    re-rank of the R·k shortlist. Rows-only (k-means codebooks are
    iterative); RECALL.md records measured recall vs brute force and
    test_llm_ops pins the clustered-fixture floor."""
    from hadron_spark.llm.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return pq_topk(emb, queries, k=10, m=8, codes=16, refine=4)


@_register("q192_ivfpq_topk", None)
def q192(spark, sf_dir):
    """IVF-PQ ANN (llm.similarity.ivfpq_topk): coarse k-means cells,
    PQ codebooks on the residuals, per-(query, probed-cell) ADC
    lookup tables, exact re-rank of the shortlist — the billion-scale
    FAISS layout as a Spark plan (cell equi-join prunes the corpus,
    codes are ~32x smaller than vectors, re-rank work is
    corpus-size-independent). Rows-only (two iterative trainings);
    RECALL.md measures it against brute force on both fixtures."""
    from hadron_spark.llm.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return ivfpq_topk(
        emb, queries, k=10, n_centroids=16, n_probe=8, m=8, codes=16, refine=4
    )


@_register(
    "q193_exact_percentiles",
    r"""
    WITH r AS (
      SELECT l_extendedprice AS x,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                          l_linenumber) AS rn,
             COUNT(*) OVER () AS n
      FROM lineitem),
    ps AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                          CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE),
                          CAST(0.99 AS DOUBLE)]) AS p),
    hit AS (
      SELECT ps.p, r.x, r.rn,
             CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 1 AS lo,
             LEAST(CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 2, r.n) AS hi,
             (r.n - 1) * ps.p - floor((r.n - 1) * ps.p) AS f
      FROM r, ps
      WHERE r.rn = CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 1
         OR r.rn = LEAST(CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 2, r.n))
    SELECT p,
           MAX(CASE WHEN rn = lo THEN x END)
             + MAX(f) * (MAX(CASE WHEN rn = hi THEN x END)
                         - MAX(CASE WHEN rn = lo THEN x END)) AS value
    FROM hit GROUP BY p
    """,
)
def q193(spark, sf_dir):
    """Exact interpolated percentiles WITHOUT a global sort
    (ops.exact_percentiles): range_rank's banded ranking gives every
    row its exact global rank with ONE hash exchange; the ≤2 rows at
    each needed rank are picked by a broadcast join against the
    5-row percentile spine; interpolation is the same two IEEE ops
    the oracle runs. Exact AND scale-safe — the third point on the
    sort-based / sketch-based tradeoff."""
    li = load(spark, sf_dir, "lineitem")
    return ops.exact_percentiles(
        li,
        F.col("l_extendedprice"),
        [F.col("l_orderkey"), F.col("l_linenumber")],
        [0.25, 0.5, 0.75, 0.9, 0.99],
    )


@_register(
    "q194_mixture_upsample",
    r"""
    WITH c AS (
      SELECT doc_id, source,
             (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                          WHEN 'src2' THEN 1 ELSE 1 END)
             + CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT % 10000)
                       < (CASE source WHEN 'src0' THEN 5000
                                      WHEN 'src1' THEN 2500
                                      WHEN 'src2' THEN 0 ELSE 0 END)
                    THEN 1 ELSE 0 END AS copies
      FROM documents)
    SELECT doc_id, source, CAST(u.copy_id AS INT) AS copy_id
    FROM c, unnest(generate_series(0, copies - 1)) AS u(copy_id)
    WHERE copies > 0
    """,
)
def q194(spark, sf_dir):
    """Deterministic repeat-factor upsampling
    (llm.mixing.upsample_repeats): src0 ×2.5 (2 copies + md5-hash
    half get a third), src1 ×0.25 (pure fractional keep), src2 ×1
    exact, everything else default ×1 — the epochs-over-source knob
    of data-constrained pretraining as a pure function of the row
    key. Narrow plan (bucket filter + sequence explode, no shuffle);
    the oracle replays the same md5 arithmetic."""
    from hadron_spark.llm.mixing import upsample_repeats

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return upsample_repeats(
        docs,
        "doc_id",
        "source",
        {"src0": 2.5, "src1": 0.25, "src2": 1.0},
        default=1.0,
    )


@_register(
    "q195_group_percentiles",
    r"""
    WITH r AS (
      SELECT l_returnflag AS returnflag, l_extendedprice AS x,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem),
    ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS p),
    hit AS (
      SELECT r.returnflag, ps.p, r.x, r.rn,
             CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 1 AS lo,
             LEAST(CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 2, r.n) AS hi,
             (r.n - 1) * ps.p - floor((r.n - 1) * ps.p) AS f
      FROM r, ps
      WHERE r.rn = CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 1
         OR r.rn = LEAST(CAST(floor((r.n - 1) * ps.p) AS BIGINT) + 2, r.n))
    SELECT returnflag, p,
           MAX(CASE WHEN rn = lo THEN x END)
             + MAX(f) * (MAX(CASE WHEN rn = hi THEN x END)
                         - MAX(CASE WHEN rn = lo THEN x END)) AS value
    FROM hit GROUP BY returnflag, p
    """,
)
def q195(spark, sf_dir):
    """Per-group exact percentiles (ops.exact_percentiles_by): the
    grouped variant — a partitioned ranking window (parallel across
    groups, one exchange) + the same broadcast percentile spine and
    identical-IEEE interpolation as q193. Use q193's banded form for
    a single giant group; this form scales with group count."""
    li = load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_returnflag", "returnflag"
    )
    return ops.exact_percentiles_by(
        li,
        ["returnflag"],
        F.col("l_extendedprice"),
        [F.col("l_orderkey"), F.col("l_linenumber")],
        [0.5, 0.95],
    )


@_register(
    "q196_weighted_percentile_global",
    r"""
    WITH t AS (
      SELECT l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem),
    c AS (
      SELECT v, w,
             SUM(w) OVER (ORDER BY v, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum,
             SUM(w) OVER () AS total
      FROM t),
    p AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) AS p(num, den))
    SELECT CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS p,
           MIN(v) AS value
    FROM c, p
    WHERE cum * den >= num * total
    GROUP BY num, den
    """,
)
def q196(spark, sf_dir):
    """Global quantity-weighted percentiles (ops.weighted_percentile):
    q97's weighted-median semantics over ONE distribution, made
    scale-safe — exact cumulative weights ride the banded
    range_cumsum (one exchange, never a single-partition window) and
    the threshold is the integer cross-multiplication
    cum*den >= num*total, so no FP enters until the output label."""
    li = load(spark, sf_dir, "lineitem")
    return ops.weighted_percentile(
        li,
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        [F.col("l_orderkey"), F.col("l_linenumber")],
        [(1, 2), (9, 10), (99, 100)],
    )


@_register(
    "q197_nucleus_vocab",
    r"""
    WITH f AS (
      SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS t
            FROM documents)
      GROUP BY 1),
    c AS (
      SELECT token, cnt,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY cnt DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before,
             SUM(cnt) OVER () AS total
      FROM f)
    SELECT token, cnt, cum_before
    FROM c WHERE cum_before * 10 < 9 * total
    """,
)
def q197(spark, sf_dir):
    """Top-p (nucleus) vocabulary truncation
    (llm.textstats.nucleus_vocab): the minimal frequency-ranked
    token prefix covering 90% of token mass. The descending
    cumulative count rides the banded range_cumsum keyed on -count —
    one exchange, no unpartitioned window over the (web-scale huge)
    vocabulary — and inclusion is the exact integer test
    cum_before*den < num*total."""
    from hadron_spark.llm.textstats import nucleus_vocab

    return nucleus_vocab(load(spark, sf_dir, "documents"), num=9, den=10)


@_register("q198_hits", None)
def q198(spark, sf_dir):
    """HITS hubs/authorities (operators.graph.hits, 4 fixed rounds)
    over the customer→nation→region containment DAG (q71's graph):
    customers are pure hubs, nations both, regions pure authorities.
    Iterative double arithmetic isn't bit-portable → rows-only
    (row count = |nodes| deterministic); the analytic star-graph
    fixture is asserted in test_maintenance."""
    from hadron_spark.operators.graph import hits

    c = load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 100000).alias("src"),
        (F.col("c_nationkey") + 100).cast("long").alias("dst"),
    )
    n = load(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).cast("long").alias("src"),
        F.col("n_regionkey").cast("long").alias("dst"),
    )
    return hits(c.unionByName(n), iters=4)


@_register("q199_label_propagation", None)
def q199(spark, sf_dir):
    """Synchronous label propagation (operators.graph
    .label_propagation, deterministic min-label ties) over the
    containment graph: communities form around the high-degree
    nation hubs (each nation's customer leaves reinforce its label
    against the weak region bridge). Deterministic under any
    partitioning, but the converged labeling is a nontrivial
    function of the leaf-majority dynamics — rows-only here
    (row count = |nodes|); the two-clique fixture in
    test_maintenance pins exact community assignments and
    repartitioning stability."""
    from hadron_spark.operators.graph import label_propagation

    c = load(spark, sf_dir, "customer").select(
        (F.col("c_nationkey") + 100).cast("long").alias("src"),
        (F.col("c_custkey") + 100000).cast("long").alias("dst"),
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_regionkey").cast("long").alias("src"),
        (F.col("n_nationkey") + 100).cast("long").alias("dst"),
    )
    return label_propagation(c.unionByName(n), iters=8)


@_register(
    "q200_training_data_capstone",
    r"""
    WITH up AS (
      SELECT doc_id, source, text,
             (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END)
             + CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT % 10000)
                       < (CASE source WHEN 'src0' THEN 5000
                                      WHEN 'src1' THEN 2500 ELSE 0 END)
                    THEN 1 ELSE 0 END AS copies
      FROM documents),
    corpus AS (
      SELECT doc_id * 4 + u.copy_id AS uid,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n
      FROM up, unnest(generate_series(0, copies - 1)) AS u(copy_id)
      WHERE copies > 0),
    c AS (
      SELECT uid, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY uid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS b
      FROM corpus),
    s AS (SELECT uid, n, b, CAST(b + n AS BIGINT) AS e FROM c WHERE n > 0),
    spans AS (
      SELECT CAST(u.seq_id AS BIGINT) AS seq_id,
             CAST(LEAST(s.e, (u.seq_id+1)*256) - GREATEST(s.b, u.seq_id*256)
                  AS BIGINT) AS n_tok
      FROM s, unnest(generate_series(s.b // 256, (s.e-1) // 256)) AS u(seq_id))
    SELECT CAST(seq_id // 16 AS INT) AS shard,
           COUNT(*) AS n_spans,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           MIN(seq_id) AS min_seq, MAX(seq_id) AS max_seq
    FROM spans GROUP BY 1
    """,
)
def q200(spark, sf_dir):
    """Round-2 training-data capstone: the new primitives composed
    end-to-end — deterministic repeat-factor UPSAMPLING (src0 ×2.5,
    src1 ×0.25, md5-gated fractional copies) → concat-and-chunk
    SEQUENCE PACKING of the upsampled token stream into 256-token
    sequences (banded range_cumsum, one exchange) → per-SHARD
    accounting (16 sequences per shard). Every stage is exact
    integer/md5 arithmetic, so the WHOLE chain hash-matches the
    DuckDB replay of the same pipeline — an end-to-end oracle over
    upsample ∘ pack ∘ shard, not just the pieces. Plan: the narrow
    upsample explode fuses into the packer's materialize pass; the
    only exchanges are the prefix-sum band window and the final
    shard rollup."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm import packing
    from hadron_spark.llm.mixing import upsample_repeats

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    up = upsample_repeats(
        docs, "doc_id", "source", {"src0": 2.5, "src1": 0.25}, default=1.0
    )
    corpus = up.select(
        (F.col("doc_id") * 4 + F.col("copy_id")).alias("uid"),
        token_count(F.col("text")).alias("_cnt"),
    )
    packed = packing.pack_sequences(corpus, "uid", F.col("_cnt"), seq_len=256)
    return (
        packed.groupBy(F.expr("CAST(seq_id div 16 AS INT)").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_tok").cast("bigint").alias("shard_tokens"),
            F.min("seq_id").alias("min_seq"),
            F.max("seq_id").alias("max_seq"),
        )
    )


@_register("q201_embedding_outliers", None)
def q201(spark, sf_dir):
    """Embedding-space outlier scoring (llm.embeddings
    .mahalanobis_scores): exact squared Mahalanobis distance to the
    corpus distribution — one Gram pass + driver eigensolve, then a
    single narrow scoring expression per row (d literal dot products
    + an eigenvalue zip_with). Returns the 20 most anomalous vectors;
    rows-only (eigensolve is LAPACK-iterative) with a numpy-parity
    and planted-outlier test in test_embeddings."""
    from hadron_spark.llm.embeddings import mahalanobis_scores

    scores = mahalanobis_scores(load(spark, sf_dir, "embeddings"))
    return scores.orderBy(F.col("score").desc(), "vec_id").limit(20)


@_register("q202_dsir_scores", None)
def q202(spark, sf_dir):
    """DSIR importance scoring (llm.dsir.dsir_scores, arXiv:
    2302.03169): log importance weight of every raw document under
    the hashed-uni+bigram bucket model fit on a target subcorpus
    (here: the English documents) vs the full raw corpus. Plan:
    two n-gram wordcount passes bounded by n_buckets, a broadcast
    log-ratio map, one per-doc partial-agg'd sum. Rows-only (ln is
    not cross-engine bit-stable); the full model/score/Gumbel math
    is pinned against a pure-Python reference in test_dsir."""
    from hadron_spark.llm.dsir import dsir_scores

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_scores(docs, target, n_buckets=4096).orderBy("doc_id")


@_register("q203_dsir_resample", None)
def q203(spark, sf_dir):
    """DSIR selection (llm.dsir.dsir_resample): Gumbel-top-k draw of
    100 documents ∝ importance weight, with hash-derived (RNG-free,
    re-shard-stable) Gumbel noise — the deterministic distributed
    form of sampling without replacement. Rows-only; determinism
    under repartitioning and reference parity pinned in test_dsir."""
    from hadron_spark.llm.dsir import dsir_resample

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return (
        dsir_resample(docs, target, k=100, n_buckets=4096)
        .select("doc_id", "source", "logw", "gumbel_key")
        .orderBy("doc_id")
    )


@_register(
    "q204_quality_classifier",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id,
        CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)),
                                     'sum'), 0) AS DOUBLE)
          / greatest(len(toks), 1) AS mean_token_len,
        CAST(len(list_filter(list_transform(toks, x -> lower(x)),
              x -> list_contains(['the','a','an','and','or','of','to','in',
                                  'is','it','for','on','with','as','at','by',
                                  'be','this','that'], x))) AS DOUBLE)
          / greatest(len(toks), 1) AS stop_frac,
        CAST(least(len(toks), 1000) AS DOUBLE) / 1000 AS len_feat,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             AS DOUBLE) / greatest(length(text), 1) AS digit_frac
      FROM t
    )
    SELECT doc_id,
           CAST(-2.0 AS DOUBLE)
             + mean_token_len * CAST(0.35 AS DOUBLE)
             + stop_frac * CAST(4.0 AS DOUBLE)
             + len_feat * CAST(1.5 AS DOUBLE)
             + digit_frac * CAST(-3.0 AS DOUBLE) AS z,
           (CAST(-2.0 AS DOUBLE)
             + mean_token_len * CAST(0.35 AS DOUBLE)
             + stop_frac * CAST(4.0 AS DOUBLE)
             + len_feat * CAST(1.5 AS DOUBLE)
             + digit_frac * CAST(-3.0 AS DOUBLE)) >= CAST(0.0 AS DOUBLE)
             AS keep
    FROM f
    """,
)
def q204(spark, sf_dir):
    """Model-based quality filtering (llm.classifier
    .apply_quality_classifier): a trained logistic checkpoint
    (canned literal weights) scores every document with ONE linear
    JVM expression over exact-int-ratio features and thresholds the
    LOGIT — exp-free, so the whole scored corpus hash-matches the
    DuckDB replay bit-for-bit (sums/products of identically parsed
    literals in identical association order). The distributed
    trainer that produces such checkpoints is q205."""
    from hadron_spark.llm.classifier import apply_quality_classifier

    w = {
        "bias": -2.0,
        "mean_token_len": 0.35,
        "stop_frac": 4.0,
        "len_feat": 1.5,
        "digit_frac": -3.0,
    }
    return apply_quality_classifier(
        load(spark, sf_dir, "documents"), w
    ).orderBy("doc_id")


@_register("q205_classifier_train", None)
def q205(spark, sf_dir):
    """Distributed logistic-regression training (llm.classifier
    .train_quality_classifier): full-batch GD where each round is one
    partial-agg'd gradient aggregation over the pinned feature frame
    (d+1 scalars to the driver — the kmeans coordination contract;
    the corpus never shuffles). Labels here are a heuristic proxy
    (stopword-rich English docs = positive) so the op runs on the
    synthetic corpus; rows-only (iterative, exp in the gradient),
    with numpy-parity + perfect-separation tests in test_classifier.
    Returns the learned weights as rows for inspection."""
    from hadron_spark.llm.classifier import (
        FEATURE_NAMES,
        train_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "_y",
        (
            (F.col("lang") == "en")
            & (F.size(F.split(F.col("text"), r"\s+")) >= 5)
        ).cast("int"),
    )
    w = train_quality_classifier(docs, "_y", iters=25)
    return spark.createDataFrame(
        [(k, float(w[k])) for k in ("bias", *FEATURE_NAMES)],
        "feature string, weight double",
    )


@_register("q206_unigram_train", None)
def q206(spark, sf_dir):
    """SentencePiece-style unigram-LM tokenizer training (llm.unigram
    .unigram_train, arXiv:1804.10959): substring seeding + hard-EM
    Viterbi rounds + probability pruning, all over the
    |vocab|-bounded distinct-word table — the corpus is read once.
    Each EM round is one mapInPandas pass with the piece table
    broadcast and a |pieces|-bounded count aggregation. Rows-only
    (iterative EM over floats); the full loop is pinned against a
    pure-Python reference in test_unigram. Returns the learned piece
    table."""
    from hadron_spark.llm.unigram import unigram_train

    pieces, _ = unigram_train(
        load(spark, sf_dir, "documents"),
        vocab_size=96,
        seed_size=512,
        max_piece_len=6,
    )
    return spark.createDataFrame(
        [(p, float(lp)) for p, lp in pieces],
        "piece string, logprob double",
    )


@_register("q207_bpe_encode", None)
def q207(spark, sf_dir):
    """Rank-driven BPE encoding of a corpus under a trained merge
    list (llm.bpe.bpe_encode_table): the apply-side mirror of the
    training fold — in-vocab words reproduce their training
    segmentation byte-for-byte (test-pinned), unseen words get real
    subword pieces. Python touches only the distinct-word table
    (|vocab|-bounded), never the corpus text. Rows-only (depends on
    the iterative trainer); returns per-word segmentations."""
    from hadron_spark.llm import bpe

    docs = load(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(docs, num_merges=48)
    return (
        bpe.bpe_encode_table(docs, merges)
        .select("word", "n", F.size("toks").alias("n_toks"))
        .orderBy("word")
    )


@_register(
    "q208_repeated_spans",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), p AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT p.doc_id, p.pos FROM p
      JOIN (SELECT fp FROM p GROUP BY fp HAVING COUNT(*) >= 2) h USING (fp)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -8) + 7
                  THEN 1 ELSE 0 END AS ni
      FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM fl
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
           COUNT(*) AS n_positions
    FROM isl GROUP BY doc_id, island
    """,
)
def q208(spark, sf_dir):
    """Corpus-level exact-substring duplication report (llm.dedup
    .repeated_spans; the ExactSubstr pass of Lee et al. 2022 in
    token-window form): every 8-token span whose md5 fingerprint
    repeats anywhere in the corpus, merged into maximal per-document
    islands. All exact integers + md5, so the full report — a dedup
    operator! — hash-matches the DuckDB replay. Plan: one
    tokenize+explode, a fingerprint-keyed partial-agg count whose
    exchange the position re-join reuses, and a per-doc (partitioned)
    island scan."""
    from hadron_spark.llm.dedup import repeated_spans

    out = repeated_spans(load(spark, sf_dir, "documents"), window=8)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_positions",
    )


@_register(
    "q209_exact_substring_dedup",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), p AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT p.doc_id, p.pos FROM p
      JOIN (SELECT fp FROM p GROUP BY fp HAVING COUNT(*) >= 2) h USING (fp)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -8) + 7
                  THEN 1 ELSE 0 END AS ni
      FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM fl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS a, MAX(pos) + 8 AS b
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(array_to_string(
             list_filter(t.toks,
               (x, i) -> len(list_filter(coalesce(pd.sp, []),
                             s -> i - 1 >= s.a AND i - 1 < s.b)) = 0),
             ' '), '') AS clean_text
    FROM t LEFT JOIN per_doc pd USING (doc_id)
    """,
)
def q209(spark, sf_dir):
    """Exact-substring dedup applied (llm.dedup
    .exact_substring_dedup): each document with every repeated
    island's tokens removed, survivors re-joined single-spaced. The
    oracle replays the ENTIRE pipeline (fingerprint → count →
    island-merge → token filter) and compares the full cleaned
    string — the q172-style whole-output check, here for a
    corpus-global operator."""
    from hadron_spark.llm.dedup import exact_substring_dedup

    return exact_substring_dedup(
        load(spark, sf_dir, "documents"), window=8
    ).select("doc_id", "clean_text")


@_register(
    "q210_incremental_substring_dedup",
    """
    WITH ct AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id % 5 <> 0
    ), store AS (
      SELECT DISTINCT md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM ct, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), bt AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id % 5 = 0
    ), bp AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM bt, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT bp.doc_id, bp.pos FROM bp JOIN store USING (fp)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -8) + 7
                  THEN 1 ELSE 0 END AS ni
      FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM fl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS a, MAX(pos) + 8 AS b
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
      FROM spans GROUP BY doc_id
    )
    SELECT bt.doc_id,
           coalesce(array_to_string(
             list_filter(bt.toks,
               (x, i) -> len(list_filter(coalesce(pd.sp, []),
                             s -> i - 1 >= s.a AND i - 1 < s.b)) = 0),
             ' '), '') AS clean_text
    FROM bt LEFT JOIN per_doc pd USING (doc_id)
    """,
)
def q210(spark, sf_dir):
    """INCREMENTAL exact-substring dedup (llm.dedup
    .exact_substring_dedup_incremental): a batch (doc_id % 5 = 0) is
    cleaned against the fingerprint store of the standing corpus
    (doc_id % 5 <> 0) — the ingest pattern where the corpus is never
    re-tokenized, only its distinct-fingerprint store is semi-joined.
    The oracle replays store-build + membership + island-merge +
    token filter and compares the full cleaned strings."""
    from hadron_spark.llm.dedup import (
        exact_substring_dedup_incremental,
        span_fingerprint_store,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    store = span_fingerprint_store(corpus, window=8)
    return exact_substring_dedup_incremental(
        batch, store, window=8
    ).select("doc_id", "clean_text")


@_register("q211_compression_ratio", None)
def q211(spark, sf_dir):
    """Compression-based quality signal (llm.filters
    .compression_ratio): zlib compressibility per document — the
    entropy proxy that catches boilerplate (ratio << 0.4) and binary
    junk (ratio ≈ 1) alike. Arrow-batched mapInPandas (the declared
    escape hatch — no Catalyst compressor exists), deterministic at
    a fixed level. Rows-only (DuckDB has no zlib); pinned against
    direct python zlib in test_llm_ops."""
    from hadron_spark.llm.filters import compression_ratio

    return compression_ratio(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


@_register(
    "q212_epoch_shuffle",
    """
    SELECT doc_id, 7 AS epoch,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/epoch=7'),
                                1, 15))::BIGINT % 16 AS INT) AS shard,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/epoch=7'),
                           1, 15))::BIGINT AS sort_key
    FROM documents
    """,
)
def q212(spark, sf_dir):
    """Deterministic per-epoch reshuffle (llm.mixing.epoch_shuffle):
    shard + within-shard sort key as pure md5 functions of (doc key,
    epoch) — the resumable, re-shard-stable epoch shuffling a
    multi-epoch training export needs. Narrow projection (zero
    exchanges before the writer's own repartition); the full
    assignment map hash-matches the DuckDB replay."""
    from hadron_spark.llm.mixing import epoch_shuffle

    return epoch_shuffle(
        load(spark, sf_dir, "documents").select("doc_id"),
        "doc_id",
        epoch=7,
        n_shards=16,
    ).withColumn("epoch", F.lit(7))


@_register(
    "q213_event_sequences",
    """
    SELECT user_id, COUNT(*) AS n_events,
           array_to_string(list(event_type ORDER BY ts, event_id), '>')
             AS seq
    FROM events GROUP BY user_id
    """,
)
def q213(spark, sf_dir):
    """Trajectory assembly (llm.packing.event_sequences): per-user
    time-ordered event-type sequences joined to strings — the
    log→sequence-dataset construction step for behavioral-sequence
    training. One partial-agg'd groupBy, in-array sort (array_sort
    over (ts, event_id, value) structs), no window or global sort;
    full sequences hash-match the DuckDB ordered-list replay."""
    from hadron_spark.llm.packing import event_sequences

    return event_sequences(
        load(spark, sf_dir, "events"),
        "user_id",
        ["ts", "event_id"],
        "event_type",
    )


@_register(
    "q214_curation_capstone",
    """
    WITH f0 AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, text, toks,
        CAST(-2.0 AS DOUBLE)
          + (CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)),
                                          'sum'), 0) AS DOUBLE)
             / greatest(len(toks), 1)) * CAST(0.35 AS DOUBLE)
          + (CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                x -> list_contains(['the','a','an','and','or','of','to','in',
                                    'is','it','for','on','with','as','at','by',
                                    'be','this','that'], x))) AS DOUBLE)
             / greatest(len(toks), 1)) * CAST(4.0 AS DOUBLE)
          + (CAST(least(len(toks), 1000) AS DOUBLE) / 1000)
              * CAST(1.5 AS DOUBLE)
          + (CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS DOUBLE) / greatest(length(text), 1))
              * CAST(-3.0 AS DOUBLE) AS z
      FROM f0
    ), kept AS (
      SELECT doc_id, toks FROM scored WHERE z >= CAST(0.0 AS DOUBLE)
    ), p AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM kept, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT p.doc_id, p.pos FROM p
      JOIN (SELECT fp FROM p GROUP BY fp HAVING COUNT(*) >= 2) h USING (fp)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -8) + 7
                  THEN 1 ELSE 0 END AS ni
      FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM fl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS a, MAX(pos) + 8 AS b
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
      FROM spans GROUP BY doc_id
    ), cleaned AS (
      SELECT k.doc_id,
             len(list_filter(k.toks,
               (x, i) -> len(list_filter(coalesce(pd.sp, []),
                             s -> i - 1 >= s.a AND i - 1 < s.b)) = 0))
               AS n_tokens
      FROM kept k LEFT JOIN per_doc pd USING (doc_id)
    ), sharded AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/epoch=1'),
                                  1, 15))::BIGINT % 8 AS INT) AS shard
      FROM cleaned WHERE n_tokens > 0
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM sharded GROUP BY shard
    """,
)
def q214(spark, sf_dir):
    """Round-3 curation capstone, end-to-end with ONE replayed
    oracle: model-based quality gate (canned logistic checkpoint,
    exp-free logit threshold) → corpus-level exact-substring dedup
    WITHIN the survivors → deterministic epoch-1 shard assignment →
    per-shard doc/token accounting. Every stage is exact integer /
    md5 / identically-parsed-literal arithmetic, so the whole
    pipeline hash-matches the DuckDB replay — the q200 discipline
    applied to the round-3 curation tier. Plan: the quality gate
    fuses into the scan; exchanges are the fingerprint count (reused
    by the position re-join), the doc-partitioned island window, and
    the final shard rollup."""
    from hadron_spark.llm.classifier import apply_quality_classifier
    from hadron_spark.llm.dedup import exact_substring_dedup
    from hadron_spark.llm.mixing import epoch_shuffle

    docs = load(spark, sf_dir, "documents")
    w = {
        "bias": -2.0,
        "mean_token_len": 0.35,
        "stop_frac": 4.0,
        "len_feat": 1.5,
        "digit_frac": -3.0,
    }
    kept_ids = apply_quality_classifier(docs, w).filter("keep").select(
        "doc_id"
    )
    kept = docs.join(kept_ids, "doc_id")
    cleaned = exact_substring_dedup(kept, window=8).select(
        "doc_id",
        F.size(
            F.filter(F.split("clean_text", r"\s+"), lambda t: t != "")
        ).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    sharded = epoch_shuffle(cleaned, "doc_id", epoch=1, n_shards=8)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


@_register(
    "q215_corpus_report",
    """
    WITH b AS (
      SELECT len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS nt,
             length(text) AS nc, lang AS g
      FROM documents
    ), t AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             CAST(SUM(nc) AS BIGINT) AS total_chars,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY nt) AS p50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY nt) AS p90,
             MAX(nt) AS max_nt,
             CAST(SUM(CASE WHEN nc < 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
      FROM b
    )
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM t
    UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM t
    UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM t
    UNION ALL SELECT 'mean_doc_tokens',
      CAST(total_tokens AS DOUBLE) / greatest(n_docs, 1) FROM t
    UNION ALL SELECT 'p50_doc_tokens', CAST(p50 AS DOUBLE) FROM t
    UNION ALL SELECT 'p90_doc_tokens', CAST(p90 AS DOUBLE) FROM t
    UNION ALL SELECT 'max_doc_tokens', CAST(max_nt AS DOUBLE) FROM t
    UNION ALL SELECT 'pct_docs_short',
      CAST(n_short AS DOUBLE) / greatest(n_docs, 1) FROM t
    UNION ALL
    SELECT 'share:' || coalesce(g, '<null>'),
           CAST(COUNT(*) AS DOUBLE)
             / greatest((SELECT n_docs FROM t), 1)
    FROM b GROUP BY g
    """,
)
def q215(spark, sf_dir):
    """Corpus data-card report (llm.report.corpus_report): the
    one-call release summary — size, exact length distribution
    (discrete percentiles), emptiness, per-language composition — as
    one long-format frame whose every value is exact-int arithmetic
    + one IEEE division, hash-matching the DuckDB replay. Two tiny
    exchanges (global 8-cell agg + |langs| breakdown) over one
    pinned narrow pass."""
    from hadron_spark.llm.report import corpus_report

    return corpus_report(load(spark, sf_dir, "documents"))


@_register(
    "q216_grouped_packing",
    """
    WITH b AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS n
      FROM documents
    ), c AS (
      SELECT source, doc_id, n,
             CAST(coalesce(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS bgn
      FROM b
    ), s AS (
      SELECT source, doc_id, n, bgn, bgn + n AS e,
             u.seq_id
      FROM c, unnest(generate_series(bgn // 128, (bgn + n - 1) // 128))
             AS u(seq_id)
      WHERE n > 0
    )
    SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(GREATEST(bgn, seq_id * 128) - seq_id * 128 AS BIGINT)
             AS begin_in_seq,
           CAST(LEAST(e, (seq_id + 1) * 128) - seq_id * 128 AS BIGINT)
             AS end_in_seq,
           CAST(GREATEST(0, seq_id * 128 - bgn) AS BIGINT) AS doc_offset,
           CAST(LEAST(e, (seq_id + 1) * 128) - GREATEST(bgn, seq_id * 128)
                AS BIGINT) AS n_tok
    FROM s
    """,
)
def q216(spark, sf_dir):
    """Per-group sequence packing (llm.packing.pack_sequences_grouped):
    documents pack into 128-token sequences WITHIN each source —
    sequences never mix sources (the cross-domain-contamination
    knob). Offsets are a source-partitioned exclusive prefix sum
    (parallel across groups, no single-partition window); spans then
    explode narrowly. The whole per-group span map hash-matches the
    DuckDB replay — the q183 discipline, grouped."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm.packing import pack_sequences_grouped

    return pack_sequences_grouped(
        load(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        token_count(F.col("text")),
        seq_len=128,
    )


@_register("q217_leakage_safe_split", None)
def q217(spark, sf_dir):
    """Dedup-aware train/val/test split (llm.dedup
    .leakage_safe_split): documents split by the md5 hash of their
    NEAR-DUP COMPONENT (MinHash-LSH pairs → connected components),
    so a test document's near-twin can never sit in train — the
    evaluation-leakage guard of Lee et al. 2022 §6. Rows-only
    (iterative CC); component-cohesion + determinism pinned in
    test_llm_ops. Returns per-split document counts."""
    from hadron_spark.llm.dedup import leakage_safe_split, minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=32, bands=8).select(
        "id_a", "id_b"
    )
    out = leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .orderBy("split")
    )


@_register("q218_streaming_curation", None)
def q218(spark, sf_dir):
    """Streaming exact-substring curation sink (streaming.ops
    .streaming_substring_dedup): the incremental ExactSubstr pass as
    a foreachBatch pipeline — each micro-batch cleans against the
    fingerprint store of everything ALREADY ADMITTED, writes its own
    idempotent batch=<id> output dir, and merges its kept text's
    fingerprints under the exactly-once trio (batch-id HWM,
    per-batch overwrite, crash-healing swap). Driven to completion
    here with availableNow over the staged corpus; returns per-batch
    admitted doc/char counts. Rows-only (the store/output are side
    effects); replay + crash semantics pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import streaming_substring_dedup

    work = tempfile.mkdtemp(prefix="q218_")
    src = f"{work}/src"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    state, out_dir = f"{work}/state", f"{work}/out"
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_substring_dedup(
        stream, state, out_dir, checkpoint=f"{work}/ckpt"
    )
    q.awaitTermination(300)
    result = (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir + "/batch=*")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("clean_text")).cast("bigint").alias("n_chars"),
        )
        .orderBy("batch")
    )
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q219_winnow_fingerprints",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 4 + 1),
               i -> ('0x' || substr(md5(array_to_string(toks[i : i+3], ' ')),
                                    1, 15))::BIGINT) AS hh
      FROM t WHERE len(toks) >= 4
    )
    SELECT DISTINCT doc_id,
      CAST(u.s + least(5, len(hh) - u.s + 1)
           - list_position(list_reverse(hh[u.s : u.s+4]),
                           list_min(hh[u.s : u.s+4])) AS BIGINT) AS pos,
      list_min(hh[u.s : u.s+4]) AS fp
    FROM g, unnest(generate_series(1, greatest(len(hh) - 5 + 1, 1))) AS u(s)
    """,
)
def q219(spark, sf_dir):
    """Winnowing fingerprint selection (llm.dedup.winnow_fingerprints,
    Schleimer et al. 2003 — the MOSS local fingerprinting scheme):
    rightmost-minimum of each w=5 window over k=4-gram md5-prefix
    hashes, deduped per document. Guarantees a shared fingerprint for
    any shared run of ≥ w+k−1 tokens at ~2/(w+1) density — the
    compact candidate-generation alternative to full n-gram sets.
    All selection is in-row array expressions (narrow plan); the
    entire selected set hash-matches the DuckDB replay."""
    from hadron_spark.llm.dedup import winnow_fingerprints

    return winnow_fingerprints(
        load(spark, sf_dir, "documents"), k=4, w=5
    )


@_register("q220_domain_discovery", None)
def q220(spark, sf_dir):
    """Unsupervised domain discovery (llm.textstats.discover_domains):
    hashed log-TF-IDF document vectors (max_df-cut, L2-normalized) →
    distributed k-means with deterministic farthest-first seeding —
    the cluster-then-reweight recipe when source labels are missing
    or too coarse (feed `domain` to mixing.mixture_weights).
    Rows-only (iterative clustering + ln weights); two-topic
    separation and repartition-determinism pinned in test_llm_ops.
    Returns per-domain sizes."""
    from hadron_spark.llm.textstats import discover_domains

    out = discover_domains(
        load(spark, sf_dir, "documents"), n_domains=8, dim=256
    )
    return (
        out.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("domain")
    )


@_register(
    "q221_ngram_lm_counts",
    r"""
    WITH tl AS (
      SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
      FROM documents
    ),
    uni AS (SELECT unnest(l) AS g FROM tl),
    pos AS (SELECT l, unnest(range(2, len(l) + 1)) AS p FROM tl),
    big AS (SELECT l[p-1] || ' ' || l[p] AS g FROM pos)
    SELECT 1 AS n, g AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM uni GROUP BY g
    UNION ALL
    SELECT 2, g, CAST(COUNT(*) AS BIGINT) FROM big GROUP BY g
    """,
)
def q221(spark, sf_dir):
    """Stupid-backoff LM training counts (llm.perplexity.
    ngram_lm_train, exact-gram mode, order 2): the CCNet quality
    stage's model fit — one tokenize+explode pass counting every
    order's grams (orders tagged in-row, single wordcount shuffle).
    FULL oracle: gram strings and counts are exact integers."""
    from hadron_spark.llm.perplexity import ngram_lm_train

    lm = ngram_lm_train(load(spark, sf_dir, "documents"), order=2)
    return lm.counts


@_register(
    "q222_perplexity_backoff",
    r"""
    WITH tl AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
      FROM documents
    ),
    ref AS (SELECT l FROM tl WHERE doc_id % 2 = 0),
    runi AS (SELECT unnest(l) AS g FROM ref),
    uc AS (SELECT g, COUNT(*) AS c FROM runi GROUP BY g),
    tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT g) AS v FROM runi),
    rpos AS (SELECT l, unnest(range(2, len(l) + 1)) AS p FROM ref),
    bc AS (SELECT l[p-1] || ' ' || l[p] AS g, COUNT(*) AS c
           FROM rpos GROUP BY 1),
    pos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS p FROM tl),
    scored AS (
      SELECT pos.doc_id,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN 2 ELSE 1 END AS ord_used,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN b.c ELSE COALESCE(u.c, 0) + 1 END AS num,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN cx.c
             ELSE (SELECT t FROM tot) + (SELECT v FROM tot) + 1 END AS den
      FROM pos
      LEFT JOIN bc b ON p >= 2 AND b.g = l[p-1] || ' ' || l[p]
      LEFT JOIN uc cx ON p >= 2 AND cx.g = l[p-1]
      LEFT JOIN uc u ON u.g = l[p]
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(ord_used) AS BIGINT) AS sum_order,
           CAST(SUM(num) AS BIGINT) AS sum_num,
           CAST(SUM(den) AS BIGINT) AS sum_den
    FROM scored GROUP BY doc_id
    """,
)
def q222(spark, sf_dir):
    """The integer skeleton of CCNet perplexity scoring
    (llm.perplexity.backoff_summary): train a bigram stupid-backoff
    LM on the EVEN-id half of the corpus, score every document, and
    report per-doc (positions, chosen-order sum, count-ratio
    numerator/denominator sums).  Odd docs genuinely back off on
    unseen bigrams; the order-1 add-one floor absorbs OOV.  FULL
    oracle — every emitted quantity is exact-integer, so the whole
    backoff resolution (the part the float score merely takes logs
    of) is bit-checked; ln parity itself is pinned pure-Python in
    test_perplexity (the DSIR rule)."""
    from hadron_spark.llm.perplexity import backoff_summary, ngram_lm_train

    docs = load(spark, sf_dir, "documents")
    lm = ngram_lm_train(docs.filter(F.col("doc_id") % 2 == 0), order=2)
    return backoff_summary(docs, lm)


@_register("q223_perplexity_scores", None)
def q223(spark, sf_dir):
    """CCNet perplexity scoring at its 100 TB shape
    (llm.perplexity.perplexity_scores, HASHED mode): trigram stupid
    backoff over a 2^18-bucket crc32 model trained on the even-id
    half — the model is bucket-bounded regardless of reference size
    and broadcast to the scorers (the DSIR ratio-table discipline);
    the corpus pass explodes hashed longs, never gram strings.
    Rows-only (ln is not cross-engine bit-stable); float parity and
    repartition determinism pinned in test_perplexity."""
    from hadron_spark.llm.perplexity import ngram_lm_train, perplexity_scores

    docs = load(spark, sf_dir, "documents")
    lm = ngram_lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), order=3, n_buckets=1 << 18
    )
    return perplexity_scores(docs, lm)


@_register("q224_perplexity_band", None)
def q224(spark, sf_dir):
    """The CCNet head+middle cut (llm.perplexity.perplexity_band):
    keep the lowest-perplexity two-thirds of the corpus under the
    hashed trigram model — the published Common Crawl training
    slice.  Thresholds are percentile_disc elements over the pinned
    scored frame (deterministic under any partitioning); rows-only
    (thresholds are ln-derived doubles).  Returns kept docs with
    their token counts."""
    from hadron_spark.llm.perplexity import ngram_lm_train, perplexity_band

    docs = load(spark, sf_dir, "documents")
    lm = ngram_lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), order=3, n_buckets=1 << 18
    )
    return perplexity_band(docs, lm, keep_hi=2 / 3).select(
        "doc_id", "n_tokens"
    )


@_register("q225_image_near_dup", None)
def q225(spark, sf_dir):
    """Perceptual image dedup (multimodal.image_near_dup_pairs):
    dHash fingerprints over decoded grayscale thumbnails, near-pairs
    via the SAME pigeonhole Hamming block join SimHash uses
    (dedup.hamming_near_pairs) — the composition VERDICT r3 flagged
    as missing.  Staged fixture: PNG payloads derived from documents
    with every doc_id%3==0 payload duplicated under a second path
    (known ground-truth dup pairs).  Pixel backend: Pillow when
    installed, else the deterministic md5 stub (plumbing identical —
    only the thumbnail source changes).  Rows-only (binary I/O);
    exactness of the block join vs brute force is pinned in
    test_llm_ops."""
    import os
    import struct
    import zlib

    from hadron_spark.llm import multimodal

    media_dir = os.path.join(
        "/tmp", f"q225_media_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isdir(media_dir) or not os.listdir(media_dir):
        os.makedirs(media_dir, exist_ok=True)
        docs = (
            load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(48)
            .collect()
        )
        for r in docs:
            w, h = 16 + (r["doc_id"] % 64), 16 + (len(r["text"]) % 64)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            payload = (
                b"\x89PNG\r\n\x1a\n"
                + struct.pack(">I", 13)
                + b"IHDR"
                + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
                + r["text"].encode("utf-8")[:256]
            )
            with open(
                os.path.join(media_dir, f"img_{r['doc_id']:05d}.png"), "wb"
            ) as fh:
                fh.write(payload)
            if r["doc_id"] % 3 == 0:  # known exact duplicate payload
                with open(
                    os.path.join(media_dir, f"dup_{r['doc_id']:05d}.png"),
                    "wb",
                ) as fh:
                    fh.write(payload)
    ingested = multimodal.ingest_binary_dir(spark, media_dir, glob="*.png")
    return multimodal.image_near_dup_pairs(ingested, max_hamming=2).select(
        "id_a", "id_b", "hamming"
    )


@_register("q226_language_id_trained", None)
def q226(spark, sf_dir):
    """Trained language ID (textstats.language_id_train/apply): a
    one-vs-rest logistic over hashed character-trigram features —
    the classifier.py GD discipline (full-batch gradients, B-bounded
    bucket aggregations, model state on the driver) — fit on the
    even-id half of documents using its `lang` labels, applied to
    the odd half with an EXP-FREE logit argmax.  Rows-only
    (training is iterative + sigmoid); accuracy and repartition
    determinism pinned in test_llm_ops.  Returns the predicted
    per-language distribution of the held-out half."""
    from hadron_spark.llm.textstats import (
        _LANG_PROFILES,
        language_id_apply,
        language_id_train,
    )

    # the synthetic documents' text is language-independent (labels
    # are uncorrelated noise), so stage a DETERMINISTIC multilingual
    # corpus: rewrite each doc's text as profile-vocabulary words of
    # its labeled language, indexed by doc_id — text now genuinely
    # carries the label signal the classifier is supposed to learn
    langs = ["de", "en", "es", "fr"]
    vocab = F.map_from_arrays(
        F.array(*[F.lit(la) for la in langs]),
        F.array(
            *[
                F.array(*[F.lit(w) for w in _LANG_PROFILES[la][0]])
                for la in langs
            ]
        ),
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(langs))
        .withColumn("_w", F.element_at(vocab, F.col("lang")))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(12)),
                    lambda i: F.element_at(
                        F.col("_w"),
                        ((F.col("doc_id") + i * 7) % 10 + 1).cast("int"),
                    ),
                ),
                " ",
            ),
        )
        .select("doc_id", "text", "lang")
    )
    models = language_id_train(
        docs.filter(F.col("doc_id") % 2 == 0),
        n_buckets=512,
        iters=4,
        lr=8.0,
    )
    pred = language_id_apply(
        docs.filter(F.col("doc_id") % 2 == 1), models, n_buckets=512
    )
    return pred.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))


def _synth_url_expr():
    """Deterministic URL synthesis from doc_id (mirrored in the
    q227/q228/q229 oracles' `u` CTE): covers mixed-case scheme/host,
    default and explicit ports, two-level public suffixes, tracking
    params, trailing slashes, and fragments."""
    d = F.col("doc_id")
    s = lambda m: (d % m).cast("string")  # noqa: E731
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = (
        F.when(d % 5 == 0, F.concat(F.lit("WWW.Site"), s(7), F.lit(".COM")))
        .when(d % 5 == 1, F.concat(F.lit("news.site"), s(7), F.lit(".co.uk")))
        .when(d % 5 == 2, F.concat(F.lit("Sub.mirror"), s(7), F.lit(".com.au")))
        .when(d % 5 == 3, F.concat(F.lit("blog.example"), s(7), F.lit(".org")))
        .otherwise(F.concat(F.lit("cdn.Spam"), s(3), F.lit(".net")))
    )
    port = (
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/p/"), s(11), F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit(""))
    )
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&b="), s(5), F.lit("&a=1")))
        .when(d % 3 == 1, F.lit("?gclid=xyz"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 2 == 1, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


_SYNTH_URL_SQL = r"""
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
             || '://'
             || (CASE doc_id % 5
                 WHEN 0 THEN 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                 WHEN 1 THEN 'news.site' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
                 WHEN 2 THEN 'Sub.mirror' || CAST(doc_id % 7 AS VARCHAR) || '.com.au'
                 WHEN 3 THEN 'blog.example' || CAST(doc_id % 7 AS VARCHAR) || '.org'
                 ELSE 'cdn.Spam' || CAST(doc_id % 3 AS VARCHAR) || '.net' END)
             || (CASE WHEN doc_id % 4 = 0 THEN ':80'
                      WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
             || '/p/' || CAST(doc_id % 11 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0
                      THEN '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1'
                      WHEN doc_id % 3 = 1 THEN '?gclid=xyz' ELSE '' END)
             || (CASE WHEN doc_id % 2 = 1 THEN '#sec' ELSE '' END) AS url
      FROM documents
"""

_URL_PARSE_SQL = r"""
    p AS (
      SELECT doc_id, url,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1))
               AS scheme,
             regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)
               AS hostport,
             regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3)
               AS path,
             regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4)
               AS query
      FROM u),
    h AS (
      SELECT doc_id, url, scheme, path, query,
             lower(split_part(hostport, ':', 1)) AS host,
             CASE WHEN contains(hostport, ':')
                  THEN split_part(hostport, ':', 2) ELSE '' END AS port
      FROM p)
"""


@_register(
    "q227_url_normalize",
    r"""
    WITH u AS (
""" + _SYNTH_URL_SQL + r"""
    ),
""" + _URL_PARSE_SQL + r"""
    SELECT doc_id, url,
           CASE WHEN scheme = '' THEN NULL ELSE
             scheme || '://' ||
             (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443')
                   THEN host ELSE host || ':' || port END) ||
             (CASE WHEN path = '/' OR path = '' THEN ''
                   ELSE regexp_replace(path, '/$', '') END) ||
             (CASE WHEN q = '' THEN '' ELSE '?' || q END)
           END AS norm,
           scheme, host, port
    FROM (
      SELECT *,
             coalesce(array_to_string(list_sort(list_filter(
               string_split(query, '&'),
               kv -> kv <> ''
                     AND NOT starts_with(lower(split_part(kv, '=', 1)), 'utm_')
                     AND lower(split_part(kv, '=', 1))
                         NOT IN ('fbclid', 'gclid', 'ref'))), '&'), '') AS q
      FROM h)
    """,
)
def q227(spark, sf_dir):
    """URL canonicalization (llm.urls.normalize_url/url_parts): the
    crawl-pipeline dedup-key normalization — case, default ports,
    fragments, tracking params, param order, trailing slashes — over
    deterministic synthesized URLs covering every rule.  Pure in-row
    expressions; FULL string-exact oracle."""
    from hadron_spark.llm.urls import normalize_url, url_parts

    u = load(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_expr().alias("url")
    )
    p = url_parts("url")
    return u.select(
        "doc_id",
        "url",
        normalize_url("url").alias("norm"),
        p["scheme"].alias("scheme"),
        p["host"].alias("host"),
        p["port"].alias("port"),
    )


@_register(
    "q228_domain_quota",
    r"""
    WITH u AS (
""" + _SYNTH_URL_SQL + r"""
    ),
""" + _URL_PARSE_SQL + r"""
    , rd AS (
      SELECT doc_id, host,
             array_to_string(
               labels[greatest(n - take + 1, 1):n], '.') AS reg_dom
      FROM (
        SELECT doc_id, host, labels, n,
               CASE WHEN n >= 3 AND last2 IN
                 ('ac.uk','co.uk','gov.uk','org.uk','com.au','net.au',
                  'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
                  'com.mx','com.tw','com.sg','co.in','co.kr','co.za',
                  'com.ar')
               THEN 3 ELSE least(n, 2) END AS take
        FROM (
          SELECT doc_id, host, string_split(host, '.') AS labels,
                 len(string_split(host, '.')) AS n,
                 array_to_string(
                   string_split(host, '.')[greatest(len(string_split(host, '.')) - 1, 1):len(string_split(host, '.'))],
                   '.') AS last2
          FROM h))),
    ranked AS (
      SELECT doc_id, host, reg_dom,
             row_number() OVER (PARTITION BY reg_dom
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM rd)
    SELECT doc_id, host, reg_dom FROM ranked WHERE rk <= 3
    """,
)
def q228(spark, sf_dir):
    """Per-domain quota (llm.urls.registered_domain +
    domain_quota_sample): registrable-domain extraction
    (public-suffix-lite) then at most 3 docs per domain by
    deterministic md5 priority — the C4/RefinedWeb anti-SEO-farm
    cap.  One domain-keyed exchange; FULL oracle including every
    rank decision."""
    from hadron_spark.llm.urls import (
        domain_quota_sample,
        registered_domain,
        url_parts,
    )

    u = load(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_expr().alias("url")
    )
    hosts = u.select(
        "doc_id",
        url_parts("url")["host"].alias("host"),
    ).withColumn("reg_dom", registered_domain("host"))
    return domain_quota_sample(hosts, "reg_dom", 3)


@_register(
    "q229_domain_blocklist",
    r"""
    WITH u AS (
""" + _SYNTH_URL_SQL + r"""
    ),
""" + _URL_PARSE_SQL + r"""
    SELECT doc_id, host FROM h
    WHERE NOT (host = 'spam0.net' OR host LIKE '%.spam0.net')
      AND NOT (host = 'site1.co.uk' OR host LIKE '%.site1.co.uk')
    """,
)
def q229(spark, sf_dir):
    """Domain blocklist filtering (llm.urls.blocklist_filter, list
    shape): drop blocked domains and all their subdomains with one
    in-row exists() — zero shuffle.  FULL oracle."""
    from hadron_spark.llm.urls import blocklist_filter, url_parts

    u = load(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_expr().alias("url")
    )
    hosts = u.select("doc_id", url_parts("url")["host"].alias("host"))
    return blocklist_filter(hosts, "host", ["spam0.net", "site1.co.uk"])


@_register(
    "q230_web_curation_capstone",
    r"""
    WITH u AS (
""" + _SYNTH_URL_SQL + r"""
    ),
""" + _URL_PARSE_SQL + r"""
    , rd AS (
      SELECT doc_id,
             array_to_string(
               labels[greatest(n - take + 1, 1):n], '.') AS reg_dom
      FROM (
        SELECT doc_id, labels, n,
               CASE WHEN n >= 3 AND last2 IN
                 ('ac.uk','co.uk','gov.uk','org.uk','com.au','net.au',
                  'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
                  'com.mx','com.tw','com.sg','co.in','co.kr','co.za',
                  'com.ar')
               THEN 3 ELSE least(n, 2) END AS take
        FROM (
          SELECT doc_id, string_split(host, '.') AS labels,
                 len(string_split(host, '.')) AS n,
                 array_to_string(
                   string_split(host, '.')[greatest(len(string_split(host, '.')) - 1, 1):len(string_split(host, '.'))],
                   '.') AS last2
          FROM h))),
    quota AS (
      SELECT doc_id, reg_dom FROM (
        SELECT doc_id, reg_dom,
               row_number() OVER (PARTITION BY reg_dom
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM rd) WHERE rk <= 2),
    kept AS (
      SELECT d.doc_id, lower(d.text) AS t,
             list_filter(string_split_regex(lower(d.text), '\s+'),
                         x -> x <> '') AS l
      FROM documents d JOIN quota q ON d.doc_id = q.doc_id),
    lid AS (
      SELECT kept.doc_id, p.lang,
             4 * len(list_filter(l, x -> list_contains(p.words, x)))
             + list_sum(list_transform(p.grams, g ->
                 (length(t) - length(replace(t, g, ''))) // length(g)))
               AS num
      FROM kept, (VALUES
        """ + _LID_PROFILE_VALUES_SQL + r""") p(lang, words, grams)),
    best AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY num DESC, lang DESC) AS rk
      FROM lid),
    ref AS (SELECT l FROM kept WHERE doc_id % 2 = 0),
    runi AS (SELECT unnest(l) AS g FROM ref),
    uc AS (SELECT g, COUNT(*) AS c FROM runi GROUP BY g),
    tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT g) AS v FROM runi),
    rpos AS (SELECT l, unnest(range(2, len(l) + 1)) AS p FROM ref),
    bc AS (SELECT l[p-1] || ' ' || l[p] AS g, COUNT(*) AS c
           FROM rpos GROUP BY 1),
    pos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS p FROM kept),
    scored AS (
      SELECT pos.doc_id,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN 2 ELSE 1 END AS ord_used,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN b.c ELSE COALESCE(uni.c, 0) + 1 END AS num,
        CASE WHEN p >= 2 AND b.c IS NOT NULL AND cx.c IS NOT NULL
             THEN cx.c
             ELSE (SELECT t FROM tot) + (SELECT v FROM tot) + 1 END AS den
      FROM pos
      LEFT JOIN bc b ON p >= 2 AND b.g = l[p-1] || ' ' || l[p]
      LEFT JOIN uc cx ON p >= 2 AND cx.g = l[p-1]
      LEFT JOIN uc uni ON uni.g = l[p]),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(ord_used) AS s_ord,
             SUM(num) AS s_num, SUM(den) AS s_den
      FROM scored GROUP BY doc_id)
    SELECT b.lang AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(p.s_ord) AS BIGINT) AS sum_order,
           CAST(SUM(p.s_num) AS BIGINT) AS sum_num,
           CAST(SUM(p.s_den) AS BIGINT) AS sum_den
    FROM perdoc p JOIN best b ON p.doc_id = b.doc_id AND b.rk = 1
    GROUP BY b.lang
    """,
)
def q230(spark, sf_dir):
    """WEB-CURATION CAPSTONE — the round-4 tier composed as one
    plan with ONE replayed oracle: synthesized crawl URLs →
    registrable-domain quota (2 docs/domain, deterministic md5
    priority) → 12-language profile language ID (integer argmax,
    on LOWERED text so the LID and LM stages share one token
    stream) → bigram stupid-backoff LM trained on the even-id half
    of the SURVIVORS → per-language aggregate of the integer
    backoff decisions.  Every stage is exact string/integer work,
    so the entire four-stage pipeline hash-matches DuckDB — the
    q100/q214 capstone discipline extended to the web tier."""
    from hadron_spark.llm.perplexity import backoff_summary, ngram_lm_train
    from hadron_spark.llm.textstats import language_id
    from hadron_spark.llm.urls import (
        domain_quota_sample,
        registered_domain,
        url_parts,
    )

    docs = load(spark, sf_dir, "documents")
    hosts = docs.select("doc_id", _synth_url_expr().alias("url")).select(
        "doc_id", url_parts("url")["host"].alias("host")
    )
    quota = domain_quota_sample(
        hosts.withColumn("reg_dom", registered_domain("host")), "reg_dom", 2
    )
    kept = docs.join(quota.select("doc_id"), "doc_id").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    lid = language_id(kept).select("doc_id", "lang_pred")
    lm = ngram_lm_train(kept.filter(F.col("doc_id") % 2 == 0), order=2)
    per_doc = backoff_summary(kept, lm)
    return (
        per_doc.join(lid, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("sum_order").alias("sum_order"),
            F.sum("sum_num").alias("sum_num"),
            F.sum("sum_den").alias("sum_den"),
        )
    )


@_register("q231_streaming_perplexity_gate", None)
def q231(spark, sf_dir):
    """Streaming CCNet perplexity gate (streaming.ops
    .streaming_perplexity_gate): an OFFLINE-trained LM artifact
    (perplexity.save_lm) gates a document stream — each micro-batch
    is scored stream-static against the pinned count table (the
    2N-1 broadcast joins) and only docs above a FIXED offline
    log-prob threshold land in their idempotent batch=<id> dir
    (stateless gate: per-batch overwrite IS the exactly-once story).
    Driven with availableNow; threshold = the even-half corpus's
    25th-percentile score, so a stable fraction passes.  Rows-only
    (side-effecting sink + ln); batch-boundary independence and
    replay idempotence pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.llm.perplexity import (
        ngram_lm_train,
        perplexity_scores,
        save_lm,
    )
    from hadron_spark.streaming.ops import streaming_perplexity_gate

    work = tempfile.mkdtemp(prefix="q231_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    lm = ngram_lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), order=3, n_buckets=1 << 18
    )
    lm_path = f"{work}/lm"
    save_lm(lm, lm_path)
    thr_row = (
        perplexity_scores(docs.filter(F.col("doc_id") % 2 == 0), lm)
        .agg(
            F.expr(
                "percentile_disc(0.25) WITHIN GROUP "
                "(ORDER BY logprob_per_token)"
            ).alias("thr")
        )
        .first()
    )
    src = f"{work}/src"
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_perplexity_gate(
        stream,
        lm_path,
        f"{work}/out",
        float(thr_row["thr"]),
        checkpoint=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    result = (
        spark.read.option("basePath", f"{work}/out")
        .parquet(f"{work}/out/batch=*")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.min("logprob_per_token").alias("worst_admitted_logprob"),
        )
    )
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q232_card_redaction",
    r"""
    WITH seeded AS (
      SELECT doc_id, text,
             '4' || lpad(CAST((doc_id * 7919 + 13) % 100000000000000 AS VARCHAR),
                         14, '0') AS base
      FROM documents
    ), chk AS (
      SELECT doc_id, text, base,
             (10 - CAST(list_sum(list_transform(
                 string_split(reverse(base || '0'), ''), (ch, j) ->
                 CASE WHEN j % 2 = 1 THEN CAST(ch AS INT)
                      ELSE CASE WHEN 2 * CAST(ch AS INT) > 9
                           THEN 2 * CAST(ch AS INT) - 9
                           ELSE 2 * CAST(ch AS INT) END END)) AS BIGINT)
              % 10) % 10 AS c
      FROM seeded
    ), doc AS (
      SELECT doc_id,
             text || ' pay '
             || substr(base || CAST(c AS VARCHAR), 1, 4) || ' '
             || substr(base || CAST(c AS VARCHAR), 5, 4) || ' '
             || substr(base || CAST(c AS VARCHAR), 9, 4) || ' '
             || substr(base || CAST(c AS VARCHAR), 13, 4)
             || ' ref ' || base || CAST((c + 1) % 10 AS VARCHAR)
             || ' done' AS text
      FROM chk
    ), split_hits AS (
      SELECT doc_id, text,
             regexp_split_to_array(text, '\d(?:[ -]?\d){12,18}') AS parts,
             regexp_extract_all(text, '\d(?:[ -]?\d){12,18}') AS hits
      FROM doc
    )
    SELECT doc_id,
           parts[1] || coalesce(list_aggregate(list_transform(hits, (h, i) ->
             (CASE WHEN CAST(list_sum(list_transform(
                      string_split(reverse(regexp_replace(h, '[ -]', '', 'g')), ''),
                      (ch, j) ->
                      CASE WHEN j % 2 = 1 THEN CAST(ch AS INT)
                           ELSE CASE WHEN 2 * CAST(ch AS INT) > 9
                                THEN 2 * CAST(ch AS INT) - 9
                                ELSE 2 * CAST(ch AS INT) END END)) AS BIGINT)
                   % 10 = 0
              THEN '<CARD>' ELSE h END) || parts[i + 1]),
             'string_agg', ''), '') AS redacted,
           CAST(len(list_filter(hits, h ->
             CAST(list_sum(list_transform(
                 string_split(reverse(regexp_replace(h, '[ -]', '', 'g')), ''),
                 (ch, j) ->
                 CASE WHEN j % 2 = 1 THEN CAST(ch AS INT)
                      ELSE CASE WHEN 2 * CAST(ch AS INT) > 9
                           THEN 2 * CAST(ch AS INT) - 9
                           ELSE 2 * CAST(ch AS INT) END END)) AS BIGINT)
             % 10 = 0)) AS INT) AS n_cards,
           CAST(len(hits) AS INT) AS n_candidates
    FROM split_hits
    """,
)
def q232(spark, sf_dir):
    """Luhn-gated payment-card redaction (functions.text.redact_cards
    / card_count / luhn_checksum): each document is seeded with a
    deterministic VALID 16-digit card (check digit computed by the
    same Luhn machinery, formatted 4-4-4-4) and a Luhn-INVALID decoy
    (check digit + 1).  The operator must redact exactly the valid
    one — a plain regex cannot make that distinction; the mod-10
    checksum gate can, entirely in codegen'd array expressions (no
    Python, no shuffle).  The DuckDB oracle replays the identical
    split-and-rebuild with 1-indexed list lambdas, so redacted text
    AND per-doc counts hash-match byte-for-byte.  Ref parity: the
    reference's per-record scrub Mapper shape (Hadron.Basic mapper
    over lines); the checksum gate is beyond-reference hygiene for
    corpus release."""
    from hadron_spark.functions.text import (
        card_candidates,
        card_count,
        luhn_checksum,
        redact_cards,
    )

    docs = load(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("4"),
        F.lpad(
            ((F.col("doc_id") * 7919 + 13) % F.lit(10**14)).cast("string"),
            14,
            "0",
        ),
    )
    chk = (10 - luhn_checksum(F.concat(base, F.lit("0"))) % 10) % 10
    # projection boundary: the checksum-bearing exprs are referenced
    # multiple times below — materialize once
    staged = docs.select(
        "doc_id",
        "text",
        F.concat(base, chk.cast("string")).alias("_v"),
        F.concat(base, ((chk + 1) % 10).cast("string")).alias("_d"),
    )
    seeded = staged.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" pay "),
            F.substring("_v", 1, 4),
            F.lit(" "),
            F.substring("_v", 5, 4),
            F.lit(" "),
            F.substring("_v", 9, 4),
            F.lit(" "),
            F.substring("_v", 13, 4),
            F.lit(" ref "),
            F.col("_d"),
            F.lit(" done"),
        ).alias("text"),
    )
    return seeded.select(
        "doc_id",
        redact_cards("text").alias("redacted"),
        card_count("text").alias("n_cards"),
        F.size(card_candidates("text")).cast("int").alias("n_candidates"),
    )


@_register(
    "q233_token_budget",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_filter(
                  string_split_regex(lower(text), '\s+'),
                  x -> x <> ''))) AS BIGINT) AS score
      FROM documents
    ), c AS (
      SELECT doc_id, score, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 15000
    """,
)
def q233(spark, sf_dir):
    """Token-budget corpus selection (llm.mixing.select_token_budget):
    keep the most lexically diverse documents (distinct-token score)
    whose cumulative token count stays within an exact 15k-token
    budget — the fixed-training-budget assembly cut.  The running
    total is operators.ops.range_cumsum's banded two-pass prefix sum
    (NO single-partition window; the oracle's SUM..OVER(ORDER BY) is
    the single-node spelling of the same integer arithmetic, exact
    by associativity of long addition)."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.mixing import select_token_budget

    docs = load(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.size(tokenize("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokenize(F.lower(F.col("text")))))
        .cast("long")
        .alias("score"),
    )
    return select_token_budget(staged, 15000, "score", "n_tokens")


@_register(
    "q234_global_line_dedup",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             'ACCEPT ALL COOKIES TO CONTINUE' || chr(10) || text || chr(10)
             || 'OK GO' || chr(10)
             || 'Copyright Example Corp All Rights Reserved' AS text
      FROM documents
    ), l0 AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM seeded
    ), lines AS (
      SELECT doc_id, generate_subscripts(ls, 1) - 1 AS pos,
             unnest(ls) AS line
      FROM l0
    ), tagged AS (
      SELECT doc_id, pos, line,
             len(list_filter(string_split(line, ' '), x -> x <> '')) >= 3
               AS elig
      FROM lines
    ), keepers AS (
      SELECT line, min(doc_id * 1000000 + pos) AS k
      FROM tagged WHERE elig GROUP BY line
    ), kept AS (
      SELECT t.doc_id, t.pos, t.line
      FROM tagged t LEFT JOIN keepers k
        ON t.line = k.line AND t.doc_id * 1000000 + t.pos = k.k
      WHERE NOT t.elig OR k.line IS NOT NULL
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text,
             COUNT(*) AS n_after
      FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           coalesce(r.text, '') AS text,
           CAST(len(string_split(s.text, chr(10))) AS INT) AS n_lines_before,
           CAST(coalesce(r.n_after, 0) AS INT) AS n_lines_after
    FROM seeded s LEFT JOIN rebuilt r ON s.doc_id = r.doc_id
    """,
)
def q234(spark, sf_dir):
    """Corpus-wide line dedup (llm.dedup.global_line_dedup): cookie
    banner + copyright footer seeded into EVERY document survive only
    in the smallest (doc_id, position) occurrence; the 2-word 'OK GO'
    line stays everywhere (below min_words).  Keeper election is a
    partial-aggregatable groupBy-min (skew-safe for 10^9-occurrence
    boilerplate, unlike a partitionBy(line) window); the oracle
    replays keeper/rebuild with the linearized (doc_id*10^6+pos) key
    — identical to struct-min while positions < 10^6 — and the full
    cleaned text hash-matches."""
    from hadron_spark.llm.dedup import global_line_dedup

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("ACCEPT ALL COOKIES TO CONTINUE\n"),
            F.col("text"),
            F.lit("\nOK GO\nCopyright Example Corp All Rights Reserved"),
        ).alias("text"),
    )
    return global_line_dedup(seeded)


@_register(
    "q235_decontaminate_spans",
    """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 <> 3 AND doc_id % 11 = 0
                  THEN text || ' alpha bravo charlie delta echo foxtrot golf hotel india juliet'
                  ELSE text END AS text
      FROM documents
    ), bt0 AS (
      SELECT doc_id,
             text || ' alpha bravo charlie delta echo foxtrot golf hotel india juliet' AS text
      FROM seeded WHERE doc_id % 7 = 3
    ), ct AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM bt0
    ), store AS (
      SELECT DISTINCT md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM ct, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), bt AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM seeded WHERE doc_id % 7 <> 3
    ), bp AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM bt, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), rep AS (
      SELECT bp.doc_id, bp.pos FROM bp JOIN store USING (fp)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(lag(pos) OVER w, -8) + 7
                  THEN 1 ELSE 0 END AS ni
      FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM fl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS a, MAX(pos) + 8 AS b
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
      FROM spans GROUP BY doc_id
    ), cleaned AS (
      SELECT bt.doc_id,
             list_filter(bt.toks,
               (x, i) -> len(list_filter(coalesce(pd.sp, []),
                             s -> i - 1 >= s.a AND i - 1 < s.b)) = 0) AS kept,
             bt.toks AS toks
      FROM bt LEFT JOIN per_doc pd USING (doc_id)
    )
    SELECT c.doc_id,
           s.text,
           coalesce(array_to_string(c.kept, ' '), '') AS clean_text,
           CAST(len(c.toks) AS INT) AS n_tokens_before,
           CAST(len(c.kept) AS INT) AS n_tokens_after,
           len(c.kept) <> len(c.toks) AS contaminated
    FROM cleaned c JOIN seeded s USING (doc_id)
    """,
)
def q235(spark, sf_dir):
    """Span-level benchmark decontamination (llm.dedup
    .decontaminate_spans): docs with doc_id % 7 = 3 play the eval
    suite; a 10-token benchmark sentence is seeded into every
    benchmark doc AND into corpus docs with doc_id % 11 = 0, whose
    cleaned text must lose exactly that span (plus any natural
    8-gram overlap) while the rest of the document survives — the
    span-surgical alternative to whole-doc decontamination drops.
    The oracle replays store-build + membership + island merge +
    token filter + audit counts; cleaned strings and counts
    hash-match."""
    from hadron_spark.llm.dedup import decontaminate_spans

    docs = load(spark, sf_dir, "documents")
    seed = " alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    is_bench = F.col("doc_id") % 7 == 3
    seeded = docs.select(
        "doc_id",
        F.when(
            ~is_bench & (F.col("doc_id") % 11 == 0),
            F.concat(F.col("text"), F.lit(seed)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = seeded.filter(~is_bench)
    benchmark = seeded.filter(is_bench).select(
        "doc_id", F.concat(F.col("text"), F.lit(seed)).alias("text")
    )
    return decontaminate_spans(corpus, benchmark, window=8)


@_register(
    "q236_contamination_scores",
    """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 <> 3 AND doc_id % 11 = 0
                  THEN text || ' alpha bravo charlie delta echo foxtrot golf hotel india juliet'
                  ELSE text END AS text
      FROM documents
    ), bt0 AS (
      SELECT doc_id,
             text || ' alpha bravo charlie delta echo foxtrot golf hotel india juliet' AS text
      FROM seeded WHERE doc_id % 7 = 3
    ), ctb AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM bt0
    ), store AS (
      SELECT DISTINCT md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM ctb, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), corp AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM seeded WHERE doc_id % 7 <> 3
    ), bp AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS fp
      FROM corp, unnest(generate_series(0, len(toks) - 8)) AS u(i)
      WHERE len(toks) >= 8
    ), agg AS (
      SELECT bp.doc_id,
             COUNT(*) AS n_windows,
             COUNT(s.fp) AS n_hit
      FROM bp LEFT JOIN store s USING (fp)
      GROUP BY bp.doc_id
    )
    SELECT c.doc_id,
           CAST(coalesce(a.n_windows, 0) AS INT) AS n_windows,
           CAST(coalesce(a.n_hit, 0) AS INT) AS n_hit,
           CASE WHEN coalesce(a.n_windows, 0) > 0
                THEN CAST(a.n_hit AS DOUBLE) / CAST(a.n_windows AS DOUBLE)
                ELSE 0.0 END AS overlap_frac
    FROM corp c LEFT JOIN agg a USING (doc_id)
    """,
)
def q236(spark, sf_dir):
    """Per-document contamination audit (llm.dedup
    .contamination_scores): the GPT-3 appendix-C / PaLM dirty-doc
    metric — for every training document, the fraction of its
    distinct 8-token window fingerprints that occur anywhere in the
    benchmark suite (docs with doc_id % 7 = 3, which all carry a
    seeded 10-token benchmark sentence; corpus docs with
    doc_id % 11 = 0 carry the same sentence and must score > 0).
    Complements q235's surgical span cut with the release-report
    audit: store membership is a broadcast join, per-doc counts a
    partial-agg'd groupBy, the distinct-fp set built IN-ROW.  The
    single double division is IEEE-exact → FULL oracle."""
    from hadron_spark.llm.dedup import contamination_scores

    docs = load(spark, sf_dir, "documents")
    seed = " alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    is_bench = F.col("doc_id") % 7 == 3
    seeded = docs.select(
        "doc_id",
        F.when(
            ~is_bench & (F.col("doc_id") % 11 == 0),
            F.concat(F.col("text"), F.lit(seed)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = seeded.filter(~is_bench)
    benchmark = seeded.filter(is_bench).select(
        "doc_id", F.concat(F.col("text"), F.lit(seed)).alias("text")
    )
    return contamination_scores(corpus, benchmark, window=8)


@_register(
    "q237_chat_examples",
    """
    WITH t AS (
      SELECT user_id AS conv_id, event_id AS turn_idx,
             CASE WHEN event_type IN ('click', 'view', 'signup')
                  THEN 'user' ELSE 'assistant' END AS role,
             event_type || ' ' || props AS content
      FROM events
    ), w AS (
      SELECT conv_id, turn_idx, role, content,
             CAST(coalesce(SUM(6 + len(role) + len(content)) OVER (
                    PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS INT) AS prefix,
             CAST(COUNT(*) OVER (PARTITION BY conv_id) AS INT) AS n_turns
      FROM t
    ), conv AS (
      SELECT conv_id,
             string_agg('<|' || role || '|>' || chr(10) || content || chr(10),
                        '' ORDER BY turn_idx) AS text
      FROM t GROUP BY conv_id
    )
    SELECT w.conv_id, w.n_turns, w.turn_idx AS turn, w.role,
           CAST(w.prefix + 5 + len(w.role) AS INT) AS span_start,
           CAST(w.prefix + 5 + len(w.role) + len(w.content) AS INT)
             AS span_end,
           w.role = 'assistant' AS loss,
           substring(conv.text, w.prefix + 5 + len(w.role) + 1,
                     len(w.content)) AS extracted,
           w.content
    FROM w JOIN conv USING (conv_id)
    """,
)
def q237(spark, sf_dir):
    """SFT chat-example assembly (llm.packing.chat_examples): the
    event log plays a turn table (conv = user, turns ordered by
    event_id, click/view/signup speak as 'user', error/purchase as
    'assistant'); each conversation renders to ONE ChatML-shaped
    string and per-turn character spans carrying the loss mask (loss
    only on assistant turns).  The query explodes the span array and
    re-extracts substring(text, span_start+1, len) — the oracle
    computes spans independently via window prefix sums, so both the
    offsets AND the extraction proving them index the right characters
    must hash-match.  Engine plan: one partial-agg'd groupBy, offsets
    a single in-row integer pass — no window, no second shuffle."""
    from hadron_spark.llm.packing import chat_examples

    ev = load(spark, sf_dir, "events")
    turns = ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.when(
            F.col("event_type").isin("click", "view", "signup"), F.lit("user")
        )
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.concat_ws(" ", "event_type", "props").alias("content"),
    )
    out = chat_examples(turns)
    ex = out.select(
        "conv_id", "n_turns", "text", F.explode("spans").alias("s")
    )
    return ex.select(
        "conv_id",
        "n_turns",
        F.col("s.turn").alias("turn"),
        F.col("s.role").alias("role"),
        F.col("s.span_start").alias("span_start"),
        F.col("s.span_end").alias("span_end"),
        F.col("s.loss").alias("loss"),
        F.expr(
            "substring(text, s.span_start + 1, s.span_end - s.span_start)"
        ).alias("extracted"),
        # the oracle's `content` column is the TRUE turn content; here
        # it is the engine's own extraction — the hash matches only if
        # the spans index exactly the right characters
        F.expr(
            "substring(text, s.span_start + 1, s.span_end - s.span_start)"
        ).alias("content"),
    )


from hadron_spark.functions.text import (  # noqa: E402
    MOJIBAKE_FIXES as _MOJI,
    _cp1252_misdecode as _mis,
)


def _sqllit(s: str) -> str:
    """chr()-composed DuckDB string literal — keeps this file ASCII
    even for seeds carrying C1 controls and non-ASCII punctuation."""
    if not s:
        return "''"
    return "(" + " || ".join(f"chr({ord(c)})" for c in s) + ")"


def _fix_text_sql(expr: str) -> str:
    """DuckDB replay of functions.text.fix_text — SAME pair order,
    same regex steps (all RE2-safe; \\z not $, see fix_text)."""
    for bad, good in _MOJI:
        expr = f"replace({expr}, {_sqllit(bad)}, {_sqllit(good)})"
    expr = f"replace({expr}, chr(13) || chr(10), chr(10))"
    expr = f"replace({expr}, chr(13), chr(10))"
    expr = (
        f"regexp_replace({expr}, "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g')"
    )
    expr = f"regexp_replace({expr}, '[ \\t]+\\n', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '[ \\t]+\\z', '', 'g')"
    expr = f"regexp_replace({expr}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return expr


# every mojibake class + CRLF + a C0 control + nbsp forms + trailing
# whitespace + a 3-newline run, wrapped around each document's text
_Q238_PRE = (
    _mis("“") + "Caf" + _mis("é") + _mis("”") + " "
    + _mis("—") + " It" + _mis("’") + "s" + _mis("…")
    + _mis(" ") + "x" + " " + "y  \r\n\x07\r\n\r\n\r\n\t"
)
_Q238_SUF = "  \r\n" + _mis("ñ") + "end  "


@_register(
    "q238_fix_text",
    f"""
    WITH seeded AS (
      SELECT doc_id, {_sqllit(_Q238_PRE)} || text || {_sqllit(_Q238_SUF)} AS t
      FROM documents
    ), fx AS (
      SELECT doc_id, t, {_fix_text_sql('t')} AS fixed FROM seeded
    )
    SELECT doc_id, fixed,
           CAST(len(t) AS INT) AS n_chars_before,
           CAST(len(fixed) AS INT) AS n_chars_after
    FROM fx
    """,
)
def q238(spark, sf_dir):
    """Crawl-text repair (functions.text.fix_text, ftfy-lite): every
    document is wrapped in a corruption gauntlet — cp1252-mojibake
    quotes/dash/ellipsis/accents (derived via the cp1252 round-trip,
    including the INVISIBLE U+009D inside the rdquo sequence), nbsp
    in both its mojibake and bare forms, CRLF endings, a C0 control,
    trailing whitespace and a 3-newline run — and the repaired string
    plus before/after char counts must hash-match the DuckDB replay
    byte-for-byte (literal replace chain in the SAME order + RE2-safe
    regex steps; end-of-input is \\z because Java's $ matches before a
    final newline and RE2's does not)."""
    from hadron_spark.functions.text import fix_text

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit(_Q238_PRE), F.col("text"), F.lit(_Q238_SUF)
        ).alias("t"),
    )
    staged = seeded.select(
        "doc_id", "t", fix_text("t").alias("fixed")
    )
    return staged.select(
        "doc_id",
        "fixed",
        F.length("t").cast("int").alias("n_chars_before"),
        F.length("fixed").cast("int").alias("n_chars_after"),
    )


@_register(
    "q239_cms_heavy_hitters",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), dd AS (
      SELECT unnest(generate_series(0, 3)) AS d
    ), pairs AS (
      SELECT d.d,
             (('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.tok),
                1, 8))::BIGINT % 256) AS bucket
      FROM toks t, dd d
    ), sk AS (
      SELECT d, bucket, COUNT(*) AS cnt FROM pairs GROUP BY d, bucket
    ), cand AS (
      SELECT DISTINCT tok AS item FROM toks
    ), eb AS (
      SELECT c.item, d.d,
             (('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || c.item),
                1, 8))::BIGINT % 256) AS bucket
      FROM cand c, dd d
    ), est AS (
      SELECT eb.item, MIN(coalesce(sk.cnt, 0)) AS cms_est
      FROM eb LEFT JOIN sk USING (d, bucket)
      GROUP BY eb.item
    )
    SELECT item, CAST(cms_est AS BIGINT) AS cms_est
    FROM est WHERE cms_est >= 200
    """,
)
def q239(spark, sf_dir):
    """Count-min-sketch heavy hitters (operators.ops.cms_build /
    cms_estimate / cms_heavy_hitters, Cormode & Muthukrishnan 2005):
    corpus tokens sketched into a 4x256 mergeable table (deliberately
    narrow so bucket collisions inflate estimates — the inflation is
    deterministic md5 arithmetic and the oracle replays it exactly),
    then every distinct token point-queried and cut at est >= 200.
    CMS never underestimates, so no true >=200 token can be missed.
    Plan: the sketch shuffle carries at most depth*width keys at ANY
    corpus size (map-side combine), and the estimate join broadcasts
    the <=1024-row sketch.  FULL oracle."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.operators.ops import cms_heavy_hitters

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
    )
    return cms_heavy_hitters(toks, "tok", min_count=200, depth=4, width=256)


@_register(
    "q240_streaming_cms",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), dd AS (
      SELECT unnest(generate_series(0, 3)) AS d
    ), pairs AS (
      SELECT d.d,
             (('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.tok),
                1, 8))::BIGINT % 256) AS bucket
      FROM toks t, dd d
    )
    SELECT CAST(d AS INT) AS d, bucket, COUNT(*) AS cnt
    FROM pairs GROUP BY d, bucket
    """,
)
def q240(spark, sf_dir):
    """Streaming count-min maintenance (streaming.ops
    .incremental_cms): the corpus token stream is deliberately
    chopped into 4 micro-batches (maxFilesPerTrigger=1), each batch
    sketched and merged into the parquet state table under the
    exactly-once trio — and the FINAL STATE must hash-match the
    DuckDB replay of sketching ALL tokens in one pass: CMS linearity
    makes the result independent of batch boundaries, which is
    exactly what this FULL oracle proves (the prior streaming sinks
    are rows-only; the sketch's additivity earns the stronger
    check)."""
    import shutil
    import tempfile

    from hadron_spark.functions.text import tokenize
    from hadron_spark.streaming.ops import incremental_cms, read_cms_state

    work = tempfile.mkdtemp(prefix="q240_")
    src = f"{work}/src"
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize(F.lower(F.col("text")))).alias("tok")
    )
    toks.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_cms(
        stream,
        f"{work}/state",
        key="tok",
        depth=4,
        width=256,
        checkpoint=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    result = read_cms_state(spark, f"{work}/state")
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q241_semantic_contamination",
    """
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding AS bvec
      FROM embeddings WHERE vec_id < 8
    ), agg AS (
      SELECT c.vec_id,
             max(struct_pack(c := list_cosine_similarity(c.embedding, b.bvec),
                             b := b.bench_id)) AS m
      FROM embeddings c, bench b
      WHERE c.vec_id >= 8
      GROUP BY c.vec_id
    )
    SELECT vec_id, m.b AS top_bench_id, m.c >= 0.4 AS contaminated
    FROM agg
    """,
)
def q241(spark, sf_dir):
    """Embedding-level benchmark contamination
    (llm.dedup.semantic_contamination): benchmark = first 8 vectors,
    corpus = the rest; exact cosine against the BROADCAST benchmark,
    per-doc struct-max argmax (tie-break: highest bench_id), verdict
    at 0.4 (fixture max-cos tops out at ~0.49 with ~1e-3 spacing
    near the cut — ulp-safe).  FULL oracle: ids and booleans only,
    no raw doubles emitted."""
    from hadron_spark.llm.dedup import semantic_contamination

    emb = load(spark, sf_dir, "embeddings")
    return semantic_contamination(
        emb.filter(F.col("vec_id") >= 8),
        emb.filter(F.col("vec_id") < 8),
        threshold=0.4,
    )


@_register(
    "q242_nfc_normalize",
    """
    WITH planted AS (
      SELECT doc_id,
             replace(replace(text, 'e', 'e' || chr(769)),
                     'o', 'o' || chr(768)) AS t
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t) AS norm_text,
           t = nfc_normalize(t) AS was_normalized
    FROM planted
    """,
)
def q242(spark, sf_dir):
    """Unicode NFC normalization (functions.unicode.unicode_normalize
    / is_normalized): every 'e'/'o' in the corpus is denormalized
    into base + combining accent (U+0301/U+0300), then normalized
    back via the Arrow-vectorized unicodedata pass.  FULL oracle —
    normalization forms are defined by UAX #15, so DuckDB's
    nfc_normalize must agree byte-for-byte with Python's
    unicodedata; this query proves the conformance on real corpus
    text, not a toy gauntlet."""
    from hadron_spark.functions.unicode import is_normalized, unicode_normalize

    docs = load(spark, sf_dir, "documents")
    t = F.replace(
        F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301")),
        F.lit("o"),
        F.lit("o\u0300"),
    )
    planted = docs.select("doc_id", t.alias("t"))
    return planted.select(
        "doc_id",
        unicode_normalize("t", "NFC").alias("norm_text"),
        is_normalized("t", "NFC").alias("was_normalized"),
    )


@_register("q243_streaming_hll", None)
def q243(spark, sf_dir):
    """Streaming distinct-cardinality maintenance (streaming.ops
    .incremental_hll): the event stream is chopped into micro-batches
    (maxFilesPerTrigger=1) and per-event_type HLL sketches are
    unioned into the parquet state; estimates read back from the
    state equal a one-shot sketch of all delivered rows (register
    max is lossless — pinned exactly in test_streaming).  Rows-only
    by design: the estimate is approximate and the DataSketches
    binary has no DuckDB replay."""
    import shutil
    import tempfile

    from hadron_spark.operators.sketch import hll_estimate
    from hadron_spark.streaming.ops import incremental_hll

    work = tempfile.mkdtemp(prefix="q243_")
    src = f"{work}/src"
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_hll(
        stream,
        f"{work}/state",
        "event_type",
        "user_id",
        lg_k=12,
        checkpoint=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    result = hll_estimate(spark.read.parquet(f"{work}/state")).select(
        "event_type", "est"
    )
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q244_preference_pairs",
    """
    WITH resp AS (
      SELECT doc_id % 97 AS prompt_id, doc_id AS response_id, text,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '')) AS score
      FROM documents
    ), agg AS (
      SELECT prompt_id,
             max(struct_pack(s := score, i := response_id, t := text)) AS hi,
             min(struct_pack(s := score, i := response_id, t := text)) AS lo,
             count(*) AS n_candidates
      FROM resp GROUP BY prompt_id
    )
    SELECT prompt_id, hi.i AS chosen_id, hi.t AS chosen,
           lo.i AS rejected_id, lo.t AS rejected, n_candidates
    FROM agg WHERE hi.i <> lo.i AND hi.s - lo.s >= 5
    """,
)
def q244(spark, sf_dir):
    """DPO preference-pair assembly (llm.packing.preference_pairs):
    documents bucketed into 97 synthetic prompts, candidate score =
    exact token count (integers — fully hash-stable), chosen/rejected
    = struct-extrema with the documented id tie-break, margin gate at
    5 tokens.  ONE partial-agg'd shuffle; FULL oracle replays the
    extrema with the same struct ordering."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.packing import preference_pairs

    docs = load(spark, sf_dir, "documents")
    resp = docs.select(
        (F.col("doc_id") % 97).alias("prompt_id"),
        F.col("doc_id").alias("response_id"),
        F.col("text").alias("response"),
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
    )
    return preference_pairs(
        resp,
        group_col="prompt_id",
        id_col="response_id",
        text_col="response",
        score_col="score",
        min_margin=5,
    )


@_register(
    "q245_triangle_count",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    m AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, count(*) AS n_triangles FROM m GROUP BY node
    """,
)
def q245(spark, sf_dir):
    """Per-node triangle counts (operators.graph.node_triangle_counts,
    degree-ordered wedge closing — Suri & Vassilvitskii WWW'11) over
    the part co-order graph: parts are linked when some order buys
    both.  The orientation bounds every node's wedge fan-out at
    O(sqrt(m)) — the 100 TB defense against celebrity parts — while
    the oracle states the same counts with the naive id-ordered
    3-way self-join (orientation changes how triangles are FOUND,
    never which exist).  Exact integers end to end."""
    from hadron_spark.operators.graph import node_triangle_counts

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        # no .distinct() here (optimization r08): the operator's
        # _canon dedups the pair stream anyway — the query-side
        # distinct was a SECOND full exchange+aggregate of the same
        # O(orders·pairs) stream for an already-distinct input
    )
    return node_triangle_counts(edges)


@_register(
    "q246_set_similarity_exact",
    """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
      FROM documents WHERE doc_id < 256
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(a.t) AS size_a, len(b.t) AS size_b,
             len(list_intersect(a.t, b.t)) AS n_common
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(a.t) > 0 AND len(b.t) > 0
    )
    SELECT id_a, id_b, size_a, size_b, n_common,
           size_a + size_b - n_common AS n_union,
           CAST(n_common AS DOUBLE)
             / CAST(size_a + size_b - n_common AS DOUBLE) AS jaccard
    FROM p
    WHERE 10 * n_common >= 9 * (size_a + size_b - n_common)
    """,
)
def q246(spark, sf_dir):
    """EXACT set-similarity self-join at Jaccard >= 9/10
    (llm.dedup.set_similarity_join — SSJoin/Bayardo prefix
    filtering): the lossless complement of the MinHash funnel.  The
    operator joins only on rarest-first PREFIX tokens (~10% of each
    set at this threshold) yet must find every qualifying pair —
    the oracle proves losslessness by brute-forcing all C(256,2)
    pairs in DuckDB.  Rational threshold keeps the acceptance test
    integer-exact; jaccard is the exact small-int ratio."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.dedup import set_similarity_join

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 256)
    toks = docs.select(
        "doc_id", tokenize(F.lower(F.col("text"))).alias("tokens")
    )
    return set_similarity_join(
        toks, threshold_num=9, threshold_den=10, hash_tokens=False
    )


@_register(
    "q247_rrf_fusion",
    """
    WITH m AS (
      SELECT doc_id,
             len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tok,
             len(list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS n_uniq
      FROM documents
    ),
    a AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) AS INT)
               AS rank_1
      FROM m QUALIFY rank_1 <= 200
    ),
    b AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY n_uniq DESC, doc_id) AS INT)
               AS rank_2
      FROM m QUALIFY rank_2 <= 200
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             COALESCE(a.rank_1, 0) AS rank_1,
             COALESCE(b.rank_2, 0) AS rank_2,
             (CASE WHEN a.rank_1 IS NULL THEN 0.0
                   ELSE 1.0 / (60.0 + CAST(a.rank_1 AS DOUBLE)) END
              + CASE WHEN b.rank_2 IS NULL THEN 0.0
                     ELSE 1.0 / (60.0 + CAST(b.rank_2 AS DOUBLE)) END) AS rrf_score
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, rank_1, rank_2, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
             AS fused_rank
    FROM j
    """,
)
def q247(spark, sf_dir):
    """Hybrid-retrieval rank fusion (llm.textstats.rrf_fuse — RRF,
    Cormack SIGIR'09): two top-200 document rankings (total tokens;
    distinct tokens — stand-ins for the BM25/dense pair, chosen
    because their scores are exact integers) fused into one ranking.
    rrf_score is a single IEEE chain (two correctly-rounded
    divisions + one add) so the doubles — and therefore the fused
    ranking — hash bit-exact against DuckDB stating the same
    chain."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.textstats import _stamp_rank, rrf_fuse

    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.lower(F.col("text")))
    m = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    a = _stamp_rank(
        m.orderBy(F.col("n_tok").desc(), "doc_id").limit(200),
        [F.col("n_tok").desc(), F.col("doc_id").asc()],
        "rank",
    ).select("doc_id", "rank")
    b = _stamp_rank(
        m.orderBy(F.col("n_uniq").desc(), "doc_id").limit(200),
        [F.col("n_uniq").desc(), F.col("doc_id").asc()],
        "rank",
    ).select("doc_id", "rank")
    return rrf_fuse([a, b], k=60)


@_register(
    "q248_mad_flagged_rows",
    """
    WITH q AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), m AS (
      SELECT event_type, quantile_cont(y, 0.5) AS med FROM q GROUP BY 1
    ), d AS (
      SELECT q.event_id, q.event_type, m.med,
             abs(CAST(q.y AS DOUBLE) - m.med) AS dev
      FROM q JOIN m USING (event_type)
    ), a AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1
    )
    SELECT d.event_type, d.event_id, d.med, a.mad
    FROM d JOIN a USING (event_type)
    WHERE d.dev * 1 > a.mad * 5
    """,
)
def q248(spark, sf_dir):
    """Robust anomaly flagging (operators.robust.mad_outliers —
    median/MAD, 50% breakdown point vs q119's corruptible
    mean/stddev; q111 emits the MAD statistic itself, this op flags
    the offending ROWS against a rational cutoff): every event scored against its type's exact median
    and median-absolute-deviation, |dev| > 5*MAD kept.  Cents
    quantize to int64 once; medians of ints are half-integers and
    MADs quarter-integers — exact doubles — so even the med/mad
    columns hash bit-exact.  Two grouped exact medians broadcast
    back; the event stream is never shuffled for the flag join."""
    from hadron_spark.operators.robust import mad_outliers

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(
        ev, "value", ["event_type"], keep_cols=["event_id"],
        cutoff_num=5, cutoff_den=1,
    )


@_register("q249_rouge_l_decontaminate", None)
def q249(spark, sf_dir):
    """Self-Instruct ROUGE-L seed decontamination
    (llm.dedup.rouge_l_decontaminate): every document scored against
    a small held-out seed slice (doc_id % 61 == 0) by word-level
    LCS F-measure, published 0.7 cut.  Seeds broadcast; corpus
    never shuffles (per-batch numpy LCS DP).  LCS has no portable
    SQL form — rows-only; the operator is pinned against a naive
    pure-python DP in tests."""
    from hadron_spark.llm.dedup import rouge_l_decontaminate

    docs = load(spark, sf_dir, "documents")
    seeds = docs.filter(F.col("doc_id") % 61 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 61 != 0).select("doc_id", "text")
    return rouge_l_decontaminate(corpus, seeds)


@_register(
    "q250_clustering_coefficient",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    m AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    t AS (SELECT node, count(*) AS n_triangles FROM m GROUP BY node),
    d AS (
      SELECT node, count(*) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN CAST(COALESCE(t.n_triangles, 0) * 2 AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                ELSE 0.0 END AS clustering_coeff
    FROM d LEFT JOIN t USING (node)
    """,
)
def q250(spark, sf_dir):
    """Local clustering coefficient per part
    (operators.graph.clustering_coefficient — Watts-Strogatz) on the
    co-order graph: 2T/(deg*(deg-1)) from exact integer triangle and
    degree counts, ONE correctly-rounded IEEE division — so even the
    coefficient doubles hash bit-exact against the naive id-ordered
    oracle."""
    from hadron_spark.operators.graph import clustering_coefficient

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        # no .distinct(): clustering_coefficient _canon-dedups (r08)
    )
    return clustering_coefficient(edges)


@_register(
    "q251_systematic_pps_sample",
    """
    WITH d AS (
      SELECT doc_id,
             len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum,
             CAST(SUM(n_tokens) OVER () AS BIGINT) AS w_total
      FROM d
    )
    SELECT doc_id, n_tokens,
           CAST(((cum + n_tokens) * 200) // w_total
                - (cum * 200) // w_total AS BIGINT) AS multiplicity
    FROM c
    WHERE ((cum + n_tokens) * 200) // w_total - (cum * 200) // w_total >= 1
    """,
)
def q251(spark, sf_dir):
    """Systematic PPS sampling (llm.mixing.systematic_pps_sample —
    Madow 1949): exactly 200 token-weighted selections from the
    corpus, stride-walked along the md5-shuffled cumulative token
    axis.  Spark computes the prefix with range_cumsum's banded
    two-pass (no single-partition window — the oracle's SUM OVER is
    the semantic statement, not the plan); all arithmetic is int64
    `div`, so the sample — including heavy-row multiplicities — is
    hash-exact."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.mixing import systematic_pps_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokenize(F.lower(F.col("text")))).alias("n_tokens")
    )
    return systematic_pps_sample(docs, 200, "n_tokens")


@_register("q252_coreness", None)
def q252(spark, sf_dir):
    """k-core decomposition (operators.graph.coreness — h-index
    iteration, Lü et al. 2016) of the part co-order graph: per-node
    core numbers by parallel rounds (edge join + per-node rank
    window + max(least(rank, c)) agg, labels checkpointed per
    round) instead of the inherently serial peeling.  Iterative
    fixpoint — no SQL form; pinned against the Batagelj-Zaversnik
    peeling reference in tests."""
    from hadron_spark.operators.graph import coreness

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return coreness(edges)


@_register(
    "q253_corpus_novelty",
    """
    WITH oldd AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
    tn AS (
      SELECT source, text,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    told AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM oldd
    ),
    gn AS (
      SELECT DISTINCT source, md5(g) AS fp FROM (
        SELECT source,
               unnest(list_transform(range(1, greatest(len(toks) - 8 + 2, 1)),
                      i -> array_to_string(toks[i:i+7], ' '))) AS g
        FROM tn)
    ),
    go AS (
      SELECT DISTINCT md5(g) AS fp FROM (
        SELECT unnest(list_transform(range(1, greatest(len(toks) - 8 + 2, 1)),
                      i -> array_to_string(toks[i:i+7], ' '))) AS g
        FROM told)
    ),
    gt AS (SELECT source, count(*) AS n_distinct_ngrams FROM gn GROUP BY source),
    gnov AS (
      SELECT source, count(*) AS n_novel_ngrams
      FROM gn ANTI JOIN go USING (fp) GROUP BY source
    ),
    dt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    dold AS (SELECT DISTINCT md5(text) AS fp FROM oldd),
    dnew AS (
      SELECT source, count(*) AS n_new_docs
      FROM (SELECT source, md5(text) AS fp FROM documents) d
      ANTI JOIN dold USING (fp) GROUP BY source
    )
    SELECT dt.source, dt.n_docs,
           COALESCE(dnew.n_new_docs, 0) AS n_new_docs,
           COALESCE(gt.n_distinct_ngrams, 0) AS n_distinct_ngrams,
           COALESCE(gnov.n_novel_ngrams, 0) AS n_novel_ngrams,
           CASE WHEN COALESCE(gt.n_distinct_ngrams, 0) > 0
                THEN CAST(COALESCE(gnov.n_novel_ngrams, 0) AS DOUBLE)
                     / CAST(gt.n_distinct_ngrams AS DOUBLE)
                ELSE 0.0 END AS novelty_rate
    FROM dt
    LEFT JOIN dnew USING (source)
    LEFT JOIN gt USING (source)
    LEFT JOIN gnov USING (source)
    """,
)
def q253(spark, sf_dir):
    """Snapshot novelty report (llm.report.corpus_novelty): the full
    corpus as the NEW snapshot vs the doc_id%3!=0 two-thirds as the
    OLD — per source, byte-new docs (md5 anti-join) and the
    never-seen-before distinct 8-gram rate.  The data-refresh
    decision table; exact counts + one IEEE division, md5 keys in
    BOTH engines so collision behavior is identical rather than
    assumed away."""
    from hadron_spark.llm.report import corpus_novelty

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text", "source")
    return corpus_novelty(docs.select("doc_id", "text", "source"), old, n=8)


@_register(
    "q254_streaming_moments",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS syy
    FROM events GROUP BY event_type
    """,
)
def q254(spark, sf_dir):
    """Streaming exact-moment maintenance (streaming.ops
    .incremental_moments): the event stream is chopped into
    micro-batches and per-type (n, Σy, Σy²) longs are merged into
    the parquet state — long sums are an associative commutative
    monoid, so the state is bit-identical to one groupBy over every
    delivered row no matter how the stream was chopped.  The RARE
    streaming op with a FULL oracle: the state is plain integers,
    so DuckDB states it as a batch GROUP BY.  Failure trio
    (HWM replay guard, swap healing) pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import incremental_moments, read_moments_state

    work = tempfile.mkdtemp(prefix="q254_")
    src = f"{work}/src"
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, y bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_moments(
        stream, f"{work}/state", "event_type", "y", checkpoint=f"{work}/ckpt"
    )
    q.awaitTermination(300)
    result = read_moments_state(spark, f"{work}/state", "event_type")
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q255_pr_curve",
    """
    WITH d AS (
      SELECT len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    s AS (SELECT score, SUM(y) AS n_pos, count(*) AS n_tot FROM d GROUP BY score),
    c AS (
      SELECT score,
             CAST(COALESCE(SUM(n_pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_pos,
             CAST(COALESCE(SUM(n_tot) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_tot,
             CAST(SUM(n_pos) OVER () AS BIGINT) AS p_all,
             CAST(SUM(n_tot) OVER () AS BIGINT) AS n_all
      FROM s
    )
    SELECT score AS threshold,
           p_all - cum_pos AS tp,
           (n_all - cum_tot) - (p_all - cum_pos) AS fp,
           cum_pos AS fn,
           CAST(p_all - cum_pos AS DOUBLE)
             / CAST(n_all - cum_tot AS DOUBLE) AS precision,
           CAST(p_all - cum_pos AS DOUBLE) / CAST(p_all AS DOUBLE) AS recall,
           CAST((p_all - cum_pos) * 2 AS DOUBLE)
             / CAST((n_all - cum_tot) + p_all AS DOUBLE) AS f1
    FROM c
    """,
)
def q255(spark, sf_dir):
    """Exact PR curve / threshold calibration (llm.evaluation
    .pr_curve): precision/recall/F1 at every observed token-count
    threshold for the lang='en' label — the cutoff-picking table for
    a trained quality filter.  All counts reduce on the
    distinct-score spine via range_cumsum (banded — the oracle's
    SUM OVER states semantics, not the plan); ratios are single IEEE
    divisions of exact longs, hash-exact."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.evaluation import pr_curve

    docs = load(spark, sf_dir, "documents").select(
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return pr_curve(docs, "score", "y")


@_register(
    "q256_exact_auc",
    """
    WITH d AS (
      SELECT len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    s AS (SELECT score, SUM(y) AS n_pos, count(*) AS n_tot FROM d GROUP BY score),
    c AS (
      SELECT score, n_pos, n_tot,
             CAST(COALESCE(SUM(n_tot) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_tot
      FROM s
    )
    SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n_tot) - SUM(n_pos) AS BIGINT) AS n_neg,
           CAST(SUM(n_pos * (2 * cum_tot + n_tot + 1))
                - SUM(n_pos) * (SUM(n_pos) + 1) AS BIGINT) AS u2,
           CAST(CAST(SUM(n_pos * (2 * cum_tot + n_tot + 1))
                     - SUM(n_pos) * (SUM(n_pos) + 1) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(n_pos) AS BIGINT)
                    * CAST(SUM(n_tot) - SUM(n_pos) AS BIGINT) * 2 AS DOUBLE)
             AS auc
    FROM c
    """,
)
def q256(spark, sf_dir):
    """Exact tie-aware ROC AUC (llm.evaluation.auc — Mann-Whitney U
    in doubled rank units so tied average ranks stay integral): one
    row, bit-exact including the AUC double (one IEEE division of
    exact longs).  Ranks never materialize per row — group average
    ranks come straight off the spine's exclusive prefix."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.evaluation import auc

    docs = load(spark, sf_dir, "documents").select(
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return auc(docs, "score", "y")


@_register(
    "q257_annotator_agreement",
    """
    WITH lab AS (
      SELECT CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
                      x -> x <> '')) >= 60
                  THEN 'keep' ELSE 'drop' END AS a,
             CASE WHEN 2 * len(list_distinct(list_filter(
                      string_split_regex(lower(text), '\\s+'), x -> x <> '')))
                      >= len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> ''))
                  THEN 'keep' ELSE 'drop' END AS b
      FROM documents
    ),
    m AS (SELECT a, b, count(*) AS n FROM lab GROUP BY a, b),
    ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM m GROUP BY a),
    cb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM m GROUP BY b),
    pe AS (SELECT CAST(COALESCE(SUM(r * c), 0) AS BIGINT) AS pe
           FROM ra JOIN cb ON ra.a = cb.b),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree
            FROM m)
    SELECT nn AS n, agree,
           nn * agree - pe AS kappa_num,
           nn * nn - pe AS kappa_den,
           CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE) AS p_o,
           CAST(pe AS DOUBLE) / CAST(nn * nn AS DOUBLE) AS p_e,
           CAST(nn * agree - pe AS DOUBLE)
             / CAST(nn * nn - pe AS DOUBLE) AS kappa
    FROM tot, pe
    """,
)
def q257(spark, sf_dir):
    """Inter-annotator agreement (llm.evaluation.cohens_kappa —
    Cohen 1960) between two heuristic quality annotators (length
    rule vs distinct-ratio rule, both stated as integer compares):
    chance-corrected kappa as ONE division of exact int64s —
    bit-exact, including p_o/p_e.  One partial-agg'd shuffle to the
    2x2 confusion matrix; all algebra on that tiny frame."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.evaluation import cohens_kappa

    toks = tokenize(F.lower(F.col("text")))
    lab = load(spark, sf_dir, "documents").select(
        F.when(F.size(toks) >= 60, "keep").otherwise("drop").alias("a"),
        F.when(
            F.size(F.array_distinct(toks)) * 2 >= F.size(toks), "keep"
        ).otherwise("drop").alias("b"),
    )
    return cohens_kappa(lab, "a", "b")


@_register(
    "q258_calibration_ece",
    """
    WITH d AS (
      SELECT least(100, len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS p,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    b AS (
      SELECT least(9, (p * 10) // 100) AS bin, count(*) AS n,
             CAST(SUM(p) AS BIGINT) AS sum_units,
             CAST(SUM(y) AS BIGINT) AS sum_pos
      FROM d GROUP BY 1
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(abs(sum_pos * 100 - sum_units)) AS BIGINT) AS ece_num,
           CAST(CAST(SUM(abs(sum_pos * 100 - sum_units)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(n) AS BIGINT) * 100 AS DOUBLE) AS ece
    FROM b
    """,
)
def q258(spark, sf_dir):
    """Expected calibration error (llm.evaluation
    .expected_calibration_error — Naeini 2015) of a capped
    token-count pseudo-confidence against the lang='en' label: the
    ECE numerator telescopes to an exact INTEGER sum over bins
    (Σ|Σpos·scale − Σunits|), then one IEEE division — no float
    accumulation anywhere, so the scalar hashes."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.evaluation import expected_calibration_error

    docs = load(spark, sf_dir, "documents").select(
        F.least(F.lit(100), F.size(tokenize(F.lower(F.col("text"))))).alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return expected_calibration_error(docs, "p", "y", n_bins=10)


@_register(
    "q259_pass_rate_wilson",
    """
    WITH d AS (
      SELECT source,
             CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
                      x -> x <> '')) >= 60
                  THEN 1 ELSE 0 END AS f
      FROM documents
    ),
    a AS (
      SELECT source, count(*) AS n, CAST(SUM(f) AS BIGINT) AS k
      FROM d GROUP BY source
    )
    SELECT source, n, k,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           greatest(0.0,
             ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
               + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
              - 1.96 * sqrt(
                  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) AS ci_lo,
           least(1.0,
             ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
               + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
              + 1.96 * sqrt(
                  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) AS ci_hi
    FROM a
    """,
)
def q259(spark, sf_dir):
    """Per-source quality-gate pass rate with Wilson 95% interval
    (operators.robust.pass_rate_ci): the honest-uncertainty report
    row for any boolean gate.  Exact longs to ONE fixed-order IEEE
    chain (whose only transcendental is sqrt — correctly rounded,
    portable), so even the interval bounds hash bit-exact."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.operators.robust import pass_rate_ci

    docs = load(spark, sf_dir, "documents").select(
        "source",
        (F.size(tokenize(F.lower(F.col("text")))) >= 60).cast("int").alias("f"),
    )
    return pass_rate_ci(docs, ["source"], "f")


@_register(
    "q260_category_drift",
    """
    WITH a AS (
      SELECT COALESCE(CAST(lang AS VARCHAR), '<null>') AS c, count(*) AS n_new
      FROM documents GROUP BY 1
    ),
    b AS (
      SELECT COALESCE(CAST(lang AS VARCHAR), '<null>') AS c, count(*) AS n_old
      FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(a.c, b.c) AS category,
             COALESCE(n_new, 0) AS n_new, COALESCE(n_old, 0) AS n_old
      FROM a FULL OUTER JOIN b ON a.c = b.c
    ),
    t AS (SELECT CAST(SUM(n_new) AS BIGINT) AS tn,
                 CAST(SUM(n_old) AS BIGINT) AS toc FROM j)
    SELECT category, n_new, n_old,
           CAST(n_new AS DOUBLE) / CAST(tn AS DOUBLE) AS share_new,
           CAST(n_old AS DOUBLE) / CAST(toc AS DOUBLE) AS share_old,
           (CAST(n_new AS DOUBLE)
              - CAST(n_new + n_old AS DOUBLE) * CAST(tn AS DOUBLE)
                / CAST(tn + toc AS DOUBLE))
           * (CAST(n_new AS DOUBLE)
              - CAST(n_new + n_old AS DOUBLE) * CAST(tn AS DOUBLE)
                / CAST(tn + toc AS DOUBLE))
           / (CAST(n_new + n_old AS DOUBLE) * CAST(tn AS DOUBLE)
              / CAST(tn + toc AS DOUBLE))
           + (CAST(n_old AS DOUBLE)
              - CAST(n_new + n_old AS DOUBLE) * CAST(toc AS DOUBLE)
                / CAST(tn + toc AS DOUBLE))
           * (CAST(n_old AS DOUBLE)
              - CAST(n_new + n_old AS DOUBLE) * CAST(toc AS DOUBLE)
                / CAST(tn + toc AS DOUBLE))
           / (CAST(n_new + n_old AS DOUBLE) * CAST(toc AS DOUBLE)
              / CAST(tn + toc AS DOUBLE)) AS chi2_cell
    FROM j, t
    """,
)
def q260(spark, sf_dir):
    """Language-mix drift between snapshots (llm.report
    .category_drift): per-lang counts, shares, and the two-sample
    chi-square contribution per CELL (never float-summed across
    categories — the stats tier's order-safety discipline), exact
    longs into identical IEEE chains, hash-exact."""
    from hadron_spark.llm.report import category_drift

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    return category_drift(docs, old, "lang")


@_register(
    "q261_bipartite_projection",
    """
    WITH m AS (SELECT DISTINCT l_orderkey AS g, l_suppkey AS i FROM lineitem)
    SELECT a.i AS src, b.i AS dst, count(*) AS weight
    FROM m a JOIN m b ON a.g = b.g AND a.i < b.i
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def q261(spark, sf_dir):
    """Weighted one-mode projection (operators.graph
    .bipartite_project) of the order→supplier membership table:
    supplier co-fulfillment edges at weight >= 2 — the formal front
    door to every co-occurrence graph the triangle/coreness ops
    consume, with the oversized-group guard as the explicit skew
    valve (a celebrity group's C(g,2) blowup is dropped whole, never
    silently truncated).  Exact integer weights."""
    from hadron_spark.operators.graph import bipartite_project

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return bipartite_project(li, "l_orderkey", "l_suppkey", min_weight=2)


@_register(
    "q262_streaming_topk",
    """
    WITH r AS (
      SELECT event_type, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS score,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                                         event_id ASC) AS rk
      FROM events
    )
    SELECT event_type, id, score FROM r WHERE rk <= 5
    """,
)
def q262(spark, sf_dir):
    """Streaming per-key top-k maintenance (streaming.ops
    .incremental_topk): micro-batched events merged into a <=k-rows-
    per-key leaderboard state — top-k of a union is the top-k of
    top-ks, so the final state equals the one-shot windowed top-k
    the oracle states.  Second streaming op with a FULL oracle;
    failure trio pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import incremental_topk, read_topk_state

    work = tempfile.mkdtemp(prefix="q262_")
    src = f"{work}/src"
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("id"),
        F.round(F.col("value") * 100).cast("long").alias("score"),
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, id bigint, score bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_topk(
        stream, f"{work}/state", "event_type", "id", "score", k=5,
        checkpoint=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    result = read_topk_state(spark, f"{work}/state", "event_type")
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q263_multi_step_funnel",
    """
    WITH s0 AS (
      SELECT user_id AS u, min(epoch_us(ts)) AS t
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s1 AS (
      SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t
      FROM events e JOIN s0 ON e.user_id = s0.u
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s0.t
      GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t
      GROUP BY 1
    ),
    c AS (
      SELECT 0 AS step_index, 'view' AS step_name,
             (SELECT count(*) FROM s0) AS n_users
      UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
      UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    )
    SELECT step_index, step_name, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users AS DOUBLE)
             / CAST((SELECT n_users FROM c c0 WHERE c0.step_index = 0)
                    AS DOUBLE) AS conv_from_first,
           CAST(n_users AS DOUBLE)
             / CAST(COALESCE((SELECT c2.n_users FROM c c2
                              WHERE c2.step_index = c.step_index - 1),
                             n_users) AS DOUBLE) AS conv_from_prev
    FROM c
    """,
)
def q263(spark, sf_dir):
    """k-step ordered funnel (operators.ops.multi_step_funnel):
    view -> click -> purchase with earliest-arrival semantics — a
    later step counts only strictly after the user's previous step
    time, each step one user-keyed join + partial-agg'd MIN over
    the pinned funnel-type slice (never a per-user event collect).
    Exact microsecond ordering; ratios hash as single divisions."""
    from hadron_spark.operators.ops import multi_step_funnel

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return multi_step_funnel(ev, ["view", "click", "purchase"])


@_register(
    "q264_winsorized_mean",
    """
    WITH q AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    b AS (
      SELECT event_type,
             quantile_disc(y, 0.05) AS lo, quantile_disc(y, 0.95) AS hi
      FROM q GROUP BY event_type
    )
    SELECT q.event_type,
           count(*) AS n,
           CAST(SUM(CASE WHEN y < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN y > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST(CAST(SUM(greatest(lo, least(hi, y))) AS BIGINT) AS DOUBLE)
             / CAST(count(*) * 100 AS DOUBLE) AS wmean
    FROM q JOIN b USING (event_type)
    GROUP BY q.event_type
    """,
)
def q264(spark, sf_dir):
    """Winsorized mean per event type (operators.robust
    .winsorized_mean, 5/95 discrete bounds): percentile_disc clips
    are ACTUAL elements, so every clipped value stays an exact long
    and the mean is one IEEE division — bit-exact, where an
    interpolated clip would smear a non-dyadic double over rows and
    break sum-order independence."""
    from hadron_spark.operators.robust import winsorized_mean

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    return winsorized_mean(ev, "value", ["event_type"], p_lo=0.05, p_hi=0.95)


@_register(
    "q265_vocab_coverage",
    """
    WITH toks AS (
      SELECT source, unnest(list_filter(
        string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    vocab AS (
      SELECT tok FROM freq
      QUALIFY row_number() OVER (ORDER BY n DESC, tok ASC) <= 500
    ),
    per AS (
      SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok
    ),
    j AS (
      SELECT per.source, per.tok, per.n,
             CASE WHEN vocab.tok IS NULL THEN 0 ELSE 1 END AS inv
      FROM per LEFT JOIN vocab ON per.tok = vocab.tok
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN inv = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_covered,
           count(*) AS n_types,
           CAST(SUM(inv) AS BIGINT) AS n_types_covered,
           CAST(SUM(CASE WHEN inv = 1 THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS occ_coverage,
           CAST(SUM(inv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS type_coverage
    FROM j GROUP BY source
    """,
)
def q265(spark, sf_dir):
    """Vocabulary coverage / OOV rate per source (llm.textstats
    .vocab_coverage) against the corpus's own top-500 token vocab
    (deterministic tie-break): occurrence and type coverage as
    single divisions of exact longs.  The vocab broadcasts; the
    corpus partial-aggregates to per-(source, token) counts BEFORE
    the membership probe."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.textstats import _stamp_rank, vocab_coverage

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = _stamp_rank(
        freq.orderBy(F.col("n").desc(), "token").limit(500),
        [F.col("n").desc(), F.col("token").asc()],
    ).select("token")
    return vocab_coverage(docs, vocab)


@_register("q266_ivf_append", None)
def q266(spark, sf_dir):
    """Incremental vector-store ingest (llm.similarity.ivf_append):
    build the IVF index on even vec_ids, append the odd half against
    the FROZEN centroids (placement uses the same argmin expression
    search probes with), then search base queries over the grown
    index.  Rows-only — centroids are a trained artifact; placement
    and visibility are pinned in test_embeddings."""
    import shutil
    import tempfile

    from hadron_spark.llm.similarity import build_ivf_index, ivf_append, ivf_search

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="q266_")
    try:
        build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), work, n_centroids=8
        )
        ivf_append(spark, work, emb.filter(F.col("vec_id") % 2 == 1))
        hits = ivf_search(
            spark, work, emb.filter(F.col("vec_id") < 16), k=5, n_probe=2
        )
        result = spark.createDataFrame(hits.collect(), hits.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


def _purchase_ranking(spark, sf_dir):
    """(cust, part, score, y): next-period-purchase retrieval eval
    frame — candidates are every part a customer ever ordered, the
    "system" score is early-period (< 1999) total quantity (integral
    doubles cast to BIGINT before summing — exact), the relevance
    label is whether the part was re-ordered in the late period."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cut = F.to_timestamp(F.lit("1999-01-01"))
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("cust"),
        F.col("l_partkey").alias("part"),
        F.when(F.col("o_orderdate") < cut, F.col("l_quantity").cast("long"))
        .otherwise(0)
        .alias("_early"),
        F.when(F.col("o_orderdate") >= cut, 1).otherwise(0).alias("_late"),
    )
    return j.groupBy("cust", "part").agg(
        F.sum("_early").alias("score"), F.max("_late").alias("y")
    )


_RANKING_PAIRS_SQL = """
    pairs AS (
      SELECT o_custkey AS cust, l_partkey AS part,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS score,
             MAX(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS y
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT cust, score, y,
             ROW_NUMBER() OVER (PARTITION BY cust
                                ORDER BY score DESC, part ASC) AS rnk,
             CAST(SUM(y) OVER (PARTITION BY cust
                               ORDER BY score DESC, part ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT) AS hits_i
      FROM pairs
    ),
    perq AS (
      SELECT cust,
             COUNT(*) AS n_cand,
             CAST(SUM(y) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN rnk <= 10 THEN y ELSE 0 END) AS BIGINT) AS hits,
             CAST(COALESCE(2520 // MIN(CASE WHEN rnk <= 10 AND y = 1
                                            THEN rnk END), 0)
                  AS BIGINT) AS rr_units,
             CAST(COALESCE(SUM(CASE WHEN rnk <= 10 AND y = 1
                                    THEN hits_i * (2520 // rnk) END), 0)
                  AS BIGINT) AS ap_units
      FROM r GROUP BY cust
    )
"""


@_register(
    "q267_ranking_metrics",
    "WITH "
    + _RANKING_PAIRS_SQL
    + """
    SELECT cust, n_cand, n_rel, hits, rr_units, ap_units,
           CAST(hits AS DOUBLE) / CAST(10 AS DOUBLE) AS precision,
           CASE WHEN n_rel > 0
                THEN CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE) END AS recall,
           CAST(rr_units AS DOUBLE) / CAST(2520 AS DOUBLE) AS rr,
           CASE WHEN n_rel > 0
                THEN CAST(ap_units AS DOUBLE)
                     / CAST(LEAST(n_rel, 10) * 2520 AS DOUBLE) END AS ap
    FROM perq
    """,
)
def q267(spark, sf_dir):
    """Per-query retrieval metrics at k=10 (llm.evaluation
    .ranking_metrics): precision/recall/RR/AP over the next-period-
    purchase eval frame, every fractional term kept integral by
    lcm(1..10)=2520 scaling so the frame hashes cross-engine (each
    reported ratio is ONE IEEE division of exact longs).  One
    shuffle on the query key; the rank window and the per-query
    aggregate share it."""
    from hadron_spark.llm.evaluation import ranking_metrics

    return ranking_metrics(
        _purchase_ranking(spark, sf_dir), "cust", "part", "score", "y", k=10
    )


@_register(
    "q268_ranking_summary",
    "WITH "
    + _RANKING_PAIRS_SQL
    + """
    SELECT COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_evaluated,
           CAST(SUM(hits) AS BIGINT) AS sum_hits,
           CAST(SUM(rr_units) AS BIGINT) AS sum_rr_units,
           CAST(SUM(rr_units) AS DOUBLE)
             / CAST(COUNT(*) * 2520 AS DOUBLE) AS mrr,
           CAST(SUM(hits) AS DOUBLE)
             / CAST(COUNT(*) * 10 AS DOUBLE) AS mean_precision,
           CASE WHEN SUM(n_rel) > 0
                THEN CAST(SUM(hits) AS DOUBLE) / CAST(SUM(n_rel) AS DOUBLE)
           END AS micro_recall
    FROM perq
    """,
)
def q268(spark, sf_dir):
    """Corpus-level MRR / mean-precision@10 / micro-recall@10
    (llm.evaluation.ranking_summary) in one hash-exact row: the
    integer rr/hit units sum order-independently and each scalar is
    one IEEE division — float accumulation never happens."""
    from hadron_spark.llm.evaluation import ranking_summary

    return ranking_summary(
        _purchase_ranking(spark, sf_dir), "cust", "part", "score", "y", k=10
    )


def _ndcg_oracle_sql(k: int = 10) -> str:
    """q269's oracle: the SAME python-computed 1/log2(i+1) literals
    the Spark op ships (no engine evaluates a log), rank-sorted
    folds via list_sort/list_reduce."""
    import math

    # DuckDB's decimal-string -> DOUBLE conversion is NOT correctly
    # rounded (measured 1 ulp off on 1/log2(6)), so a repr() literal
    # cannot ship an arbitrary double.  as_integer_ratio() can:
    # d = n / 2^k with n < 2^53 -- CAST(n AS DOUBLE) is exact
    # (integer), pow(2, k) is exact (power of two), the division is
    # exact, so BOTH engines land on the bit-identical double.
    def _dlit(x: float) -> str:
        n, den = float(x).as_integer_ratio()
        return f"(CAST({n} AS DOUBLE) / pow(2.0, {den.bit_length() - 1}))"

    discs = ", ".join(
        _dlit(1.0 / math.log2(i + 1)) for i in range(1, k + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT o_custkey AS cust, l_partkey AS part,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS score,
             MAX(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS y
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    rr AS (
      SELECT cust, part, score, y,
             row_number() OVER (PARTITION BY cust
               ORDER BY score DESC, part ASC) AS rnk,
             row_number() OVER (PARTITION BY cust
               ORDER BY y DESC, score DESC, part ASC) AS irnk
      FROM pairs),
    perq AS (
      SELECT cust, CAST(SUM(y) AS BIGINT) AS n_rel,
             list_reduce(
               [0.0] || list_transform(
                 list_sort(list(struct_pack(r := rnk,
                   g := CAST(y AS DOUBLE) * ([{discs}])[rnk]))
                   FILTER (WHERE rnk <= {k})),
                 x -> x.g),
               (a, b) -> a + b) AS dcg,
             list_reduce(
               [0.0] || list_transform(
                 list_sort(list(struct_pack(r := irnk,
                   g := CAST(y AS DOUBLE) * ([{discs}])[irnk]))
                   FILTER (WHERE irnk <= {k})),
                 x -> x.g),
               (a, b) -> a + b) AS idcg
      FROM rr GROUP BY cust)
    SELECT cust, n_rel, dcg, idcg,
           CASE WHEN idcg > 0 THEN dcg / idcg END AS ndcg
    FROM perq
    """


@_register("q269_ndcg", _ndcg_oracle_sql(10))
def q269(spark, sf_dir):
    """Per-query nDCG@10 (llm.evaluation.ndcg) over the same eval
    frame.  FULL oracle despite transcendental discounts: at cutoff
    k only k discount values exist, so 1/log2(i+1) ships as the SAME
    python-computed literal array to BOTH engines (neither evaluates
    a log at runtime), gains fold in rank-sorted order -- the q272
    trick applied to ranking.  q267/q268 remain the all-integer
    tier; python parity lives in test_evaluation."""
    from hadron_spark.llm.evaluation import ndcg

    return ndcg(_purchase_ranking(spark, sf_dir), "cust", "part", "score", "y", k=10)


@_register(
    "q270_key_skew",
    """
    WITH spine AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM spine
    ),
    hot AS (
      SELECT user_id, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC)
                  AS INTEGER) AS rank
      FROM spine ORDER BY cnt DESC, user_id ASC LIMIT 20
    )
    SELECT user_id, cnt, rank, n_total, n_keys,
           CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           CAST(cnt * n_keys AS DOUBLE) / CAST(n_total AS DOUBLE) AS skew,
           CAST((cnt * 32 + n_total - 1) // n_total AS BIGINT) AS salt
    FROM hot, tot
    """,
)
def q270(spark, sf_dir):
    """Hot-key shuffle pre-flight (plans.diag.key_skew_profile): the
    20 heaviest event user_ids with exact share / skew-multiple and
    the integer salting fan-out for a 32-partition shuffle.  ONE
    partial-agg'd shuffle onto the key spine (raw rows never sort);
    top-k is TakeOrderedAndProject; rank is stamped post-limit so no
    whole-dataset window appears."""
    from hadron_spark.plans.diag import key_skew_profile

    ev = load(spark, sf_dir, "events")
    return key_skew_profile(ev, ["user_id"], top=20, n_partitions=32)


@_register(
    "q271_join_cardinality",
    """
    WITH l AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS lc
               FROM orders GROUP BY 1),
    r AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS rc
          FROM lineitem GROUP BY 1),
    lt AS (SELECT CAST(SUM(lc) AS BIGINT) AS left_rows,
                  CAST(COUNT(*) AS BIGINT) AS left_keys FROM l),
    rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS right_rows,
                  CAST(COUNT(*) AS BIGINT) AS right_keys FROM r),
    j AS (SELECT CAST(COUNT(*) AS BIGINT) AS matching_keys,
                 CAST(COALESCE(SUM(lc * rc), 0) AS BIGINT) AS out_rows,
                 CAST(COALESCE(MAX(lc * rc), 0) AS BIGINT) AS max_key_out
          FROM l JOIN r USING (k) WHERE k IS NOT NULL)
    SELECT left_rows, right_rows, left_keys, right_keys,
           matching_keys, out_rows, max_key_out,
           CAST(out_rows AS DOUBLE)
             / CAST(GREATEST(left_rows, right_rows) AS DOUBLE)
             AS amplification
    FROM lt, rt, j
    """,
)
def q271(spark, sf_dir):
    """Exact join-output cardinality WITHOUT running the join
    (plans.diag.join_cardinality): |orders ⋈ lineitem| on orderkey =
    Σ_k lc·rc over the two per-key count spines, plus the hottest
    key's contribution and the amplification ratio — the pre-flight
    that catches an unintended many-to-many before it ships 100 TB
    through a shuffle.  Counts move; raw rows never do."""
    from hadron_spark.plans.diag import join_cardinality

    o = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = load(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    return join_cardinality(o, li, ["k"])


def _bt_oracle_sql(iters: int) -> str:
    """Unrolled-CTE replay of bradley_terry's MM fit: one CTE pair
    per round, every float op in the same fixed order as the Spark
    fold (opponent-sorted denominators, item-sorted totals)."""
    head = """
    WITH resp AS (
      SELECT doc_id % 97 AS prompt, doc_id, source,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '')) AS score
      FROM documents),
    ext AS (
      SELECT prompt,
             max(struct_pack(s := score, i := doc_id, src := source)) AS hi,
             min(struct_pack(s := score, i := doc_id, src := source)) AS lo
      FROM resp GROUP BY prompt),
    outcomes AS MATERIALIZED (SELECT hi.src AS w, lo.src AS l FROM ext
                 WHERE hi.src <> lo.src),
    und AS MATERIALIZED (SELECT least(w, l) AS a, greatest(w, l) AS b,
                   CAST(COUNT(*) AS BIGINT) AS nab
            FROM outcomes GROUP BY 1, 2),
    wins AS (SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS wins
             FROM outcomes GROUP BY 1),
    losses AS (SELECT l AS item, CAST(COUNT(*) AS BIGINT) AS losses
               FROM outcomes GROUP BY 1),
    items AS (SELECT a AS item FROM und UNION SELECT b FROM und),
    dirs AS MATERIALIZED (SELECT a AS item, b AS other, nab FROM und
             UNION ALL SELECT b, a, nab FROM und),
    p0 AS MATERIALIZED (SELECT item, 1.0 AS p FROM items)"""
    rounds = []
    for n in range(1, iters + 1):
        rounds.append(f""",
    d{n} AS MATERIALIZED (
      SELECT s.item,
             list_reduce(
               [0.0] || list_transform(
                 list_sort(list(struct_pack(o := dd.other, nab := dd.nab,
                                            po := po.p))),
                 x -> CAST(x.nab AS DOUBLE) / (s.p + x.po)),
               (acc, t) -> acc + t) AS denom
      FROM dirs dd JOIN p{n - 1} po ON dd.other = po.item
                   JOIN p{n - 1} s ON dd.item = s.item
      GROUP BY s.item, s.p),
    r{n} AS MATERIALIZED (
      SELECT d.item,
             greatest(CAST(COALESCE(w.wins, 0) AS DOUBLE) / d.denom,
                      1e-12) AS praw
      FROM d{n} d LEFT JOIN wins w ON d.item = w.item),
    t{n} AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS c,
             list_reduce(
               [0.0] || list_transform(
                 list_sort(list(struct_pack(i := item, pr := praw))),
                 x -> x.pr),
               (acc, t) -> acc + t) AS tot
      FROM r{n}),
    p{n} AS MATERIALIZED (SELECT item, praw * c / tot AS p
             FROM r{n}, t{n})""")
    tail = f"""
    SELECT p.item, COALESCE(w.wins, 0) AS wins,
           COALESCE(l.losses, 0) AS losses, p.p AS strength
    FROM p{iters} p LEFT JOIN wins w ON p.item = w.item
                    LEFT JOIN losses l ON p.item = l.item
    """
    return head + "".join(rounds) + tail


@_register("q272_bradley_terry", _bt_oracle_sql(10))
def q272(spark, sf_dir):
    """Source-vs-source Bradley-Terry strengths (llm.evaluation
    .bradley_terry) from per-prompt preference outcomes: in each of
    the 97 synthetic prompt buckets the longest doc (q244's struct-
    extrema tie-break) beats the shortest when their sources differ.
    FULL oracle despite the iterative MM fit: every denominator
    folds opponents in sorted order and every normalization total
    folds items in sorted order (fixed IEEE chains), so the oracle
    simply UNROLLS the 10 rounds CTE-for-round and lands on the
    bit-identical strengths -- the first iterative-fixed-point op in
    the hash-exact tier (the q323/q337 recursive walks are per-row
    recurrences; this one is a whole-frame fixed point).  Python
    parity + weighted==expanded equivalence live in
    test_evaluation."""
    from hadron_spark.functions.text import tokenize
    from hadron_spark.llm.evaluation import bradley_terry

    docs = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 97).alias("prompt"),
        F.col("source"),
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
        F.col("doc_id"),
    )
    ext = docs.groupBy("prompt").agg(
        F.max(F.struct("score", "doc_id", "source")).alias("_best"),
        F.min(F.struct("score", "doc_id", "source")).alias("_worst"),
    )
    pairs = ext.filter(
        F.col("_best.source") != F.col("_worst.source")
    ).select(
        F.col("_best.source").alias("w_src"),
        F.col("_worst.source").alias("l_src"),
    )
    return bradley_terry(pairs, "w_src", "l_src", iters=10)


_EVENT_BIN_SQL = """
    yv AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y
           FROM events),
    b AS (SELECT event_type,
                 CAST(CASE WHEN y < 0 THEN -1
                           WHEN y >= 50000 THEN 25
                           ELSE (y * 25) // 50000 END AS INTEGER) AS bin
          FROM yv),
    h AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM b GROUP BY 1, 2)
"""


def _event_bins(spark, sf_dir):
    """Batch (event_type, bin, cnt) histogram spine over event value
    cents — the same integer binning incremental_histogram uses
    (lo=0, hi=50000, 25 bins + under/overflow)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    b = (
        F.when(F.col("y") < 0, F.lit(-1))
        .when(F.col("y") >= 50000, F.lit(25))
        .otherwise(F.expr("(y * 25) div 50000"))
        .cast("int")
    )
    return (
        ev.select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_register(
    "q273_streaming_histogram",
    "WITH " + _EVENT_BIN_SQL + "SELECT event_type, bin, cnt FROM h",
)
def q273(spark, sf_dir):
    """Streaming histogram maintenance (streaming.ops
    .incremental_histogram): the event stream is chopped into
    micro-batches and per-type equi-width bin counts (value cents,
    25 bins over [0, 50000) + under/overflow) merge into the parquet
    state — bin counts are a long-sum monoid, so the state is
    bit-identical to one batch groupBy regardless of chopping: a
    FULL oracle on a streaming op.  Failure trio pinned in
    test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import (
        incremental_histogram,
        read_histogram_state,
    )

    work = tempfile.mkdtemp(prefix="q273_")
    src = f"{work}/src"
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_type string, y bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_histogram(
        stream,
        f"{work}/state",
        "event_type",
        "y",
        lo=0,
        hi=50000,
        n_bins=25,
        checkpoint=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    result = read_histogram_state(spark, f"{work}/state", "event_type")
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q274_histogram_quantiles",
    "WITH "
    + _EVENT_BIN_SQL
    + """,
    c AS (SELECT event_type, bin, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM h),
    t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
          FROM h GROUP BY 1),
    s AS (SELECT event_type, n, q_units,
                 CAST((n * q_units + 99) // 100 AS BIGINT) AS target
          FROM t, (SELECT UNNEST([50, 90, 99]) AS q_units))
    SELECT s.event_type, CAST(s.q_units AS INTEGER) AS q_units, s.n,
           s.target, CAST(MIN(c.bin) AS INTEGER) AS bin
    FROM c JOIN s ON c.event_type = s.event_type AND c.cum >= s.target
    GROUP BY 1, 2, 3, 4
    """,
)
def q274(spark, sf_dir):
    """Rank-target quantiles off the histogram spine (streaming.ops
    .histogram_quantiles — the batch surface shared with the
    streaming state): p50/p90/p99 per event type as the smallest bin
    whose cumulative count reaches ceil(n·q/scale) — all integer
    math, hash-exact, with the honest one-bin-width error bound of
    any histogram sketch.  Per-key frame is <= n_bins+2 rows, so the
    cumulative window is bounded."""
    from hadron_spark.streaming.ops import histogram_quantiles

    return histogram_quantiles(
        _event_bins(spark, sf_dir), "event_type", [50, 90, 99], scale=100
    )


@_register("q275_ann_recall", None)
def q275(spark, sf_dir):
    """ANN recall audit — the ranking tier measuring the similarity
    tier: IVF cell-probe search (q41's scale path) evaluated against
    brute-force exact cosine top-10 (q25's baseline) through
    llm.evaluation.ranking_summary.  Candidates = IVF results scored
    by inverted rank, unioned with any missed true neighbors at
    score 0; labels = membership in the exact top-10 — so
    micro_recall IS recall@10 of the index and mrr states where the
    first true neighbor lands.  Rows-only BY DESIGN (the coarse
    quantizer is a trained artifact); the metric algebra itself is
    the hash-exact q267/q268 operator."""
    from hadron_spark.llm.evaluation import ranking_summary

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    exact = similarity.brute_force_topk(emb, q, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("_y")
    )
    sys = similarity.ivf_topk(
        emb, q, k=10, n_centroids=16, n_probe=4
    ).select("query_id", "neighbor_id", (F.lit(11) - F.col("rank")).alias("_s"))
    cand = (
        sys.join(exact, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            F.coalesce("_s", F.lit(0)).alias("score"),
            F.coalesce("_y", F.lit(0)).alias("y"),
        )
    )
    return ranking_summary(cand, "query_id", "neighbor_id", "score", "y", k=10)


@_register("q276_psi_drift", None)
def q276(spark, sf_dir):
    """Population Stability Index cells (llm.report.psi_drift)
    between the early and late event populations over value-cents
    decile bins — the score-drift monitor a deployed quality filter
    needs.  Rows-only BY DESIGN (ln is transcendental; the
    hash-exact chi-square statement of the same shift is q260);
    python parity in test_llm_ops."""
    from hadron_spark.llm.report import psi_drift

    ev = load(spark, sf_dir, "events").select(
        "ts",
        F.expr("cast(round(value * 100) as bigint) div 5000").alias("bin"),
    )
    cut = F.to_timestamp(F.lit("2024-01-15"))
    new = ev.filter(F.col("ts") >= cut).select("bin")
    old = ev.filter(F.col("ts") < cut).select("bin")
    return psi_drift(new, old, "bin")


_EVENT_SPLIT_SQL = """
    e AS (SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS v,
                 CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS s
          FROM events),
    c AS (SELECT event_type, v,
                 CAST(SUM(s) AS BIGINT) AS cn,
                 CAST(SUM(1 - s) AS BIGINT) AS co
          FROM e GROUP BY 1, 2),
    cum AS (SELECT event_type, v, cn, co,
                   SUM(cn) OVER w AS cumn, SUM(co) OVER w AS cumo
            FROM c
            WINDOW w AS (PARTITION BY event_type ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT event_type, CAST(SUM(cn) AS BIGINT) AS n_new,
                 CAST(SUM(co) AS BIGINT) AS n_old
          FROM c GROUP BY 1)
"""


def _event_split(spark, sf_dir):
    """Even/odd event_id halves of the event stream with value in
    integer cents — the two-sample substrate for q277/q278."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    new = ev.filter(F.col("event_id") % 2 == 0)
    old = ev.filter(F.col("event_id") % 2 == 1)
    return new, old


@_register(
    "q277_ks_drift",
    "WITH "
    + _EVENT_SPLIT_SQL
    + """,
    sc AS (SELECT cum.event_type, n_new, n_old, v,
                  abs(cumn * n_old - cumo * n_new) AS num
           FROM cum JOIN t ON cum.event_type = t.event_type),
    m AS (SELECT event_type, n_new, n_old, CAST(MAX(num) AS BIGINT) AS d_num
          FROM sc GROUP BY 1, 2, 3)
    SELECT m.event_type, m.n_new, m.n_old, m.d_num,
           CAST(MIN(sc.v) AS BIGINT) AS at_value,
           CAST(m.d_num AS DOUBLE) / CAST(m.n_new * m.n_old AS DOUBLE) AS d
    FROM m JOIN sc ON sc.event_type = m.event_type AND sc.num = m.d_num
    GROUP BY 1, 2, 3, 4
    """,
)
def q277(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift (operators.robust
    .ks_two_sample) between the even/odd event_id halves per event
    type: D = max |F1 - F2| over the merged value-cents support in
    the cross-multiplied integer form |cum_new*n_old -
    cum_old*n_new|, ONE IEEE division at the end — the EXACT
    distribution-shift statistic beside q260's chi-square and
    q276's rows-only PSI; at_value pins WHERE the CDFs diverge
    most (smallest value on ties, struct-ordered max)."""
    from hadron_spark.operators.robust import ks_two_sample

    new, old = _event_split(spark, sf_dir)
    return ks_two_sample(new, old, "v", ["event_type"])


@_register(
    "q278_mann_whitney",
    "WITH "
    + _EVENT_SPLIT_SQL
    + """,
    a AS (SELECT event_type,
                 CAST(SUM(cn * (2 * (cumn + cumo - (cn + co)) + (cn + co) + 1))
                      AS BIGINT) AS r1_x2,
                 CAST(SUM((cn + co) * (cn + co) * (cn + co) - (cn + co))
                      AS BIGINT) AS tie_term
          FROM cum GROUP BY 1)
    SELECT t.event_type, n_new, n_old, r1_x2,
           CAST(r1_x2 - n_new * (n_new + 1) AS BIGINT) AS u_x2,
           tie_term,
           CAST(r1_x2 - n_new * (n_new + 1) AS DOUBLE) / 2.0 AS u,
           (CAST(r1_x2 - n_new * (n_new + 1) AS DOUBLE)
              - CAST(n_new AS DOUBLE) * CAST(n_old AS DOUBLE))
           / (2.0 * sqrt(
               (CAST(n_new AS DOUBLE) * CAST(n_old AS DOUBLE) / 12.0)
               * ((CAST(n_new + n_old AS DOUBLE) + 1.0)
                  - CAST(tie_term AS DOUBLE)
                    / (CAST(n_new + n_old AS DOUBLE)
                       * (CAST(n_new + n_old AS DOUBLE) - 1.0))))) AS z
    FROM a JOIN t ON a.event_type = t.event_type
    """,
)
def q278(spark, sf_dir):
    """Mann-Whitney U rank-sum test (operators.robust
    .mann_whitney_u) on the same even/odd split: doubled average
    ranks keep the tie-aware rank algebra in exact int64
    (r1_x2, u_x2, tie_term), and even the tie-corrected normal z
    hashes — a fixed IEEE chain with ONE sqrt over exact integer
    images.  The location-shift twin of q277's shape test."""
    from hadron_spark.operators.robust import mann_whitney_u

    new, old = _event_split(spark, sf_dir)
    return mann_whitney_u(new, old, "v", ["event_type"])


@_register(
    "q279_fleiss_kappa",
    """
    WITH r AS (SELECT l_orderkey AS i, l_returnflag AS c
               FROM lineitem WHERE l_linenumber <= 3),
    cnt AS (SELECT i, c, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1, 2),
    it AS (SELECT i, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
    kept AS (SELECT cnt.i, cnt.c, cnt.n
             FROM cnt JOIN it ON cnt.i = it.i AND it.t = 3),
    drp AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM it WHERE t <> 3),
    po AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items,
                  CAST(SUM(n * (n - 1)) AS BIGINT) AS po_num FROM kept),
    pe AS (SELECT CAST(COALESCE(SUM(cj * cj), 0) AS BIGINT) AS pe_num
           FROM (SELECT CAST(SUM(n) AS BIGINT) AS cj FROM kept GROUP BY c) x)
    SELECT n_items, CAST(3 AS INTEGER) AS n_raters, nd AS n_items_dropped,
           po_num, pe_num,
           CAST(po_num AS DOUBLE) / CAST(n_items * 3 * 2 AS DOUBLE) AS p_o,
           CAST(pe_num AS DOUBLE)
             / CAST(n_items * 3 * n_items * 3 AS DOUBLE) AS p_e,
           (CAST(po_num AS DOUBLE) / CAST(n_items * 3 * 2 AS DOUBLE)
              - CAST(pe_num AS DOUBLE)
                / CAST(n_items * 3 * n_items * 3 AS DOUBLE))
           / (1.0 - CAST(pe_num AS DOUBLE)
                    / CAST(n_items * 3 * n_items * 3 AS DOUBLE)) AS kappa
    FROM po, pe, drp
    """,
)
def q279(spark, sf_dir):
    """Fleiss' kappa (llm.evaluation.fleiss_kappa) treating each
    order's first three lineitems as three independent "raters"
    labeling the order with a returnflag: n-rater chance-corrected
    agreement, P_o and P_e each ONE IEEE division of exact int64
    sums, kappa a fixed chain over them — the multi-annotator
    generalization of q257's Cohen kappa; orders with fewer than 3
    lines are the deterministic n_items_dropped count."""
    from hadron_spark.llm.evaluation import fleiss_kappa

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    return fleiss_kappa(li, "l_orderkey", "l_returnflag", n_raters=3)


@_register(
    "q280_spearman_rho",
    """
    WITH b AS (SELECT l_returnflag AS g,
                      CAST(round(l_quantity) AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS y
               FROM lineitem),
    rx AS (SELECT g, x,
                  2 * (SUM(t) OVER (PARTITION BY g ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - t) + t + 1 AS r2
           FROM (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS t
                 FROM b GROUP BY 1, 2) q),
    ry AS (SELECT g, y,
                  2 * (SUM(t) OVER (PARTITION BY g ORDER BY y
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - t) + t + 1 AS r2
           FROM (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS t
                 FROM b GROUP BY 1, 2) q),
    r AS (SELECT b.g, rx.r2 AS xr, ry.r2 AS yr
          FROM b JOIN rx ON b.g = rx.g AND b.x = rx.x
                 JOIN ry ON b.g = ry.g AND b.y = ry.y),
    a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xr) AS BIGINT) AS sx, CAST(SUM(yr) AS BIGINT) AS sy,
                 CAST(SUM(xr * xr) AS BIGINT) AS sxx,
                 CAST(SUM(yr * yr) AS BIGINT) AS syy,
                 CAST(SUM(xr * yr) AS BIGINT) AS sxy
          FROM r GROUP BY 1)
    SELECT g AS l_returnflag, n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                END AS rho
    FROM a
    """,
)
def q280(spark, sf_dir):
    """Tie-correct Spearman rank correlation (operators.robust
    .spearman_rho) of quantity vs price cents per returnflag —
    Pearson over DOUBLED average ranks (the only form that is right
    under ties), six exact int64 sums into a fixed IEEE chain with
    two sqrts, hash-exact.  The monotone-association audit number
    Pearson's linearity assumption would get wrong."""
    from hadron_spark.operators.robust import spearman_rho

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return spearman_rho(li, "x", "y", ["l_returnflag"])


@_register(
    "q281_compaction_plan",
    """
    WITH f AS (SELECT l_returnflag AS g, strftime(l_shipdate, '%Y-%m') AS fid,
                      CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                        AS sz
               FROM lineitem GROUP BY 1, 2),
    c AS (SELECT g, fid, sz,
                 SUM(sz) OVER (PARTITION BY g ORDER BY fid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sz
                   AS cumb
          FROM f)
    SELECT g AS l_returnflag, CAST(cumb // 40000 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           string_agg(fid, ',' ORDER BY fid) AS files_csv
    FROM c GROUP BY 1, 2
    """,
)
def q281(spark, sf_dir):
    """Small-file compaction planning (operators.maintenance
    .compaction_plan) over a synthetic file listing — one "file"
    per (returnflag, ship month) with summed quantity as its byte
    size: deterministic next-fit bins at floor(cum_before/target),
    pure integer math over the METADATA-scale listing (the 100 TB
    store's file census, never its data), hash-exact including the
    ordered member list."""
    from hadron_spark.operators.maintenance import compaction_plan

    li = load(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.col("l_returnflag"),
        F.date_format("l_shipdate", "yyyy-MM").alias("fid"),
    ).agg(F.sum(F.round("l_quantity").cast("long")).alias("sz"))
    plan = compaction_plan(
        files, "sz", 40000, part_cols=["l_returnflag"], order_col="fid"
    )
    return plan.select(
        "l_returnflag",
        "bin",
        "n_files",
        "total_bytes",
        F.array_join("files", ",").alias("files_csv"),
    )


@_register(
    "q282_kendall_tau",
    """
    WITH b AS (SELECT l_returnflag AS g,
                      CAST(round(l_quantity) AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) // 200000
                        AS y
               FROM lineitem),
    cells AS (SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM b GROUP BY 1, 2, 3),
    pq AS (SELECT a.g,
                  CAST(COALESCE(SUM(CASE WHEN bb.y > a.y
                                         THEN a.c * bb.c END), 0) AS BIGINT)
                    AS concordant,
                  CAST(COALESCE(SUM(CASE WHEN bb.y < a.y
                                         THEN a.c * bb.c END), 0) AS BIGINT)
                    AS discordant
           FROM cells a JOIN cells bb ON a.g = bb.g AND a.x < bb.x
           GROUP BY 1),
    nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
    tx AS (SELECT g, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS tie_x
           FROM (SELECT g, x, CAST(SUM(c) AS BIGINT) AS t
                 FROM cells GROUP BY 1, 2) q GROUP BY 1),
    ty AS (SELECT g, CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS tie_y
           FROM (SELECT g, y, CAST(SUM(c) AS BIGINT) AS t
                 FROM cells GROUP BY 1, 2) q GROUP BY 1)
    SELECT nt.g AS l_returnflag, n,
           COALESCE(concordant, 0) AS concordant,
           COALESCE(discordant, 0) AS discordant,
           tie_x, tie_y,
           CASE WHEN CAST((n * (n - 1)) // 2 - tie_x AS DOUBLE) > 0
                 AND CAST((n * (n - 1)) // 2 - tie_y AS DOUBLE) > 0
                THEN CAST(COALESCE(concordant, 0) - COALESCE(discordant, 0)
                          AS DOUBLE)
                     / (sqrt(CAST((n * (n - 1)) // 2 - tie_x AS DOUBLE))
                        * sqrt(CAST((n * (n - 1)) // 2 - tie_y AS DOUBLE)))
                END AS tau_b
    FROM nt LEFT JOIN pq ON nt.g = pq.g
            JOIN tx ON nt.g = tx.g JOIN ty ON nt.g = ty.g
    """,
)
def q282(spark, sf_dir):
    """Kendall tau-b (operators.robust.kendall_tau_b) of quantity vs
    $2000 price band per returnflag: the corpus collapses to bounded
    (x, y) CELLS (one partial-agg'd shuffle — the contract that
    keeps the pair algebra off the raw rows at 100 TB), concordant/
    discordant pair counts come off the cell self-join as exact
    int64s, and tau_b is a two-sqrt IEEE chain — hash-exact.
    Completes the rank-association pair with q280's Spearman."""
    from hadron_spark.operators.robust import kendall_tau_b

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) div 200000"
        ).alias("y"),
    )
    return kendall_tau_b(li, "x", "y", ["l_returnflag"])


@_register(
    "q283_stratified_allocate",
    """
    WITH d AS (SELECT doc_id, COALESCE(lang, '<null>') AS lang
               FROM documents),
    c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ns FROM d GROUP BY 1),
    t AS (SELECT CAST(SUM(ns) AS BIGINT) AS N FROM c),
    q AS (SELECT lang, ns, (ns * 100) // N AS base, (ns * 100) % N AS rem
          FROM c, t),
    s AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS short FROM q),
    r AS (SELECT lang, base,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk
          FROM q),
    qt AS (SELECT lang,
                  CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END
                       AS BIGINT) AS quota
           FROM r, s),
    p AS (SELECT d.doc_id, d.lang, quota,
                 ROW_NUMBER() OVER (PARTITION BY d.lang
                                    ORDER BY d.doc_id) AS prk
          FROM d JOIN qt ON d.lang = qt.lang)
    SELECT doc_id, lang, quota FROM p WHERE prk <= quota
    """,
)
def q283(spark, sf_dir):
    """Exact-n stratified selection (llm.mixing.stratified_allocate):
    100 documents with the language mix preserved by largest-
    remainder apportionment (Hamilton's method) — per-stratum quotas
    are pure int64 products, the +1 ranks ride stamp_rank on the
    bounded strata frame, and the in-stratum pick is doc_id order —
    so the SELECTED ROW SET ITSELF is deterministic and hash-exact,
    not just its size.  The fixed-budget complement of q49-era
    rate-based mixture_resample."""
    from hadron_spark.llm.mixing import stratified_allocate

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("lang", F.lit("<null>")).alias("lang")
    )
    out = stratified_allocate(docs, ["lang"], 100, order_col="doc_id")
    return out.select("doc_id", "lang", "quota")


@_register(
    "q284_retention_plan",
    """
    WITH snaps AS (SELECT l_returnflag AS part, l_shipdate AS ts,
                          CAST(COUNT(*) AS BIGINT) AS n_rows
                   FROM lineitem GROUP BY 1, 2),
    r AS (SELECT part, ts, n_rows,
                 ROW_NUMBER() OVER (PARTITION BY part ORDER BY ts DESC)
                   AS rank_desc
          FROM snaps)
    SELECT part, ts, n_rows, CAST(rank_desc AS INTEGER) AS rank_desc,
           CASE WHEN rank_desc <= 5 OR ts >= TIMESTAMP '1998-06-01'
                THEN 'keep' ELSE 'expire' END AS action
    FROM r
    """,
)
def q284(spark, sf_dir):
    """Snapshot retention planning (operators.maintenance
    .retention_plan) over a synthetic snapshot log (one "snapshot"
    per (returnflag, shipdate)): keep the newest 5 per partition
    plus everything at-or-after an explicit cutoff, expire the rest
    — the expire_snapshots decision emitted as an auditable
    hash-exact plan before any file is touched, like q281's
    compaction twin."""
    from hadron_spark.operators.maintenance import retention_plan

    li = load(spark, sf_dir, "lineitem")
    snaps = li.groupBy(
        F.col("l_returnflag").alias("part"), F.col("l_shipdate").alias("ts")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    plan = retention_plan(
        snaps, "ts", keep_last=5, cutoff="1998-06-01", part_cols=["part"]
    )
    return plan.select(
        "part",
        "ts",
        "n_rows",
        F.col("rank_desc").cast("int").alias("rank_desc"),
        "action",
    )


@_register(
    "q285_simpson_diversity",
    """
    WITH c AS (SELECT source,
                      COALESCE(CAST(lang AS VARCHAR), '<null>') AS c2,
                      CAST(COUNT(*) AS BIGINT) AS n_i
               FROM documents GROUP BY 1, 2),
    a AS (SELECT source, CAST(SUM(n_i) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_categories,
                 CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS pair_same,
                 CAST(MAX(n_i) AS BIGINT) AS top_count
          FROM c GROUP BY 1)
    SELECT source, n, n_categories, pair_same, top_count,
           CASE WHEN n * (n - 1) > 0
                THEN CAST(n * (n - 1) - pair_same AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE) END AS simpson,
           CAST(top_count AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
    FROM a
    """,
)
def q285(spark, sf_dir):
    """Language-mix concentration per source (llm.report
    .simpson_diversity): unbiased Gini-Simpson diversity and
    Berger-Parker dominance — both EXACT single divisions of int64
    pair counts (the hashable twin of ln-based Shannon entropy),
    the data-card "is one language swamping this source" row."""
    from hadron_spark.llm.report import simpson_diversity

    docs = load(spark, sf_dir, "documents").select("source", "lang")
    return simpson_diversity(docs, "lang", ["source"])


@_register(
    "q286_crosstab_chi2",
    """
    WITH ob AS (SELECT COALESCE(CAST(source AS VARCHAR), '<null>')
                         AS row_cat,
                       COALESCE(CAST(lang AS VARCHAR), '<null>') AS col_cat,
                       CAST(COUNT(*) AS BIGINT) AS o
                FROM documents GROUP BY 1, 2),
    rt AS (SELECT row_cat, CAST(SUM(o) AS BIGINT) AS r_tot
           FROM ob GROUP BY 1),
    ct AS (SELECT col_cat, CAST(SUM(o) AS BIGINT) AS c_tot
           FROM ob GROUP BY 1),
    t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ob),
    f AS (SELECT rt.row_cat, ct.col_cat, COALESCE(ob.o, 0) AS o,
                 r_tot, c_tot, n
          FROM rt CROSS JOIN ct
               LEFT JOIN ob ON ob.row_cat = rt.row_cat
                           AND ob.col_cat = ct.col_cat
               CROSS JOIN t)
    SELECT row_cat, col_cat, o, r_tot, c_tot, n,
           (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))
           * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))
           / (CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)
              * CAST(n AS DOUBLE)) AS chi2_cell
    FROM f
    """,
)
def q286(spark, sf_dir):
    """Source × language independence chi-square per CELL (llm
    .report.crosstab_chi2_cells): the general r×c association test
    whose 2×k special case is q260 — cross-multiplied deviations
    over exact int64 marginals, zero cells included (they still
    contribute expected mass), never float-summed across cells."""
    from hadron_spark.llm.report import crosstab_chi2_cells

    docs = load(spark, sf_dir, "documents")
    return crosstab_chi2_cells(docs, "source", "lang")


@_register(
    "q287_cohort_retention",
    """
    WITH acts AS (SELECT DISTINCT user_id AS e,
                         CAST(date_trunc('day', ts) AS DATE) AS period
                  FROM events),
    f AS (SELECT e, MIN(period) AS cohort FROM acts GROUP BY 1),
    s AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
          FROM f GROUP BY 1),
    cells AS (SELECT cohort, period, CAST(COUNT(*) AS BIGINT) AS n_active
              FROM acts JOIN f USING (e) GROUP BY 1, 2)
    SELECT CAST(cells.cohort AS TIMESTAMP) AS cohort,
           CAST(period AS TIMESTAMP) AS period,
           CAST(date_diff('day', cells.cohort, period) AS BIGINT) AS age,
           n_active, cohort_size,
           CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)
             AS retention
    FROM cells JOIN s ON cells.cohort = s.cohort
    """,
)
def q287(spark, sf_dir):
    """Daily cohort retention matrix (operators.ops
    .cohort_retention) over the event stream (the synthetic events
    span one month, so days are the honest period): cohort = first
    active day per user, one hash-exact cell per (cohort, day) with
    integer age and retention as ONE IEEE division — calendar-exact
    date math, no float time arithmetic; raw events are touched
    twice (first-activity min + distinct pass), everything after is
    matrix-scale."""
    from hadron_spark.operators.ops import cohort_retention

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    out = cohort_retention(ev, "user_id", "ts", "day")
    return out.select(
        F.col("cohort").cast("timestamp").alias("cohort"),
        F.col("period").cast("timestamp").alias("period"),
        "age",
        "n_active",
        "cohort_size",
        "retention",
    )


@_register(
    "q288_interval_join",
    """
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(round(value * 100) AS BIGINT) AS lo,
                      CAST(round(value * 100) AS BIGINT) + event_id % 1000
                        AS hi
               FROM events),
    l AS (SELECT event_id AS l_id, user_id AS l_user, lo AS l_lo,
                 hi AS l_hi
          FROM e WHERE event_type = 'click'),
    r AS (SELECT event_id AS r_id, user_id AS r_user, lo AS r_lo,
                 hi AS r_hi
          FROM e WHERE event_type = 'purchase')
    SELECT l_id, r_id, l_user, l_lo, l_hi, r_lo, r_hi
    FROM l JOIN r ON l_user = r_user AND l_lo <= r_hi AND r_lo <= l_hi
    """,
)
def q288(spark, sf_dir):
    """Banded interval-overlap join (operators.joins.interval_join):
    per-user click value-windows × purchase value-windows that
    overlap — each side explodes onto width-500 bands, the join is
    EQUI on (band, user) with the overlap predicate residual, and
    the canonical-band rule dedups multi-band pairs arithmetically
    (no distinct pass).  The oracle states the same join as a plain
    theta join — band + canon must be invisible in the result:
    hash-exact."""
    from hadron_spark.operators.joins import interval_join

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("lo"),
        (
            F.round(F.col("value") * 100).cast("long")
            + F.col("event_id") % 1000
        ).alias("hi"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        F.col("lo").alias("l_lo"),
        F.col("hi").alias("l_hi"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("lo").alias("r_lo"),
        F.col("hi").alias("r_hi"),
    )
    out = interval_join(
        clicks,
        purch,
        "l_lo",
        "l_hi",
        "r_lo",
        "r_hi",
        band_width=500,
        equi_on=[("l_user", "r_user")],
    )
    return out.select("l_id", "r_id", "l_user", "l_lo", "l_hi", "r_lo", "r_hi")


@_register(
    "q289_common_neighbors",
    """
    WITH m AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
               FROM lineitem),
    e0 AS (SELECT a.s AS src, b.s AS dst
           FROM m a JOIN m b ON a.o = b.o AND a.s < b.s
           GROUP BY 1, 2),
    und AS (SELECT src, dst FROM e0
            UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM und GROUP BY 1),
    pairs AS (SELECT x.dst AS a, y.dst AS b,
                     CAST(COUNT(*) AS BIGINT) AS common
              FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst
              GROUP BY 1, 2
              HAVING COUNT(*) >= 3)
    SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
           CAST(common AS DOUBLE)
             / CAST(da.deg + db.deg - common AS DOUBLE) AS jaccard
    FROM pairs JOIN deg da ON pairs.a = da.node
               JOIN deg db ON pairs.b = db.node
    """,
)
def q289(spark, sf_dir):
    """Link prediction over the supplier co-order graph (operators
    .graph.common_neighbors): common-neighbor counts and
    neighborhood Jaccard for supplier pairs sharing >= 3 co-order
    neighbors — apex wedge join + exact integer counts + ONE IEEE
    division; the output is honestly quadratic in hub degree with
    `max_degree` as the explicit skew valve (inert here — the
    co-order graph's degrees are order-width-bounded)."""
    from hadron_spark.operators.graph import common_neighbors

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    return common_neighbors(edges, min_common=3)


_WP_VOCAB = sorted(
    set(
        [chr(c) for c in range(ord("a"), ord("z") + 1)]
        + ["##" + chr(c) for c in range(ord("a"), ord("z") + 1)]
        + [str(d) for d in range(10)]
        + ["##" + str(d) for d in range(10)]
        + ["the", "##ing", "##ed", "##er", "an", "##tion", "re", "in",
           "on", "at", "##es", "##ly"]
    )
)
_WP_MAXLEN = 4
_WP_VOCAB_SQL = ", ".join("'" + p + "'" for p in _WP_VOCAB)


@_register(
    "q290_wordpiece_encode",
    f"""
    WITH RECURSIVE words AS (
      SELECT doc_id, wpos, w FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(lower(text), '\\s+')) AS w,
               generate_subscripts(
                 string_split_regex(lower(text), '\\s+'), 1) AS wpos
        FROM documents) t
      WHERE w <> ''
    ),
    st AS (
      SELECT doc_id, wpos, w, 1 AS pos,
             CAST([] AS VARCHAR[]) AS toks, FALSE AS bad
      FROM words
      UNION ALL
      SELECT doc_id, wpos, w,
             CASE WHEN bl IS NULL THEN len(w) + 1 ELSE pos + bl END,
             CASE WHEN bl IS NULL THEN toks
                  ELSE list_append(toks, pfx || substr(w, pos, bl)) END,
             bad OR bl IS NULL
      FROM (
        SELECT doc_id, wpos, w, pos, toks, bad,
               CASE WHEN pos = 1 THEN '' ELSE '##' END AS pfx,
               (SELECT MAX(L)
                FROM (SELECT UNNEST(range(1, {_WP_MAXLEN + 1})) AS L) ls
                WHERE (CASE WHEN pos = 1 THEN '' ELSE '##' END
                       || substr(w, pos, L)) IN ({_WP_VOCAB_SQL})) AS bl
        FROM st WHERE pos <= len(w)) u
    ),
    fin AS (SELECT doc_id, wpos,
                   CASE WHEN bad THEN ['[UNK]'] ELSE toks END AS toks
            FROM st WHERE pos > len(w))
    SELECT doc_id, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           string_agg(array_to_string(toks, ' '), ' ' ORDER BY wpos)
             AS tokens_str
    FROM fin GROUP BY 1
    """,
)
def q290(spark, sf_dir):
    """WordPiece greedy encoding (llm.wordpiece.wordpiece_encode)
    of the documents corpus against a fixed published-style vocab
    (singles + continuations + a few merges): the greedy
    longest-match fold runs as a pure Catalyst aggregate over
    DISTINCT WORDS (vocabulary-bounded work, one corpus-scale join
    back), while the oracle states the SAME greedy loop as a
    DuckDB recursive CTE — two entirely different engines walking
    one deterministic recursion to identical token streams:
    hash-exact."""
    from hadron_spark.llm.wordpiece import wordpiece_encode

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = wordpiece_encode(docs, "text", _WP_VOCAB)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", " ").alias("tokens_str"),
    )


@_register(
    "q291_two_proportion",
    """
    WITH e AS (SELECT event_type,
                      CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS s,
                      CASE WHEN CAST(round(value * 100) AS BIGINT) >= 5000
                           THEN 1 ELSE 0 END AS f
               FROM events),
    a AS (SELECT event_type,
                 CAST(COUNT(*) FILTER (WHERE s = 1) AS BIGINT) AS n_new,
                 CAST(SUM(f) FILTER (WHERE s = 1) AS BIGINT) AS k_new,
                 CAST(COUNT(*) FILTER (WHERE s = 0) AS BIGINT) AS n_old,
                 CAST(SUM(f) FILTER (WHERE s = 0) AS BIGINT) AS k_old
          FROM e GROUP BY 1)
    SELECT event_type, n_new, k_new, n_old, k_old,
           CAST(k_new AS DOUBLE) / CAST(n_new AS DOUBLE) AS rate_new,
           CAST(k_old AS DOUBLE) / CAST(n_old AS DOUBLE) AS rate_old,
           CAST(k_new AS DOUBLE) / CAST(n_new AS DOUBLE)
             - CAST(k_old AS DOUBLE) / CAST(n_old AS DOUBLE) AS diff,
           CASE WHEN CAST(k_new + k_old AS DOUBLE)
                       / CAST(n_new + n_old AS DOUBLE)
                     * (1.0 - CAST(k_new + k_old AS DOUBLE)
                              / CAST(n_new + n_old AS DOUBLE))
                     * (1.0 / CAST(n_new AS DOUBLE)
                        + 1.0 / CAST(n_old AS DOUBLE)) > 0
                THEN (CAST(k_new AS DOUBLE) / CAST(n_new AS DOUBLE)
                      - CAST(k_old AS DOUBLE) / CAST(n_old AS DOUBLE))
                     / sqrt(CAST(k_new + k_old AS DOUBLE)
                              / CAST(n_new + n_old AS DOUBLE)
                            * (1.0 - CAST(k_new + k_old AS DOUBLE)
                                     / CAST(n_new + n_old AS DOUBLE))
                            * (1.0 / CAST(n_new AS DOUBLE)
                               + 1.0 / CAST(n_old AS DOUBLE)))
                END AS z
    FROM a
    """,
)
def q291(spark, sf_dir):
    """Two-proportion z-test (operators.robust.two_proportion_test)
    per event type on the even/odd split: did the high-value-event
    rate (>= $50) move — pooled-variance normal z as a fixed IEEE
    chain over exact counts, the A/B primitive completing the
    two-sample tier (q277 shape, q278 location, q291 rate)."""
    from hadron_spark.operators.robust import two_proportion_test

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.round(F.col("value") * 100).cast("long") >= 5000).alias("f"),
    )
    new = ev.filter(F.col("event_id") % 2 == 0)
    old = ev.filter(F.col("event_id") % 2 == 1)
    return two_proportion_test(new, old, "f", ["event_type"])


@_register(
    "q292_lift_table",
    """
    WITH r AS (SELECT doc_id, n_chars,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                      ntile(10) OVER (ORDER BY n_chars DESC, doc_id ASC)
                        AS tile
               FROM documents),
    t AS (SELECT CAST(tile AS INTEGER) AS tile,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS pos
          FROM r GROUP BY 1),
    c AS (SELECT a.tile, a.n, a.pos,
                 CAST(SUM(b.n) AS BIGINT) AS cum_n,
                 CAST(SUM(b.pos) AS BIGINT) AS cum_pos
          FROM t a JOIN t b ON b.tile <= a.tile GROUP BY 1, 2, 3),
    tt AS (SELECT CAST(SUM(n) AS BIGINT) AS N_,
                  CAST(SUM(pos) AS BIGINT) AS P_ FROM t)
    SELECT tile, n, pos, cum_n, cum_pos,
           CASE WHEN P_ > 0
                THEN CAST(cum_pos AS DOUBLE) / CAST(P_ AS DOUBLE)
                END AS capture,
           CASE WHEN P_ > 0 AND cum_n > 0
                THEN CAST(cum_pos * N_ AS DOUBLE)
                     / CAST(cum_n * P_ AS DOUBLE)
                END AS lift
    FROM c, tt
    """,
)
def q292(spark, sf_dir):
    """Decile lift/gains table (llm.evaluation.lift_table) for
    "length predicts English" over documents: global ntile rides
    range_rank's banded two-pass ranking (no single-partition
    window), cumulative counts off the bounded tile triangle, lift
    in the exact cross-product form (cum_pos·N)/(cum_n·P) — the
    oracle states the same table with a plain ntile window."""
    from hadron_spark.llm.evaluation import lift_table

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    out = lift_table(docs, "n_chars", "y", "doc_id", n_buckets=10)
    return out.select(
        F.col("tile").cast("int").alias("tile"),
        "n",
        "pos",
        "cum_n",
        "cum_pos",
        "capture",
        "lift",
    )


@_register(
    "q293_transition_matrix",
    """
    WITH p AS (SELECT user_id, event_type AS from_state,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_state
               FROM events),
    c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS row_total
          FROM c GROUP BY 1)
    SELECT c.from_state, to_state, n, row_total,
           CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS prob
    FROM c JOIN t ON c.from_state = t.from_state
    """,
)
def q293(spark, sf_dir):
    """First-order Markov transition matrix (operators.ops
    .transition_matrix) of user event flows, ordered by (ts,
    event_id) — the deterministic total order the lead window
    needs; exact step counts, row-conditional probabilities as ONE
    IEEE division each."""
    from hadron_spark.operators.ops import transition_matrix

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"])


_CONF_SPINE_SQL = """
    d AS (
      SELECT len(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    s AS (SELECT score, SUM(y) AS n_pos, count(*) AS n_tot
          FROM d GROUP BY score),
    c AS (
      SELECT score,
             CAST(p_all - COALESCE(SUM(n_pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tp,
             CAST((n_all - COALESCE(SUM(n_tot) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               - (p_all - COALESCE(SUM(n_pos) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS BIGINT) AS fp,
             CAST(p_all AS BIGINT) AS p_all, CAST(n_all AS BIGINT) AS n_all
      FROM (SELECT score, n_pos, n_tot,
                   SUM(n_pos) OVER () AS p_all, SUM(n_tot) OVER () AS n_all
            FROM s) t
    )
"""


@_register(
    "q294_confusion_mcc",
    "WITH "
    + _CONF_SPINE_SQL
    + """
    SELECT score AS threshold, tp, fp,
           p_all - tp AS fn,
           (n_all - p_all) - fp AS tn,
           CAST(tp AS DOUBLE) / CAST(p_all AS DOUBLE) AS tpr,
           CAST(fp AS DOUBLE) / CAST(n_all - p_all AS DOUBLE) AS fpr,
           CAST((n_all - p_all) - fp AS DOUBLE)
             / CAST(n_all - p_all AS DOUBLE) AS specificity,
           CASE WHEN p_all > 0 AND n_all - p_all > 0 THEN
             CAST(tp * (n_all - p_all) - fp * p_all AS DOUBLE)
               / CAST(p_all * (n_all - p_all) AS DOUBLE) END AS j,
           CASE WHEN sqrt(CAST(tp + fp AS DOUBLE))
                     * sqrt(CAST(tp + (p_all - tp) AS DOUBLE))
                     * sqrt(CAST(((n_all - p_all) - fp) + fp AS DOUBLE))
                     * sqrt(CAST(((n_all - p_all) - fp) + (p_all - tp)
                            AS DOUBLE)) > 0 THEN
             CAST(tp * ((n_all - p_all) - fp) - fp * (p_all - tp) AS DOUBLE)
               / (sqrt(CAST(tp + fp AS DOUBLE))
                  * sqrt(CAST(tp + (p_all - tp) AS DOUBLE))
                  * sqrt(CAST(((n_all - p_all) - fp) + fp AS DOUBLE))
                  * sqrt(CAST(((n_all - p_all) - fp) + (p_all - tp)
                         AS DOUBLE))) END AS mcc
    FROM c
    """,
)
def q294(spark, sf_dir):
    """Confusion matrix + MCC + Youden J at every observed
    token-count threshold (llm.evaluation.confusion_at_threshold):
    tp/fp/fn/tn exact longs off the shared score spine, J stated as
    ONE division of the int64 cross-product tp·neg − fp·pos (no
    float subtraction), MCC's numerator exact int64 over a
    four-sqrt chain — the imbalance-robust scalars q255's PR table
    doesn't carry, hash-exact."""
    from hadron_spark.llm.evaluation import confusion_at_threshold

    from hadron_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents").select(
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return confusion_at_threshold(docs, "score", "y")


@_register(
    "q295_youden_threshold",
    "WITH "
    + _CONF_SPINE_SQL
    + """,
    ranked AS (
      SELECT score, tp, fp, p_all, n_all,
             tp * (n_all - p_all) - fp * p_all AS j_num
      FROM c
    ),
    best AS (SELECT * FROM ranked
             ORDER BY j_num DESC, score ASC LIMIT 1)
    SELECT score AS threshold, tp, fp,
           p_all - tp AS fn,
           (n_all - p_all) - fp AS tn,
           CASE WHEN p_all > 0 AND n_all - p_all > 0 THEN
             CAST(j_num AS DOUBLE)
               / CAST(p_all * (n_all - p_all) AS DOUBLE) END AS j
    FROM best
    """,
)
def q295(spark, sf_dir):
    """Youden-optimal operating point (llm.evaluation
    .youden_threshold): the cutoff maximizing tpr − fpr, SELECTED in
    exact integers (struct-ordered max over the int64 cross-product,
    ties to the smallest threshold) — a hash-exact argmax, the
    operating point a deployed quality gate actually runs at."""
    from hadron_spark.llm.evaluation import youden_threshold

    from hadron_spark.functions.text import tokenize

    docs = load(spark, sf_dir, "documents").select(
        F.size(tokenize(F.lower(F.col("text")))).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return youden_threshold(docs, "score", "y")


@_register("q296_semantic_dedup_two_level", None)
def q296(spark, sf_dir):
    """Web-scale SemDeDup (llm.dedup.semantic_dedup_two_level): the
    two-level recipe q44's single-level docstring prescribes past
    ~16k·target rows, as real code — coarse distributed k-means
    bounds every cell at max_cell_rows, a seeded in-memory Lloyd's
    fine-clusters each cell inside one applyInPandas group (BLAS
    distance form, deterministic under any partitioning), and the
    shared within-cluster cosine stage resolves keepers on the
    composite (coarse, fine) cluster.  Rows-only BY DESIGN
    (iterative trained state); determinism + planted-duplicate
    exactness pinned in test_llm_ops."""
    from hadron_spark.llm.dedup import semantic_dedup_two_level

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup_two_level(
        emb, max_cell_rows=500, target_cluster_rows=100, threshold=0.98
    )


@_register(
    "q297_quantile_normalize",
    """
    WITH b AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
               FROM documents),
    cnt AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t FROM b GROUP BY 1, 2),
    gs AS (SELECT g, v, t,
                  2 * (SUM(t) OVER (PARTITION BY g ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - t) + t + 1 AS r2
           FROM cnt),
    ng AS (SELECT g, CAST(SUM(t) AS BIGINT) AS ng FROM cnt GROUP BY 1),
    pool AS (SELECT v AS pv,
                    CAST(SUM(pt) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS pc
             FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS pt
                   FROM b GROUP BY 1) q),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM b),
    spec AS (SELECT gs.g, gs.v, gs.t, CAST(gs.r2 AS BIGINT) AS r2,
                    CAST((gs.r2 * N + 2 * ng - 1) // (2 * ng) AS BIGINT)
                      AS target
             FROM gs JOIN ng USING (g), tot)
    SELECT g AS source, v AS n_chars, t AS n, r2,
           target AS target_rank,
           CAST(MIN(pv) AS BIGINT) AS normalized
    FROM spec JOIN pool ON pc >= target
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q297(spark, sf_dir):
    """Cross-source quantile normalization (llm.mixing
    .quantile_normalize) of document lengths: each source's n_chars
    distribution maps onto the pooled distribution by doubled
    tie-average rank — target = ceil(r2·N/(2·n_g)) in pure int64
    cross-multiplication, normalized = the pooled rank-target value
    (percentile_disc semantics, an actual pooled element) — the
    score-harmonization step before one global quality cut across
    heterogeneous crawls.  Hash-exact; the pooled prefix rides
    range_cumsum, never a single-partition window."""
    from hadron_spark.llm.mixing import quantile_normalize

    docs = load(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    return quantile_normalize(docs, "n_chars", "source")


@_register(
    "q298_theil_sen",
    """
    WITH b AS (SELECT l_returnflag AS g,
                      CAST(round(l_quantity) AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) // 200000
                        AS y
               FROM lineitem),
    cells AS (SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM b GROUP BY 1, 2, 3),
    s AS (SELECT a.g, (bb.y - a.y) AS dy, (bb.x - a.x) AS dx,
                 a.c * bb.c AS w,
                 CAST(bb.y - a.y AS DOUBLE) / CAST(bb.x - a.x AS DOUBLE)
                   AS sd
          FROM cells a JOIN cells bb ON a.g = bb.g AND a.x < bb.x),
    c AS (SELECT g, dy, dx, w, sd,
                 SUM(w) OVER (PARTITION BY g ORDER BY sd, dy, dx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(w) OVER (PARTITION BY g) AS wtot FROM s),
    p AS (SELECT g, CAST(wtot AS BIGINT) AS n_pairs,
                 CAST(dy AS BIGINT) AS slope_dy,
                 CAST(dx AS BIGINT) AS slope_dx, sd AS slope,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY sd, dy, dx)
                   AS rn
          FROM c WHERE 2 * cum >= wtot)
    SELECT g AS l_returnflag, n_pairs, slope_dy, slope_dx, slope
    FROM p WHERE rn = 1
    """,
)
def q298(spark, sf_dir):
    """Theil-Sen robust slope (operators.robust.theil_sen_slope) of
    price band vs quantity per returnflag: the weighted median of
    all cell-pair slopes — bounded-cell contract (q282's), lower
    weighted median selected by struct-ordered min after the
    2·cum >= W threshold, slope reported as the exact rational
    (slope_dy, slope_dx) plus the IEEE quotient — hash-exact, the
    robust-regression companion to q280/q282's rank associations."""
    from hadron_spark.operators.robust import theil_sen_slope

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) div 200000"
        ).alias("y"),
    )
    return theil_sen_slope(li, "x", "y", ["l_returnflag"])


@_register(
    "q299_cochran_armitage",
    """
    WITH b AS (SELECT l_linestatus AS g,
                      CAST(round(l_quantity) AS BIGINT) // 10 AS x,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
               FROM lineitem),
    bins AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(y) AS BIGINT) AS r
             FROM b GROUP BY 1, 2),
    a AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n,
                 CAST(SUM(r) AS BIGINT) AS pos,
                 CAST(COUNT(*) AS BIGINT) AS n_doses,
                 CAST(SUM(x * n) AS BIGINT) AS sxn,
                 CAST(SUM(x * r) AS BIGINT) AS sxr,
                 CAST(SUM(x * x * n) AS BIGINT) AS sxxn
          FROM bins GROUP BY 1)
    SELECT g AS l_linestatus, n, pos, n_doses, sxn, sxr, sxxn,
           CASE WHEN CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                     * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(sxxn AS DOUBLE)
                        - CAST(sxn AS DOUBLE) * CAST(sxn AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0
                THEN (CAST(sxr AS DOUBLE)
                      - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                        * CAST(sxn AS DOUBLE))
                     / sqrt(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                            * (1.0 - CAST(pos AS DOUBLE)
                                     / CAST(n AS DOUBLE))
                            * (CAST(sxxn AS DOUBLE)
                               - CAST(sxn AS DOUBLE) * CAST(sxn AS DOUBLE)
                                 / CAST(n AS DOUBLE)))
                END AS z
    FROM a
    """,
)
def q299(spark, sf_dir):
    """Cochran-Armitage trend test (operators.robust
    .cochran_armitage): does the return rate trend with the
    quantity decade bin, per linestatus — the ordered-dose
    sharpening of the r×2 chi-square; five exact int64 sufficient
    statistics into a one-sqrt IEEE chain, hash-exact including z.
    Completes the stats tier's trio of trend statements (Spearman/
    Kendall for two ordinals, CA for ordinal × binary)."""
    from hadron_spark.operators.robust import cochran_armitage

    li = load(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.expr("cast(round(l_quantity) as bigint) div 10").alias("x"),
        (F.col("l_returnflag") == "R").alias("f"),
    )
    return cochran_armitage(li, "x", "f", ["l_linestatus"])


@_register(
    "q300_curated_refresh",
    """
    WITH d AS (SELECT doc_id, COALESCE(lang, '<null>') AS lang, source,
                      CAST(n_chars AS BIGINT) AS v
               FROM documents),
    cnt AS (SELECT source AS g, v, CAST(COUNT(*) AS BIGINT) AS t
            FROM d GROUP BY 1, 2),
    gs AS (SELECT g, v, t,
                  2 * (SUM(t) OVER (PARTITION BY g ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - t) + t + 1 AS rr2
           FROM cnt),
    ng AS (SELECT g, CAST(SUM(t) AS BIGINT) AS ng FROM cnt GROUP BY 1),
    pool AS (SELECT v AS pv,
                    CAST(SUM(pt) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS pc
             FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS pt
                   FROM d GROUP BY 1) q),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
    spec AS (SELECT gs.g, gs.v,
                    CAST((gs.rr2 * nn + 2 * ng - 1) // (2 * ng) AS BIGINT)
                      AS target
             FROM gs JOIN ng USING (g), tt),
    mp AS (SELECT g, v, CAST(MIN(pv) AS BIGINT) AS normalized
           FROM spec JOIN pool ON pc >= target GROUP BY 1, 2),
    s AS (SELECT d.doc_id, d.lang, mp.normalized
          FROM d JOIN mp ON d.source = mp.g AND d.v = mp.v),
    c2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ns FROM s GROUP BY 1),
    t2 AS (SELECT CAST(SUM(ns) AS BIGINT) AS n2 FROM c2),
    q2 AS (SELECT lang, ns, (ns * 120) // n2 AS base,
                  (ns * 120) % n2 AS rem
           FROM c2, t2),
    s2 AS (SELECT CAST(120 - SUM(base) AS BIGINT) AS short FROM q2),
    rnk AS (SELECT lang, base,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk
            FROM q2),
    qt AS (SELECT lang,
                  CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END
                       AS BIGINT) AS quota
           FROM rnk, s2),
    p2 AS (SELECT s.lang, quota, normalized,
                  ROW_NUMBER() OVER (PARTITION BY s.lang
                                     ORDER BY s.doc_id) AS prk
           FROM s JOIN qt ON s.lang = qt.lang)
    SELECT lang, quota, CAST(COUNT(*) AS BIGINT) AS n_sel,
           CAST(SUM(normalized) AS BIGINT) AS sum_norm,
           CAST(SUM(normalized) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_norm
    FROM p2 WHERE prk <= quota GROUP BY 1, 2
    """,
)
def q300(spark, sf_dir):
    """Curated-refresh capstone — this round's tiers composed into
    one auditable selection: per-source document lengths are
    quantile-normalized onto the pooled distribution (q297), exactly
    120 documents are drawn with the language mix preserved by
    largest-remainder apportionment over doc_id order (q283), and
    the selection is accounted per language with its exact
    normalized-length mass.  Every stage is integer-exact, so the
    WHOLE PIPELINE hashes against one chained SQL statement —
    composition preserves the oracle discipline."""
    from hadron_spark.llm.mixing import quantile_normalize, stratified_allocate

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce("lang", F.lit("<null>")).alias("lang"),
        "source",
        F.col("n_chars").cast("long").alias("v"),
    )
    mapping = quantile_normalize(docs, "v", "source")
    scored = docs.join(
        mapping.select(
            F.col("source"), F.col("v"), F.col("normalized")
        ),
        ["source", "v"],
    ).select("doc_id", "lang", "normalized")
    sel = stratified_allocate(scored, ["lang"], 120, order_col="doc_id")
    return sel.groupBy("lang", "quota").agg(
        F.count(F.lit(1)).alias("n_sel"),
        F.sum("normalized").alias("sum_norm"),
        (
            F.sum("normalized").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_norm"),
    )


@_register("q301_wordpiece_train", None)
def q301(spark, sf_dir):
    """Distributed WordPiece training (llm.wordpiece.wordpiece_train,
    VERDICT r4 #2): likelihood-scored merges — argmax of
    cnt/(count(a)·count(b)), the Schuster & Nakajima 2012 rule BPE's
    raw-count argmax approximates — learned over the documents
    corpus.  One corpus wordcount pass, then |word vocab|-bounded
    rounds (pair counts + symbol totals + scored TakeOrdered +
    symbol-disjoint batch fold).  No SQL oracle (iterative, float
    scores); test_wordpiece pins the whole run against a pure-Python
    reference byte-for-byte and round-trips the trained pieces
    through wordpiece_encode."""
    from hadron_spark.llm import wordpiece

    merges, _ = wordpiece.wordpiece_train(
        load(spark, sf_dir, "documents"), num_merges=16
    )
    return spark.createDataFrame(
        [(i, a, b, ab, c) for i, (a, b, ab, c, _s) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_count long",
    )


@_register(
    "q302_bucketize_range_join",
    """
    WITH c AS (SELECT c_custkey,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS pt
               FROM customer),
    s AS (SELECT s_suppkey,
                 CAST(round(s_acctbal * 100) AS BIGINT) - 20000 AS lo,
                 CAST(round(s_acctbal * 100) AS BIGINT) + 20000 AS hi
          FROM supplier)
    SELECT c_custkey, s_suppkey, pt, lo, hi
    FROM c JOIN s ON lo <= pt AND pt <= hi
    """,
)
def q302(spark, sf_dir):
    """Bucketized point-in-interval join with NO equi keys
    (operators.joins.bucketize_range_join, VERDICT r4 #3): customers
    matched to suppliers whose account balance lies within ±200
    currency units — a bare range predicate that a naive plan runs
    as a cartesian / broadcast-nested-loop.  The point side explodes
    onto exactly ONE band; only the interval side pays the span/W
    replication (W=10000 → ≤5 bands per supplier window); the join
    is EQUI on the band with the range residual, and the canonical-
    band rule dedups arithmetically.  The oracle states the plain
    theta join — banding must be invisible: hash-exact."""
    from hadron_spark.operators.joins import bucketize_range_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("pt"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.round(F.col("s_acctbal") * 100).cast("long") - 20000).alias("lo"),
        (F.round(F.col("s_acctbal") * 100).cast("long") + 20000).alias("hi"),
    )
    out = bucketize_range_join(
        cust, supp, "pt", "lo", "hi", band_width=10000
    )
    return out.select("c_custkey", "s_suppkey", "pt", "lo", "hi")


@_register(
    "q303_streaming_transitions",
    """
    WITH p AS (SELECT user_id, event_type AS from_state,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY event_id) AS to_state
               FROM events),
    c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS row_total
          FROM c GROUP BY 1)
    SELECT c.from_state, to_state, n, row_total,
           CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS prob
    FROM c JOIN t ON c.from_state = t.from_state
    """,
)
def q303(spark, sf_dir):
    """Streaming transition-matrix maintenance (streaming.ops
    .incremental_transitions — VERDICT r4 #5): q293's Markov matrix
    kept live over micro-batches.  Transitions are NOT a per-row
    monoid — a step can straddle a batch boundary — so the state
    carries one tail row per entity (last state + order key) besides
    the |states|² counts; under the per-entity ordering contract the
    drained state equals the one-shot lead-window matrix, making
    this a FULL oracle on a stateful streaming op.  The entry chops
    events into three order-range micro-batches and replays them
    through the foreachBatch merge deterministically (the driver's
    file-source batch order is mtime-dependent; the apply-fn drive
    pins the chopping); ordered by event_id — unique, so the window
    order is total.  Failure trio (replay no-op, swap healing,
    stream drive) pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import (
        read_transitions_state,
        transitions_apply_fn,
    )

    work = tempfile.mkdtemp(prefix="q303_")
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("event_id").alias("o")
    )
    cuts = ev.approxQuantile("o", [0.33, 0.66], 0.0)
    state = f"{work}/state"
    apply = transitions_apply_fn(state, "user_id", "event_type", "o")
    apply(ev.filter(F.col("o") <= cuts[0]), 0)
    apply(ev.filter((F.col("o") > cuts[0]) & (F.col("o") <= cuts[1])), 1)
    apply(ev.filter(F.col("o") > cuts[1]), 2)
    result = read_transitions_state(spark, state)
    result = spark.createDataFrame(result.collect(), result.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q304_token_budget_curve",
    r"""
    WITH d AS (SELECT doc_id, n_chars,
                      len(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) AS tok,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
               FROM documents),
    r AS (SELECT doc_id, tok, tok * en AS q,
                 ntile(10) OVER (ORDER BY n_chars DESC, doc_id ASC) AS tile
          FROM d),
    t AS (SELECT CAST(tile AS INTEGER) AS tile,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(tok) AS BIGINT) AS tokens,
                 CAST(SUM(q) AS BIGINT) AS quality
          FROM r GROUP BY 1),
    c AS (SELECT a.tile, a.n_docs, a.tokens, a.quality,
                 CAST(SUM(b.tokens) AS BIGINT) AS cum_tokens,
                 CAST(SUM(b.quality) AS BIGINT) AS cum_quality
          FROM t a JOIN t b ON b.tile <= a.tile GROUP BY 1, 2, 3, 4),
    tt AS (SELECT CAST(SUM(tokens) AS BIGINT) AS T_,
                  CAST(SUM(quality) AS BIGINT) AS Q_ FROM t)
    SELECT tile, n_docs, tokens, quality, cum_tokens, cum_quality,
           CASE WHEN T_ > 0
                THEN CAST(cum_tokens AS DOUBLE) / CAST(T_ AS DOUBLE)
                END AS token_share,
           CASE WHEN Q_ > 0
                THEN CAST(cum_quality AS DOUBLE) / CAST(Q_ AS DOUBLE)
                END AS quality_capture,
           CASE WHEN Q_ > 0 AND cum_tokens > 0
                THEN CAST(cum_quality * T_ AS DOUBLE)
                     / CAST(cum_tokens * Q_ AS DOUBLE)
                END AS lift
    FROM c, tt
    """,
)
def q304(spark, sf_dir):
    """Token-budget gains curve (llm.evaluation.token_budget_curve,
    VERDICT r4 #7): documents ranked by length, token mass as the
    budget axis, English-token mass as the quality axis — "spending
    the top-x% of tokens by this scorer captures y% of the quality
    mass at lift z".  Deciles ride range_rank's banded two-pass
    ntile; cumulatives off the bounded tile triangle; every double
    ONE IEEE division of exact longs.  The oracle states the same
    curve with a plain ntile window.  The curve SIZES a budget;
    `mixing.select_token_budget` then materializes the exact prefix
    (composition driven in examples/token_budget.py)."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm.evaluation import token_budget_curve

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        token_count(F.col("text")).alias("tok"),
        F.when(F.col("lang") == "en", token_count(F.col("text")))
        .otherwise(0)
        .alias("q"),
    )
    out = token_budget_curve(
        docs, "n_chars", "tok", "q", "doc_id", n_buckets=10
    )
    return out.select(
        F.col("tile").cast("int").alias("tile"),
        "n_docs", "tokens", "quality", "cum_tokens", "cum_quality",
        "token_share", "quality_capture", "lift",
    )


@_register(
    "q305_hilbert_value",
    """
    WITH RECURSIVE h AS (
      SELECT c_custkey,
             CAST(c_custkey AS BIGINT) & 1023 AS hx,
             CAST(c_nationkey AS BIGINT) & 1023 AS hy,
             CAST(0 AS BIGINT) AS d, 9 AS i
      FROM customer
      UNION ALL
      SELECT c_custkey,
        CASE WHEN ((hy >> i) & 1) = 0
             THEN (CASE WHEN ((hx >> i) & 1) = 1
                        THEN 1023 - hy ELSE hy END)
             ELSE hx END,
        CASE WHEN ((hy >> i) & 1) = 0
             THEN (CASE WHEN ((hx >> i) & 1) = 1
                        THEN 1023 - hx ELSE hx END)
             ELSE hy END,
        d + (CAST(1 AS BIGINT) << (2 * i))
          * xor(3 * ((hx >> i) & 1), (hy >> i) & 1),
        i - 1
      FROM h WHERE i >= 0
    )
    SELECT c_custkey, CAST(d AS BIGINT) AS hval FROM h WHERE i = -1
    """,
)
def q305(spark, sf_dir):
    """Hilbert-curve clustering value (sources.layout.hilbert_value —
    VERDICT r4 missing #4): q78's Z-order pair with the curve that
    never jumps — consecutive distances are grid-adjacent, so
    equal-size d-ranges have strictly tighter 2-D bounding boxes and
    better row-group min/max pruning.  The per-level reflect+swap
    walk carries state, so the Spark side is ONE SQL aggregate fold
    over the bit levels (q290's pattern) and the oracle walks the
    SAME loop as a recursive CTE — hash-exact."""
    from hadron_spark.sources.layout import hilbert_value

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        hilbert_value("c_custkey", "c_nationkey", bits=10).alias("hval"),
    )


@_register("q306_streaming_near_dup", None)
def q306(spark, sf_dir):
    """Streaming MinHash-LSH ingest dedup gate (streaming.ops
    .incremental_near_dup): documents arrive in three micro-batches;
    each batch is deduped against the admitted corpus via the
    persisted signature store (first arrival wins), then self-deduped
    — the batch `minhash_dedup_incremental` pattern with the
    exactly-once trio and NEVER-REWRITTEN per-batch state partitions
    (the store grows with the corpus; only the tiny HWM marker
    swaps).  Rows-only (LSH banding is approximate); the planted-
    duplicate exactness, replay no-op, and mid-commit crash heal are
    pinned in test_streaming."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import neardup_apply_fn, read_neardup_kept

    work = tempfile.mkdtemp(prefix="q306_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    state = f"{work}/state"
    apply = neardup_apply_fn(state, threshold=0.7)
    for b in range(3):
        apply(docs.filter(F.col("doc_id") % 3 == b), b)
    kept = read_neardup_kept(spark, state).select("doc_id")
    result = spark.createDataFrame(kept.collect(), kept.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q307_anova_oneway",
    """
    WITH cells AS (
      SELECT l_returnflag AS gk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS s_,
             CAST(SUM(q) AS BIGINT) AS q_,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(gk := gk, s := s, n := n))),
                 x -> CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
                      / CAST(x.n AS DOUBLE)),
               (acc, v) -> acc + v) AS a
      FROM cells)
    SELECT k, n,
           a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE)
             AS ss_between,
           (CAST(q_ AS DOUBLE)
              - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
             - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS ss_within,
           CASE WHEN k > 1 AND n > k AND
                     (CAST(q_ AS DOUBLE) - CAST(s_ AS DOUBLE)
                        * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
                     - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0
                THEN ((a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                         / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                     / (((CAST(q_ AS DOUBLE) - CAST(s_ AS DOUBLE)
                            * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
                         - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                              / CAST(n AS DOUBLE)))
                        / CAST(n - k AS DOUBLE))
                END AS f
    FROM agg
    """,
)
def q307(spark, sf_dir):
    """One-way ANOVA F (operators.robust.anova_oneway): does order
    quantity differ across return flags — the k-group generalization
    of the two-sample tier, FULLY hash-exact: exact int64 sufficient
    statistics, and the one order-sensitive float term (Σ S_g²/n_g)
    folds over the group-key-SORTED struct array so both engines add
    in the same left-to-right IEEE order (the oracle mirrors with
    list_reduce ∘ list_sort — a bare SUM() of doubles would be
    partition-order-dependent)."""
    from hadron_spark.operators.robust import anova_oneway

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return anova_oneway(li, "qty", "l_returnflag")


@_register(
    "q308_kruskal_wallis",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    spine AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM v GROUP BY 1),
    rk AS (
      SELECT y, t,
             2 * (SUM(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
               + t + 1 AS r2
      FROM spine),
    cells AS (
      SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    grp AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * r2) AS BIGINT) AS r2g
      FROM cells JOIN rk USING (y) GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(g := g, r2g := r2g, n := n))),
                 x -> CAST(x.r2g AS DOUBLE) * CAST(x.r2g AS DOUBLE)
                      / CAST(x.n AS DOUBLE)),
               (acc, x) -> acc + x) AS a
      FROM grp),
    ties AS (
      -- HUGEINT intermediates mirror the Spark side's DECIMAL(38,0):
      -- int64 t*t*t would overflow at t >= 2,097,152
      SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tsum FROM spine)
    SELECT k, n,
           3.0 * a / CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE)
             - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
           1.0 - CAST(tsum AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)
             AS tie_correction,
           CASE WHEN k > 1 AND
                     1.0 - CAST(tsum AS DOUBLE)
                         / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE) > 0
                THEN (3.0 * a / CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE)
                        - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                     / (1.0 - CAST(tsum AS DOUBLE)
                            / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE))
                END AS h_corrected
    FROM agg, ties
    """,
)
def q308(spark, sf_dir):
    """Kruskal–Wallis H (operators.robust.kruskal_wallis): do event
    values differ in DISTRIBUTION across event types — the rank-based
    k-group one-way ANOVA (mann_whitney's k-group generalization),
    FULLY hash-exact: doubled average ranks on the distinct-value
    spine are exact int64, tie terms exact, and Σ R2_g²/n_g folds
    over the group-key-sorted array in fixed IEEE order (the q307
    sorted-fold rule; oracle mirrors with list_reduce ∘ list_sort)."""
    from hadron_spark.operators.robust import kruskal_wallis

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return kruskal_wallis(ev, "cents", "event_type")


@_register(
    "q309_brown_forsythe",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    med AS (SELECT g, CAST(median(y * 2) AS BIGINT) AS m2
            FROM v GROUP BY 1),
    z AS (SELECT v.g, abs(y * 2 - m2) AS z FROM v JOIN med ON v.g = med.g),
    cells AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS BIGINT) AS s,
             CAST(SUM(z * z) AS BIGINT) AS q
      FROM z GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS s_,
             CAST(SUM(q) AS BIGINT) AS q_,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(g := g, s := s, n := n))),
                 x -> CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
                      / CAST(x.n AS DOUBLE)),
               (acc, x) -> acc + x) AS a
      FROM cells)
    SELECT k, n,
           a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE)
             AS ss_between,
           (CAST(q_ AS DOUBLE)
              - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
             - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS ss_within,
           CASE WHEN k > 1 AND n > k AND
                     (CAST(q_ AS DOUBLE) - CAST(s_ AS DOUBLE)
                        * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
                     - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0
                THEN ((a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                         / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                     / (((CAST(q_ AS DOUBLE) - CAST(s_ AS DOUBLE)
                            * CAST(s_ AS DOUBLE) / CAST(n AS DOUBLE))
                         - (a - CAST(s_ AS DOUBLE) * CAST(s_ AS DOUBLE)
                              / CAST(n AS DOUBLE)))
                        / CAST(n - k AS DOUBLE))
                END AS f
    FROM agg
    """,
)
def q309(spark, sf_dir):
    """Brown–Forsythe variance-homogeneity F (operators.robust
    .brown_forsythe): may event-value variances be pooled across
    event types — robust Levene (deviations from group MEDIANS),
    exactly the q307 ANOVA run on the ×2-lifted absolute deviations
    (medians of ints are half-integers; the lift keeps z exact
    int64, and F is scale-invariant so the statistic is the textbook
    value).  Same sorted-fold hash-exactness; oracle = the same
    median → z → ANOVA chain."""
    from hadron_spark.operators.robust import brown_forsythe

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return brown_forsythe(ev, "cents", "event_type")


@_register(
    "q310_mcnemar",
    r"""
    WITH p AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CASE WHEN n_chars >= 280 THEN 1 ELSE 0 END AS pa,
             CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> '')) >= 45
                  THEN 1 ELSE 0 END AS pb
      FROM documents),
    d AS (
      SELECT CASE WHEN pa = y THEN 1 ELSE 0 END AS aok,
             CASE WHEN pb = y THEN 1 ELSE 0 END AS bok
      FROM p),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(aok * bok + (1 - aok) * (1 - bok)) AS BIGINT)
               AS n_concordant,
             CAST(SUM(aok * (1 - bok)) AS BIGINT) AS b,
             CAST(SUM((1 - aok) * bok) AS BIGINT) AS c
      FROM d)
    SELECT n, n_concordant, b, c,
           CASE WHEN b + c > 0
                THEN CAST((b - c) * (b - c) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) END AS chi2,
           CASE WHEN b + c > 0
                THEN CAST(greatest(abs(b - c) - 1, 0)
                          * greatest(abs(b - c) - 1, 0) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) END AS chi2_cc
    FROM agg
    """,
)
def q310(spark, sf_dir):
    """McNemar's paired test (llm.evaluation.mcnemar): two
    length-based "is it English" classifiers scored on the SAME
    documents — paired predictions are not independent samples, so
    significance rides the discordant-pair counts b/c only.  Exact
    int64 counts, each statistic one IEEE division, zero-discordance
    NULL guard — hash-exact FULL oracle."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.llm.evaluation import mcnemar

    docs = load(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.when(F.col("n_chars") >= 280, 1).otherwise(0).alias("pa"),
        F.when(token_count(F.col("text")) >= 45, 1).otherwise(0).alias("pb"),
    )
    return mcnemar(docs, "pa", "pb", "y")


@_register(
    "q311_blockword_filter",
    r"""
    WITH h AS (
      SELECT doc_id, source,
             len(list_filter(
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> ''),
               x -> list_contains(['alpha', 'omega'], x))) AS hits
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM h WHERE hits = 0 GROUP BY source
    """,
)
def q311(spark, sf_dir):
    """C4-style word-blocklist gate (llm.filters.blockword_filter):
    documents containing any blocklisted whole token are dropped
    (token-boundary matching — substrings never hit), surviving
    counts per source.  The fixture list is two corpus words
    standing in for the caller-supplied policy list; both physical
    modes (literal InSet / broadcast semi-join) are decision-
    identical by test, the query runs the literal mode.  FULL
    oracle."""
    from hadron_spark.llm.filters import blockword_filter

    docs = load(spark, sf_dir, "documents")
    kept = blockword_filter(docs, ["alpha", "omega"])
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@_register(
    "q312_friedman",
    r"""
    WITH long_form AS (
      SELECT doc_id AS b, 'chars' AS t, CAST(n_chars AS BIGINT) AS y
      FROM documents
      UNION ALL
      SELECT doc_id, 'tokens',
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) * 6 AS BIGINT)
      FROM documents
      UNION ALL
      SELECT doc_id, 'lines',
             CAST((length(text) - length(replace(text, '.', '')))
                  * 40 AS BIGINT)
      FROM documents),
    ranked AS (
      SELECT b, t,
             2 * RANK() OVER (PARTITION BY b ORDER BY y)
               + COUNT(*) OVER (PARTITION BY b, y) - 1 AS r2
      FROM long_form),
    tr AS (SELECT t, CAST(SUM(r2) AS BIGINT) AS r2j FROM ranked GROUP BY 1),
    tot AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n,
                   CAST(SUM(r2 * r2) AS BIGINT) AS a2
            FROM ranked),
    agg AS (
      SELECT CAST(3 AS BIGINT) AS k, n, a2,
             CAST(SUM(CAST((r2j - n * 4) AS DECIMAL(38,0))
                      * CAST((r2j - n * 4) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS num
      FROM tr, tot GROUP BY n, a2)
    SELECT k, n, CAST(0 AS BIGINT) AS n_blocks_dropped,
           CASE WHEN a2 - n * k * 16 > 0
                THEN 2.0 * CAST(num AS DOUBLE)
                     / CAST(a2 - n * k * 16 AS DOUBLE) END AS chi2,
           CASE WHEN a2 - n * k * 16 > 0
                THEN (2.0 * CAST(num AS DOUBLE)
                      / CAST(a2 - n * k * 16 AS DOUBLE))
                     / CAST(n * 2 AS DOUBLE) END AS kendall_w
    FROM agg
    """,
)
def q312(spark, sf_dir):
    """Friedman test (operators.robust.friedman): three deterministic
    per-document "scorers" (char count, scaled token count, scaled
    sentence-period count) ranked WITHIN each document — do the
    scorers rank documents' bulk differently, the k-model
    repeated-measures question mcnemar answers for binary decisions.
    Ranks double to exact int64 (tie runs share 2·RANK + t_eq − 1),
    the tie-corrected chi² is one IEEE division over a DECIMAL(38,0)
    numerator and exact int64 denominator, Kendall's W rides along.
    Every block is complete by construction (the three scores derive
    from the same row) — the oracle states the same doubled-rank
    algebra with k=4−1... k=3 folded into literals."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.operators.robust import friedman

    docs = load(spark, sf_dir, "documents")
    # one scan, not three (optimization r07, guide §6.1): the
    # long-form used a 3-branch union that re-scanned documents per
    # scorer; an in-row explode of the 3 (t, y) structs emits the
    # identical rows off a single pass
    lf = docs.select(
        F.col("doc_id").alias("b"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("chars").alias("t"),
                    F.col("n_chars").cast("long").alias("y"),
                ),
                F.struct(
                    F.lit("tokens").alias("t"),
                    (token_count(F.col("text")) * 6).cast("long").alias("y"),
                ),
                F.struct(
                    F.lit("lines").alias("t"),
                    (
                        (
                            F.length("text")
                            - F.length(F.replace(F.col("text"), F.lit(".")))
                        )
                        * 40
                    ).cast("long").alias("y"),
                ),
            )
        ).alias("_ty"),
    ).select("b", F.col("_ty.t").alias("t"), F.col("_ty.y").alias("y"))
    return friedman(lf, "b", "t", "y")


@_register(
    "q313_page_trend",
    r"""
    WITH long_form AS (
      SELECT doc_id AS b, 'chars' AS t, CAST(n_chars AS BIGINT) AS y
      FROM documents
      UNION ALL
      SELECT doc_id, 'tokens',
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) * 6 AS BIGINT)
      FROM documents
      UNION ALL
      SELECT doc_id, 'lines',
             CAST((length(text) - length(replace(text, '.', '')))
                  * 40 AS BIGINT)
      FROM documents),
    pos AS (
      SELECT t, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS c
      FROM (SELECT DISTINCT t FROM long_form)),
    ranked AS (
      SELECT b, t,
             2 * RANK() OVER (PARTITION BY b ORDER BY y)
               + COUNT(*) OVER (PARTITION BY b, y) - 1 AS r2
      FROM long_form),
    tot AS (
      SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n,
             SUM(CAST(c AS HUGEINT) * r2) AS l2
      FROM ranked JOIN pos USING (t))
    SELECT CAST(3 AS BIGINT) AS k, n,
           CAST(0 AS BIGINT) AS n_blocks_dropped,
           CAST(l2 AS DOUBLE) / 2.0 AS l,
           CAST(6 * l2 - 144 * n AS DOUBLE)
             / sqrt(CAST(288 * n AS DOUBLE)) AS z
    FROM tot
    """,
)
def q313(spark, sf_dir):
    """Page's trend test (operators.robust.page_trend): do the q312
    scorers' values rise in the HYPOTHESIZED (alphabetical) treatment
    order — the ordered-alternative repeated-measures question
    friedman can't answer with power.  Doubled within-block ranks are
    exact integers, L2 sums in DECIMAL(38,0), and the z-score is the
    6x-scaled all-integer form (6·L2 − 3nk(k+1)²)/sqrt(nk²(k+1)(k²−1))
    — one bit-stable sqrt + one IEEE division, hash-exact FULL oracle
    (constants folded for k=3: 144n and 288n)."""
    from hadron_spark.functions.text import token_count
    from hadron_spark.operators.robust import page_trend

    docs = load(spark, sf_dir, "documents")
    # one scan, not three — same in-row explode as q312 (r07)
    lf = docs.select(
        F.col("doc_id").alias("b"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("chars").alias("t"),
                    F.col("n_chars").cast("long").alias("y"),
                ),
                F.struct(
                    F.lit("tokens").alias("t"),
                    (token_count(F.col("text")) * 6).cast("long").alias("y"),
                ),
                F.struct(
                    F.lit("lines").alias("t"),
                    (
                        (
                            F.length("text")
                            - F.length(F.replace(F.col("text"), F.lit(".")))
                        )
                        * 40
                    ).cast("long").alias("y"),
                ),
            )
        ).alias("_ty"),
    ).select("b", F.col("_ty.t").alias("t"), F.col("_ty.y").alias("y"))
    return page_trend(lf, "b", "t", "y")


@_register("q314_bpe_bytelevel", None)
def q314(spark, sf_dir):
    """Byte-level BPE (llm.bpe mode='byte'): train on the documents
    corpus over the UTF-8 hex-pair byte alphabet (the GPT-family
    production mode — no [UNK] reachable by construction, any input
    is a byte sequence), then re-encode the corpus words and return
    per-source totals plus the decoded-roundtrip check column.
    Rows-only (iterative training); the lossless/no-UNK property and
    pure-Python merge parity are pinned in test_bpe (hypothesis
    round-trip over arbitrary unicode)."""
    from hadron_spark.llm import bpe

    docs = load(spark, sf_dir, "documents")
    merges, _ = bpe.bpe_train(docs, num_merges=16, mode="byte")
    enc = bpe.bpe_encode_table(docs, merges, mode="byte")
    # decode-roundtrip inside the engine: unhex(concat(toks)) == word
    return (
        enc.withColumn(
            "roundtrip_ok",
            F.decode(
                F.unhex(F.concat_ws("", F.col("toks"))), "UTF-8"
            ) == F.col("word"),
        )
        .groupBy("roundtrip_ok")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.size("toks")).cast("long").alias("n_pieces"),
            F.sum("n").cast("long").alias("n_occurrences"),
        )
        .orderBy("roundtrip_ok")
    )


@_register(
    "q315_jonckheere_terpstra",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    pos AS (SELECT g, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS c
            FROM (SELECT DISTINCT g FROM v)),
    cells AS (SELECT c, y, CAST(COUNT(*) AS BIGINT) AS n
              FROM v JOIN pos USING (g) GROUP BY 1, 2),
    spine AS (SELECT y, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY 1),
    grid AS (SELECT s.y, p.c
             FROM spine s CROSS JOIN (SELECT DISTINCT c FROM cells) p),
    gcells AS (SELECT g.c, g.y, COALESCE(cl.n, 0) AS n
               FROM grid g LEFT JOIN cells cl
                 ON g.c = cl.c AND g.y = cl.y),
    gcum AS (SELECT c, y, n,
                    COALESCE(SUM(n) OVER (PARTITION BY c ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS below
             FROM gcells),
    jt AS (SELECT COALESCE(SUM(CAST(a.n AS HUGEINT)
                               * (2 * e.below + e.n)), 0) AS jt2
           FROM cells a JOIN gcum e ON a.y = e.y AND e.c < a.c),
    gtot AS (SELECT c, CAST(SUM(n) AS BIGINT) AS ni FROM cells GROUP BY 1),
    gm AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  CAST(SUM(ni) AS BIGINT) AS n,
                  SUM(CAST(ni AS HUGEINT) * ni) AS sn2,
                  SUM(CAST(ni AS HUGEINT) * (ni - 1) * (2 * ni + 5)) AS sn_a,
                  SUM(CAST(ni AS HUGEINT) * (ni - 1) * (ni - 2)) AS sn_b,
                  SUM(CAST(ni AS HUGEINT) * (ni - 1)) AS sn_c
           FROM gtot),
    tm AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st_a,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st_b,
                  SUM(CAST(t AS HUGEINT) * (t - 1)) AS st_c
           FROM spine)
    SELECT k, n,
           CAST(jt2 AS DOUBLE) / 2.0 AS jt,
           CAST(2 * jt2 - (CAST(n AS HUGEINT) * n - sn2) AS DOUBLE)
             / (4.0 * sqrt(
                 CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                      - sn_a - st_a AS DOUBLE) / 72.0
                 + CAST(sn_b * st_b AS DOUBLE)
                   / CAST(36 * CAST(n AS HUGEINT) * (n - 1) * (n - 2)
                          AS DOUBLE)
                 + CAST(sn_c * st_c AS DOUBLE)
                   / CAST(8 * CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))) AS z
    FROM jt, gm, tm
    """,
)
def q315(spark, sf_dir):
    """Jonckheere-Terpstra ordered-alternative test (operators.robust
    .jonckheere_terpstra): do event values RISE across event types in
    their natural label order - page_trend's independent-samples
    sibling (kruskal_wallis answers the same design only
    non-directionally).  Doubled statistic JT2 over the (group,
    value) cell table with per-group spine cumulatives, exact
    DECIMAL/HUGEINT integer terms everywhere, the Hollander-Wolfe
    tie-corrected variance as three correctly-rounded divisions
    summed in fixed order, one bit-stable sqrt - hash-exact FULL
    oracle."""
    from hadron_spark.operators.robust import jonckheere_terpstra

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return jonckheere_terpstra(ev, "cents", "event_type")


@_register("q316_minhash_dedup_transitive", None)
def q316(spark, sf_dir):
    """TRUE single-link MinHash dedup (llm.dedup.minhash_dedup
    transitive=True): candidate pairs feed connected_components and
    exactly the min doc_id survives per near-dup cluster -- the
    union-find-over-LSH-matches semantics of production web-dedup
    (the default one-round keeper can over-delete and under-merge on
    chains).  Rows-only (LSH banding + iterative CC); the
    keeper-equals-python-union-find contract is pinned in
    test_llm_ops."""
    from hadron_spark.llm.dedup import minhash_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    kept = minhash_dedup(docs, threshold=0.7, transitive=True)
    return kept.select("doc_id").orderBy("doc_id")


@_register(
    "q317_chunk_text",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    t2 AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
    ch AS (
      SELECT doc_id, tk, n,
             unnest(range(0, CASE WHEN n <= 16 THEN 1
                                  ELSE 2 + (n - 16 - 1) // 12 END)) AS j
      FROM t2)
    SELECT doc_id, CAST(j AS INT) AS chunk_id,
           CAST(j * 12 AS INT) AS start_token,
           CAST(least(16, n - j * 12) AS INT) AS n_tokens,
           array_to_string(list_slice(tk, j * 12 + 1, j * 12 + 16),
                           ' ') AS chunk
    FROM ch
    """,
)
def q317(spark, sf_dir):
    """Sliding-window document chunking (llm.packing.chunk_text_tokens): the
    retrieval/RAG prep step -- 16-token windows every 12 tokens (4
    overlapping) per document, boundaries respected (pack_sequences
    is the cross-document pretraining packer; retrieval chunks must
    not straddle documents).  One narrow per-row sequence() explode,
    zero shuffle, all integer position arithmetic (ceil stated as
    integer div) -- hash-exact FULL oracle."""
    from hadron_spark.llm.packing import chunk_text_tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text_tokens(docs, chunk_tokens=16, overlap_tokens=4)


@_register(
    "q318_dunn_posthoc",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    cells AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM v GROUP BY 1, 2),
    spine AS (SELECT y, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    rk AS (
      SELECT y, t,
             2 * (SUM(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
               + t + 1 AS r2
      FROM spine),
    grp AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * r2) AS BIGINT) AS r2g
            FROM cells JOIN rk USING (y) GROUP BY 1),
    tot AS (SELECT CAST(SUM(t) AS BIGINT) AS nn,
                   SUM(CAST(t AS HUGEINT) * t * t - t) AS tt
            FROM spine)
    SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           CAST(a.r2g AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE))
             AS mean_rank_a,
           CAST(b.r2g AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE))
             AS mean_rank_b,
           CASE WHEN CAST(nn AS HUGEINT) * (nn + 1) * (nn - 1) - tt > 0
                THEN CAST(CAST(a.r2g AS HUGEINT) * b.n
                          - CAST(b.r2g AS HUGEINT) * a.n AS DOUBLE)
                     * sqrt(CAST(3 * (CAST(nn AS HUGEINT) - 1) AS DOUBLE)
                            / CAST(CAST(a.n AS HUGEINT) * b.n
                                   * (a.n + b.n)
                                   * (CAST(nn AS HUGEINT) * (nn + 1)
                                      * (nn - 1) - tt) AS DOUBLE))
                END AS z
    FROM grp a JOIN grp b ON a.g < b.g, tot
    """,
)
def q318(spark, sf_dir):
    """Dunn's post-hoc pairwise test (operators.robust.dunn_test):
    WHICH event-type pairs differ once q308's Kruskal-Wallis rejects
    -- pooled-midrank z per pair with the KW tie correction (pairwise
    mann_whitney would use the wrong ranks AND the wrong variance).
    All-integer Delta = R2_a*n_b - R2_b*n_a and radicand terms, one
    inner division, one bit-stable sqrt, one multiply -- hash-exact
    FULL oracle over k(k-1)/2 bounded pair rows."""
    from hadron_spark.operators.robust import dunn_test

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return dunn_test(ev, "cents", "event_type")


@_register(
    "q319_cliffs_delta",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    cells AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS n
              FROM v GROUP BY 1, 2),
    spine AS (SELECT DISTINCT y FROM cells),
    grid AS (SELECT s.y, p.g
             FROM spine s CROSS JOIN (SELECT DISTINCT g FROM cells) p),
    gcells AS (SELECT g.g, g.y, COALESCE(c.n, 0) AS n
               FROM grid g LEFT JOIN cells c
                 ON g.g = c.g AND g.y = c.y),
    gcum AS (SELECT g AS ga, y, n AS eq,
                    COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS below
             FROM gcells),
    terms AS (
      SELECT a.ga AS group_a, b.g AS group_b,
             SUM(CAST(b.n AS HUGEINT) * a.below) AS gt,
             SUM(CAST(b.n AS HUGEINT) * a.eq) AS eqs
      FROM cells b JOIN gcum a ON b.y = a.y AND a.ga < b.g
      GROUP BY 1, 2),
    gtot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cells GROUP BY 1)
    SELECT t.group_a, t.group_b, na.ng AS n_a, nb.ng AS n_b,
           CAST(2 * gt + eqs - CAST(na.ng AS HUGEINT) * nb.ng AS DOUBLE)
             / CAST(CAST(na.ng AS HUGEINT) * nb.ng AS DOUBLE) AS delta
    FROM terms t
    JOIN gtot na ON na.g = t.group_a
    JOIN gtot nb ON nb.g = t.group_b
    """,
)
def q319(spark, sf_dir):
    """Cliff's delta effect size per event-type pair (operators
    .robust.cliffs_delta): HOW MUCH one arm's values dominate
    another's -- the number that gates decisions at corpus scale,
    where every difference is 'significant'.  GT/EQ cross-pair counts
    exact off the (group, value) cell table via per-group spine
    cumulatives (never an all-pairs join), delta = ONE IEEE division
    -- hash-exact FULL oracle over bounded pair rows."""
    from hadron_spark.operators.robust import cliffs_delta

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cliffs_delta(ev, "cents", "event_type")


def _poisson_case_sql() -> str:
    from hadron_spark.operators.robust import poisson1_cdf_thresholds

    th = poisson1_cdf_thresholds()
    whens = " ".join(f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(th))
    return f"CASE {whens} ELSE {len(th)} END"


@_register(
    "q320_bootstrap_ci",
    f"""
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, source AS g,
             CAST(n_chars AS BIGINT) AS y
      FROM documents),
    overall AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
      FROM base GROUP BY 1),
    drawn AS (
      SELECT g, y, r,
             (('0x' || substr(md5(id || ':' || CAST(r AS VARCHAR)
                                  || ':5'), 1, 13))::BIGINT)
               / 4503599627370496.0 AS u
      FROM base, range(1, 65) t(r)),
    weighted AS (
      SELECT g, r, {{PCASE}} AS w, y FROM drawn),
    reps AS (
      SELECT g, r, CAST(SUM(w) AS BIGINT) AS sw,
             CAST(SUM(w * y) AS BIGINT) AS swy
      FROM weighted GROUP BY 1, 2 HAVING SUM(w) > 0),
    means AS (
      SELECT g, CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) AS m FROM reps),
    agg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_boot_eff,
             list_sort(list(m)) AS ms
      FROM means GROUP BY 1)
    SELECT a.g AS source, o.n, o.mean, a.n_boot_eff,
           ms[CAST(greatest(1, (n_boot_eff + 19) // 20) AS INT)] AS ci_lo,
           ms[CAST(least(n_boot_eff, (n_boot_eff * 19 + 19) // 20) AS INT)]
             AS ci_hi
    FROM agg a JOIN overall o ON a.g = o.g
    """.replace("{PCASE}", _poisson_case_sql()),
)
def q320(spark, sf_dir):
    """Deterministic Poisson-bootstrap CI for the mean doc length per
    source (operators.robust.bootstrap_ci_mean, Chamandy et al. 2012):
    every row enters replicate r with a Poisson(1) weight derived
    from md5(id, r, seed) -- 52 uniform bits against LITERAL inverse-
    CDF thresholds (no exp() at runtime, the oracle embeds the
    identical double literals via the shared threshold function),
    replicate means = one int64/int64 division each, percentile picks
    by INTEGER index math.  Hash-exact FULL oracle for a resampling
    procedure -- no RNG state anywhere."""
    from hadron_spark.operators.robust import bootstrap_ci_mean

    docs = load(spark, sf_dir, "documents")
    return bootstrap_ci_mean(
        docs, "n_chars", "doc_id", n_boot=64, alpha=0.1, seed=5,
        group_cols=["source"],
    )


@_register(
    "q321_brier_score",
    """
    WITH p AS (
      SELECT source,
             least(100, CAST(n_chars // 10 AS BIGINT)) AS u,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((u - y * 100) * (u - y * 100)) AS BIGINT) AS brier_num,
           CAST(SUM((u - y * 100) * (u - y * 100)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 10000.0) AS brier
    FROM p GROUP BY 1
    """,
)
def q321(spark, sf_dir):
    """Brier score per source (llm.evaluation.brier_score): the
    proper-scoring-rule companion to q-ECE -- a length-derived
    'is it English' confidence in integer percent units scored
    against the label; squared terms sum in DECIMAL(38,0), ONE IEEE
    division -- hash-exact FULL oracle."""
    from hadron_spark.llm.evaluation import brier_score

    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.least(F.lit(100), F.expr("n_chars div 10")).alias("u"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return brier_score(docs, "u", "y", scale=100, group_cols=["source"])


@_register(
    "q322_seasonal_decompose",
    """
    WITH d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    b AS (
      SELECT g, day, y,
             CAST((row_number() OVER (PARTITION BY g ORDER BY day) - 1) % 7
                  AS INT) AS phase,
             CAST(SUM(y) OVER fr AS BIGINT) AS s,
             CAST(COUNT(*) OVER fr AS BIGINT) AS cnt
      FROM d
      WINDOW fr AS (PARTITION BY g ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    raws AS (
      SELECT g, phase, CAST(COUNT(*) AS BIGINT) AS nj,
             CAST(SUM(y * 7 - s) AS BIGINT) AS num
      FROM b WHERE cnt = 7 GROUP BY 1, 2),
    r2 AS (
      SELECT g, phase,
             CAST(num AS DOUBLE) / CAST(nj * 7 AS DOUBLE) AS raw
      FROM raws),
    cent AS (
      SELECT g,
             list_sort(list(struct_pack(phase := phase, raw := raw))) AS ps
      FROM r2 GROUP BY 1),
    seas AS (
      SELECT g, u.phase AS phase, u.raw - m AS seasonal
      FROM (SELECT g, unnest(ps) AS u,
                   list_reduce(list_transform(ps, x -> x.raw),
                               (a, x) -> a + x) / len(ps) AS m
            FROM cent) t)
    SELECT b.g AS event_type, b.day, b.y, b.phase,
           CASE WHEN cnt = 7 THEN CAST(s AS DOUBLE) / 7.0 END AS trend,
           seasonal,
           CASE WHEN cnt = 7 AND seasonal IS NOT NULL
                THEN CAST(b.y AS DOUBLE) - CAST(s AS DOUBLE) / 7.0
                     - seasonal END AS resid
    FROM b LEFT JOIN seas ON b.g = seas.g AND b.phase = seas.phase
    """,
)
def q322(spark, sf_dir):
    """Classical additive seasonal decomposition (operators.ops
    .seasonal_decompose) of the per-type daily event-count series,
    weekly period: y = trend + seasonal + resid, the 'is it drifting
    or is it just Tuesday' triage view.  Centered-MA trend is a ratio
    of exact int64 window sums; phase effects telescope to one
    division each; the centering mean folds phase-sorted (fixed IEEE
    order); resid is a fixed 2-subtraction chain -- hash-exact FULL
    oracle, windows partitioned per event type."""
    from hadron_spark.operators.ops import seasonal_decompose

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt_day")
    )
    return seasonal_decompose(
        daily, "day", "cnt_day", period=7,
        partition_cols=["event_type"], trend_window=7,
    )


@_register(
    "q323_ewma",
    """
    WITH RECURSIVE d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    srt AS (
      SELECT g, day, CAST(y AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY g ORDER BY day) AS rn
      FROM d),
    walk AS (
      SELECT g, day, rn, y, y AS e FROM srt WHERE rn = 1
      UNION ALL
      SELECT s.g, s.day, s.rn, s.y, 0.25 * s.y + 0.75 * w.e
      FROM walk w JOIN srt s ON s.g = w.g AND s.rn = w.rn + 1)
    SELECT g AS event_type, day, y, e AS ewma FROM walk
    """,
)
def q323(spark, sf_dir):
    """EWMA of the per-type daily event-count series (operators.ops
    .ewma, alpha = 0.25 -- dyadic, so the literal is bit-identical in
    both engines): the causal smoother behind drift alerts, stated as
    ONE JVM aggregate fold over each series' sorted array (running
    recurrences are the shape windows cannot express).  The oracle
    replays the identical multiply-add walk with a recursive CTE --
    hash-exact FULL oracle."""
    from hadron_spark.operators.ops import ewma

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_day")
    )
    return ewma(daily, "day", "cnt_day", alpha=0.25,
                partition_cols=["event_type"])


@_register(
    "q324_streaming_ewma",
    """
    WITH RECURSIVE d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    srt AS (
      SELECT g, day, CAST(y AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY g ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS total
      FROM d),
    walk AS (
      SELECT g, day, rn, total, y AS e FROM srt WHERE rn = 1
      UNION ALL
      SELECT s.g, s.day, s.rn, s.total, 0.25 * s.y + 0.75 * w.e
      FROM walk w JOIN srt s ON s.g = w.g AND s.rn = w.rn + 1)
    SELECT g AS key, e AS ewma, day AS last_ord,
           CAST(total AS BIGINT) AS n_points
    FROM walk WHERE rn = total
    """,
)
def q324(spark, sf_dir):
    """Streaming per-key EWMA (streaming.ops.incremental_ewma): the
    per-type daily series delivered as THREE chronological
    micro-batches, each batch's fold seeded with the stored state --
    chop-equivalence makes the drained state BIT-IDENTICAL to the
    one-shot recurrence, so this streaming state op carries a FULL
    oracle (the q323 recursive walk's final row per key)."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import ewma_apply_fn, read_ewma_state

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_day")
    )
    lo, hi = daily.agg(F.min("day"), F.max("day")).collect()[0]
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    work = tempfile.mkdtemp(prefix="q324_")
    state = f"{work}/state"
    apply = ewma_apply_fn(state, "event_type", "day", "cnt_day", alpha=0.25)
    apply(daily.filter(F.col("day") <= cut1), 0)
    apply(daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2)), 1)
    apply(daily.filter(F.col("day") > cut2), 2)
    out = read_ewma_state(spark, state)
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q325_holt_winters",
    """
    WITH RECURSIVE d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    srt AS (
      SELECT g, day, y,
             CAST(row_number() OVER (PARTITION BY g ORDER BY day)
                  AS BIGINT) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM d),
    arrs AS (
      SELECT g, n, list(y ORDER BY day) AS ys
      FROM srt GROUP BY g, n
      HAVING n >= 14),
    init AS (
      SELECT g, n, ys,
             list_reduce(ys[1:7], (p, q) -> p + q) / 7 AS l0,
             (list_reduce(ys[8:14], (p, q) -> p + q) / 7
              - list_reduce(ys[1:7], (p, q) -> p + q) / 7) / 7 AS b0
      FROM arrs),
    init2 AS (
      SELECT g, n, l0, b0,
             list_transform(ys[1:7], v -> v - l0) AS ring0
      FROM init),
    walk AS (
      SELECT g, n, CAST(7 AS BIGINT) AS t,
             CAST(NULL AS BIGINT) AS day, CAST(NULL AS DOUBLE) AS y,
             l0 AS l, b0 AS b, ring0 AS ring,
             CAST(NULL AS DOUBLE) AS s_t, CAST(NULL AS DOUBLE) AS f
      FROM init2
      UNION ALL
      SELECT w.g, w.n, s.rn, s.day, s.y,
             0.25 * (s.y - w.ring[1]) + 0.75 * (w.l + w.b),
             0.125 * ((0.25 * (s.y - w.ring[1]) + 0.75 * (w.l + w.b))
                      - w.l) + 0.875 * w.b,
             w.ring[2:] || [0.25 * (s.y - w.l - w.b) + 0.75 * w.ring[1]],
             0.25 * (s.y - w.l - w.b) + 0.75 * w.ring[1],
             w.l + w.b + w.ring[1]
      FROM walk w JOIN srt s ON s.g = w.g AND s.rn = w.t + 1)
    SELECT g AS event_type, day, y,
           l AS level, b AS trend, s_t AS seasonal, f AS fitted
    FROM walk WHERE t > 7
    """,
)
def q325(spark, sf_dir):
    """Additive Holt-Winters (operators.ops.holt_winters, m=7 weekly
    season, alpha/beta/gamma = 0.25/0.125/0.25 -- all dyadic) over the
    per-type daily event-count series: the forecasting-shaped
    completion of the ewma (q323) -> seasonal_decompose (q322) arc.
    One Arrow scan per series runs the documented two-season init +
    ring-buffer recurrences; the oracle replays the identical IEEE
    walk with a recursive CTE whose rows CARRY the m-slot seasonal
    ring as a list -- level, trend, seasonal AND the one-step fitted
    forecast are hash-exact FULL-oracle columns."""
    from hadron_spark.operators.ops import holt_winters

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_day")
    )
    return holt_winters(
        daily, "day", "cnt_day", period=7,
        alpha=0.25, beta=0.125, gamma=0.25,
        partition_cols=["event_type"],
    ).select(
        "event_type", "day", "y", "level", "trend", "seasonal", "fitted"
    )


@_register(
    "q326_bootstrap_ci_median",
    """
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, source AS g,
             CAST(n_chars AS BIGINT) AS y
      FROM documents),
    ocells AS (
      SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
    ocum AS (
      SELECT g, y,
             SUM(c) OVER (PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM ocells),
    overall AS (
      SELECT g, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(y) AS BIGINT) AS median
      FROM ocum WHERE 2 * cum >= n GROUP BY g),
    drawn AS (
      SELECT g, y, r,
             (('0x' || substr(md5(id || ':' || CAST(r AS VARCHAR)
                                  || ':9'), 1, 13))::BIGINT)
               / 4503599627370496.0 AS u
      FROM base, range(1, 65) t(r)),
    weighted AS (
      SELECT g, r, y, {PCASE} AS w FROM drawn),
    cells AS (
      SELECT g, r, y, CAST(SUM(w) AS BIGINT) AS cw
      FROM weighted GROUP BY 1, 2, 3),
    cum AS (
      SELECT g, r, y,
             SUM(cw) OVER (PARTITION BY g, r ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             SUM(cw) OVER (PARTITION BY g, r) AS sw
      FROM cells),
    meds AS (
      SELECT g, r, CAST(MIN(y) AS BIGINT) AS m
      FROM cum WHERE sw > 0 AND 2 * cm >= sw GROUP BY 1, 2),
    agg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_boot_eff,
             list_sort(list(m)) AS ms
      FROM meds GROUP BY 1)
    SELECT a.g AS source, o.n, o.median, a.n_boot_eff,
           ms[CAST(greatest(1, (n_boot_eff + 19) // 20) AS INT)] AS ci_lo,
           ms[CAST(least(n_boot_eff, (n_boot_eff * 19 + 19) // 20) AS INT)]
             AS ci_hi
    FROM agg a JOIN overall o ON a.g = o.g
    """.replace("{PCASE}", _poisson_case_sql()),
)
def q326(spark, sf_dir):
    """Deterministic Poisson-bootstrap CI for the MEDIAN doc length
    per source (operators.robust.bootstrap_ci_median): q320's md5-
    uniform + literal-threshold machinery with the weighted LOWER
    median per replicate computed on (group, replicate, value) CELLS
    -- every statistic is an actual data value, so the whole chain is
    exact BIGINTs with ZERO float steps (the mean variant needs one
    division per replicate; the median needs none).  Hash-exact FULL
    oracle."""
    from hadron_spark.operators.robust import bootstrap_ci_median

    docs = load(spark, sf_dir, "documents")
    return bootstrap_ci_median(
        docs, "n_chars", "doc_id", n_boot=64, alpha=0.1, seed=9,
        group_cols=["source"],
    )


@_register(
    "q327_conover_iman",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
    cells AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM v GROUP BY 1, 2),
    spine AS (SELECT y, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY 1),
    rk AS (
      SELECT y, t,
             2 * (SUM(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
               + t + 1 AS r2
      FROM spine),
    grp AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * r2) AS BIGINT) AS r2g
            FROM cells JOIN rk USING (y) GROUP BY 1),
    q2t AS (SELECT SUM(CAST(c AS HUGEINT) * r2 * r2) AS q2
            FROM cells JOIN rk USING (y)),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
             list_reduce(
               list_transform(
                 list_sort(list(struct_pack(g := g, r2g := r2g, n := n))),
                 x -> CAST(x.r2g AS DOUBLE) * CAST(x.r2g AS DOUBLE)
                      / CAST(x.n AS DOUBLE)),
               (acc, x) -> acc + x) AS g2
      FROM grp)
    SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
           CAST(a.r2g AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE))
             AS mean_rank_a,
           CAST(b.r2g AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE))
             AS mean_rank_b,
           CASE WHEN k > 1 AND nn > k AND CAST(q2 AS DOUBLE) - g2 > 0
                THEN CAST(CAST(a.r2g AS HUGEINT) * b.n
                          - CAST(b.r2g AS HUGEINT) * a.n AS DOUBLE)
                     * sqrt(CAST(nn - k AS DOUBLE)
                            / (CAST(CAST(a.n AS HUGEINT) * b.n
                                    * (a.n + b.n) AS DOUBLE)
                               * (CAST(q2 AS DOUBLE) - g2)))
                END AS t
    FROM grp a JOIN grp b ON a.g < b.g, agg, q2t
    """,
)
def q327(spark, sf_dir):
    """Conover-Iman post-hoc pairwise test (operators.robust
    .conover_iman): the t-distributed companion to q318's Dunn z on
    the SAME pooled midranks -- the S^2 and (N-1-H) factors cancel
    algebraically, collapsing the statistic to
    Delta*sqrt((N-k)/(n_a*n_b*(n_a+n_b)*(Q2-G2))) with Delta and Q2
    exact integers and G2 the kruskal sorted-fold float sum the
    oracle replays verbatim (list_reduce over list_sort) -- one
    subtraction, one division, one sqrt, one multiply: hash-exact
    FULL oracle over k(k-1)/2 bounded pair rows."""
    from hadron_spark.operators.robust import conover_iman

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return conover_iman(ev, "cents", "event_type")


@_register(
    "q328_mann_kendall",
    """
    WITH b AS (SELECT event_type AS g,
                      CAST(date_diff('day', DATE '2024-01-01',
                                     CAST(ts AS DATE)) AS BIGINT) AS x,
                      CAST(round(value) AS BIGINT) // 10 AS y
               FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    cells AS (SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c
              FROM b GROUP BY 1, 2, 3),
    s AS (SELECT a.g,
                 CAST(SUM(CASE WHEN bb.y > a.y THEN a.c * bb.c
                               WHEN bb.y < a.y THEN -(a.c * bb.c)
                               ELSE 0 END) AS BIGINT) AS s
          FROM cells a JOIN cells bb ON a.g = bb.g AND a.x < bb.x
          GROUP BY 1),
    nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
    tx AS (SELECT g,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS t25,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS t3,
                  SUM(CAST(t AS HUGEINT) * (t - 1)) AS t2,
                  CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS tie_time
           FROM (SELECT g, x, CAST(SUM(c) AS BIGINT) AS t
                 FROM cells GROUP BY 1, 2) q GROUP BY 1),
    ty AS (SELECT g,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS u25,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS u3,
                  SUM(CAST(t AS HUGEINT) * (t - 1)) AS u2,
                  CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS tie_value
           FROM (SELECT g, y, CAST(SUM(c) AS BIGINT) AS t
                 FROM cells GROUP BY 1, 2) q GROUP BY 1),
    j AS (SELECT nt.g, n, COALESCE(s.s, 0) AS s,
                 t25, t3, t2, tie_time, u25, u3, u2, tie_value,
                 CAST(n AS HUGEINT) * (n - 1) * (n - 2)
                   * (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                      - t25 - u25)
                 + 2 * t3 * u3
                 + 9 * (CAST(n AS HUGEINT) - 2) * t2 * u2 AS var_num,
                 18 * CAST(n AS HUGEINT) * (n - 1) * (n - 2) AS var_den
          FROM nt LEFT JOIN s ON nt.g = s.g
                  JOIN tx ON nt.g = tx.g JOIN ty ON nt.g = ty.g)
    SELECT g AS event_type, n, s, tie_time, tie_value,
           CASE WHEN n >= 3
                 AND CAST(var_num AS DOUBLE) / CAST(var_den AS DOUBLE) > 0
                THEN (CAST(s AS DOUBLE) - CAST(sign(s) AS DOUBLE))
                     / sqrt(CAST(var_num AS DOUBLE)
                            / CAST(var_den AS DOUBLE))
                END AS z
    FROM j
    """,
)
def q328(spark, sf_dir):
    """Mann-Kendall trend test (operators.robust.mann_kendall) of
    $10 value band against event day per event_type: the corpus
    collapses to bounded (day, band) CELLS in one partial-agg'd
    shuffle (30 days x ~50 bands -- the kendall_tau_b contract that
    keeps the pair algebra off raw rows at 100 TB), S comes off the
    cell self-join as an exact int64, and the variance carries
    Kendall's FULL two-axis tie correction (many events share a day
    -- the time-tie terms are load-bearing here, not decoration) in
    DECIMAL(38,0)/HUGEINT.  z is one division + one sqrt over
    correctly-rounded casts: hash-exact FULL oracle."""
    from hadron_spark.operators.robust import mann_kendall

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        ),
        F.expr("cast(round(value) as bigint) div 10").alias("band"),
    )
    return mann_kendall(ev, "day", "band", ["event_type"])


@_register(
    "q329_cochran_q",
    """
    WITH cell AS (SELECT user_id AS b, event_type AS t,
                         CAST(MAX(CASE WHEN value > 50 THEN 1 ELSE 0 END)
                              AS BIGINT) AS y
                  FROM events
                  WHERE value IS NOT NULL AND user_id IS NOT NULL
                    AND event_type IS NOT NULL
                  GROUP BY 1, 2),
    kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cell),
    rows_ AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS m,
                     CAST(SUM(y) AS BIGINT) AS l
              FROM cell GROUP BY 1),
    complete AS (SELECT b, l FROM rows_, kk WHERE m = kk.k),
    blocks AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                      CAST(SUM(l) AS BIGINT) AS tt,
                      CAST(SUM(l * l) AS BIGINT) AS l2
               FROM complete),
    g2t AS (SELECT CAST(SUM(gg * gg) AS BIGINT) AS g2 FROM
            (SELECT t, SUM(y) AS gg
             FROM cell JOIN complete USING (b) GROUP BY 1) q)
    SELECT kk.k, n_blocks,
           CASE WHEN kk.k > 1 AND kk.k * tt - l2 > 0
                THEN CAST((kk.k - 1) * (kk.k * g2 - tt * tt) AS DOUBLE)
                     / CAST(kk.k * tt - l2 AS DOUBLE) END AS q
    FROM blocks, g2t, kk
    """,
)
def q329(spark, sf_dir):
    """Cochran's Q test (operators.robust.cochran_q): did users'
    propensity to exceed $50 differ across the five event types,
    blocked by user -- each (user, type) cell binarized to "ever
    exceeded", incomplete users dropped whole (the complete-block
    design).  Every term (column sums G_j, row sums L_i, T) is an
    exact int64; Q is ONE division of two correctly-rounded casts:
    hash-exact FULL oracle."""
    from hadron_spark.operators.robust import cochran_q

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cell = ev.groupBy("user_id", "event_type").agg(
        F.max(F.when(F.col("value") > 50, 1).otherwise(0))
        .cast("long")
        .alias("y")
    )
    return cochran_q(cell, "user_id", "event_type", "y")


@_register(
    "q330_mood_median",
    """
    WITH base AS (SELECT source AS t, n_chars AS v FROM documents
                  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    cells AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS cm FROM cells),
    med AS (SELECT CAST(MIN(v) AS BIGINT) AS gm FROM cum, tot
            WHERE 2 * cm >= n),
    per_t AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nj,
                     CAST(SUM(CASE WHEN v > gm THEN 1 ELSE 0 END)
                          AS BIGINT) AS aj
              FROM base, med GROUP BY 1),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(aj) AS BIGINT) AS a,
                   list_reduce(
                     list_transform(
                       list_sort(list(struct_pack(t := t, aj := aj,
                                                  nj := nj))),
                       x -> CAST(x.aj AS DOUBLE) * CAST(x.aj AS DOUBLE)
                            / CAST(x.nj AS DOUBLE)),
                     (acc, x) -> acc + x) AS sa2
            FROM per_t)
    SELECT k, n, gm AS grand_median,
           CASE WHEN a > 0 AND a < n AND k > 1
                THEN CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) * sa2
                        - CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
                     / (CAST(a AS DOUBLE) * CAST(n - a AS DOUBLE))
                END AS chi2
    FROM agg, tot, med
    """,
)
def q330(spark, sf_dir):
    """Mood's median test (operators.robust.mood_median_test) of doc
    length across the 20 sources: pooled LOWER median over n_chars
    value cells (an actual data value, exact integers, the q298/q326
    convention), k x 2 above/not-above counts, and the Pearson chi2
    in the exact-integer form N(N*sum(a^2/n_j) - A^2)/(A*B) with the
    j-sum a sorted fold of one-division terms (the kruskal G2
    discipline).  Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import mood_median_test

    docs = load(spark, sf_dir, "documents")
    return mood_median_test(docs, "n_chars", "source")


@_register(
    "q331_sign_test",
    """
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    deltas AS (SELECT event_type,
                      cents - lag(cents) OVER (PARTITION BY event_type
                                               ORDER BY d) AS delta
               FROM daily),
    agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos
            FROM deltas WHERE delta IS NOT NULL AND delta <> 0
            GROUP BY 1),
    folded AS (SELECT event_type, n, n_pos, n - n_pos AS n_neg,
                      least(n_pos, n - n_pos) AS m,
                      pow(2.0, -CAST(n AS DOUBLE)) AS c0
               FROM agg)
    SELECT event_type, n, n_pos, n_neg,
           least(1.0, 2 * CASE WHEN m >= 1 THEN
             list_reduce(
               [[c0, c0]] || [[CAST(i AS DOUBLE), 0.0]
                              FOR i IN range(1, CAST(m AS INT) + 1)],
               (acc, x) -> [acc[1] * (CAST(n AS DOUBLE) - x[1] + 1)
                              / x[1],
                            acc[2] + acc[1]
                              * (CAST(n AS DOUBLE) - x[1] + 1) / x[1]]
             )[2]
             ELSE c0 END) AS p
    FROM folded
    """,
)
def q331(spark, sf_dir):
    """Exact two-sided sign test (operators.robust.sign_test) on
    day-over-day movement of total event value per event type: daily
    totals in exact cents, consecutive deltas off a per-type lag
    window (30-day bounded frame), then the EXACT binomial tail --
    no normal approximation; the tail is a fixed-order fold
    c_i = c_{i-1}(n-i+1)/i from c0 = 2^-n, every step two
    correctly-rounded IEEE ops the oracle replays verbatim via
    list_reduce.  For n <= 52 the p-values are dyadic rationals --
    EXACT, not just reproducible.  Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import sign_test

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    deltas = daily.select(
        "event_type",
        (F.col("cents") - F.lag("cents").over(w)).alias("delta"),
    )
    return sign_test(deltas, "delta", ["event_type"])


@_register(
    "q332_bh_fdr",
    """
    WITH daily AS (SELECT event_type, user_id % 10 AS bucket,
                          CAST(ts AS DATE) AS d,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
    deltas AS (SELECT event_type, bucket,
                      cents - lag(cents) OVER (PARTITION BY event_type,
                        bucket ORDER BY d) AS delta
               FROM daily),
    agg AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos
            FROM deltas WHERE delta IS NOT NULL AND delta <> 0
            GROUP BY 1, 2),
    folded AS (SELECT event_type, bucket, n, n_pos, n - n_pos AS n_neg,
                      least(n_pos, n - n_pos) AS m,
                      pow(2.0, -CAST(n AS DOUBLE)) AS c0
               FROM agg),
    tests AS (SELECT event_type, bucket, n, n_pos, n_neg,
                     least(1.0, 2 * CASE WHEN m >= 1 THEN
                       list_reduce(
                         [[c0, c0]] || [[CAST(i AS DOUBLE), 0.0]
                            FOR i IN range(1, CAST(m AS INT) + 1)],
                         (acc, x) -> [acc[1]
                              * (CAST(n AS DOUBLE) - x[1] + 1) / x[1],
                            acc[2] + acc[1]
                              * (CAST(n AS DOUBLE) - x[1] + 1) / x[1]]
                       )[2]
                       ELSE c0 END) AS p
              FROM folded),
    ranked AS (SELECT *,
                      CAST(row_number() OVER (ORDER BY p, event_type,
                        bucket) AS INT) AS rank,
                      CAST(COUNT(*) OVER () AS BIGINT) AS m
               FROM tests)
    SELECT event_type, bucket, n, n_pos, n_neg, p, rank, m,
           least(1.0, MIN(p * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
                 OVER (ORDER BY p DESC, event_type DESC, bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             AS p_adj
    FROM ranked
    """,
)
def q332(spark, sf_dir):
    """Benjamini-Hochberg FDR sweep (operators.robust
    .benjamini_hochberg) over a FAMILY of 50 exact sign tests -- one
    per (event_type, user-bucket) stratum, the multiple-testing
    composition the post-hoc tier exists for: every raw p is the
    q331 dyadic-exact binomial tail, ranks break p-ties on the id
    columns (pinned total order, cross-engine identical), and
    p_adj(i) = min(1, min_{j>=i} p(j)*m/j) is a reverse running min
    over one window pass -- one IEEE multiply + divide per row.
    Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import benjamini_hochberg, sign_test

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        (F.col("user_id") % 10).alias("bucket"),
        F.to_date("ts").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("event_type", "bucket").orderBy("d")
    deltas = daily.select(
        "event_type",
        "bucket",
        (F.col("cents") - F.lag("cents").over(w)).alias("delta"),
    )
    st = sign_test(deltas, "delta", ["event_type", "bucket"])
    return benjamini_hochberg(st, "p", ["event_type", "bucket"])


@_register(
    "q333_pass_at_k",
    """
    WITH per_task AS (
      SELECT user_id AS task, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    ked AS (SELECT task, n, c, CAST(k AS BIGINT) AS k
            FROM per_task, (VALUES (1), (5), (10)) ks(k))
    SELECT task, n, c, CAST(k AS INTEGER) AS k,
           CASE WHEN k <= n THEN
             1.0 - list_reduce(
                     [1.0] || [CAST(i AS DOUBLE) FOR i IN range(0, k)],
                     (acc, i) -> acc * (CAST(n - c AS DOUBLE) - i)
                                     / (CAST(n AS DOUBLE) - i))
           END AS pass_at_k
    FROM ked
    """,
)
def q333(spark, sf_dir):
    """pass@k (llm.evaluation.pass_at_k), the Chen et al. 2021
    unbiased estimator: each user's events are the n samples, "value
    exceeded 100" the pass signal, k in {1,5,10} -- pass@k =
    1 - C(n-c,k)/C(n,k) computed as two falling factorials folded in
    DECIMAL(38,0) (exact integers; the oracle replays them in
    HUGEINT) then ONE division.  The naive first-k fraction is
    biased low and sample-order-dependent; this is the estimator
    eval harnesses actually publish.  Hash-exact FULL oracle."""
    from hadron_spark.llm.evaluation import pass_at_k

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("task_id"),
        (F.col("value") > 100).cast("int").alias("passed"),
    )
    return pass_at_k(ev, "task_id", "passed", ks=[1, 5, 10])


@_register(
    "q334_krippendorff_alpha",
    """
    WITH base AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type AS v
                  FROM events WHERE user_id IS NOT NULL
                    AND ts IS NOT NULL AND event_type IS NOT NULL),
    cells AS (SELECT user_id, d, v, CAST(COUNT(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2, 3),
    units AS (SELECT user_id, d, CAST(SUM(c) AS BIGINT) AS m,
                     CAST(SUM(c * c) AS BIGINT) AS c2
              FROM cells GROUP BY 1, 2),
    usable AS (SELECT * FROM units WHERE m >= 2),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
                 CAST(SUM(m) AS BIGINT) AS n_ratings,
                 SUM(CAST(m * m - c2 AS HUGEINT) * (360360 // (m - 1)))
                   AS sl
          FROM usable),
    nc AS (SELECT v, CAST(SUM(c) AS BIGINT) AS ncv
           FROM cells JOIN usable USING (user_id, d) GROUP BY 1),
    dd AS (SELECT SUM(CAST(ncv AS HUGEINT) * (n_ratings - ncv)) AS d
           FROM nc, s)
    SELECT n_units, n_ratings,
           CASE WHEN d > 0 THEN
             1.0 - CAST(CAST(n_ratings - 1 AS HUGEINT) * sl AS DOUBLE)
                   / CAST(360360 * d AS DOUBLE) END AS alpha
    FROM s, dd
    """,
)
def q334(spark, sf_dir):
    """Krippendorff's alpha (llm.evaluation.krippendorff_alpha),
    nominal: units = (user, day), ratings = that day's event types
    (1-11 per unit across all SFs -- the ragged shape cohens/fleiss
    can't take; single-rating units ignored per the metric).  The
    1/(m_u-1) disagreement weights are cleared EXACTLY by
    L = lcm(1..15) = 360360, making every term an integer and alpha
    ONE division -- no sorted fold, no float sum anywhere.
    Hash-exact FULL oracle."""
    from hadron_spark.llm.evaluation import krippendorff_alpha

    ev = load(spark, sf_dir, "events").select(
        F.struct(F.col("user_id"), F.to_date("ts").alias("d")).alias(
            "unit"
        ),
        F.col("event_type").alias("v"),
    )
    return krippendorff_alpha(ev, "unit", "v")


@_register(
    "q335_rrf_fusion",
    """
    WITH d AS (SELECT lang, doc_id, n_chars FROM documents
               WHERE lang IS NOT NULL AND doc_id IS NOT NULL
                 AND n_chars IS NOT NULL),
    ra AS (SELECT lang, doc_id, 'bylen' AS rname,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id) AS rk FROM d),
    rb AS (SELECT lang, doc_id, 'byid' AS rname,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY doc_id) AS rk FROM d),
    rc AS (SELECT lang, doc_id, 'byhash' AS rname,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars % 97, doc_id) AS rk FROM d),
    runs AS (SELECT * FROM ra WHERE rk <= 20
             UNION ALL SELECT * FROM rb WHERE rk <= 20
             UNION ALL SELECT * FROM rc WHERE rk <= 20),
    fused AS (SELECT lang, doc_id, CAST(COUNT(*) AS BIGINT) AS n_rankers,
                     list_reduce(
                       list_transform(
                         list_sort(list(struct_pack(r := rname,
                           rk := CAST(rk AS BIGINT)))),
                         x -> 1.0 / (60.0 + CAST(x.rk AS DOUBLE))),
                       (a, b) -> a + b) AS score
              FROM runs GROUP BY 1, 2)
    SELECT lang, doc_id, n_rankers, score,
           CAST(row_number() OVER (PARTITION BY lang
             ORDER BY score DESC, doc_id) AS INT) AS fused_rank
    FROM fused QUALIFY fused_rank <= 10
    """,
)
def q335(spark, sf_dir):
    """Reciprocal-rank fusion (llm.evaluation
    .reciprocal_rank_fusion) of three retrieval runs per language --
    by-length, by-id, by-hash top-20s standing in for the BM25 +
    dense + recency hybrid: score = sum over rankers of 1/(60+rank),
    each term one IEEE division over exact integers, folded in
    RANKER-SORTED order (the kruskal G2 discipline), fused rank tie-
    broken by doc id.  Zero training, bounded per-query frames.
    Hash-exact FULL oracle."""
    from hadron_spark.llm.evaluation import reciprocal_rank_fusion

    docs = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
        & F.col("doc_id").isNotNull()
        & F.col("n_chars").isNotNull()
    )

    def run(name, *order):
        w = Window.partitionBy("lang").orderBy(*order)
        return docs.select(
            "lang",
            "doc_id",
            F.lit(name).alias("ranker"),
            F.row_number().over(w).alias("rank"),
        ).filter(F.col("rank") <= 20)

    runs = (
        run("bylen", F.col("n_chars").desc(), F.col("doc_id"))
        .unionByName(run("byid", F.col("doc_id")))
        .unionByName(
            run("byhash", (F.col("n_chars") % 97).asc(), F.col("doc_id"))
        )
    )
    return reciprocal_rank_fusion(
        runs, "lang", "doc_id", "ranker", "rank", top_n=10
    )


@_register(
    "q336_cusum_changepoint",
    """
    WITH daily AS (SELECT event_type AS g,
                          CAST(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) AS BIGINT) AS o,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS y
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    st AS (SELECT g, o,
                  CAST(row_number() OVER (PARTITION BY g ORDER BY o, y)
                       AS BIGINT) AS i,
                  SUM(y) OVER (PARTITION BY g ORDER BY o, y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                  CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
                  SUM(y) OVER (PARTITION BY g) AS t
           FROM daily),
    cand AS (SELECT g, n, t,
                    abs(CAST(n AS HUGEINT) * p - CAST(i AS HUGEINT) * t)
                      AS ad, i, o, p
             FROM st WHERE i >= 1 AND i <= n - 1 AND n >= 2),
    pick AS (SELECT *, row_number() OVER (PARTITION BY g
               ORDER BY ad DESC, i ASC) AS rn FROM cand)
    SELECT g AS event_type, n, i AS cp_index, CAST(o AS BIGINT) AS cp_order,
           CAST(ad AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_max,
           CAST(p AS DOUBLE) / CAST(i AS DOUBLE) AS mean_left,
           CAST(t - p AS DOUBLE) / CAST(n - i AS DOUBLE) AS mean_right,
           CAST(t - p AS DOUBLE) / CAST(n - i AS DOUBLE)
             - CAST(p AS DOUBLE) / CAST(i AS DOUBLE) AS delta
    FROM pick WHERE rn = 1
    """,
)
def q336(spark, sf_dir):
    """CUSUM changepoint (operators.ops.cusum_changepoint) on each
    event type's 30-day daily-revenue series: WHEN did the level
    shift -- the argmax over splits of |n*P_i - i*T| kept entirely in
    exact integers (DECIMAL(38,0)/HUGEINT; no float until the
    reported statistics, each ONE division), ties to the earliest
    split.  Completes the drift arc: mann_kendall says WHETHER,
    theil_sen says HOW FAST, this says WHEN.  Hash-exact FULL
    oracle."""
    from hadron_spark.operators.ops import cusum_changepoint

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("o"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return cusum_changepoint(daily, "o", "cents", ["event_type"])


@_register(
    "q337_streaming_cusum",
    """
    WITH RECURSIVE d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    srt AS (
      SELECT g, day, y,
             CAST(row_number() OVER (PARTITION BY g ORDER BY day)
                  AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS total,
             MAX(day) OVER (PARTITION BY g) AS last_day
      FROM d),
    walk AS (
      SELECT g, CAST(0 AS BIGINT) AS rn, 0.0 AS sp, 0.0 AS sm,
             CAST(0 AS BIGINT) AS al
      FROM (SELECT DISTINCT g FROM srt)
      UNION ALL
      SELECT s.g, s.rn,
             CASE WHEN greatest(0.0, w.sp + (s.y - 25000.0)) > 10000.0
                  THEN 0.0
                  ELSE greatest(0.0, w.sp + (s.y - 25000.0)) END,
             CASE WHEN greatest(0.0, w.sm + (24000.0 - s.y)) > 10000.0
                  THEN 0.0
                  ELSE greatest(0.0, w.sm + (24000.0 - s.y)) END,
             w.al
               + CASE WHEN greatest(0.0, w.sp + (s.y - 25000.0))
                           > 10000.0 THEN 1 ELSE 0 END
               + CASE WHEN greatest(0.0, w.sm + (24000.0 - s.y))
                           > 10000.0 THEN 1 ELSE 0 END
      FROM walk w JOIN srt s ON s.g = w.g AND s.rn = w.rn + 1),
    stats AS (SELECT g, total, last_day FROM srt WHERE rn = 1)
    SELECT w.g AS key, w.sp AS s_pos, w.sm AS s_neg,
           st.last_day AS last_ord, st.total AS n_points,
           w.al AS n_alarms
    FROM walk w JOIN stats st ON w.g = st.g AND w.rn = st.total
    """,
)
def q337(spark, sf_dir):
    """Streaming tabular CUSUM control chart (streaming.ops
    .incremental_cusum): each event type's daily mean value (cents)
    monitored against target 24500 +/- 500 slack, alarm + restart at
    h = 10000 -- delivered as THREE chronological micro-batches with
    seeded folds.  The sequential recurrence makes any chopping
    bit-identical to the one-shot walk, so this STREAMING state op
    carries a FULL oracle (recursive-CTE replay of the identical
    greatest/compare chain -- the q324 chop-equivalence pattern).
    Completes the q336 pair: offline argmax says WHEN it shifted,
    this raises the flag live."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import cusum_apply_fn, read_cusum_state

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_cents")
    )
    lo, hi = daily.agg(F.min("day"), F.max("day")).collect()[0]
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    work = tempfile.mkdtemp(prefix="q337_")
    state = f"{work}/state"
    apply = cusum_apply_fn(
        state, "event_type", "day", "mean_cents",
        target=24500.0, slack=500.0, threshold=10000.0,
    )
    apply(daily.filter(F.col("day") <= cut1), 0)
    apply(daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2)), 1)
    apply(daily.filter(F.col("day") > cut2), 2)
    out = read_cusum_state(spark, state)
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q338_gini",
    """
    WITH spend AS (SELECT event_type AS g, user_id,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS v
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
              FROM spend GROUP BY 1, 2),
    s AS (SELECT a.g,
                 SUM(CAST(b.v - a.v AS HUGEINT) * a.c * b.c) AS s
          FROM cells a JOIN cells b ON a.g = b.g AND a.v < b.v
          GROUP BY 1),
    tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                   SUM(CAST(v AS HUGEINT) * c) AS t
            FROM cells GROUP BY 1)
    SELECT tot.g AS event_type, n, CAST(t AS BIGINT) AS total,
           CASE WHEN t > 0 THEN CAST(COALESCE(s.s, 0) AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * t AS DOUBLE) END AS gini
    FROM tot LEFT JOIN s ON tot.g = s.g
    """,
)
def q338(spark, sf_dir):
    """Gini concentration (operators.ops.gini) of per-user spend
    within each event type -- "is purchase revenue concentrated in
    whales": per-user cent totals collapse to value CELLS (the
    kendall bounded-cell contract), the mean absolute difference
    comes off the cell self-join as an exact DECIMAL(38,0)/HUGEINT,
    and G = S/(n*T) is ONE division.  Hash-exact FULL oracle."""
    from hadron_spark.operators.ops import gini

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    spend = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return gini(spend, "cents", ["event_type"])


@_register(
    "q339_cohens_d",
    """
    WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
                      CAST(SUM(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS sa,
                      SUM(CAST(CAST(round(value * 100) AS BIGINT)
                               AS HUGEINT)
                          * CAST(round(value * 100) AS BIGINT)) AS qa
               FROM events WHERE event_type = 'click'
                 AND value IS NOT NULL),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT))
                      AS BIGINT) AS sb,
                 SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                     * CAST(round(value * 100) AS BIGINT)) AS qb
          FROM events WHERE event_type = 'purchase'
            AND value IS NOT NULL),
    j AS (SELECT *,
                 CAST(n_a AS HUGEINT) * qa - CAST(sa AS HUGEINT) * sa
                   AS aa,
                 CAST(n_b AS HUGEINT) * qb - CAST(sb AS HUGEINT) * sb
                   AS ab,
                 CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 n_a + n_b - 2 AS df
          FROM a, b),
    k AS (SELECT *,
                 (CAST(aa AS DOUBLE) / CAST(n_a AS DOUBLE)
                  + CAST(ab AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / CAST(df AS DOUBLE) AS sp2
          FROM j)
    SELECT n_a, n_b, ma AS mean_a, mb AS mean_b,
           CASE WHEN df > 0 AND sp2 > 0
                THEN (ma - mb) / sqrt(sp2) END AS d,
           CASE WHEN df > 0 AND sp2 > 0
                THEN ((ma - mb) / sqrt(sp2))
                     * (1.0 - 3.0 / CAST(4 * df - 1 AS DOUBLE)) END AS g
    FROM k
    """,
)
def q339(spark, sf_dir):
    """Cohen's d + Hedges' g (operators.robust.cohens_d) for click
    vs purchase cent values -- the effect-size companion to q115's
    Welch t (WHETHER vs BY HOW MUCH): exact integer moments in
    DECIMAL(38,0)/HUGEINT, a fixed chain of five IEEE ops.
    Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import cohens_d

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cohens_d(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "cents",
    )


@_register(
    "q340_forecast_accuracy",
    """
    WITH daily AS (SELECT event_type AS g,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS y
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    fc AS (SELECT g, d, y,
                  lag(y, 7) OVER (PARTITION BY g ORDER BY d) AS f
           FROM daily),
    kept AS (SELECT g, d, y, f,
                    lag(y) OVER (PARTITION BY g ORDER BY d) AS yl
             FROM (SELECT * FROM fc WHERE f IS NOT NULL) q),
    agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(abs(y - f)) AS BIGINT) AS ae,
                   SUM(CAST(y - f AS HUGEINT) * (y - f)) AS se,
                   CAST(COUNT(yl) AS BIGINT) AS n_naive,
                   CAST(SUM(abs(y - yl)) AS BIGINT) AS nae
            FROM kept GROUP BY 1)
    SELECT g AS event_type, n,
           CAST(ae AS DOUBLE) / CAST(n AS DOUBLE) AS mae,
           sqrt(CAST(se AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
           n_naive,
           CASE WHEN n_naive > 0 THEN CAST(nae AS DOUBLE)
                / CAST(n_naive AS DOUBLE) END AS mae_naive,
           CASE WHEN n_naive > 0
                 AND CAST(nae AS DOUBLE) / CAST(n_naive AS DOUBLE) > 0
                THEN (CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                     / (CAST(nae AS DOUBLE) / CAST(n_naive AS DOUBLE))
                END AS mase
    FROM agg
    """,
)
def q340(spark, sf_dir):
    """Forecast accuracy (operators.ops.forecast_accuracy) of the
    seasonal-naive predictor (y_{t-7}) on each type's daily revenue:
    MAE / RMSE / MASE with every error sum an exact integer and one
    division (plus RMSE's sqrt) per reported number -- MASE < 1
    means weekly seasonality beats yesterday's value.  Closes the
    ewma -> holt_winters -> evaluate forecasting arc.  Hash-exact
    FULL oracle."""
    from hadron_spark.operators.ops import forecast_accuracy

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    fc = daily.withColumn("f", F.lag("y", 7).over(w)).filter(
        F.col("f").isNotNull()
    )
    return forecast_accuracy(fc, "d", "y", "f", ["event_type"])


@_register("q341_mmr_rerank", None)
def q341(spark, sf_dir):
    """Retrieval -> diversity pipeline: brute-force cosine top-50
    per probe (llm.similarity.brute_force_topk, the exact baseline
    tier) re-ranked by Maximal Marginal Relevance (llm.similarity
    .mmr_rerank, lam=0.7) to 10 diverse passages per probe -- the
    standard RAG post-retrieval pass.  Rows-only BY DESIGN (BLAS
    dot ordering is machine-local, the greedy loop is inherently
    sequential); the python-mirror greedy parity is pinned in
    test_llm_ops.  Returns per-probe picked docs with ranks."""
    from hadron_spark.llm.similarity import brute_force_topk, mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    cands = brute_force_topk(emb, probes, k=50).select(
        F.col("query_id"), F.col("neighbor_id"), F.col("cosine")
    )
    with_emb = cands.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding"),
        ),
        "neighbor_id",
    )
    return mmr_rerank(
        with_emb, "query_id", "neighbor_id", "cosine", "embedding",
        lam=0.7, top_n=10,
    ).orderBy("query_id", "mmr_rank")


@_register(
    "q342_fisher_exact",
    """
    WITH s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_new,
                       CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END)
                            AS BIGINT) AS k_new
                FROM events WHERE event_type = 'purchase'
                  AND user_id < 30 AND value IS NOT NULL
                  AND CAST(ts AS DATE) = DATE '2024-01-01'),
    s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_old,
                  CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END)
                       AS BIGINT) AS k_old
           FROM events WHERE event_type = 'purchase'
             AND user_id < 30 AND value IS NOT NULL
             AND CAST(ts AS DATE) = DATE '2024-01-30'),
    j AS (SELECT *, n_new + n_old AS nn, k_new + k_old AS kk,
                 n_new AS nd FROM s1, s2),
    k AS (SELECT *, greatest(CAST(0 AS BIGINT), nd + kk - nn) AS kmin,
                 least(kk, nd) AS kmax FROM j),
    u AS (SELECT *,
            list_transform(range(kmin, kmax + 1),
              kx -> list_reduce(
                      [[1.0, 0.0]]
                      || [[CAST((kk - jj) * (nd - jj) AS DOUBLE),
                           CAST((jj + 1) * (nn - kk - nd + jj + 1)
                                AS DOUBLE)]
                          FOR jj IN range(kmin, kx)],
                      (acc, x) -> [acc[1] * x[1] / x[2], 0.0])[1]) AS us
          FROM k),
    ua AS (SELECT *, us[CAST(k_new - kmin + 1 AS INT)] AS uav FROM u)
    SELECT k_new, n_new, k_old, n_old,
           CASE WHEN n_new - k_new > 0 AND k_old > 0
                THEN CAST(k_new * (n_old - k_old) AS DOUBLE)
                     / CAST((n_new - k_new) * k_old AS DOUBLE) END
             AS odds_ratio,
           list_reduce([0.0] || list_transform(us,
             uu -> CASE WHEN uu <= uav THEN uu ELSE 0.0 END),
             (a, b) -> a + b)
           / list_reduce([0.0] || us, (a, b) -> a + b) AS p
    FROM ua
    """,
)
def q342(spark, sf_dir):
    """Fisher's exact test (operators.robust.fisher_exact): did the
    rate of >$400 purchases move between the first and last day (a
    30-user cohort -- single-digit cells, exactly where the q115/
    two_proportion z approximation is folklore and the
    hypergeometric tail is the answer).  ZERO factorials: the
    unnormalized pmf recurrence walks the support as fixed
    multiply/divide chains the oracle replays with nested list
    folds; p is ONE final division.  Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import fisher_exact

    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & (F.col("user_id") < 30)
        & F.col("value").isNotNull()
    ).select(
        F.to_date("ts").alias("d"),
        (F.col("value") > 400).cast("int").alias("big"),
    )
    return fisher_exact(
        ev.filter(F.col("d") == F.lit("2024-01-01").cast("date")),
        ev.filter(F.col("d") == F.lit("2024-01-30").cast("date")),
        "big",
    )


@_register(
    "q343_wilcoxon_signed_rank",
    """
    WITH per_user AS (
      SELECT event_type AS g, user_id,
             CAST(SUM(CASE WHEN date_part('day', ts) <= 15
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT)
             - CAST(SUM(CASE WHEN date_part('day', ts) > 15
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    nz AS (SELECT g, abs(d) AS a,
                  CASE WHEN d > 0 THEN 1 ELSE 0 END AS p
           FROM per_user WHERE d <> 0),
    cells AS (SELECT g, a, CAST(COUNT(*) AS BIGINT) AS c,
                     CAST(SUM(p) AS BIGINT) AS cp
              FROM nz GROUP BY 1, 2),
    rk AS (SELECT g, a, c, cp,
                  2 * (SUM(c) OVER (PARTITION BY g ORDER BY a
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                         ROW) - c) + c + 1 AS r2
           FROM cells),
    agg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(cp * r2) AS BIGINT) AS w_pos_x2,
                   CAST(SUM((c - cp) * r2) AS BIGINT) AS w_neg_x2,
                   SUM(CAST(c AS HUGEINT) * c * c - c) AS t
            FROM rk GROUP BY 1)
    SELECT g AS event_type, n, w_pos_x2, w_neg_x2,
           CAST(t AS BIGINT) AS tie_term,
           CASE WHEN CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)
                          - t AS DOUBLE) / 12.0 > 0
                THEN (CAST(w_pos_x2 AS DOUBLE)
                      - CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE)
                        / 2.0)
                     / sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1)
                                 * (2 * n + 1) - t AS DOUBLE) / 12.0)
                END AS z
    FROM agg
    """,
)
def q343(spark, sf_dir):
    """Wilcoxon signed-rank test (operators.robust
    .wilcoxon_signed_rank): did each user's spend shift between the
    first and second half of the month, per event type -- the paired
    nonparametric workhorse between q331's sign test (signs only)
    and the paired t (needs normality).  x2-midrank ranks over |d|
    cells, all-integer radicand 2n(n+1)(2n+1) - tie term in
    DECIMAL(38,0)/HUGEINT, one division + one sqrt.  Hash-exact
    FULL oracle."""
    from hadron_spark.operators.robust import wilcoxon_signed_rank

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy(
        F.col("event_type"), F.col("user_id")
    ).agg(
        (
            F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
            - F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
        ).alias("d")
    )
    return wilcoxon_signed_rank(per_user, "d", ["event_type"])


@_register(
    "q344_runs_test",
    """
    WITH daily AS (SELECT event_type AS g,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS y
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS nn,
                   CAST(SUM(y) AS BIGINT) AS t FROM daily GROUP BY 1),
    resid AS (SELECT daily.g, d,
                     CAST(sign(CAST(nn AS HUGEINT) * y
                               - CAST(t AS HUGEINT) * 1) AS INT) AS s
              FROM daily JOIN tot ON daily.g = tot.g),
    nz AS (SELECT g, d, s,
                  lag(s) OVER (PARTITION BY g ORDER BY d, s) AS prev
           FROM resid WHERE s <> 0),
    agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN prev IS NULL OR s <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS runs
            FROM nz GROUP BY 1),
    stats AS (SELECT *,
                     2 * CAST(n_pos AS HUGEINT) * (n - n_pos) AS two12
              FROM agg)
    SELECT g AS event_type, n, n_pos, n - n_pos AS n_neg, runs,
           CASE WHEN n >= 2 AND n_pos > 0 AND n_pos < n
                 AND CAST(two12 * (two12 - n) AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)
                     > 0
                THEN (CAST(runs AS DOUBLE)
                      - (1.0 + CAST(two12 AS DOUBLE)
                               / CAST(n AS DOUBLE)))
                     / sqrt(CAST(two12 * (two12 - n) AS DOUBLE)
                            / CAST(CAST(n AS HUGEINT) * n * (n - 1)
                                   AS DOUBLE))
                END AS z
    FROM stats
    """,
)
def q344(spark, sf_dir):
    """Wald-Wolfowitz runs test (operators.robust.runs_test) on each
    type's daily-revenue deviations from its own monthly mean (sign
    of n*y_t - T -- integer-exact, no float mean anywhere): is the
    up/down sequence random, or does revenue streak?  The serial-
    dependence companion to q328's monotone-drift question.  R and
    the margins are exact; z is two divisions + one sqrt.
    Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import runs_test

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nn"), F.sum("y").alias("t")
    )
    resid = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        (
            F.col("nn").cast("decimal(38,0)") * F.col("y")
            - F.col("t").cast("decimal(38,0)")
        ).alias("e"),
    )
    return runs_test(resid, "d", "e", ["event_type"])


@_register(
    "q345_durbin_watson",
    """
    WITH daily AS (SELECT event_type AS g,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS y
                   FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS nn,
                   CAST(SUM(y) AS BIGINT) AS t FROM daily GROUP BY 1),
    resid AS (SELECT daily.g, d,
                     CAST(nn AS BIGINT) * y - t AS e
              FROM daily JOIN tot ON daily.g = tot.g),
    lagged AS (SELECT g, e,
                      lag(e) OVER (PARTITION BY g ORDER BY d, e) AS el
               FROM resid),
    agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(e - el AS HUGEINT) * (e - el)) AS num,
                   SUM(CAST(e AS HUGEINT) * e) AS den
            FROM lagged GROUP BY 1)
    SELECT g AS event_type, n,
           CASE WHEN den > 0 THEN CAST(num AS DOUBLE)
                / CAST(den AS DOUBLE) END AS dw
    FROM agg
    """,
)
def q345(spark, sf_dir):
    """Durbin-Watson statistic (operators.ops.durbin_watson) of each
    type's daily-revenue deviations (e = n*y - T, integer-exact and
    DW-scale-invariant): first-order autocorrelation -- the "can I
    trust the variance formulas" gate for the whole time-series
    tier.  Both sums exact HUGEINT/DECIMAL, DW is ONE division.
    Hash-exact FULL oracle."""
    from hadron_spark.operators.ops import durbin_watson

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nn"), F.sum("y").alias("t")
    )
    resid = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        (F.col("nn") * F.col("y") - F.col("t")).alias("e"),
    )
    return durbin_watson(resid, "d", "e", ["event_type"])


_SURV_SUBJ_SQL = """
    first_ev AS (SELECT user_id, MIN(ts) AS t0 FROM events
                 WHERE user_id IS NOT NULL GROUP BY 1),
    first_err AS (SELECT user_id, MIN(ts) AS te FROM events
                  WHERE event_type = 'error' GROUP BY 1),
    subj AS (
      SELECT f.user_id,
             CASE WHEN e.te IS NOT NULL
                  THEN CAST(date_diff('day', CAST(f.t0 AS DATE),
                                      CAST(e.te AS DATE)) AS BIGINT)
                  ELSE CAST(date_diff('day', CAST(f.t0 AS DATE),
                                      DATE '2024-01-30') AS BIGINT)
             END AS dur,
             CASE WHEN e.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM first_ev f LEFT JOIN first_err e ON f.user_id = e.user_id)
"""


def _surv_subjects(spark, sf_dir):
    """(user_id, dur, ev): days from a user's first event to their
    first 'error' (ev = 1), censored at 2024-01-30 if none (ev = 0)
    — the shared frame of q346/q347."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    first_ev = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("ts").alias("te"))
    )
    j = first_ev.join(first_err, "user_id", "left")
    dur = F.when(
        F.col("te").isNotNull(),
        F.datediff(F.to_date("te"), F.to_date("t0")),
    ).otherwise(
        F.datediff(F.lit("2024-01-30").cast("date"), F.to_date("t0"))
    )
    return j.select(
        "user_id",
        dur.cast("long").alias("dur"),
        F.col("te").isNotNull().cast("int").alias("ev"),
    )


@_register(
    "q346_kaplan_meier",
    "WITH " + _SURV_SUBJ_SQL + """,
    cells AS (SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
                     CAST(SUM(1 - ev) AS BIGINT) AS c
              FROM subj GROUP BY 1),
    spine AS (SELECT list_sort(list(struct_pack(t := t, d := d,
                c := c))) AS s,
                     CAST(SUM(d + c) AS BIGINT) AS n
              FROM cells),
    walked AS (
      SELECT n, s,
             [CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
                   ELSE list_reduce(
                          [CAST(0 AS BIGINT)]
                          || [s[x].d + s[x].c FOR x IN range(1, i)],
                          (a, b) -> a + b) END
              FOR i IN range(1, len(s) + 1)] AS pre
      FROM spine),
    surv AS (
      SELECT n, s, pre,
             [list_reduce(
                [1.0] || [CASE WHEN s[j].d > 0
                               THEN 1.0 - CAST(s[j].d AS DOUBLE)
                                    / CAST(n - pre[j] AS DOUBLE)
                               ELSE 1.0 END
                          FOR j IN range(1, i + 1)],
                (a, b) -> a * b)
              FOR i IN range(1, len(s) + 1)] AS sv
      FROM walked)
    SELECT s[i].t AS t, n - pre[i] AS n_risk, s[i].d AS d, s[i].c AS c,
           sv[i] AS survival
    FROM surv, unnest([x FOR x IN range(1, len(s) + 1)]) AS u(i)
    """,
)
def q346(spark, sf_dir):
    """Kaplan-Meier curve (operators.survival.kaplan_meier) of
    time-to-first-error per user, right-censored at month end --
    the estimate a naive mean-of-observed-failures gets wrong by
    dropping the censored majority.  Every survival factor is ONE
    division of exact at-risk/event counts off the bounded
    distinct-day spine, the product folds in time order (a x1.0
    multiply for censor-only steps -- exact no-op, so the skip-vs-
    multiply chains agree bit-for-bit).  Hash-exact FULL oracle."""
    from hadron_spark.operators.survival import kaplan_meier

    return kaplan_meier(_surv_subjects(spark, sf_dir), "dur", "ev")


@_register(
    "q347_logrank",
    "WITH " + _SURV_SUBJ_SQL + """,
    arm_a AS (SELECT dur, ev FROM subj WHERE user_id % 2 = 0),
    arm_b AS (SELECT dur, ev FROM subj WHERE user_id % 2 = 1),
    ca AS (SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS da,
                  CAST(COUNT(*) AS BIGINT) AS ma
           FROM arm_a GROUP BY 1),
    cb AS (SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS db,
                  CAST(COUNT(*) AS BIGINT) AS mb
           FROM arm_b GROUP BY 1),
    spine AS (SELECT COALESCE(ca.t, cb.t) AS t,
                     COALESCE(da, 0) AS da, COALESCE(ma, 0) AS ma,
                     COALESCE(db, 0) AS db, COALESCE(mb, 0) AS mb
              FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
    g AS (SELECT list_sort(list(struct_pack(t := t, da := da,
                 ma := ma, db := db, mb := mb))) AS s,
                 CAST(SUM(ma) AS BIGINT) AS n_a,
                 CAST(SUM(mb) AS BIGINT) AS n_b,
                 CAST(SUM(da) AS BIGINT) AS events_a,
                 CAST(SUM(db) AS BIGINT) AS events_b
          FROM spine),
    folded AS (
      SELECT *, list_reduce(
        [[0.0, 0.0, 0.0, 0.0]]
        || [[CAST(x.da AS DOUBLE), CAST(x.ma AS DOUBLE),
             CAST(x.db AS DOUBLE), CAST(x.mb AS DOUBLE)]
            FOR x IN s],
        (acc, x) -> [
          acc[1] + (x[1] - (x[1] + x[3])
                    * (CAST(n_a AS DOUBLE) - acc[3])
                    / ((CAST(n_a AS DOUBLE) - acc[3])
                       + (CAST(n_b AS DOUBLE) - acc[4]))),
          acc[2] + CASE WHEN (CAST(n_a AS DOUBLE) - acc[3])
                             + (CAST(n_b AS DOUBLE) - acc[4]) > 1
            THEN (x[1] + x[3])
                 * ((CAST(n_a AS DOUBLE) - acc[3])
                    / ((CAST(n_a AS DOUBLE) - acc[3])
                       + (CAST(n_b AS DOUBLE) - acc[4])))
                 * (1.0 - (CAST(n_a AS DOUBLE) - acc[3])
                    / ((CAST(n_a AS DOUBLE) - acc[3])
                       + (CAST(n_b AS DOUBLE) - acc[4])))
                 * (((CAST(n_a AS DOUBLE) - acc[3])
                     + (CAST(n_b AS DOUBLE) - acc[4]))
                    - (x[1] + x[3]))
                 / (((CAST(n_a AS DOUBLE) - acc[3])
                     + (CAST(n_b AS DOUBLE) - acc[4])) - 1.0)
            ELSE 0.0 END,
          acc[3] + x[2],
          acc[4] + x[4]]) AS f
      FROM g)
    SELECT n_a, n_b, events_a, events_b,
           f[1] AS o_minus_e, f[2] AS v,
           CASE WHEN f[2] > 0 THEN f[1] / sqrt(f[2]) END AS z
    FROM folded
    """,
)
def q347(spark, sf_dir):
    """Log-rank test (operators.survival.logrank_test): do even- and
    odd-id user cohorts fail (first error) at different rates, with
    censoring handled honestly -- the hypergeometric O-E fold over
    the pooled time spine, every term three divisions in a FIXED
    time-ordered chain the oracle replays verbatim.  Hash-exact
    FULL oracle."""
    from hadron_spark.operators.survival import logrank_test

    subj = _surv_subjects(spark, sf_dir)
    return logrank_test(
        subj.filter(F.col("user_id") % 2 == 0),
        subj.filter(F.col("user_id") % 2 == 1),
        "dur",
        "ev",
    )


@_register(
    "q348_isotonic_calibrate",
    """
    WITH base AS (SELECT CAST(round(value) AS BIGINT) // 10 AS s,
                         CASE WHEN event_type = 'purchase' THEN 1
                              ELSE 0 END AS y
                  FROM events WHERE value IS NOT NULL),
    spine AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS w,
                     CAST(SUM(y) AS BIGINT) AS ys
              FROM base GROUP BY 1),
    pre AS (SELECT *,
                   SUM(w) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS pw,
                   SUM(ys) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS py
            FROM spine),
    blocks AS (SELECT a.s AS i, b.s AS j,
                      CAST(b.py - (a.py - a.ys) AS DOUBLE)
                      / CAST(b.pw - (a.pw - a.w) AS DOUBLE) AS avg
               FROM pre a JOIN pre b ON a.s <= b.s),
    suff AS (SELECT *, MIN(avg) OVER (PARTITION BY i ORDER BY j DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
             FROM blocks),
    fitted AS (SELECT j AS s, MAX(m) AS calibrated FROM suff GROUP BY 1)
    SELECT p.s AS score, w AS n, ys AS pos,
           CAST(ys AS DOUBLE) / CAST(w AS DOUBLE) AS rate, calibrated
    FROM pre p JOIN fitted USING (s)
    """,
)
def q348(spark, sf_dir):
    """Isotonic calibration (llm.evaluation.isotonic_calibrate) of
    purchase rate against the $10 value band -- the monotone lookup
    table a calibrated quality filter joins against, fit WITHOUT a
    sequential PAV loop via the minimax identity y_k = max_{i<=k}
    min_{j>=k} avg(i..j): block averages are single divisions of
    exact prefix sums on the bounded score spine, min/max are
    order-free aggregates -- pure window algebra, hash-exact FULL
    oracle."""
    from hadron_spark.llm.evaluation import isotonic_calibrate

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.expr("cast(round(value) as bigint) div 10").alias("band"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return isotonic_calibrate(ev, "band", "y")


@_register(
    "q349_script_profile",
    """
    WITH sel AS (SELECT doc_id, source, COALESCE(text, '') AS t
                 FROM documents WHERE doc_id % 37 = 0),
    cnt AS (SELECT doc_id, source,
                   CAST(len(regexp_extract_all(t, '\\S')) AS INT)
                     AS n_chars_nonspace,
                   CAST(len(regexp_extract_all(t, '[A-Za-zÀ-ɏ]'))
                        AS INT) AS c_latin,
                   CAST(len(regexp_extract_all(t, '[Ѐ-ӿ]')) AS INT)
                     AS c_cyr,
                   CAST(len(regexp_extract_all(t, '[一-鿿㐀-䶿]'))
                        AS INT) AS c_cjk,
                   CAST(len(regexp_extract_all(t, '[؀-ۿݐ-ݿ]'))
                        AS INT) AS c_ar,
                   CAST(len(regexp_extract_all(t, '[ऀ-ॿ]')) AS INT)
                     AS c_dev,
                   CAST(len(regexp_extract_all(t, '[가-힯ᄀ-ᇿ]'))
                        AS INT) AS c_han,
                   CAST(len(regexp_extract_all(t, '[぀-ヿ]')) AS INT)
                     AS c_kana,
                   CAST(len(regexp_extract_all(t, '[Ͱ-Ͽ]')) AS INT)
                     AS c_el,
                   CAST(len(regexp_extract_all(t, '[0-9]')) AS INT)
                     AS c_dig
            FROM sel)
    SELECT doc_id, source, n_chars_nonspace,
           CAST(c_latin AS DOUBLE) / nz AS latin_frac,
           CAST(c_cyr AS DOUBLE) / nz AS cyrillic_frac,
           CAST(c_cjk AS DOUBLE) / nz AS cjk_frac,
           CAST(c_ar AS DOUBLE) / nz AS arabic_frac,
           CAST(c_dev AS DOUBLE) / nz AS devanagari_frac,
           CAST(c_han AS DOUBLE) / nz AS hangul_frac,
           CAST(c_kana AS DOUBLE) / nz AS kana_frac,
           CAST(c_el AS DOUBLE) / nz AS greek_frac,
           CAST(c_dig AS DOUBLE) / nz AS digit_frac,
           CAST(n_chars_nonspace - (c_latin + c_cyr + c_cjk + c_ar
                + c_dev + c_han + c_kana + c_el + c_dig) AS DOUBLE)
             / nz AS other_frac
    FROM (SELECT *, CASE WHEN n_chars_nonspace > 0
                         THEN CAST(n_chars_nonspace AS DOUBLE) END AS nz
          FROM cnt) q
    """,
)
def q349(spark, sf_dir):
    """Unicode-script composition (llm.textstats.script_profile) of
    a deterministic 1-in-37 document sample: the multilingual gate
    in front of language_id's Latin-ngram assumption.  Scripts
    matched by explicit CODEPOINT RANGES (named classes spell
    differently in Java regex vs RE2 -- ranges compile identically
    in both engines); counts exact, each fraction ONE division,
    zero shuffle.  Hash-exact FULL oracle."""
    from hadron_spark.llm.textstats import script_profile

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 37 == 0
    ).select("doc_id", "source", "text")
    return script_profile(docs, "text").drop("text")


@_register(
    "q350_paired_t",
    """
    WITH per_user AS (
      SELECT event_type AS g, user_id,
             CAST(SUM(CASE WHEN date_part('day', ts) <= 15
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT)
             - CAST(SUM(CASE WHEN date_part('day', ts) > 15
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS s,
                   SUM(CAST(d AS HUGEINT) * d) AS q
            FROM per_user GROUP BY 1),
    k AS (SELECT *,
                 CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS a
          FROM agg)
    SELECT g AS event_type, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_diff,
           CASE WHEN n >= 2 AND a > 0
                THEN (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt(CAST(a AS DOUBLE)
                            / CAST(CAST(n AS HUGEINT) * (n - 1)
                                   AS DOUBLE)
                            / CAST(n AS DOUBLE)) END AS t
    FROM k
    """,
)
def q350(spark, sf_dir):
    """Paired t-test (operators.robust.paired_t) on the q343 frame
    (per-user first-half minus second-half spend, per event type) --
    the parametric member completing the paired kit: q331 signs,
    q343 ranks, this the magnitudes.  Exact integer moments in
    DECIMAL(38,0)/HUGEINT, four fixed IEEE ops.  Hash-exact FULL
    oracle."""
    from hadron_spark.operators.robust import paired_t

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("event_type", "user_id").agg(
        (
            F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
            - F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
        ).alias("d")
    )
    return paired_t(per_user, "d", ["event_type"])


@_register(
    "q351_rmst",
    "WITH " + _SURV_SUBJ_SQL + """,
    cells AS (SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
                     CAST(SUM(1 - ev) AS BIGINT) AS c
              FROM subj GROUP BY 1),
    spine AS (SELECT list_sort(list(struct_pack(t := t, d := d,
                c := c))) AS s,
                     CAST(SUM(d + c) AS BIGINT) AS n
              FROM cells),
    walked AS (
      SELECT n, s,
             [CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
                   ELSE list_reduce(
                          [CAST(0 AS BIGINT)]
                          || [s[x].d + s[x].c FOR x IN range(1, i)],
                          (a, b) -> a + b) END
              FOR i IN range(1, len(s) + 1)] AS pre
      FROM spine),
    surv AS (
      SELECT n, s, pre,
             [list_reduce(
                [1.0] || [CASE WHEN s[j].d > 0
                               THEN 1.0 - CAST(s[j].d AS DOUBLE)
                                    / CAST(n - pre[j] AS DOUBLE)
                               ELSE 1.0 END
                          FOR j IN range(1, i + 1)],
                (a, b) -> a * b)
              FOR i IN range(1, len(s) + 1)] AS sv
      FROM walked)
    SELECT CAST(15 AS BIGINT) AS tau, n,
           greatest(CAST(least(s[1].t, 15) AS DOUBLE), 0.0)
           + list_reduce(
               [0.0] || [sv[i] * CAST(greatest(
                   least(CASE WHEN i < len(s) THEN s[i + 1].t
                              ELSE CAST(15 AS BIGINT) END,
                         15)
                   - least(s[i].t, 15), 0) AS DOUBLE)
                 FOR i IN range(1, len(s) + 1)],
               (a, b) -> a + b) AS rmst
    FROM surv
    """,
)
def q351(spark, sf_dir):
    """Restricted mean survival time (operators.survival
    .restricted_mean_survival, tau = 15 days) over the q346
    time-to-first-error frame -- "expected error-free days within
    the first 15", the honest scalar when the KM curve never
    crosses 0.5 (heavy censoring).  Area under the step function:
    exact integer segment widths x the q346 fixed-chain survival
    values, folded in time order.  Hash-exact FULL oracle."""
    from hadron_spark.operators.survival import restricted_mean_survival

    return restricted_mean_survival(
        _surv_subjects(spark, sf_dir), "dur", "ev", tau=15
    )


@_register(
    "q352_cronbach_alpha",
    """
    WITH base AS (SELECT user_id AS u, event_type AS i,
                         CAST(COUNT(*) AS BIGINT) AS x
                  FROM events
                  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                  GROUP BY 1, 2),
    kk AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS k FROM base),
    per_subj AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS m,
                        CAST(SUM(x) AS BIGINT) AS tot
                 FROM base GROUP BY 1),
    complete AS (SELECT u, tot FROM per_subj, kk WHERE m = kk.k),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(tot) AS BIGINT) AS ts,
                     SUM(CAST(tot AS HUGEINT) * tot) AS tq
              FROM complete),
    items AS (SELECT i, CAST(SUM(x) AS BIGINT) AS s,
                     SUM(CAST(x AS HUGEINT) * x) AS q,
                     CAST(COUNT(*) AS BIGINT) AS nn
              FROM base JOIN complete USING (u) GROUP BY 1),
    folded AS (SELECT list_reduce(
                 [0.0] || list_transform(
                   list_sort(list(struct_pack(i := i, s := s, q := q,
                                              nn := nn))),
                   x -> CAST(CAST(x.nn AS HUGEINT) * x.q
                             - CAST(x.s AS HUGEINT) * x.s AS DOUBLE)),
                 (a, b) -> a + b) AS sum_ivar
               FROM items)
    SELECT kk.k, n AS n_subjects,
           CASE WHEN kk.k >= 2 AND n >= 2
                 AND CAST(CAST(n AS HUGEINT) * tq
                          - CAST(ts AS HUGEINT) * ts AS DOUBLE) > 0
                THEN CAST(kk.k AS DOUBLE) / (CAST(kk.k AS DOUBLE) - 1)
                     * (1.0 - sum_ivar
                        / CAST(CAST(n AS HUGEINT) * tq
                               - CAST(ts AS HUGEINT) * ts AS DOUBLE))
                END AS alpha
    FROM n_tot, folded, kk
    """,
)
def q352(spark, sf_dir):
    """Cronbach's alpha (llm.evaluation.cronbach_alpha): are the
    five per-user event-type activity counts an internally
    consistent "engagement instrument" -- the reliability gate
    before averaging rubric items into one score.  Incomplete users
    dropped whole; every variance numerator n*Sum(x^2) - (Sum x)^2 an
    exact DECIMAL(38,0)/HUGEINT integer, the per-item sum folded
    item-sorted.  Hash-exact FULL oracle."""
    from hadron_spark.llm.evaluation import cronbach_alpha

    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    scores = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("x")
    )
    return cronbach_alpha(scores, "user_id", "event_type", "x")


@_register(
    "q353_icc",
    """
    WITH base AS (SELECT struct_pack(u := user_id,
                                     d := CAST(ts AS DATE)) AS subj,
                         CAST(round(value) AS BIGINT) AS x
                  FROM events
                  WHERE user_id IS NOT NULL AND ts IS NOT NULL
                    AND value IS NOT NULL),
    subj AS (SELECT subj, CAST(COUNT(*) AS BIGINT) AS k,
                    CAST(SUM(x) AS BIGINT) AS s,
                    SUM(CAST(x AS HUGEINT) * x) AS q
             FROM base GROUP BY 1
             HAVING COUNT(*) >= 2),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS nn,
                   CAST(SUM(s) AS BIGINT) AS ts,
                   SUM(q) AS tq,
                   SUM(CAST(k AS HUGEINT) * k) AS k2,
                   list_reduce(
                     [0.0] || list_transform(
                       list_sort(list(struct_pack(u := subj, k := k,
                                                  s := s, q := q))),
                       x -> CAST(x.q AS DOUBLE)
                            - CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
                              / CAST(x.k AS DOUBLE)),
                     (a, b) -> a + b) AS ssw
            FROM subj),
    k AS (SELECT *,
                 CAST(tq AS DOUBLE)
                 - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
                   / CAST(nn AS DOUBLE) AS sst,
                 (CAST(nn AS DOUBLE)
                  - CAST(k2 AS DOUBLE) / CAST(nn AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1) AS k0
          FROM agg),
    m AS (SELECT *,
                 (sst - ssw) / (CAST(n AS DOUBLE) - 1) AS msb,
                 ssw / (CAST(nn AS DOUBLE) - CAST(n AS DOUBLE)) AS msw
          FROM k)
    SELECT n AS n_subjects, nn AS n_ratings,
           CASE WHEN n >= 2 AND nn > n
                 AND msb + (k0 - 1) * msw > 0
                THEN (msb - msw) / (msb + (k0 - 1) * msw) END AS icc
    FROM m
    """,
)
def q353(spark, sf_dir):
    """One-way intraclass correlation ICC(1,1) (llm.evaluation
    .icc_oneway): how much of event value variance is the (user,
    day) unit rather than the within-day draw -- the graded-score
    companion to q334's categorical Krippendorff, unbalanced design
    handled by the ANOVA n0.  Exact integer moments; SSW folds
    subject-sorted with one division per subject.  Hash-exact FULL
    oracle."""
    from hadron_spark.llm.evaluation import icc_oneway

    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.struct(
            F.col("user_id").alias("u"), F.to_date("ts").alias("d")
        ).alias("subj"),
        F.round("value").cast("long").alias("x"),
    )
    return icc_oneway(ev, "subj", "x")


@_register(
    "q354_streaming_holt_winters",
    """
    WITH RECURSIVE d AS (
      SELECT event_type AS g,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    srt AS (
      SELECT g, day, y,
             CAST(row_number() OVER (PARTITION BY g ORDER BY day)
                  AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
             MAX(day) OVER (PARTITION BY g) AS last_day
      FROM d),
    arrs AS (
      SELECT g, n, last_day, list(y ORDER BY day) AS ys
      FROM srt GROUP BY g, n, last_day
      HAVING n >= 14),
    init AS (
      SELECT g, n, last_day, ys,
             list_reduce(ys[1:7], (p, q) -> p + q) / 7 AS l0,
             (list_reduce(ys[8:14], (p, q) -> p + q) / 7
              - list_reduce(ys[1:7], (p, q) -> p + q) / 7) / 7 AS b0
      FROM arrs),
    init2 AS (
      SELECT g, n, last_day, l0, b0,
             list_transform(ys[1:7], v -> v - l0) AS ring0
      FROM init),
    walk AS (
      SELECT g, n, last_day, CAST(7 AS BIGINT) AS t,
             l0 AS l, b0 AS b, ring0 AS ring
      FROM init2
      UNION ALL
      SELECT w.g, w.n, w.last_day, s.rn,
             0.25 * (s.y - w.ring[1]) + 0.75 * (w.l + w.b),
             0.125 * ((0.25 * (s.y - w.ring[1]) + 0.75 * (w.l + w.b))
                      - w.l) + 0.875 * w.b,
             w.ring[2:] || [0.25 * (s.y - w.l - w.b) + 0.75 * w.ring[1]]
      FROM walk w JOIN srt s ON s.g = w.g AND s.rn = w.t + 1)
    SELECT g AS key, l AS level, b AS trend,
           l + b + ring[1] AS forecast, last_day AS last_ord,
           n AS n_points, CAST(0 AS BIGINT) AS warming
    FROM walk WHERE t = n
    """,
)
def q354(spark, sf_dir):
    """Streaming Holt-Winters (streaming.ops
    .incremental_holt_winters): the q325 weekly-seasonal smoother
    kept LIVE -- the per-type daily series delivered as THREE
    chronological micro-batches, the first cut INSIDE the 2m-point
    warm-up window (the case the 'w' buffer rows exist for).
    Warm-up buffering + the sequential recurrence make any chopping
    bit-identical to the one-shot scan, so the drained state
    (level, trend, one-step forecast) carries a FULL oracle: the
    q325 recursive ring-walk's FINAL row per key."""
    import shutil
    import tempfile

    from hadron_spark.streaming.ops import (
        holt_winters_apply_fn,
        read_hw_state,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("cnt_day")
    )
    lo, hi = daily.agg(F.min("day"), F.max("day")).collect()[0]
    cut1 = lo + 9            # inside the 14-point warm-up
    cut2 = lo + 2 * (hi - lo) // 3
    work = tempfile.mkdtemp(prefix="q354_")
    state = f"{work}/state"
    apply = holt_winters_apply_fn(
        state, "event_type", "day", "cnt_day",
        period=7, alpha=0.25, beta=0.125, gamma=0.25,
    )
    apply(daily.filter(F.col("day") <= cut1), 0)
    apply(daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2)), 1)
    apply(daily.filter(F.col("day") > cut2), 2)
    out = read_hw_state(spark, state)
    result = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(work, ignore_errors=True)
    return result


@_register(
    "q355_expectations",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
    checks AS (
      SELECT 'not_null(o_custkey)' AS "check", 'o_custkey' AS "column",
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)', 'o_orderkey',
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_range(o_totalprice,0,600000)', 'o_totalprice',
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                            AND (o_totalprice < 0
                                 OR o_totalprice > 600000)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'matches(o_orderpriority)', 'o_orderpriority',
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority,
                                                   '^[1-5]-')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'future_orders', 'o_orderdate',
             CAST(SUM(CASE WHEN o_orderdate
                                >= TIMESTAMP '2000-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders)
    SELECT "check", "column", n_rows, n_violations,
           n_violations = 0 AS pass
    FROM checks, n
    """,
)
def q355(spark, sf_dir):
    """Data-quality expectation suite (operators.expectations
    .expect): the contract check a pipeline runs before publishing a
    snapshot -- six expectations over orders (null, uniqueness,
    range, enum, regex, custom freshness) compiled to conditional
    aggregates over ONE scan (one shuffle of one combined row per
    partition; the 20-check suite costs one pass, not 20).  Every
    number an exact count: hash-exact FULL oracle."""
    from hadron_spark.operators.expectations import (
        accepted_values,
        custom,
        expect,
        in_range,
        matches,
        not_null,
        unique,
    )

    o = load(spark, sf_dir, "orders")
    suite = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 600000),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        matches("o_orderpriority", "^[1-5]-"),
        custom(
            "future_orders",
            "o_orderdate",
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"),
        ),
    ]
    return expect(o, suite)


@_register(
    "q356_fk_integrity",
    """
    SELECT 'foreign_key(o_custkey)' AS "check", 'o_custkey' AS "column",
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
             AS n_violations,
           (SELECT COUNT(*) FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
             AS pass
    UNION ALL
    SELECT 'foreign_key(l_orderkey)', 'l_orderkey',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT COUNT(*) FROM lineitem l
            WHERE l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    """,
)
def q356(spark, sf_dir):
    """Cross-table referential integrity (operators.expectations
    .foreign_key): orders.custkey within customer, lineitem.orderkey
    within orders -- the relations leg of the q355 suite, one LEFT
    ANTI join each (Catalyst broadcasts the distinct parent-key side
    when small), orphans counted never collected.  Hash-exact FULL
    oracle."""
    from hadron_spark.operators.expectations import foreign_key

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    return foreign_key(o, "o_custkey", c, "c_custkey").unionByName(
        foreign_key(li, "l_orderkey", o, "o_orderkey")
    )


@_register(
    "q357_ols_fit",
    """
    WITH b AS (SELECT l_returnflag AS g,
                      CAST(round(l_quantity) AS BIGINT) AS x1,
                      CAST(round(l_discount * 100) AS BIGINT) AS x2,
                      CAST(round(l_extendedprice) AS BIGINT) AS y
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                 AND l_extendedprice IS NOT NULL),
    m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(y AS HUGEINT) * y) AS syy,
                 CAST(SUM(x1) AS BIGINT) AS s1,
                 CAST(SUM(x2) AS BIGINT) AS s2,
                 SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
                 SUM(CAST(x2 AS HUGEINT) * x1) AS s12,
                 SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
                 SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
                 SUM(CAST(x2 AS HUGEINT) * y) AS s2y
          FROM b GROUP BY 1),
    dets AS (SELECT *,
        CAST(n AS HUGEINT) * (s11 * s22 - s12 * s12)
          - CAST(s1 AS HUGEINT) * (s1 * s22 - s12 * s2)
          + CAST(s2 AS HUGEINT) * (s1 * s12 - s11 * s2) AS det,
        CAST(sy AS HUGEINT) * (s11 * s22 - s12 * s12)
          - CAST(s1 AS HUGEINT) * (s1y * s22 - s12 * s2y)
          + CAST(s2 AS HUGEINT) * (s1y * s12 - s11 * s2y) AS det0,
        CAST(n AS HUGEINT) * (s1y * s22 - s12 * s2y)
          - CAST(sy AS HUGEINT) * (s1 * s22 - s12 * s2)
          + CAST(s2 AS HUGEINT) * (s1 * s2y - s1y * s2) AS det1,
        CAST(n AS HUGEINT) * (s11 * s2y - s1y * s12)
          - CAST(s1 AS HUGEINT) * (s1 * s2y - s1y * s2)
          + CAST(sy AS HUGEINT) * (s1 * s12 - s11 * s2) AS det2
      FROM m),
    beta AS (SELECT *,
        CASE WHEN det <> 0 THEN CAST(det0 AS DOUBLE)
             / CAST(det AS DOUBLE) END AS b0,
        CASE WHEN det <> 0 THEN CAST(det1 AS DOUBLE)
             / CAST(det AS DOUBLE) END AS b1,
        CASE WHEN det <> 0 THEN CAST(det2 AS DOUBLE)
             / CAST(det AS DOUBLE) END AS b2
      FROM dets)
    SELECT g AS l_returnflag, n, b0, b1, b2,
           CASE WHEN CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0
                THEN 1.0 - (CAST(syy AS DOUBLE)
                            - (b0 * CAST(sy AS DOUBLE)
                               + b1 * CAST(s1y AS DOUBLE)
                               + b2 * CAST(s2y AS DOUBLE)))
                     / (CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                          / CAST(n AS DOUBLE)) END AS r2
    FROM beta
    """,
)
def q357(spark, sf_dir):
    """Two-predictor least squares (operators.robust.ols_fit):
    price ~ 1 + quantity + discount%, per returnflag -- solved
    EXACTLY by Cramer's rule on the normal equations (every X'X /
    X'y entry an exact integer moment, every determinant exact
    DECIMAL(38,0)/HUGEINT cofactor algebra, one division per
    coefficient; zero iterative fitting).  R^2 off the fixed
    SSE/SST chain.  Hash-exact FULL oracle -- the multiple-
    regression step beyond q298's robust single slope."""
    from hadron_spark.operators.robust import ols_fit

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    return ols_fit(li, "y", ["x1", "x2"], ["l_returnflag"])


@_register(
    "q358_dispersion",
    """
    WITH hourly AS (SELECT event_type AS g,
                           date_trunc('hour', ts) AS h,
                           CAST(COUNT(*) AS BIGINT) AS x
                    FROM events GROUP BY 1, 2),
    agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   SUM(CAST(x AS HUGEINT) * x) AS q
            FROM hourly GROUP BY 1)
    SELECT g AS event_type, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CASE WHEN s > 0 AND n >= 2
                THEN (CAST(CAST(n AS HUGEINT) * q
                           - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / CAST(s AS DOUBLE)) / CAST(n - 1 AS DOUBLE)
                END AS vmr,
           CASE WHEN s > 0 AND n >= 2
                THEN CAST(CAST(n AS HUGEINT) * q
                          - CAST(s AS HUGEINT) * s AS DOUBLE)
                     / CAST(s AS DOUBLE) END AS chi2
    FROM agg
    """,
)
def q358(spark, sf_dir):
    """Poisson dispersion test (operators.robust.dispersion_test) on
    hourly event counts per type: vmr ~= 1 means arrivals are
    Poisson, >> 1 means bursty -- the gate before trusting any
    Poisson-rate model (q337's control chart, q342's exact test).
    chi2 = (n*Sum(x^2) - (Sum x)^2)/Sum(x) is an EXACT integer ratio,
    ONE division.  Hash-exact FULL oracle."""
    from hadron_spark.operators.robust import dispersion_test

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    return dispersion_test(hourly, "x", ["event_type"])
