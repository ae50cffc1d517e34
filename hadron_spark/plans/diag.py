"""Data-shape diagnostics that inform physical planning: key-skew
profiling and exact join-cardinality estimation.

The reference leaves partition skew to the operator author (manual
partitioner flags, SURVEY §2.6 / hadron O1); at 100 TB the first
question before any shuffle is "which keys are hot, and how many
output rows will this join make?".  These operators answer it with
the same partial-agg'd one-shuffle shape the downstream job will
use, so profiling a 100 TB input costs one aggregate pass, never a
sort of the raw rows.

Exactness discipline (registry-hash-safe): counts are int64; every
ratio is ONE correctly-rounded IEEE division of exact longs; the
recommended salt factor is pure integer ceiling math.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadron_spark.operators.ops import pin, stamp_rank, top_k


def key_skew_profile(
    df: DataFrame,
    keys: Sequence[str],
    top: int = 20,
    n_partitions: int = 200,
) -> DataFrame:
    """The `top` hottest grouping/join keys with exact skew numbers —
    what you read before deciding to salt, broadcast, or AQE-split a
    shuffle on `keys`.

    Per returned key: its row count, dense position by count (rank,
    ties broken by key ascending), corpus totals (n_total rows,
    n_keys distinct), share = cnt/n_total, skew = cnt·n_keys/n_total
    (how many times the average key's mass this key carries; both
    single divisions of exact int64 products), and salt = the
    partition-split factor ceil(cnt·n_partitions/n_total) — how many
    of the job's `n_partitions` shuffle partitions this key's rows
    fill, i.e. the salting fan-out that levels it (1 = not worth
    salting).

    Plan: ONE partial-agg'd shuffle onto the key spine; totals
    reduce the spine to one broadcast row; the top-k is
    TakeOrderedAndProject over the spine (never a full sort).  The
    spine is pinned — it feeds both the totals and the top-k."""
    if not keys:
        raise ValueError("keys must be non-empty")
    if top < 1 or n_partitions < 1:
        raise ValueError(f"top/n_partitions must be >= 1: {top}/{n_partitions}")
    spine = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    spine = pin(spine)
    tot = spine.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("n_keys")
    )
    order = [F.col("cnt").desc()] + [F.col(k).asc() for k in keys]
    # rank stamped on the post-limit frame (<= `top` rows) — no
    # whole-dataset window, so the unpartitioned-window warning
    # class stays a genuine scale tripwire
    hot = stamp_rank(top_k(spine, order, top), order, out_col="rank")
    ranked = hot.crossJoin(F.broadcast(tot))
    return ranked.select(
        *keys,
        "cnt",
        "rank",
        "n_total",
        "n_keys",
        (F.col("cnt").cast("double") / F.col("n_total").cast("double")).alias(
            "share"
        ),
        (
            (F.col("cnt") * F.col("n_keys")).cast("double")
            / F.col("n_total").cast("double")
        ).alias("skew"),
        F.expr(
            f"(cnt * {n_partitions} + n_total - 1) div n_total"
        ).cast("long").alias("salt"),
    )


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """EXACT inner-equi-join output cardinality on `keys` without
    running the join: |A ⋈ B| = Σ_k a_k·b_k over per-key counts —
    the pre-flight that decides whether a join is safe to run, needs
    a hot-key split, or signals an unintended many-to-many.

    One row: (left_rows, right_rows, left_keys, right_keys,
    matching_keys, out_rows, max_key_out, amplification) where
    max_key_out is the largest single-key contribution (the row
    count the hottest post-join partition must absorb) and
    amplification = out_rows/greatest(left_rows, right_rows) — one
    IEEE division; > 1 means the join multiplies its bigger input.

    Plan cost: one partial-agg'd shuffle per side onto the key
    spines plus a spine-sized join — counts move, raw rows never
    do.  NULL keys never match (inner-join semantics): rows with a
    NULL key are counted in *_rows but excluded from the spines."""
    if not keys:
        raise ValueError("keys must be non-empty")
    nn = None
    for k in keys:
        c = F.col(k).isNotNull()
        nn = c if nn is None else (nn & c)
    lcnt = pin(left.groupBy(*keys).agg(F.count(F.lit(1)).alias("_lc")))
    rcnt = pin(right.groupBy(*keys).agg(F.count(F.lit(1)).alias("_rc")))
    # *_rows count every row (incl. NULL-key rows); *_keys count only
    # matchable (non-NULL) key groups, as the docstring states —
    # counting the NULL group as a "key" disagreed with the
    # inner-join semantics it can never participate in (ADVICE r4)
    ltot = lcnt.agg(
        F.sum("_lc").alias("left_rows"),
        F.count(F.when(nn, F.lit(1))).alias("left_keys"),
    )
    rtot = rcnt.agg(
        F.sum("_rc").alias("right_rows"),
        F.count(F.when(nn, F.lit(1))).alias("right_keys"),
    )
    j = (
        lcnt.filter(nn)
        .join(rcnt.filter(nn), list(keys))
        .select((F.col("_lc") * F.col("_rc")).alias("_out"))
        .agg(
            F.count(F.lit(1)).alias("matching_keys"),
            F.coalesce(F.sum("_out"), F.lit(0)).alias("out_rows"),
            F.coalesce(F.max("_out"), F.lit(0)).alias("max_key_out"),
        )
    )
    row = ltot.crossJoin(F.broadcast(rtot)).crossJoin(F.broadcast(j))
    return row.select(
        "left_rows",
        "right_rows",
        "left_keys",
        "right_keys",
        "matching_keys",
        "out_rows",
        "max_key_out",
        (
            F.col("out_rows").cast("double")
            / F.greatest(F.col("left_rows"), F.col("right_rows")).cast("double")
        ).alias("amplification"),
    )
