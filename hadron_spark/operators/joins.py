"""Joins: monoidal n-way equi-joins + the join taxonomy Spark adds.

Reference parity: hadron's join surface (src/Hadron/Join.hs) is a
reduce-side n-way equi-join where each input is mapped into a common
monoid; `JRequired` datasets must be present for a key to emit,
`JOptional` datasets contribute `mempty` when absent
(Join.hs:48-49, 81-158). `joinStep` wires the tagging/secondary-sort
(Controller.hs:1157-1221), `joinMR` is the 2-way inner special case
(Controller.hs:1316-1354).

Spark-first: native joins ARE the streaming reduce-side join the
reference hand-rolls (SortMergeJoin buffers one side per key —
exactly Join.hs:60-110's Buffering/Streaming accumulator), so the
monoidal semantics become join-type selection + null-fill:

- all-required            → chained inner joins
- required + optional     → inner core, then left joins, mempty fill
- all-optional            → chained full-outer joins, mempty fill

At scale: small sides get `broadcast()` (true map-side join — the
reference's README claims map-side but implements reduce-side,
README.md:20-25 vs Join.hs:121-195; we deliver the real thing);
big-big joins stay SMJ with AQE skew splitting.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadron_spark.operators.ops import pin

REQUIRED = "required"  # JRequired (Join.hs:48)
OPTIONAL = "optional"  # JOptional (Join.hs:49)


@dataclass
class JoinSide:
    """One dataset entering the n-way join — the (Tap, JoinType, Mapper)
    triple of the reference's joinStep (Controller.hs:1157-1165), with
    the Mapper already applied (the df should expose the key columns +
    its monoid-value columns)."""

    df: DataFrame
    how: str = REQUIRED
    broadcast: bool = False  # hint: small dim → map-side hash join

    def resolved(self) -> DataFrame:
        return F.broadcast(self.df) if self.broadcast else self.df


def monoidal_join(
    on: Sequence[str],
    sides: Sequence[JoinSide],
    fill: dict | None = None,
) -> DataFrame:
    """n-way equi-join with required/optional semantics (reference
    joinStep + bufToStr + joinFinalize, Controller.hs:1157-1221,
    Join.hs:81-158).

    Emission rule (Join.hs:81-104): a key produces output iff every
    REQUIRED side has ≥1 row; OPTIONAL sides absent at that key are
    replaced by `mempty` — expressed here as `fill` defaults applied
    to their null columns. Output is the cross product of each side's
    rows per key (native join semantics), matching the reference's
    `sequence` over per-dataset buffers.

    Shuffle plan: one hash exchange per non-broadcast side on `on`;
    Catalyst reorders and collapses same-key exchanges so the chain
    reuses one partitioning across stages.
    """
    if not sides:
        raise ValueError("monoidal_join: no sides")
    on = list(on)
    required = [s for s in sides if s.how == REQUIRED]
    optional = [s for s in sides if s.how == OPTIONAL]

    if required:
        out = required[0].resolved()
        for s in required[1:]:
            out = out.join(s.resolved(), on=on, how="inner")
        for s in optional:
            out = out.join(s.resolved(), on=on, how="left")
    else:
        # all-optional edge case: a key existing in ANY side emits,
        # others mempty-filled (Join.hs:138-158 joinFinalize).
        out = optional[0].resolved()
        for s in optional[1:]:
            # `on` as a name list makes full-outer coalesce the key cols.
            out = out.join(s.resolved(), on=on, how="full_outer")

    if fill:
        out = out.fillna(fill)
    return out


def join_mr(
    left: DataFrame, right: DataFrame, on: Sequence[str], merge: Sequence
) -> DataFrame:
    """2-way inner monoidal join (reference joinMR,
    Controller.hs:1316-1354: caches Lefts, streams Rights emitting
    `a <> b`). `merge` is a list of already-`.alias()`ed Columns
    combining both sides' columns (the `<>`)."""
    return left.join(right, on=list(on), how="inner").select(*on, *merge)


# ---------------------------------------------------------------------------
# beyond-reference join taxonomy (SURVEY §2.5: hadron has equi
# inner/outer only; semi/anti/range/as-of declared free capability)
# ---------------------------------------------------------------------------


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """EXISTS — rows of left with a match; right never materialized
    into the output (no wide row, no dup explosion)."""
    return left.join(right, on=list(on), how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """NOT EXISTS."""
    return left.join(right, on=list(on), how="left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point,
    right_lo,
    right_hi,
    equi_on: Sequence[str] | None = None,
) -> DataFrame:
    """point-in-interval join: equi keys first (hash exchange), range
    predicate as join condition. With equi keys Catalyst plans SMJ on
    the keys + filter; without, it would be a cartesian — callers at
    scale must bucketize (bucketize_range_join)."""
    cond = (left_point >= right_lo) & (left_point <= right_hi)
    if equi_on:
        for c in equi_on:
            cond = cond & (left[c] == right[c])
    return left.join(right, on=cond)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    direction: str = "backward",
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """as-of join: for each left row, the nearest right row per key —
    backward (latest right_ts <= left_ts, the default) or forward
    (earliest right_ts >= left_ts). Spark has no native as-of, so this
    is the scalable union+window composition (no Pandas UDF, one
    shuffle on keys):

      union(tagged left, tagged right)
        → window last/first_value(right_vals, ignorenulls) over the
          preceding/following frame ordered by ts
        → keep left rows.

    Ties (equal ts): the right row is ordered to be visible to the
    left row at the same instant in either direction (merge_asof
    semantics). MULTIPLE right rows at the same (key, ts) resolve
    deterministically: `tiebreak` columns (default: the right_vals
    themselves, ascending nulls-first) extend the window order, so
    the winner is a pure function of the data, stable across
    partitionings and reruns — without this, the picked row depended
    on shuffle arrival order (VERDICT r1 #5, hash-stability risk).
    Pass explicit `tiebreak` when a right_val is unorderable (map)."""
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    keys = list(keys)
    tb = [
        F.col(c).asc_nulls_first()
        for c in (tiebreak if tiebreak is not None else right_vals)
    ]
    lcols = [c for c in left.columns]
    tagged_l = left.withColumn("_ts", F.col(left_ts)).withColumn("_src", F.lit(1))
    for v in right_vals:
        tagged_l = tagged_l.withColumn(v, F.lit(None).cast(right.schema[v].dataType))
    tagged_r = (
        right.select(*keys, F.col(right_ts).alias("_ts"), *right_vals)
        .withColumn("_src", F.lit(0))
    )
    for c in lcols:
        if c not in keys and c not in tagged_r.columns:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = tagged_l.unionByName(tagged_r, allowMissingColumns=True)

    if direction == "backward":
        # right (src 0) sorts before left at equal ts → inside the frame
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").asc(), F.col("_src").asc(), *tb)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda v: F.last(v, ignorenulls=True).over(w)  # noqa: E731
    else:
        # left (src 1) sorts before right at equal ts → right in frame
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").asc(), F.col("_src").desc(), *tb)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pick = lambda v: F.first(v, ignorenulls=True).over(w)  # noqa: E731
    out = unioned
    for v in right_vals:
        out = out.withColumn(v, pick(v))
    return out.filter(F.col("_src") == 1).select(*lcols, *right_vals)


def _bloom_pos(key_col, salt: int, m_bits: int):
    # xxhash64, not md5: the bloom pass is invisible in results (the
    # real join re-checks), so it needs only within-engine
    # determinism — take the cheap native hash. pmod: xxhash64 spans
    # the full signed range.
    return F.pmod(F.xxhash64(key_col, F.lit(salt)), F.lit(m_bits))


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 22,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a Bloom-filter pre-pass: fact rows that cannot
    match any dim key are dropped AT THE SCAN, before the join
    shuffle ever sees them — the runtime-filter pattern that decides
    selective fact⋈dim joins at 100 TB (AQE injects these
    automatically when `spark.sql.optimizer.runtime.bloomFilter.
    enabled` is on; this is the explicit, engine-independent form,
    usable when the dim side is itself a subquery AQE won't cover).

    The filter is a SPARSE bitmap DataFrame, not a binary blob:
    2 salted xxhash64 positions per distinct dim key, OR-merged into
    (word, mask) rows by a partial-aggregated groupBy — ≤ m_bits/64
    rows (~KBs for the default 4M bits), broadcast twice onto the
    fact side as plain left joins + bitwise probes. False positives
    only waste a row in the REAL join that follows, so results are
    exactly the plain join's (the oracle for q129 is that plain
    join); false-negative-free because every dim key set its bits.

    Results identical to `fact.join(dim, ...)` for inner/semi joins
    of non-null keys — and ONLY those: the pre-pass drops unmatched
    fact rows before the final join, so an outer/anti join here would
    silently lose rows that must survive with NULLs. Enforced."""
    allowed = {"inner", "semi", "left_semi", "leftsemi"}
    if how not in allowed:
        raise ValueError(
            f"bloom_prefilter_join only preserves {sorted(allowed)} "
            f"semantics (the pre-pass drops non-matching fact rows); "
            f"got how={how!r}"
        )
    fk, dk = F.col(fact_key), F.col(dim_key)
    keys = dim.select(dk.alias("_k")).distinct()
    bits = keys.select(
        F.explode(
            F.array(
                _bloom_pos(F.col("_k"), 0, m_bits),
                _bloom_pos(F.col("_k"), 1, m_bits),
            )
        ).alias("_pos")
    )
    # pinned: the bitmap feeds TWO broadcast probes, and without the
    # pin the dim-distinct + explode + OR-merge would run once per
    # probe (it is ≤ m_bits/64 rows — the pin is ~free)
    bitmap = pin(
        bits.select(
            F.expr("_pos div 64").alias("_word"),
            F.expr("shiftleft(1L, CAST(_pos % 64 AS INT))").alias("_m1"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_m1").alias("_mask"))
    )
    probed = fact
    for salt in (0, 1):
        pos = _bloom_pos(fk, salt, m_bits)
        probed = (
            probed.withColumn(f"_p{salt}", pos)
            .withColumn(f"_w{salt}", F.expr(f"_p{salt} div 64"))
            .join(
                F.broadcast(
                    bitmap.select(
                        F.col("_word").alias(f"_w{salt}"),
                        F.col("_mask").alias(f"_mk{salt}"),
                    )
                ),
                f"_w{salt}",
                "left",
            )
            .filter(
                F.col(f"_mk{salt}").isNotNull()
                & F.expr(
                    f"(shiftright(_mk{salt}, CAST(_p{salt} % 64 AS INT)) % 2)"
                    " != 0"
                )
            )
        )
    probed = probed.drop("_p0", "_w0", "_mk0", "_p1", "_w1", "_mk1")
    return probed.join(dim, fk == dk, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    band_width: int,
    equi_on: Sequence[tuple[str, str]] | None = None,
) -> DataFrame:
    """Interval-OVERLAP join via banding — the distributed classic
    `range_join`'s point-in-interval shape can't state (sessions ×
    outages, validity windows × validity windows), and the
    bucketized scale path its docstring promises: without banding
    an overlap theta-join is a per-key cartesian.

    Both sides explode their [lo, hi] span onto integer bands of
    `band_width` (`lo div W .. hi div W` — intervals are integer by
    the quantization discipline), the join runs EQUI on the band
    (+ optional equi key pairs) with the overlap predicate
    `l_lo <= r_hi AND r_lo <= l_hi` as the residual filter, and a
    pair that shares several bands emits ONCE via the canonical-band
    rule `band == greatest(l_lo div W, r_lo div W)` (the first band
    where both intervals are live — an arithmetic dedup, no
    distinct pass; consistent truncating `div` on both sequence
    bounds and the canon test keeps it correct for negative
    coordinates too).

    Scale shape: one explode + one shuffle per side keyed on
    (band, keys); row blowup is spans/W per interval — pick W near
    the TYPICAL interval length so most intervals hit 1-2 bands
    (the honest knob; a span of B bands costs B replicas, that is
    the algorithm).  A hot band (many long intervals stacked) is
    ordinary join skew — AQE splits it.  Column names of the two
    frames must be DISJOINT (rename upstream); `equi_on` is
    (left_col, right_col) pairs.  Empty intervals (lo > hi) drop.

    Returns left.* + right.* for every overlapping pair."""
    if band_width < 1:
        raise ValueError(f"band_width must be >= 1: {band_width}")
    shared = set(left.columns) & set(right.columns)
    if shared:
        raise ValueError(
            f"interval_join needs disjoint column names; shared: "
            f"{sorted(shared)}"
        )

    def banded(df: DataFrame, lo: str, hi: str, out: str) -> DataFrame:
        return df.filter(
            F.col(lo).cast("long") <= F.col(hi).cast("long")
        ).withColumn(
            out,
            F.explode(
                F.sequence(
                    F.expr(f"{lo} div {band_width}"),
                    F.expr(f"{hi} div {band_width}"),
                )
            ),
        )

    l = banded(left, left_lo, left_hi, "_bl")
    r = banded(right, right_lo, right_hi, "_br")
    cond = (
        (F.col("_bl") == F.col("_br"))
        & (F.col(left_lo) <= F.col(right_hi))
        & (F.col(right_lo) <= F.col(left_hi))
        & (
            F.col("_bl")
            == F.greatest(
                F.expr(f"{left_lo} div {band_width}"),
                F.expr(f"{right_lo} div {band_width}"),
            )
        )
    )
    for lc, rc in equi_on or []:
        cond = cond & (F.col(lc) == F.col(rc))
    return l.join(r, cond).drop("_bl", "_br")


def bucketize_range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    band_width: int,
    equi_on: Sequence[tuple[str, str]] | None = None,
) -> DataFrame:
    """Bucketized point-in-interval join — the scale path
    `range_join`'s docstring prescribes when there are no equi keys
    (a bare range predicate would plan as a cartesian): a point is
    a zero-length interval, so this is `interval_join` with the
    left span collapsed — the point side explodes onto exactly ONE
    band, only the interval side pays the span/W replication.
    Same disjoint-column-name and integer-coordinate contract."""
    l2 = left.withColumn("_plo", F.col(left_point).cast("long"))
    out = interval_join(
        l2.withColumn("_phi", F.col("_plo")),
        right,
        "_plo",
        "_phi",
        right_lo,
        right_hi,
        band_width=band_width,
        equi_on=equi_on,
    )
    return out.drop("_plo", "_phi")
