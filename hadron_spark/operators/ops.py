"""Relational operator surface.

The reference has no SQL layer — users compose map/shuffle/reduce by
hand (SURVEY §2.3-2.7). This module declares the equivalent relational
surface as thin, Catalyst-friendly DataFrame combinators so every
capability is a named, testable operator. Nothing here materializes
except `pin` (and the operators that call it); everything else stays in
the lazy plan for whole-stage codegen.

Scale notes are attached per-op: which ones shuffle, which broadcast,
which are narrow.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# map-side ops (narrow — no shuffle; reference Mapper conduits, Types.hs:30-36)
# ---------------------------------------------------------------------------


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Column pruning reaches the parquet scan (ReadSchema)."""
    return df.select(*cols)


def filter_rows(df: DataFrame, pred: Column | str) -> DataFrame:
    """Predicate pushes into the scan (PushedFilters) when it is a
    simple comparison on a scanned column."""
    return df.filter(pred)


def flat_map_explode(df: DataFrame, array_col: Column | str, alias: str) -> DataFrame:
    """1→N row fan-out (reference Mapper 1→N emission, Types.hs:36) —
    JVM-side explode, not a Python flatMap."""
    return df.select("*", F.explode(array_col).alias(alias))


# ---------------------------------------------------------------------------
# aggregation (one shuffle on the group keys; partial agg is automatic —
# HashAggregateExec partial/final replaces the reference combiner,
# Basic.hs:163-174)
# ---------------------------------------------------------------------------


def group_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    return df.groupBy(*keys).agg(*aggs)


def distinct_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Dedup (reference commented firstBy 'first per key wins',
    Controller.hs:1257-1274). dropDuplicates = one shuffle with
    map-side partial dedup."""
    return df.dropDuplicates(list(subset)) if subset else df.distinct()


def first_by(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]
) -> DataFrame:
    """Deterministic 'first object per key wins' — the exact semantics
    of the reference's firstBy (Controller.hs:1257-1274).

    When every order entry is a plain column NAME (ascending,
    nulls-first — the window default), the winner is computed as
    min_by(full row, struct(order)) instead of a row_number window
    (optimization r07, guide §2.3 'aggregate before you shuffle'):
    the aggregate gets map-side partial aggregation — each map task
    ships ONE candidate row per key instead of every row — and the
    per-partition sort disappears.  Struct comparison is
    field-lexicographic with nulls first, identical to the window's
    asc-nulls-first order (pinned by test_first_by_agg_matches_window,
    including NULL order keys).  Column expressions (e.g. .desc())
    keep the window shape — SortOrder directions don't embed in a
    struct."""
    if all(isinstance(c, str) for c in order):
        row = F.struct(*[F.col(c) for c in df.columns])
        okey = F.struct(*[F.col(c) for c in order])
        return (
            df.groupBy(*[F.col(k) for k in keys])
            .agg(F.min_by(row, okey).alias("_r"))
            .select("_r.*")
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# sorts / limits / top-k (reference has none built in — users folded in
# reducers; SURVEY §2.6 'No limit / top-k / global sort operator exists')
# ---------------------------------------------------------------------------


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition heap + driver merge of k rows, NOT a global sort.
    Scales to any partition count."""
    return df.orderBy(*order).limit(k)


def stamp_rank(bounded: DataFrame, order, out_col: str = "rn") -> DataFrame:
    """Stamp 1-based rank on an already-LIMITed (k-row) frame without
    a window: coalesce to one partition, sort within it, and number
    rows with monotonically_increasing_id (consecutive from 0 inside
    a single partition).  Equivalent to row_number() over a global
    window, but emits no `WindowExec: No Partition Defined` warning —
    that warning class is reserved for real whole-dataset funnels, so
    any occurrence in a bench log is a genuine scale signal.  Only
    ever call this on post-limit frames."""
    return (
        bounded.coalesce(1)
        .sortWithinPartitions(*order)
        .withColumn(
            out_col, (F.monotonically_increasing_id() + 1).cast("int")
        )
    )


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], k: int
) -> DataFrame:
    """One shuffle on keys; rank inside each group. AQE handles skew."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def global_sort(df: DataFrame, order: Sequence[Column]) -> DataFrame:
    """Range-partitioned total order (sampling + range exchange)."""
    return df.orderBy(*order)


# ---------------------------------------------------------------------------
# secondary sort (reference PartitionStrategy: partition on first
# partSegs key segments, sort on all keySegs — Run/Hadoop.hs:129-166)
# ---------------------------------------------------------------------------


def secondary_sort(
    df: DataFrame,
    partition_cols: Sequence[str],
    sort_cols: Sequence[Column | str],
    num_partitions: int | None = None,
) -> DataFrame:
    """repartition(partition_cols) + sortWithinPartitions(partition_cols
    + sort_cols): every row of one key lands in one partition, ordered
    by the sort columns — exactly Hadoop's partitioner + comparator
    contract the reference drives via -partitioner/-D flags.

    This is the substrate for streaming per-key reducers
    (mapreduce.reduce_stream_sorted) that must see rows in order
    without holding a group in memory."""
    parts = [F.col(c) for c in partition_cols]
    rep = (
        df.repartition(num_partitions, *parts)
        if num_partitions
        else df.repartition(*parts)
    )
    sort_exprs = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    return rep.sortWithinPartitions(*parts, *sort_exprs)


# ---------------------------------------------------------------------------
# skew handling (AQE skew-join splitting is on by default; explicit
# salting is for the pathological single-hot-key aggregations AQE
# can't split — the 100 TB escape hatch)
# ---------------------------------------------------------------------------


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for a skewed key: stage 1 groups by
    (keys + random salt) so one hot key spreads over `salt_buckets`
    reducers; stage 2 re-aggregates the per-salt partials on the true
    keys (now ≤ salt_buckets rows per key).

    `partial_aggs` run in stage 1 and must be re-aggregable by
    `final_aggs` over the stage-1 output (sum→sum, count→sum,
    min→min, ...). For plain algebraic aggs Catalyst's own partial
    aggregation usually suffices — use this when a single key's
    partials still overwhelm one task."""
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    stage1 = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return stage1.groupBy(*keys).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed equi-join: salt the big side's key randomly, replicate
    the small side across all salt values, join on (keys + salt). A
    hot key's rows spread over `salt_buckets` tasks instead of one.
    Cost: |small| × salt_buckets replication — keep the small side
    small or the bucket count low."""
    on = list(on)
    big_s = big.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    small_s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    return big_s.join(small_s, on=on + ["_salt"], how=how).drop("_salt")


# ---------------------------------------------------------------------------
# set ops (reference: union only, Controller.hs:364-439; intersect /
# except declared as free Spark capability per SURVEY §2.7)
# ---------------------------------------------------------------------------


def union_all(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# windows (reference: none — per-key sorted stream was the substrate,
# SURVEY §2.7; declared as first-class here)
# ---------------------------------------------------------------------------


def with_window(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    exprs: dict[str, "Column | None"],
) -> DataFrame:
    """Attach window expressions over partitionBy(keys).orderBy(order).
    exprs maps output column name → window function (applied .over(w))."""
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df
    for name, expr in exprs.items():
        out = out.withColumn(name, expr.over(w))
    return out


# ---------------------------------------------------------------------------
# deterministic sampling / dataset splits (training-data pipeline ops)
# ---------------------------------------------------------------------------


def hash_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket 0..n_buckets-1 from a key column via the
    first 8 hex chars of md5 — engine-portable (md5 is bit-identical
    everywhere, unlike xxhash64/murmur seeds) and stable across runs,
    partitionings, and cluster sizes. The standard primitive for
    reproducible train/val/test splits and fractional sampling at any
    scale: no RNG state, no seed-per-partition coupling, rows keep
    their assignment when the corpus is re-sharded or appended to."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def hash_split(
    df: DataFrame,
    key: Column | str,
    fractions: dict[str, float],
    n_buckets: int = 100,
) -> DataFrame:
    """Assign each row to a named split by hash bucket, e.g.
    fractions={"train": 0.9, "val": 0.05, "test": 0.05}. Appends a
    `split` column; filter on it downstream (the narrow filter pushes
    into the scan). Fractions are mapped onto contiguous bucket
    ranges, so fractions must sum to ≤ 1."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    b = hash_bucket(key, n_buckets)
    expr = None
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * n_buckets))
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn("split", expr)


def sample_fraction(
    df: DataFrame, key: Column | str, fraction: float, n_buckets: int = 10_000
) -> DataFrame:
    """Deterministic, re-shard-stable fractional sample: keeps rows
    whose hash bucket falls below fraction·n_buckets. Unlike
    DataFrame.sample, membership is a pure function of the key — the
    same rows are kept on every run and every cluster."""
    return df.filter(hash_bucket(key, n_buckets) < int(round(fraction * n_buckets)))


def stratified_sample(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    fractions: dict[str, float],
    n_buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling — DataFrame.sampleBy with
    the RNG replaced by the md5 hash bucket of `key`: a row survives
    iff bucket(key) < fraction(stratum)·n_buckets. Membership is a
    pure function of (key, stratum), so the sample is reproducible
    across runs, re-shards, and appends, and downsampling ratios per
    class (the usual data-mixing knob) are exact in expectation.
    Strata missing from `fractions` are dropped. Narrow — the filter
    pushes to the scan; no shuffle."""
    s = F.col(strata) if isinstance(strata, str) else strata
    thresh = None
    for name, frac in fractions.items():
        t = int(round(frac * n_buckets))
        thresh = F.when(s == name, t) if thresh is None else thresh.when(s == name, t)
    return df.filter(hash_bucket(key, n_buckets) < thresh.otherwise(0))


def gap_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    step: str = "1 month",
    fills: dict[str, Column] | None = None,
) -> DataFrame:
    """Time-series densification (resample/gap-fill — the hypertable
    rollup companion): expand each key's observed [min(ts), max(ts)]
    span to every `step` boundary with sequence()+explode (codegen'd,
    no UDF, no driver loop), then left-join the observations back and
    fill absent metrics from `fills`.

    Scale: one partial-agg shuffle for the spans (output |keys| rows),
    one join shuffle of |keys|·(span/step) generated rows against the
    observations — both keyed identically, and AQE broadcasts the span
    side when small. Assumes ts values are already aligned to step
    boundaries (pre-truncate with date_trunc)."""
    spans = df.groupBy(*key_cols).agg(
        F.min(ts_col).alias("_mn"), F.max(ts_col).alias("_mx")
    )
    grid = spans.select(
        *key_cols,
        F.explode(F.expr(f"sequence(_mn, _mx, interval {step})")).alias(ts_col),
    )
    out = grid.join(df, [*key_cols, ts_col], "left")
    for c, v in (fills or {}).items():
        out = out.withColumn(c, F.coalesce(F.col(c), v))
    return out


def forward_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """LOCF (last observation carried forward): replace NULLs in
    `cols` with the most recent non-null value per key in `order_col`
    order — the standard companion to `gap_fill` for sensor/price
    series where an absent reading means "unchanged", not zero.

    One window pass (running `last(ignorenulls)`, default unbounded-
    preceding→current frame) shares a single shuffle on the key for
    every filled column; when the input comes straight from
    `gap_fill` the partitioning matches the join that built it, so
    AQE elides the exchange entirely."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return df.select(
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            if c in set(cols)
            else c
            for c in df.columns
        ]
    )


# ---------------------------------------------------------------------------
# dataset profiling (training-data pipeline QA)
# ---------------------------------------------------------------------------


def profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column data-quality profile: row count, null count, exact
    distinct count, min/max. Min/max are *typed*: float/double columns
    land in ``min_num``/``max_num`` (double — the parquet value passes
    through bit-identical, no decimal formatting involved), everything
    else is stringified into ``min_str``/``max_str`` (int/string/date
    → string is format-stable across engines; double → string is NOT —
    scientific-notation thresholds and shortest-digit selection differ
    between JVM and C printf, which is exactly the q50 hash-portability
    bug this split fixes). One wide aggregate — a single pass over the
    data; swap count_distinct for approx_count_distinct on the 100 TB
    path (exact distinct over many columns multiplies shuffle volume)."""
    float_types = {"float", "double"}
    dtypes = dict(df.dtypes)
    rows = []
    n = F.count(F.lit(1))
    for c in cols:
        is_float = dtypes.get(c) in float_types
        if is_float:
            min_num = F.min(F.col(c)).cast("double")
            max_num = F.max(F.col(c)).cast("double")
            min_str = F.lit(None).cast("string")
            max_str = F.lit(None).cast("string")
        else:
            min_num = F.lit(None).cast("double")
            max_num = F.lit(None).cast("double")
            min_str = F.min(F.col(c)).cast("string")
            max_str = F.max(F.col(c)).cast("string")
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                n.alias("n_rows"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                min_num.alias("min_num"),
                max_num.alias("max_num"),
                min_str.alias("min_str"),
                max_str.alias("max_str"),
            ).alias(f"_{c}")
        )
    wide = df.agg(*rows)
    stacked = wide.select(
        F.explode(F.array(*[f"_{c}" for c in cols])).alias("p")
    )
    return stacked.select("p.*")


def sketch_profile(
    df: DataFrame,
    keys: Sequence[str],
    distinct_cols: Sequence[str] = (),
    quantile_cols: Sequence[str] = (),
    rsd: float = 0.05,
    quantiles: Sequence[float] = (0.5, 0.9),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based profiling for the 100 TB path: HyperLogLog++
    approximate distinct counts and an approximate-quantile digest per
    group — single pass, fixed memory per group (the sketches are
    mergeable, so partial aggregation works and the shuffle carries
    |groups|·sketch_size, never rows). The exact companions
    (countDistinct / percentile) are `profile` and q35/q40; use this
    form when the exact sort/distinct would dominate the job."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in distinct_cols:
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"apx_nd_{c}"))
    for c in quantile_cols:
        for q in quantiles:
            aggs.append(
                F.percentile_approx(c, F.lit(q), F.lit(accuracy)).alias(
                    f"apx_p{int(q * 100)}_{c}"
                )
            )
    return df.groupBy(*keys).agg(*aggs)


def weighted_sample(
    df: DataFrame,
    key: Column | str,
    weight: Column | str,
    k: int,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic:
    Efraimidis–Spirakis A-ES — each row draws u from its md5-hashed
    key (uniform in (0,1], a pure function of the key like
    `hash_split`), is ranked by ln(u)/w (monotone transform of
    u^(1/w) — numerically safer), and the top-k per group survive.
    Inclusion probability is proportional to weight (exactly the
    successive-weighted-draw process), yet the sample is
    reproducible across runs, re-shards, and cluster sizes — the
    quality-weighted subsampling a training-data mix needs, with
    none of `DataFrame.sample`'s RNG non-determinism.

    One window pass: ungrouped, rank is a TakeOrderedAndProject-
    style top-k; grouped, the shuffle is on the group key.
    Weights must be > 0."""
    kc = F.col(key) if isinstance(key, str) else key
    wc = F.col(weight) if isinstance(weight, str) else weight
    # 15 hex chars → uniform integer in [0, 2^60); +1 shifts to (0, 2^60]
    u = (
        F.conv(F.substring(F.md5(kc.cast("string")), 1, 15), 16, 10).cast(
            "double"
        )
        + 1.0
    ) / float(1 << 60)
    score = F.log(u) / wc  # in (-inf, 0]; larger (closer to 0) wins
    w = (
        Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    ).orderBy(F.desc(score), kc)
    return (
        df.withColumn("_ws_rn", F.row_number().over(w))
        .filter(F.col("_ws_rn") <= k)
        .drop("_ws_rn")
    )


def pseudonymize(
    df: DataFrame,
    cols: Sequence[str],
    pepper: str,
    token_len: int = 32,
) -> DataFrame:
    """Deterministic PII tokenization: replace each named column with
    a keyed md5 token (`md5(value || ':' || pepper)`). The same value
    always maps to the same token, so joins, group-bys and dedup keep
    working on the masked data — the referential consistency that
    random tokens destroy — while the pepper keeps tokens
    non-invertible without it (rotate the pepper, rotate the
    pseudonyms). Narrow projection: no shuffle, pushes nothing off
    the scan. NULLs stay NULL (no token leaks presence).

    token_len defaults to the FULL 32-hex digest: a truncated 16-hex
    (64-bit) token hits birthday collisions around ~2^32 distinct
    values — i.e. silently merged identities at exactly the
    billions-of-rows scale this engine targets. Shorten only for
    domains provably far below that."""
    out = df
    for c in cols:
        tok = F.substring(
            F.md5(F.concat(F.col(c).cast("string"), F.lit(f":{pepper}"))),
            1,
            token_len,
        )
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), tok)
        )
    return out


def partition_stats(df: DataFrame) -> DataFrame:
    """Physical-partition skew diagnostic: rows per task partition
    (spark_partition_id), the first thing to look at when one task
    straggles. Returns (partition_id, n_rows) — feed the max/median
    ratio into a salting or AQE-threshold decision. The aggregation
    itself is a narrow per-partition count plus a tiny final
    combine; it never re-shuffles the data it is diagnosing."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# scale-safe global ranking (no single-partition window anywhere)
# ---------------------------------------------------------------------------


def pin(df: DataFrame) -> DataFrame:
    """Evaluate `df` exactly once (eager checkpoint) before it feeds
    multiple plan branches, so its upstream (often a full fact scan +
    shuffle) runs once — or before the next round of an iterative
    loop, so the plan stays one round deep. This is the ONLY place in
    hadron_spark that materializes a frame.

    Use whenever a derived frame (an aggregate, a distinct, a
    windowed filter) is consumed by 2+ downstream branches of the
    same query. Catalyst's ReuseExchange/AQE stage reuse only
    collapses branches whose canonicalized subtrees are bit-identical;
    fan-out frames feed branches with *different* projections (a 1-row
    min/max agg, a per-band count, the full windowed pass), so reuse
    is not guaranteed — measured plans for q154 showed the upstream
    evaluated once per branch, i.e. one fact scan per branch at
    100 TB. The pin caps it at one, truncates the lineage (the
    downstream plan starts at a compact materialized RDD), and makes
    every branch read the SAME bytes — determinism by construction.
    Do NOT pin frames used once, frames that are themselves cheap
    scans, or streaming frames (a foreachBatch micro-batch is a batch
    frame: pinning it detaches it from the stream plan).

    Reliability follows the deployment, not the call site:
      - no checkpoint dir set (the default): `localCheckpoint` —
        MEMORY_AND_DISK blocks on the executors, the fastest storage;
        NOT resilient to executor loss (lineage is truncated, so a
        lost block fails the stage). Spark's ContextCleaner
        unpersists the blocks when the result frame is dropped.
      - `spark.sparkContext.setCheckpointDir(path)` called: a
        reliable `checkpoint` to that HDFS/object-store path for
        EVERY pin in the library — survives executor loss at the
        cost of a distributed-FS write + read. The MLlib convention
        (ALS, GraphFrames checkpoint only when a dir is set). A
        dropped reliable pin's `rdd-N` dir is deleted by the
        ContextCleaner once the frame is garbage (`get_spark` sets
        `spark.cleaner.referenceTracking.cleanCheckpoints`); a pin
        still referenced keeps its files. The cleaner resolves
        `rdd-N` under the dir set at cleanup time, so a pin dropped
        after the dir is unset or changed keeps its files."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def spine_running(
    df: DataFrame,
    order_col: str,
    agg_col: str,
    out_col: str,
    fn: str = "sum",
    inclusive: bool = True,
) -> DataFrame:
    """Running aggregate over a TINY keyed spine frame (months,
    deciles, distinct latencies — cardinality bounded by the domain,
    not the data volume) WITHOUT an unpartitioned window: triangular
    broadcast self-join `b.order <= a.order` (or `<` when
    exclusive) + re-group. An unpartitioned `F.sum().over(Window
    .orderBy(...))` would plan an `Exchange SinglePartition`; the
    triangular join plans a BroadcastNestedLoopJoin over |spine|²
    pairs, which for a spine is trivial and fully parallel.
    `order_col` must be unique per row (a spine key). With
    ``inclusive=False`` the first row's aggregate is NULL (no
    strictly-preceding rows) — the caller decides the fill.

    The spine itself is tiny but its DERIVATION (usually an agg over
    the fact) is not, and it feeds both join sides — pinned once up
    front (see pin)."""
    df = pin(df)
    agg_fn = getattr(F, fn)
    a = df.alias("_sa")
    b = df.select(order_col, agg_col).alias("_sb")
    op = F.col(f"_sb.{order_col}") <= F.col(f"_sa.{order_col}")
    if not inclusive:
        op = F.col(f"_sb.{order_col}") < F.col(f"_sa.{order_col}")
    keep = [F.col(f"_sa.{c}").alias(c) for c in df.columns]
    return (
        a.join(F.broadcast(b), op, "left")
        .groupBy(*keep)
        .agg(agg_fn(F.col(f"_sb.{agg_col}")).alias(out_col))
    )


def range_rank(
    df: DataFrame,
    key: Column,
    order: Sequence[Column],
    rank_col: str = "rn",
    ntile: int | None = None,
    ntile_col: str = "tile",
    total_col: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Global row_number / ntile over an arbitrarily large frame with
    NO single-partition window — the scale-safe replacement for
    `F.row_number().over(Window.orderBy(...))`.

    Mechanics (the q92 carry-in trick generalized to ranking):
      1. exact min/max of `key` (driver-collected from the pinned
         input — two scalars) band rows into `buckets` equi-width
         ordered buckets. The band id is a monotone PURE FUNCTION of
         the row value and the collected min/max literals. Contrast
         the two rejected alternatives: `spark_partition_id()` after
         `repartitionByRange` (bounds re-sampled per subtree — the
         count branch and the rank branch can silently disagree) and
         approx-quantile cutpoints (better balanced, but sketch
         merges are fetch-order sensitive, so two evaluations need
         not agree bit-for-bit). Equi-width banding trades balance on
         heavy-tailed keys for unconditional determinism; pass a
         variance-stabilized `key` (log, unix_date, …) when the raw
         key is heavy-tailed.
      2. partition-local row_number per band (hash exchange on the
         band id — parallel; the plan's ONLY exchange).
      3. exclusive prefix counts over the ≤`buckets` driver-collected
         band counts, embedded as a literal long array indexed by
         band id — no join, no broadcast, no second exchange.
      global rank = band offset + local rank. Ordering across bands
    is correct because banding depends only on `key`: rows equal on
    `key` land in the same band, and `order` must refine `key` to a
    total order (so local row_number is deterministic).

    `key` is a NUMERIC ascending sort key consistent with `order`
    (negate for descending; `F.unix_date` for dates; nulls are not
    supported — band rows with null keys first yourself). `ntile=k`
    adds standard SQL ntile semantics (first N mod k buckets one row
    larger) computed algebraically from the global rank — matches
    `F.ntile`/DuckDB `ntile` exactly. `total_col` exposes the total
    row count (replaces `F.count().over(Window.partitionBy())`).

    Cost at 100 TB: the input frame is MATERIALIZED ONCE up front
    (see pin; relying on AQE stage reuse across the three
    differently-projected branches was measured NOT to hold, which
    meant one upstream fact scan per branch), then one cheap pass
    over the compact materialized rows for min/max, one for band
    counts, and one hash shuffle for the rank — nothing ever funnels
    through one task."""
    df = pin(df)
    spark = df.sparkSession
    nb = buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    kd = key.cast("double")
    lo, hi = df.agg(F.min(kd).alias("_lo"), F.max(kd).alias("_hi")).first()
    if nb > 1 and lo is not None and hi > lo:
        width = (hi - lo) / float(nb)
        bkt = F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0), F.floor((kd - F.lit(lo)) / F.lit(width)).cast("int")
            ),
        )
    else:
        # empty frame, all-equal keys, or single bucket: one band.
        # (All-equal keys cannot be distributed by any value banding;
        # `order` still totalizes within the single band.)
        nb, bkt = 1, F.lit(0)
    banded = df.withColumn("_bkt", bkt)
    per_band = {
        r["_bkt"]: r["_cnt"]
        for r in banded.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    }
    total = sum(per_band.values())
    offs, running = [], 0
    for b in range(nb):
        offs.append(running)
        running += per_band.get(b, 0)
    # band offsets ride in the plan as a dense nb-int ARRAY literal
    # indexed by the band id — no join, no broadcast, no second
    # exchange; codegen sees a constant array lookup.
    off_expr = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offs]), F.col("_bkt") + 1
    )
    w = Window.partitionBy("_bkt").orderBy(*order)
    rn = off_expr + F.col("_lrn")
    out = banded.withColumn("_lrn", F.row_number().over(w)).withColumn(
        rank_col, rn.cast("long")
    )
    if ntile is not None:
        # standard SQL ntile from the global rank, with q/r/thresh as
        # PYTHON ints (total is known on the driver): first (total
        # mod n) tiles get ceil(total/n) rows. q == 0 (total < n)
        # always takes the when-branch, so the otherwise-branch's /0
        # (NULL under non-ANSI) is never selected.
        q, r = divmod(total, ntile)
        thresh = r * (q + 1)
        tile = F.when(
            rn <= thresh, F.floor((rn - 1) / (q + 1)) + 1
        ).otherwise(r + F.floor((rn - thresh - 1) / max(q, 1)) + 1)
        out = out.withColumn(ntile_col, tile.cast("int"))
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(total).cast("long"))
    return out.drop("_bkt", "_lrn")


def range_cumsum(
    df: DataFrame,
    key: Column,
    val: Column,
    order: Sequence[Column],
    out_col: str = "prefix",
    inclusive: bool = False,
    buckets: int | None = None,
) -> DataFrame:
    """Global prefix SUM over an arbitrarily large frame with NO
    single-partition window — `range_rank`'s trick applied to a
    running total instead of a rank (SUM(val) OVER (ORDER BY ...)).

    Mechanics: band rows into equi-width buckets of the collected
    min/max of `key` (a pure function of the row value — both plan
    branches agree unconditionally, see range_rank's rationale for
    rejecting repartitionByRange/approx-quantiles), driver-collect
    the ≤`buckets` per-band sums (tiny scalars), embed their
    exclusive prefix as a literal long array, and add a
    partition-local running sum per band (the plan's ONLY exchange).

    `val` must be integral (cast to long here) — long addition is
    associative, so the banded two-level sum is bit-identical to any
    sequential evaluation; float prefix sums are order-sensitive and
    NOT supported. `order` must refine `key` to a total order.
    Default is the EXCLUSIVE prefix (sum of strictly-preceding rows;
    0 for the first row) — the form offsets/packing need;
    ``inclusive=True`` adds the current row's value.

    Cost at 100 TB: input pinned once (see pin), one cheap min/max
    pass, one per-band-sum pass, one hash exchange for the windowed
    pass. Nothing funnels through one task."""
    return _range_cumsum(
        pin(df), key, val, order, out_col, inclusive, buckets
    )


def _range_cumsum(
    df: DataFrame,
    key: Column,
    val: Column,
    order: Sequence[Column],
    out_col: str = "prefix",
    inclusive: bool = False,
    buckets: int | None = None,
) -> DataFrame:
    """range_cumsum's body over an input the caller has ALREADY
    pinned (or that is itself a cheap scan): no second pin."""
    spark = df.sparkSession
    nb = buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    kd = key.cast("double")
    vl = val.cast("long")
    lo, hi = df.agg(F.min(kd).alias("_lo"), F.max(kd).alias("_hi")).first()
    if nb > 1 and lo is not None and hi > lo:
        width = (hi - lo) / float(nb)
        bkt = F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0), F.floor((kd - F.lit(lo)) / F.lit(width)).cast("int")
            ),
        )
    else:
        nb, bkt = 1, F.lit(0)
    # internal names are double-underscored so caller columns like
    # "_v" never collide (weighted_percentile hit exactly that)
    banded = df.withColumn("__rc_bkt", bkt).withColumn("__rc_v", vl)
    per_band = {
        r["__rc_bkt"]: r["_s"]
        for r in banded.groupBy("__rc_bkt")
        .agg(F.sum("__rc_v").alias("_s"))
        .collect()
    }
    offs, running = [], 0
    for b in range(nb):
        offs.append(running)
        running += per_band.get(b, 0) or 0
    off_expr = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offs]), F.col("__rc_bkt") + 1
    )
    w = (
        Window.partitionBy("__rc_bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("__rc_v").over(w)
    if not inclusive:
        run = run - F.col("__rc_v")
    out = banded.withColumn(out_col, (off_expr + run).cast("long"))
    return out.drop("__rc_bkt", "__rc_v")


def grouping_sets_from_cells(
    df: DataFrame,
    dims: Sequence[str],
    partial_aggs: Sequence[Column],
    merge_aggs: Sequence[Column],
    final_cols: "dict[str, Column]",
    mode: str = "rollup",
) -> DataFrame:
    """ROLLUP/CUBE for LOW-CARDINALITY dimensions without the Expand
    blowup: Spark's native rollup/cube plans an Expand that replicates
    EVERY fact row once per grouping set (3× the map-side volume for a
    2-dim rollup, 4× for a 2-dim cube) before the shuffle. When the
    dims are low-cardinality — flags, statuses, categories — the
    scale-right plan aggregates the fact ONCE onto the finest cells
    (one partial-agg'd shuffle of the full data), pins the tiny cell
    table (ops.pin), and derives every coarser grouping set by
    re-aggregating CELLS, which costs nothing. Identical results to
    native rollup/cube (subtotal rows carry NULL dims, NULL dim
    values group together, exactly the SQL semantics) as long as
    `merge_aggs` re-aggregate `partial_aggs` associatively (sum→sum,
    count→sum, min→min; keep decimal partials exact so two-level
    aggregation is bit-identical to one-level).

    partial_aggs: aggs over raw rows → cell columns (aliased).
    merge_aggs:   aggs over cell columns, same aliases.
    final_cols:   output name → expression over merged aliases.
    mode:         'rollup' (dim prefixes) or 'cube' (all subsets)."""
    from itertools import combinations

    dims = list(dims)
    if mode == "rollup":
        sets = [tuple(dims[:i]) for i in range(len(dims), -1, -1)]
    elif mode == "cube":
        sets = [
            t
            for r in range(len(dims), -1, -1)
            for t in combinations(dims, r)
        ]
    else:
        raise ValueError(f"mode must be rollup|cube, got {mode!r}")
    dim_types = {f.name: f.dataType for f in df.select(*dims).schema.fields}
    cells = pin(df.groupBy(*dims).agg(*partial_aggs))
    levels = []
    for g in sets:
        lvl = cells.groupBy(*g).agg(*merge_aggs) if g else cells.agg(*merge_aggs)
        proj = [
            (F.col(d) if d in g else F.lit(None).cast(dim_types[d])).alias(d)
            for d in dims
        ]
        levels.append(
            lvl.select(*proj, *[v.alias(k) for k, v in final_cols.items()])
        )
    out = levels[0]
    for l in levels[1:]:
        out = out.unionByName(l)
    return out


# ---------------------------------------------------------------------------
# ordered corpus export (curriculum ordering)
# ---------------------------------------------------------------------------


def ordered_export(
    df: DataFrame,
    key: Column,
    out_dir: str,
    bands: int = 8,
    key_col: str = "_sort_key",
    band_col: str = "_band",
    mode: str = "overwrite",
) -> DataFrame:
    """Globally-ordered corpus export (curriculum ordering): write
    `df` sorted by `key` across `bands` directory shards such that
    reading `_band=0, _band=1, …` in order — each file internally
    sorted — yields a total order, WITHOUT a single-partition global
    sort. Returns the shard manifest (band, n_rows, min_key, max_key)
    assembled from the committed parquet footers — pure metadata,
    no read-back of the written data (the fan_out_write discipline).

    Mechanics: the same deterministic equi-width banding as
    range_rank step 1 (driver-collected min/max, band = monotone pure
    function of the key), then `partitionBy(band)` +
    `sortWithinPartitions(band, key)`. Banding on the VALUE rather
    than `repartitionByRange` keeps the band assignment reproducible
    (range-partitioner boundaries are sampled — two runs can split
    differently), which the manifest and any downstream incremental
    append rely on. Heavy-tailed keys: pass a variance-stabilized
    key (log, unix_date) exactly as for range_rank.

    At 100 TB: one pass to pin, one cheap min/max pass over the
    pinned rows, one shuffle into bands, sorted streaming write per
    band. The curriculum consumer (a training-data loader walking
    easy→hard) streams band dirs in order and never needs a global
    sort on its side."""
    df = pin(df)
    kd = key.cast("double")
    lo, hi = df.agg(F.min(kd).alias("_lo"), F.max(kd).alias("_hi")).first()
    if bands > 1 and lo is not None and hi > lo:
        width = (hi - lo) / float(bands)
        band = F.least(
            F.lit(bands - 1),
            F.greatest(
                F.lit(0), F.floor((kd - F.lit(lo)) / F.lit(width)).cast("int")
            ),
        )
    else:
        band = F.lit(0)
    out = df.withColumn(key_col, key).withColumn(band_col, band)
    (
        out.repartition(F.col(band_col))
        .sortWithinPartitions(band_col, key_col)
        .write.mode(mode)
        .partitionBy(band_col)
        .parquet(out_dir)
    )
    return _band_manifest(df.sparkSession, out_dir, band_col, key_col)


def _band_manifest(
    spark, out_dir: str, band_col: str, key_col: str
) -> DataFrame:
    """Per-band (n_rows, min_key, max_key) from parquet footer
    statistics of the committed files: O(#files) driver metadata
    reads, zero data scanned. Exact for the integer/numeric sort
    keys ordered_export writes (parquet stats are exact min/max for
    non-truncated primitive types)."""
    import os

    import pyarrow.parquet as pq

    rows = []
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith(f"{band_col}="):
            continue
        band = int(d.split("=", 1)[1])
        n, mn, mx = 0, None, None
        sub = os.path.join(out_dir, d)
        for f in os.listdir(sub):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(sub, f)).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[key_col]
            n += md.num_rows
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        rows.append((band, n, mn, mx))
    return spark.createDataFrame(
        rows, f"band int, n_rows long, min_key long, max_key long"
    )


def exact_percentiles(
    df: DataFrame,
    value: Column,
    tiebreak: Sequence[Column],
    ps: Sequence[float],
    out_p: str = "p",
    out_col: str = "value",
    buckets: int | None = None,
) -> DataFrame:
    """EXACT linear-interpolated percentiles (quantile_cont
    semantics: h = 1+(n−1)p, result = x⌊h⌋ + (h−⌊h⌋)·(x⌈h⌉−x⌊h⌋))
    over an arbitrarily large frame with NO global sort and NO
    sketch error — the range_rank banding gives every row its exact
    global rank with one hash exchange, the ≤2·|ps| rows sitting at
    the needed ranks are picked by a broadcast join against the tiny
    percentile spine, and the interpolation is two IEEE ops written
    identically in the oracle (engine-exact).

    Contrast the two standard alternatives at 100 TB: a global
    sort-based quantile funnels everything through a range exchange
    with sampled bounds (non-deterministic splits), and
    approx_percentile trades exactness for a sketch. This is the
    third point: exact AND scale-safe.

    `tiebreak` must extend `value` to a total order (unique key
    columns). Output: one row per p — (out_p double, out_col
    double)."""
    base = df.select(value.alias("_x"), *tiebreak)
    ranked = range_rank(
        base,
        key=F.col("_x"),
        order=[F.col("_x"), *tiebreak],
        rank_col="_rn",
        total_col="_n",
        buckets=buckets,
    )
    spark = df.sparkSession
    pf = F.broadcast(
        spark.createDataFrame([(float(p),) for p in ps], f"{out_p} double")
    )
    h_floor = F.floor((F.col("_n") - 1) * F.col(out_p))
    lo = (h_floor + 1).cast("long")
    hi = F.least(lo + 1, F.col("_n"))
    frac = (F.col("_n") - 1) * F.col(out_p) - h_floor
    hit = ranked.crossJoin(pf).filter(
        (F.col("_rn") == lo) | (F.col("_rn") == hi)
    )
    agg = hit.groupBy(out_p).agg(
        F.max(F.when(F.col("_rn") == lo, F.col("_x"))).alias("_lo"),
        F.max(F.when(F.col("_rn") == hi, F.col("_x"))).alias("_hi"),
        F.first(frac).alias("_f"),
    )
    return agg.select(
        out_p,
        (F.col("_lo") + F.col("_f") * (F.col("_hi") - F.col("_lo"))).alias(
            out_col
        ),
    )


def exact_percentiles_by(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column,
    tiebreak: Sequence[Column],
    ps: Sequence[float],
    out_p: str = "p",
    out_col: str = "value",
) -> DataFrame:
    """Per-group exact interpolated percentiles (quantile_cont
    semantics — see exact_percentiles for the formula). Grouped
    ranking is a PARTITIONED window (one hash exchange on the group
    key, parallel across groups — scale-safe whenever group count
    grows with the data; for ONE giant group use exact_percentiles,
    which bands instead). The percentile spine is a broadcast cross
    join; interpolation is the identical two-IEEE-op chain."""
    base = df.select(*group_cols, value.alias("_x"), *tiebreak)
    w = Window.partitionBy(*group_cols).orderBy(F.col("_x"), *tiebreak)
    wc = Window.partitionBy(*group_cols)
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wc)
    )
    spark = df.sparkSession
    pf = F.broadcast(
        spark.createDataFrame([(float(p),) for p in ps], f"{out_p} double")
    )
    h_floor = F.floor((F.col("_n") - 1) * F.col(out_p))
    lo = (h_floor + 1).cast("long")
    hi = F.least(lo + 1, F.col("_n"))
    frac = (F.col("_n") - 1) * F.col(out_p) - h_floor
    hit = ranked.crossJoin(pf).filter(
        (F.col("_rn") == lo) | (F.col("_rn") == hi)
    )
    agg = hit.groupBy(*group_cols, out_p).agg(
        F.max(F.when(F.col("_rn") == lo, F.col("_x"))).alias("_lo"),
        F.max(F.when(F.col("_rn") == hi, F.col("_x"))).alias("_hi"),
        F.first(frac).alias("_f"),
    )
    return agg.select(
        *group_cols,
        out_p,
        (F.col("_lo") + F.col("_f") * (F.col("_hi") - F.col("_lo"))).alias(
            out_col
        ),
    )


def weighted_percentile(
    df: DataFrame,
    value: Column,
    weight: Column,
    tiebreak: Sequence[Column],
    fractions: Sequence["tuple[int, int]"] = ((1, 2),),
    out_p: str = "p",
    out_col: str = "value",
    buckets: int | None = None,
) -> DataFrame:
    """GLOBAL weighted percentile(s) without a global sort: smallest
    value whose inclusive cumulative weight reaches num/den of the
    total — the weighted-median family (q97's semantics) freed from
    its per-group window, so ONE enormous distribution is fine.

    Exactness: cumulative weights are exact long sums via the banded
    `range_cumsum` (one hash exchange); the threshold test is the
    integer cross-multiplication cum·den ≥ num·total — no floating
    point anywhere until the final labeling division, so the selected
    row is identical in any engine and under any partitioning.
    Fractions are (numerator, denominator) int pairs for that reason.

    ROWS-vs-RANGE note: with `tiebreak` refining value order, the
    row-level cumulative reaches the threshold somewhere inside a
    tied-value run iff the RANGE-framed (peer-inclusive) cumulative
    does, and min(value) is the same either way — so this matches the
    RANGE-framed definition while staying a plain prefix sum."""
    base = df.select(
        value.alias("_val"), weight.cast("long").alias("_w"), *tiebreak
    )
    cum = range_cumsum(
        base,
        key=F.col("_val"),
        val=F.col("_w"),
        order=[F.col("_val"), *tiebreak],
        out_col="_c",
        inclusive=True,
        buckets=buckets,
    )
    spark = df.sparkSession
    total = F.broadcast(base.agg(F.sum("_w").alias("_t")))
    spine = F.broadcast(
        spark.createDataFrame(
            [(int(n), int(d)) for n, d in fractions], "_num long, _den long"
        )
    )
    hit = (
        cum.crossJoin(total)
        .crossJoin(spine)
        .filter(F.col("_c") * F.col("_den") >= F.col("_num") * F.col("_t"))
    )
    return hit.groupBy("_num", "_den").agg(
        F.min("_val").alias(out_col)
    ).select(
        (F.col("_num").cast("double") / F.col("_den").cast("double")).alias(
            out_p
        ),
        out_col,
    )


# ---------------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    key: Column | str,
    depth: int = 4,
    width: int = 1024,
    weight: Column | None = None,
) -> DataFrame:
    """Count-min sketch of a key column as a tiny MERGEABLE frame
    (d, bucket, cnt) with d in 0..depth-1 — the bounded-size
    frequency summary for streams and federated corpora where the
    exact wordcount table itself is too big to keep (Cormode &
    Muthukrishnan 2005: est >= true, over by <= 2N/width with prob
    1 - 2^-depth).

    Buckets ride on the repo's engine-portable md5 primitive
    (ops.hash_bucket over 'd:key'), so sketches are bit-identical
    across runs, engines, partitionings, and merge orders.

    Plan: explode depth rows per input row, ONE partial-agg'd
    groupBy — the shuffle carries at most depth*width distinct keys
    regardless of input size (map-side combine collapses everything
    else); the sketch frame is <= depth*width rows, i.e. broadcast
    material. `weight` makes it a weighted sketch (e.g. token counts
    pre-aggregated per doc)."""
    k = F.col(key) if isinstance(key, str) else key
    w = F.lit(1).cast("long") if weight is None else weight.cast("long")
    rows = df.select(
        k.cast("string").alias("_k"),
        w.alias("_w"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    )
    return (
        rows.select(
            "d",
            hash_bucket(
                F.concat_ws(":", F.col("d"), F.col("_k")), width
            ).alias("bucket"),
            "_w",
        )
        .groupBy("d", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the SAME depth/width:
    union + re-sum — the linearity that makes CMS the right summary
    for per-shard / per-day / per-source accumulation (merge result
    is bit-identical to sketching the concatenated input)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    key: Column | str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query a CMS for each row of `items`: est = min over the
    depth rows of the key's bucket counts (0 when a bucket is empty —
    the item was never sketched). depth/width MUST match the build.

    Plan: items explode depth rows, LEFT join the sketch on
    (d, bucket) — the sketch is <= depth*width rows, so Spark
    broadcasts it — then a partial-agg'd groupBy min. Returns the
    item frame's columns plus `cms_est` (long, >= true count).

    `d`, `bucket` and `cnt` are the sketch's public schema and
    therefore RESERVED in `items` (an item column with one of those
    names would shadow the join/groupBy references) — raises up
    front, the interval_join shared-name rule (ADVICE r4)."""
    k = F.col(key) if isinstance(key, str) else key
    cols = items.columns
    reserved = {"d", "bucket", "cnt"} & set(cols)
    if reserved:
        raise ValueError(
            f"items columns {sorted(reserved)} collide with the sketch "
            "schema (d/bucket/cnt) — rename them before cms_estimate"
        )
    rows = items.select(
        *cols,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).select(
        *cols,
        "d",
        hash_bucket(
            F.concat_ws(":", F.col("d"), k.cast("string")), width
        ).alias("bucket"),
    )
    joined = rows.join(F.broadcast(sketch), on=["d", "bucket"], how="left")
    return joined.groupBy(*cols).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
    )


def cms_heavy_hitters(
    df: DataFrame,
    key: Column | str,
    min_count: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Heavy hitters via CMS: distinct keys whose sketch estimate
    reaches `min_count`. CMS never underestimates, so NO true heavy
    hitter is missed (one-sided error: collision-inflated light keys
    can sneak in — shrink the candidate set, never grow the miss
    set). The candidate enumeration here is a distinct pass over the
    input; in a streaming deployment the candidates come from the
    per-batch keys instead, against the merged running sketch.

    Returns (key, cms_est) for est >= min_count."""
    k = F.col(key) if isinstance(key, str) else key
    sketch = cms_build(df, k, depth=depth, width=width)
    cand = df.select(k.cast("string").alias("item")).distinct()
    est = cms_estimate(sketch, cand, "item", depth=depth, width=width)
    return est.filter(F.col("cms_est") >= min_count)


def multi_step_funnel(
    events: DataFrame,
    steps: "list[str]",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: "int | None" = None,
) -> DataFrame:
    """k-step ordered conversion funnel (the product-analytics
    classic, generalizing q84's 2-step form): a user reaches step i
    when an event of type steps[i] occurs STRICTLY AFTER their step
    i−1 arrival time (earliest-arrival semantics: each step's time
    is the MIN qualifying timestamp, so the funnel is a pure
    function of the event set), optionally within `max_gap_seconds`
    of the previous step.

    Plan: the event scan is filtered to funnel types and pinned
    ONCE; each step is then one user-keyed join of the (shrinking)
    frontier against that step's slice + a partial-agg'd MIN —
    k−1 joins total, never a per-user event collection, so a
    power-user with millions of events costs only their rows.
    Timestamps compare as exact integer microseconds.

    Returns k rows: (step_index, step_name, n_users,
    conv_from_first, conv_from_prev) — ratios are single IEEE
    divisions of exact longs (step 0 rates are 1.0)."""
    if len(steps) < 2:
        raise ValueError("multi_step_funnel needs >= 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"steps must be distinct, got {steps}")
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_ty"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    ).filter(F.col(type_col).isin(list(steps)))
    ev = pin(ev)
    gap_us = None if max_gap_seconds is None else int(max_gap_seconds) * 1_000_000
    frontier = (
        ev.filter(F.col("_ty") == steps[0])
        .groupBy("_u")
        .agg(F.min("_us").alias("_t"))
    )
    frontier = pin(frontier)
    count_frames = [
        frontier.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(0).alias("step_index"), F.lit(steps[0]).alias("step_name"), "n_users"
        )
    ]
    for i, s in enumerate(steps[1:], 1):
        nxt = ev.filter(F.col("_ty") == s).join(frontier, "_u").filter(
            F.col("_us") > F.col("_t")
        )
        if gap_us is not None:
            nxt = nxt.filter(F.col("_us") - F.col("_t") <= gap_us)
        frontier = pin(nxt.groupBy("_u").agg(F.min("_us").alias("_t")))
        count_frames.append(
            frontier.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i).alias("step_index"), F.lit(s).alias("step_name"), "n_users"
            )
        )
    counts = count_frames[0]
    for c in count_frames[1:]:
        counts = counts.unionByName(c)
    first = counts.filter(F.col("step_index") == 0).select(
        F.col("n_users").alias("_n0")
    )
    prev = counts.select(
        (F.col("step_index") + 1).alias("step_index"),
        F.col("n_users").alias("_nprev"),
    )
    return (
        counts.crossJoin(F.broadcast(first))
        .join(F.broadcast(prev), "step_index", "left")
        .select(
            "step_index",
            "step_name",
            "n_users",
            (
                F.col("n_users").cast("double") / F.col("_n0").cast("double")
            ).alias("conv_from_first"),
            (
                F.col("n_users").cast("double")
                / F.coalesce(F.col("_nprev"), F.col("n_users")).cast("double")
            ).alias("conv_from_prev"),
        )
    )


def cohort_retention(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    period: str = "month",
) -> DataFrame:
    """Cohort retention matrix — the product-analytics standard
    behind "do users who arrived in month X still show up in month
    X+k": cohort = each entity's FIRST activity period, one cell
    per (cohort, activity period) with distinct active entities,
    the cohort's size, the integer age in periods, and retention =
    active/size as ONE IEEE division — hash-exact.

    All period math is calendar-exact (date_trunc + a month/day
    difference of trunc'd dates), no float time arithmetic.  Plan:
    one shuffle keyed on the entity for the first-activity min, one
    distinct (entity, period) pass that reuses the same key, the
    cells groupBy, and a broadcast of the |cohorts| size table —
    the raw event volume is touched twice, everything downstream is
    matrix-scale.  `period` ∈ month|week|day.  Returns
    (cohort, period, age, n_active, cohort_size, retention), age 0
    row included (retention 1.0 by construction)."""
    if period not in ("month", "week", "day"):
        raise ValueError(f"period must be month|week|day: {period}")
    p = F.date_trunc(period, F.col(ts_col)).cast("date")
    acts = df.select(F.col(entity_col).alias("_e"), p.alias("period")).distinct()
    firsts = acts.groupBy("_e").agg(F.min("period").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    if period == "month":
        age = F.months_between("period", "cohort").cast("long")
    elif period == "week":
        # trunc'd dates are whole weeks apart; div keeps it integral
        age = F.expr("datediff(period, cohort) div 7")
    else:
        age = F.datediff("period", "cohort").cast("long")
    cells = (
        acts.join(firsts, "_e")
        .groupBy("cohort", "period")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "period",
            age.alias("age"),
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


def transition_matrix(
    df: DataFrame,
    entity_col: str,
    state_col: str,
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: count each consecutive (state → next state) step in
    `order_cols` order within an entity, with row-conditional
    probabilities — the "what do users do after X" table behind
    session-flow sankeys and behavioral anomaly baselines.

    `order_cols` MUST be a total order within an entity (ts alone
    ties under same-timestamp events — add the event id; the same
    determinism contract as secondary_sort).  Counts are exact
    longs, prob is ONE IEEE division — hash-exact.  Plan: one
    shuffle keyed on the entity for the lead window, one
    partial-agg'd shuffle to the |states|² matrix, row totals as an
    agg of that tiny frame broadcast back.  Returns (from_state,
    to_state, n, row_total, prob)."""
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    pairs = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.col(state_col).alias("from_state"),
            F.lead(state_col).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
    )
    cnt = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("from_state").agg(F.sum("n").alias("row_total"))
    return cnt.join(F.broadcast(tot), "from_state").select(
        "from_state",
        "to_state",
        "n",
        "row_total",
        (F.col("n").cast("double") / F.col("row_total").cast("double")).alias(
            "prob"
        ),
    )


def seasonal_decompose(
    df: DataFrame,
    order_col: str,
    value_col: str,
    period: int,
    partition_cols: list[str] | None = None,
    trend_window: int | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition per series
    (moving-average method, the `decompose` of every stats package):
    y = trend + seasonal + resid — the triage view for "is this
    metric drifting, or is it just Tuesday" over per-key daily/hourly
    series.

    trend    — centered moving average over `trend_window` rows
               (odd, default period rounded up to odd); NULL on the
               warm-up/cool-down edge rows whose frame is short
               (exact COUNT gate, the q160 rule).
    seasonal — per phase (row index mod period) over the FULL-frame
               rows: mean(y − trend), then phase-means are centered
               to sum ≈ 0 (the textbook normalization).
    resid    — y − trend − seasonal.

    Exactness with integer values (the spearman contract): trend_i =
    S_i/W is a ratio of exact int64 (S_i the window sum, W the odd
    window length), so a phase's raw effect telescopes EXACTLY —
        raw_j = Σ_j(y·W − S) / (n_j·W)
    one division per phase, no per-row float accumulation.  The
    centering mean folds the ≤ `period` phase effects in PHASE order
    (sorted fold — fixed IEEE sequence, the q307 rule), and the
    per-row resid is a fixed 2-subtraction chain: every output
    hash-exact cross-engine.

    Plan: ONE window pass over (partition, order) — parallel across
    partitions; within one, the frame is the series length (use
    partition_cols; a single global series concentrates on one task
    — fine for the usual ≤ ~10^5-point per-key series, and exactly
    the q160-class bounded aggregate when the series is a daily
    rollup).  Returns (partition_cols..., order_col, y, phase,
    trend, seasonal, resid)."""
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    tw = trend_window if trend_window is not None else period | 1
    if tw % 2 == 0 or tw < 3:
        raise ValueError(f"trend_window must be odd >= 3, got {tw}")
    pc = list(partition_cols or [])
    k = (tw - 1) // 2
    w = Window.partitionBy(*pc).orderBy(order_col)
    frame = w.rowsBetween(-k, k)
    base = df.select(
        *pc,
        F.col(order_col),
        F.col(value_col).cast("long").alias("y"),
    ).withColumn("phase", F.pmod(F.row_number().over(w) - 1, F.lit(period)))
    base = base.withColumn("_S", F.sum("y").over(frame)).withColumn(
        "_cnt", F.count(F.lit(1)).over(frame)
    )
    valid = base.filter(F.col("_cnt") == tw)
    raws = valid.groupBy(*pc, "phase").agg(
        F.count(F.lit(1)).alias("_nj"),
        F.sum(F.col("y") * tw - F.col("_S")).alias("_num"),
    ).select(
        *pc,
        "phase",
        (
            F.col("_num").cast("double")
            / (F.col("_nj") * tw).cast("double")
        ).alias("_raw"),
    )
    centered = raws.groupBy(*pc).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("phase"), F.col("_raw")))
        ).alias("_ps")
    ).select(
        *pc,
        F.explode("_ps").alias("_p"),
        (
            F.expr(
                "aggregate(_ps, cast(0.0 as double), (a, x) -> a + x._raw)"
            )
            / F.size("_ps").cast("double")
        ).alias("_mean"),
    ).select(
        *pc,
        F.col("_p.phase").alias("phase"),
        (F.col("_p._raw") - F.col("_mean")).alias("seasonal"),
    )
    out = base.join(centered, [*pc, "phase"], "left")
    trend = F.when(
        F.col("_cnt") == tw,
        F.col("_S").cast("double") / F.lit(float(tw)),
    )
    return out.select(
        *pc,
        order_col,
        "y",
        "phase",
        trend.alias("trend"),
        "seasonal",
        F.when(
            (F.col("_cnt") == tw) & F.col("seasonal").isNotNull(),
            F.col("y").cast("double")
            - trend
            - F.col("seasonal"),
        ).alias("resid"),
    )


def ewma(
    df: DataFrame,
    order_col: str,
    value_col: str,
    alpha: float,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per series —
    e_t = α·y_t + (1−α)·e_{t−1}, seeded e_1 = y_1 (the adjust=False
    pandas convention): the smoother behind alert thresholds and
    drift monitors where `seasonal_decompose`'s symmetric window
    can't run (it needs the future; EWMA is causal).

    A running recurrence is the one shape Spark windows cannot state
    (each output feeds the next), and a JVM `aggregate` that
    array_appends every intermediate onto an immutable accumulator
    copies the whole array per step — O(n²) element copies per
    series, ~10¹⁰ at the 10⁵-points-per-key bound.  So the series
    scans ONCE inside an Arrow-batched pandas UDF over its
    (order)-sorted value array — O(n) per series, parallel across
    keys, bounded by series length (use partition_cols; this is for
    metric series, not corpus rows).  The scan is the same FIXED
    left-to-right IEEE-754 double chain the JVM fold would run (one
    multiply each side + one add per step, a/b literals from
    repr(float)), so outputs are deterministic and hash-exact
    against any engine stating the same walk (the oracle replays it
    with a recursive CTE; `streaming.incremental_ewma`'s chopped
    fold is pinned bit-identical to this in test_streaming).
    Prefer dyadic α (0.25, 0.5, …) when the cross-engine literal
    must be bit-identical.  NULL values are rejected up front (a
    NULL would poison every later step silently).  Returns
    (partition_cols..., order_col, y, ewma)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    import numpy as np
    import pandas as pd

    pc = list(partition_cols or [])
    base = df.filter(F.col(value_col).isNotNull()).select(
        *pc,
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_y"),
    )
    arr = base.groupBy(*pc).agg(
        F.sort_array(F.collect_list(F.struct("_o", "_y"))).alias("_s")
    )
    a, b = float(alpha), 1.0 - float(alpha)

    @F.pandas_udf("array<double>")
    def _ewma_scan(ys):
        out = []
        for series in ys:
            res = np.empty(len(series), dtype=np.float64)
            prev = None
            for i, y in enumerate(series):
                # exact chain the oracle replays: (a*y) + (b*prev)
                prev = y if prev is None else a * y + b * prev
                res[i] = prev
            out.append(res)
        return pd.Series(out)

    out = arr.select(
        *pc,
        F.posexplode(
            F.arrays_zip(
                F.col("_s"), _ewma_scan(F.col("_s._y")).alias("_e")
            )
        ).alias("_i", "_z"),
    )
    return out.select(
        *pc,
        F.col("_z._s._o").alias(order_col),
        F.col("_z._s._y").alias("y"),
        F.col("_z._e").alias("ewma"),
    )


def holt_winters(
    df: DataFrame,
    order_col: str,
    value_col: str,
    period: int,
    alpha: float,
    beta: float,
    gamma: float,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Additive Holt–Winters smoothing (Holt 1957, Winters 1960) —
    the trend + seasonal member of the exponential-smoothing family:
    `ewma` smooths a level, `seasonal_decompose` explains a finished
    series; Holt–Winters is what a metrics user reaches for when the
    question is "where is this heading", because the running state
    (level l, trend b, seasonal indices s) doubles as a one-step
    forecast ŷ_t = l_{t−1} + b_{t−1} + s_{t−m}.

        l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(y_t − l_{t−1} − b_{t−1}) + (1−γ)·s_{t−m}

    Initialization (the classical two-season heuristic, documented so
    the oracle can replay it): with m = `period`,
        l_m = mean(y_1..y_m),
        b_m = (mean(y_{m+1}..y_{2m}) − mean(y_1..y_m)) / m,
        s_i = y_i − l_m  for i = 1..m,
    recurrences run from t = m+1; series shorter than 2m rows are
    DROPPED (not enough data to seat the trend estimate).  Output
    rows cover the recurrence region t = m+1..n only.

    Like `ewma`, a running recurrence with a seasonal ring buffer is
    the shape Spark windows cannot state, so each series scans ONCE
    inside an Arrow-batched pandas UDF over its (order)-sorted value
    array — O(n) per series, parallel across keys, bounded by series
    length (metric series, not corpus rows).  Every float step is a
    FIXED left-to-right IEEE-754 double chain (init means are
    left-fold sums divided once; each recurrence is two multiplies +
    one add with literal coefficients), so outputs are hash-exact
    against any engine replaying the same walk (the oracle carries
    the ring in a recursive-CTE list).  Prefer dyadic α/β/γ when the
    cross-engine literals must be bit-identical.  NULL values are
    rejected up front.  Returns (partition_cols..., order_col, y,
    level, trend, seasonal, fitted) where `fitted` is the one-step
    forecast made BEFORE observing y_t."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    for nm, v in (("beta", beta), ("gamma", gamma)):
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"{nm} must be in [0, 1], got {v}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    import pandas as pd

    m = int(period)
    a, one_a = float(alpha), 1.0 - float(alpha)
    bq, one_b = float(beta), 1.0 - float(beta)
    g, one_g = float(gamma), 1.0 - float(gamma)
    pc = list(partition_cols or [])
    base = df.filter(F.col(value_col).isNotNull()).select(
        *pc,
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_y"),
    )
    arr = base.groupBy(*pc).agg(
        F.sort_array(F.collect_list(F.struct("_o", "_y"))).alias("_s")
    )

    @F.pandas_udf(
        "array<struct<l: double, b: double, s: double, f: double>>"
    )
    def _hw_scan(ys):
        out = []
        for series in ys:
            n = len(series)
            if n < 2 * m:
                out.append([])
                continue
            s1 = 0.0
            for i in range(m):          # left-fold: ((y1+y2)+y3)...
                s1 += series[i]
            lvl = s1 / m
            s2 = 0.0
            for i in range(m, 2 * m):
                s2 += series[i]
            b = (s2 / m - s1 / m) / m
            ring = [series[i] - lvl for i in range(m)]
            rows = []
            for t in range(m, n):
                y = series[t]
                s_old = ring[0]
                f = lvl + b + s_old
                l_new = a * (y - s_old) + one_a * (lvl + b)
                b_new = bq * (l_new - lvl) + one_b * b
                s_new = g * (y - lvl - b) + one_g * s_old
                rows.append({"l": l_new, "b": b_new,
                             "s": s_new, "f": f})
                ring.pop(0)
                ring.append(s_new)
                lvl, b = l_new, b_new
            out.append(rows)
        return pd.Series(out)

    out = arr.filter(F.size("_s") >= 2 * m).select(
        *pc,
        F.posexplode(
            F.arrays_zip(
                F.slice(F.col("_s"), m + 1, F.size("_s") - m).alias("_s"),
                _hw_scan(F.col("_s._y")).alias("_e"),
            )
        ).alias("_i", "_z"),
    )
    return out.select(
        *pc,
        F.col("_z._s._o").alias(order_col),
        F.col("_z._s._y").alias("y"),
        F.col("_z._e.l").alias("level"),
        F.col("_z._e.b").alias("trend"),
        F.col("_z._e.s").alias("seasonal"),
        F.col("_z._e.f").alias("fitted"),
    )


def cusum_changepoint(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_cols: list[str] | None = None,
    min_segment: int = 1,
) -> DataFrame:
    """Single changepoint per series by the CUSUM statistic (Page
    1954; the Taylor-style offline form): the split i maximizing
    |C_i| where C_i = Σ_{j≤i}(y_j − ȳ) — "WHEN did this metric's
    level shift", the follow-up question to `mann_kendall`'s "is it
    drifting" and `ewma`'s live smoothing.

    Kept EXACTLY integral: with quantized values, n·C_i = n·P_i −
    i·T (P the prefix sum, T the total) — the argmax over i of
    |n·C_i| equals the argmax of |C_i| and is computed in
    DECIMAL(38,0) with NO float anywhere until the reported
    statistics, each ONE division of exact integers (cusum_max =
    |D|/n, segment means, their delta): hash-exact.  Ties on |D|
    break to the EARLIEST split; row order is pinned by
    (order, value) so duplicate order keys stay deterministic —
    quantize and de-duplicate order keys upstream when the series
    has a real total order.

    `min_segment` keeps degenerate one-row segments from winning
    (both sides must hold ≥ min_segment rows); series shorter than
    2·min_segment produce no row.

    Plan: one per-series window pass (prefix + position — frames
    bounded by series length: this is for metric series, not corpus
    rows; use partition_cols), one partial-agg'd argmax onto
    |series| rows.  Returns (partition_cols..., n, cp_index — rows
    in the LEFT segment, cp_order — order key of the last left row,
    cusum_max, mean_left, mean_right, delta)."""
    from pyspark.sql import Window

    if min_segment < 1:
        raise ValueError(f"min_segment must be >= 1: {min_segment}")
    pc = list(partition_cols or [])
    base = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *pc,
        F.col(order_col).cast("long").alias("_o"),
        F.col(value_col).cast("long").alias("_y"),
    )
    w = (
        Window.partitionBy(*(pc or [F.lit(1)]))
        .orderBy("_o", "_y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*(pc or [F.lit(1)]))
    stepped = base.select(
        *pc,
        "_o",
        F.row_number()
        .over(
            Window.partitionBy(*(pc or [F.lit(1)])).orderBy("_o", "_y")
        )
        .alias("_i"),
        F.sum("_y").over(w).alias("_p"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("_y").over(wn).alias("_t"),
    )
    d = (
        F.col("n").cast("decimal(38,0)") * F.col("_p").cast("decimal(38,0)")
        - F.col("_i").cast("decimal(38,0)") * F.col("_t").cast("decimal(38,0)")
    )
    cand = stepped.filter(
        (F.col("_i") >= min_segment)
        & (F.col("_i") <= F.col("n") - min_segment)
        & (F.col("n") >= 2 * min_segment)
    ).select(
        *pc,
        "n",
        "_t",
        F.abs(d).alias("_ad"),
        (-F.col("_i").cast("long")).alias("_ni"),
        F.col("_i").cast("long").alias("_ci"),
        F.col("_o").alias("_co"),
        F.col("_p").alias("_cp"),
    )
    picked = cand.groupBy(*pc, "n", "_t").agg(
        F.max(
            F.struct(
                F.col("_ad").alias("ad"),
                F.col("_ni").alias("ni"),
                F.col("_ci").alias("ci"),
                F.col("_co").alias("co"),
                F.col("_cp").alias("cp"),
            )
        ).alias("_m")
    )
    i = F.col("_m.ci").cast("double")
    n = F.col("n").cast("double")
    p = F.col("_m.cp").cast("double")
    t = F.col("_t").cast("double")
    ml = p / i
    mr = (t - p) / (n - i)
    return picked.select(
        *pc,
        "n",
        F.col("_m.ci").alias("cp_index"),
        F.col("_m.co").alias("cp_order"),
        (F.col("_m.ad").cast("double") / n).alias("cusum_max"),
        ml.alias("mean_left"),
        mr.alias("mean_right"),
        (mr - ml).alias("delta"),
    )


def gini(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Gini concentration coefficient per group (Gini 1912, the
    mean-absolute-difference form) — "how concentrated is token
    mass / revenue / doc count across sources", the scalar the
    Lorenz-curve queries (q94 Pareto) summarize to:

        G = Σ_i Σ_j |x_i − x_j| / (2 n² x̄) = S / (n·T)

    with S = Σ_{v<v'} (v'−v)·c·c' over the DISTINCT-VALUE cell
    spine (the kendall_tau_b bounded-cell contract — the corpus
    collapses to cells in one partial-agg'd shuffle and the pair
    algebra never touches raw rows) and T = Σx.  S and T are exact
    integers (DECIMAL(38,0) — S ≤ n²·max|Δ| wraps int64 early); G
    is ONE division: hash-exact.  Values must be NON-NEGATIVE
    (Gini's domain) and quantized; T = 0 (all zeros) yields NULL.

    Returns (group_cols..., n, total, gini)."""
    gc = list(group_cols or [])
    cells = pin(
        df.filter(F.col(value_col).isNotNull())
        .select(*gc, F.col(value_col).cast("long").alias("_v"))
        .groupBy(*gc, "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    cond = F.col("a._v") < F.col("b._v")
    for g in gc:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    s = (
        a.join(b, cond)
        .groupBy(*[F.col(f"a.{g}").alias(g) for g in gc])
        .agg(
            F.sum(
                (F.col("b._v") - F.col("a._v")).cast("decimal(38,0)")
                * F.col("a._c")
                * F.col("b._c")
            ).alias("_s")
        )
    )
    tot = cells.groupBy(*gc).agg(
        F.sum("_c").alias("n"),
        F.sum(F.col("_v").cast("decimal(38,0)") * F.col("_c")).alias("_t"),
    )
    j = (
        tot.join(s, gc, "left")
        if gc
        else tot.crossJoin(F.broadcast(s))
    )
    j = j.withColumn(
        "_s", F.coalesce(F.col("_s"), F.lit(0).cast("decimal(38,0)"))
    )
    g_ = F.when(
        F.col("_t") > 0,
        F.col("_s").cast("double")
        / (F.col("n").cast("decimal(38,0)") * F.col("_t")).cast("double"),
    )
    return j.select(
        *gc,
        "n",
        F.col("_t").cast("long").alias("total"),
        g_.alias("gini"),
    )


def forecast_accuracy(
    df: DataFrame,
    order_col: str,
    actual_col: str,
    forecast_col: str,
    group_cols: list[str] | None = None,
    naive_lag: int = 1,
) -> DataFrame:
    """Forecast error summary per series — MAE, RMSE and MASE
    (Hyndman & Koehler 2006; the scale-free one that doesn't blow
    up at zero like MAPE): closes the forecasting arc that `ewma` /
    `holt_winters` open.

        MASE = MAE(forecast) / MAE(naive-`naive_lag`)

    where the naive error is |y_t − y_{t−naive_lag}| over the same
    series.  With quantized integer actuals/forecasts every error
    sum is an exact int64/DECIMAL (Σe² ≤ n·max²); each reported
    number is ONE division (+ one sqrt for RMSE) — hash-exact.
    Degenerate series (no naive pairs, or a constant series making
    the naive MAE 0) yield MASE NULL.

    Plan: one lag window per series (bounded per-key frames), one
    partial-agg'd shuffle onto |groups| rows — no collects.
    Returns (group_cols..., n, mae, rmse, n_naive, mae_naive,
    mase)."""
    from pyspark.sql import Window

    if naive_lag < 1:
        raise ValueError(f"naive_lag must be >= 1: {naive_lag}")
    gc = list(group_cols or [])
    base = df.filter(
        F.col(actual_col).isNotNull() & F.col(forecast_col).isNotNull()
    ).select(
        *gc,
        F.col(order_col).alias("_o"),
        F.col(actual_col).cast("long").alias("_y"),
        F.col(forecast_col).cast("long").alias("_f"),
    )
    w = Window.partitionBy(*(gc or [F.lit(1)])).orderBy("_o")
    lagged = base.withColumn("_yl", F.lag("_y", naive_lag).over(w))
    agg = lagged.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("_y") - F.col("_f"))).alias("_ae"),
        F.sum(
            (F.col("_y") - F.col("_f")).cast("decimal(38,0)")
            * (F.col("_y") - F.col("_f"))
        ).alias("_se"),
        F.count("_yl").alias("n_naive"),
        F.sum(F.abs(F.col("_y") - F.col("_yl"))).alias("_nae"),
    )
    nd = F.col("n").cast("double")
    mae = F.col("_ae").cast("double") / nd
    rmse = F.sqrt(F.col("_se").cast("double") / nd)
    mae_naive = F.when(
        F.col("n_naive") > 0,
        F.col("_nae").cast("double") / F.col("n_naive").cast("double"),
    )
    mase = F.when(mae_naive > 0, mae / mae_naive)
    return agg.select(
        *gc,
        "n",
        mae.alias("mae"),
        rmse.alias("rmse"),
        "n_naive",
        mae_naive.alias("mae_naive"),
        mase.alias("mase"),
    )


def durbin_watson(
    df: DataFrame,
    order_col: str,
    resid_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Durbin–Watson statistic per series (1950) — first-order
    autocorrelation of residuals, DW = Σ(e_t − e_{t−1})² / Σe² —
    the "are these errors independent" gate before trusting any of
    the time-series tier's variance formulas (DW ≈ 2 means clean;
    → 0 positive, → 4 negative autocorrelation).

    With quantized integer residuals both sums are exact
    (DECIMAL(38,0): Σe² ≤ n·max²) and DW is ONE division:
    hash-exact.  All-zero-residual series yield NULL; ties in
    `order_col` are pinned by the residual value.

    Plan: one per-series lag window (bounded series contract), one
    partial-agg'd collapse.  Returns (group_cols..., n, dw)."""
    from pyspark.sql import Window

    gc = list(group_cols or [])
    base = df.filter(
        F.col(resid_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        *gc,
        F.col(order_col).alias("_o"),
        F.col(resid_col).cast("long").alias("_e"),
    )
    w = Window.partitionBy(*(gc or [F.lit(1)])).orderBy("_o", "_e")
    stepped = base.withColumn("_el", F.lag("_e").over(w))
    d = (F.col("_e") - F.col("_el")).cast("decimal(38,0)")
    e = F.col("_e").cast("decimal(38,0)")
    agg = stepped.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d * d).alias("_num"),
        F.sum(e * e).alias("_den"),
    )
    dw = F.when(
        F.col("_den") > 0,
        F.col("_num").cast("double") / F.col("_den").cast("double"),
    )
    agg = agg.filter(F.col("n") > 0)  # empty global agg leaves a 0 row
    return agg.select(*gc, "n", dw.alias("dw"))
