"""Domain-mixture reweighting for pretraining corpora.

A corpus assembled from N sources (web crawl, code, books, wiki, …)
is rarely trained at its natural proportions: high-quality small
sources get upsampled, the dominant crawl gets tempered. The standard
knob is temperature scaling — sampling weight w_i ∝ p_i^(1/T) where
p_i is the source's natural token share (T=1 natural, T→∞ uniform).
This module computes those weights and a deterministic per-source
document budget entirely inside the engine.

Determinism contract (the registry's oracle hashes values): the
tempered share is quantized to integer micro-units via
floor(sqrt(p)·1e6) before normalization, so every downstream number
is a ratio of exact integers — one correctly-rounded double division
that both the JVM and any C engine perform identically. `sqrt` is
IEEE-correctly-rounded everywhere; general `pow` is NOT (libm
implementations differ by ulps), which is why `alpha` values other
than 0.5 carry a cross-engine determinism caveat (fine for
production, not for bit-exact oracle comparison).

100 TB shape: one partial-aggregated shuffle over the corpus to the
per-source rollup (≤ thousands of groups), then driver-free scalar
algebra on that tiny frame via a broadcast single-row total. Nothing
funnels through one task; the corpus is scanned once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def mixture_weights(
    df: DataFrame,
    source_col: str,
    tokens: Column,
    alpha: float = 0.5,
    budget: int | None = None,
) -> DataFrame:
    """Per-source tempered sampling weights over a document frame.

    Returns one row per source:
      source, n_docs, n_tokens,
      natural_share  — n_tokens / total_tokens (double),
      weight         — tempered + normalized share (double),
      planned_docs   — floor(budget * weight) in exact integer math
                       (only when `budget` is given).

    alpha = 1/temperature: 1.0 keeps natural proportions, 0.5 is the
    common sqrt tempering, 0.0 is uniform. Only alpha=0.5 (sqrt) and
    the endpoints 0/1 are bit-portable across engines — see module
    docstring.
    """
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(F.sum("n_tokens").alias("_total_tokens"))
    # single-row total joined back by broadcast cross join: the
    # per-source frame never leaves the executors, no collect.
    j = per_src.crossJoin(F.broadcast(tot))
    share = F.col("n_tokens").cast("double") / F.col("_total_tokens").cast(
        "double"
    )
    if alpha == 0.5:
        tempered = F.sqrt(share)
    elif alpha == 1.0:
        tempered = share
    elif alpha == 0.0:
        tempered = F.lit(1.0)
    else:
        tempered = F.pow(share, F.lit(float(alpha)))
    # quantize to integer micro-units so the normalizing sum is exact
    # integer addition (associative — safe to aggregate distributed)
    j = j.withColumn(
        "_mw", F.floor(tempered * F.lit(1000000.0)).cast("bigint")
    )
    mw_tot = j.agg(F.sum("_mw").alias("_mw_total"))
    out = j.crossJoin(F.broadcast(mw_tot)).select(
        F.col(source_col),
        "n_docs",
        "n_tokens",
        share.alias("natural_share"),
        (F.col("_mw").cast("double") / F.col("_mw_total").cast("double")).alias(
            "weight"
        ),
        *(
            [
                # integer `div`, not `/`: Spark's `/` is double
                # division and a ~1e10/1e7 quotient within 1 ulp of
                # an integer truncates differently than exact
                # integer division — `div` keeps it in bigint math.
                F.expr(
                    f"CAST(({int(budget)} * _mw) div _mw_total AS BIGINT)"
                ).alias("planned_docs")
            ]
            if budget is not None
            else []
        ),
    )
    return out


def mixture_resample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: DataFrame,
    budget_col: str = "planned_docs",
) -> DataFrame:
    """Deterministically draw each source's planned_docs documents.

    Hash-ranks documents within each source (md5 of the key — the
    same re-shard-stable ordering as ops.hash_split) and keeps the
    first planned_docs per source. The weights frame is tiny
    (one row per source) → broadcast join; the rank is a per-source
    window (parallel across sources). For a single enormous source at
    100 TB, swap the window for ops.range_rank on the hash key.
    """
    from pyspark.sql import Window as _W

    rank_w = _W.partitionBy(source_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    ranked = df.withColumn("_hr", F.row_number().over(rank_w))
    keep = ranked.join(
        F.broadcast(weights.select(source_col, budget_col)),
        on=source_col,
        how="inner",
    ).filter(F.col("_hr") <= F.col(budget_col))
    return keep.drop("_hr", budget_col)


def upsample_repeats(
    df: DataFrame,
    key: Column | str,
    source_col: str,
    factors: "dict[str, float]",
    default: float = 1.0,
    n_buckets: int = 10_000,
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic repeat-factor upsampling — the other half of
    mixture reweighting: `mixture_resample` DOWN-samples dominant
    sources; this op UP-samples small high-quality sources by a
    possibly-fractional factor f (the "epochs over the source" knob
    of data-constrained pretraining). Every row is emitted
    floor(f) times, plus one extra copy iff its md5 hash bucket
    falls below frac(f)·n_buckets — so the copy count is a PURE
    FUNCTION of the row key (RNG-free, re-shard-stable, exact in
    expectation), and every copy is tagged with `copy_col` so the
    trainer can epoch-shift or de-duplicate downstream.

    Factors below 1 degenerate to deterministic subsampling
    (floor=0, fractional keep), so one op covers the whole mixing
    ratio range. Narrow plan: bucket filter + sequence() explode —
    no shuffle at any corpus size."""
    from hadron_spark.operators.ops import hash_bucket

    k = F.col(key) if isinstance(key, str) else key
    whole = None
    fracpart = None
    for name, f in factors.items():
        if f < 0:
            raise ValueError(f"negative factor for {name!r}")
        w, fr = int(f), f - int(f)
        cond = F.col(source_col) == name
        whole = F.when(cond, w) if whole is None else whole.when(cond, w)
        t = int(round(fr * n_buckets))
        fracpart = (
            F.when(cond, t) if fracpart is None else fracpart.when(cond, t)
        )
    dw = int(default)
    dfr = int(round((default - dw) * n_buckets))
    whole = whole.otherwise(dw) if whole is not None else F.lit(dw)
    fracpart = fracpart.otherwise(dfr) if fracpart is not None else F.lit(dfr)
    copies = whole + F.when(
        hash_bucket(k, n_buckets) < fracpart, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn(
            copy_col, F.explode(F.sequence(F.lit(0), F.col("_copies") - 1))
        )
        .withColumn(copy_col, F.col(copy_col).cast("int"))
        .drop("_copies")
    )


def epoch_shuffle(
    df: DataFrame,
    key: Column | str,
    epoch: int,
    n_shards: int,
    shard_col: str = "shard",
    order_col: str = "sort_key",
) -> DataFrame:
    """Deterministic per-epoch reshuffle for training export: every
    row gets a SHARD and a WITHIN-SHARD sort key, both pure functions
    of (row key, epoch) via md5 — the `hash_bucket` reproducibility
    discipline applied to the epoch-shuffling every multi-epoch
    training run needs.  Different epochs produce decorrelated
    orders; the same epoch reproduces the same order on any cluster,
    partitioning, or re-shard of the input (resumable data loading).

    Writers sort within shards (`df.repartition(shard).
    sortWithinPartitions(order_col)`) — a one-exchange export, never
    a global sort.  The assignment is SQL-replayable (pure md5 +
    integer arithmetic), so the full (key → epoch, shard, sort_key)
    map is oracle-checkable."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(
        F.concat(k.cast("string"), F.lit(f"/epoch={epoch}")).cast("binary")
    )
    sort_key = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    shard = (sort_key % n_shards).cast("int")
    return df.withColumn(shard_col, shard).withColumn(order_col, sort_key)


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
    cum_col: str = "cum_tokens",
    buckets: int | None = None,
) -> DataFrame:
    """Greedy selection of the highest-`score_col` documents whose
    cumulative `token_col` stays within an exact token budget — the
    "best N tokens" corpus-assembly step (fixed training-token
    budgets à la Hoffmann et al. 2022 make the cut a token count,
    not a document count; contrast `mixture_resample`, which budgets
    DOCUMENTS per domain).

    Selection rule: order by (score desc, id asc), keep every doc
    whose INCLUSIVE running token total is <= budget — the kept set
    never exceeds the budget, and a doc is skipped only if admitting
    it (and everything better than it) would.  Integer arithmetic
    end-to-end, so the cut is bit-deterministic and SQL-replayable.

    Scale shape: the running total uses operators.ops.range_cumsum
    (banded two-pass prefix sum) — NO single-partition window, one
    hash exchange; nothing funnels through one task at 100 TB.
    `score_col` must be numeric (int scores recommended: float score
    TIES across engines are banding-safe but make the order
    engine-dependent); `token_col` integral."""
    from hadron_spark.operators.ops import range_cumsum

    sel = range_cumsum(
        df,
        key=-F.col(score_col),
        val=F.col(token_col),
        order=[F.col(score_col).desc(), F.col(id_col).asc()],
        out_col=cum_col,
        inclusive=True,
        buckets=buckets,
    )
    return sel.filter(F.col(cum_col) <= F.lit(int(budget)))


def systematic_pps_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling (Madow
    1949 — the classic fixed-size weighted design): draw EXACTLY n
    selections where each row's expected pick count is n·w/W, by
    walking a fixed stride W/n along the cumulative weight axis of a
    deterministically hash-shuffled row order.  The weighted
    complement of `deterministic hash split`: token-budgeted corpus
    subsetting, weighted eval-slice selection, PPS audit sampling.

    Fully integer-exact: rows order by (60-bit md5 prefix, id) —
    deterministic under any partitioning, the `epoch_shuffle`
    discipline — the EXCLUSIVE prefix sum c comes from
    `range_cumsum` (banded two-pass, never a single-partition
    window), and row multiplicity is
        floor((c+w)·n / W) − floor(c·n / W)
    — pure int64 arithmetic counting stride points inside the row's
    weight interval.  Σ multiplicity = n by telescoping, heavy rows
    (w > W/n) legitimately select multiple times (emit
    `multiplicity`, the upsample_repeats convention).  Guard:
    raises if W·n would overflow int64 (at that scale quantize
    weights coarser or shard the draw).

    One corpus scan + range_cumsum's one exchange + a tiny total
    agg; no driver loops."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    from hadron_spark.operators.ops import range_cumsum

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    bad = df.filter(F.col(weight_col) <= 0).limit(1).count()
    if bad:
        raise ValueError("systematic_pps_sample: weights must be > 0")
    staged = df.withColumn("_h", h)
    pre = range_cumsum(
        staged,
        key=F.col("_h"),
        val=F.col(weight_col),
        order=[F.col("_h"), F.col(id_col)],
        out_col="_c",
        inclusive=False,
    )
    w_long = F.col(weight_col).cast("long")
    total = pre.agg(F.max(F.col("_c") + w_long).alias("w")).first()["w"]
    if total is None:
        return pre.filter(F.lit(False)).select(
            *df.columns, F.lit(0).alias("multiplicity")
        )
    if total * n >= 2**62:
        raise ValueError(
            f"systematic_pps_sample: W*n = {total}*{n} risks int64 overflow"
        )
    # `div`, not `/`: Spark's `/` on longs is DOUBLE division, which
    # loses exactness past 2^53 — div keeps the whole count in int64
    return (
        pre.withColumn("_e", (F.col("_c") + w_long) * n)
        .withColumn("_s", F.col("_c") * n)
        .withColumn(
            "multiplicity",
            F.expr(f"(_e div {total}) - (_s div {total})").cast("long"),
        )
        .filter(F.col("multiplicity") >= 1)
        .select(*df.columns, "multiplicity")
    )


def stratified_allocate(
    df: DataFrame,
    strata_cols: list[str],
    n: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size proportional stratified selection with EXACT
    largest-remainder apportionment (Hamilton's method): per-stratum
    quota_s = floor(n_s·n/N) plus one for the strata with the
    largest remainders (n_s·n mod N, ties to the smaller stratum
    key) until Σ quota = n exactly — the "give me exactly n docs,
    language mix preserved" primitive `mixture_resample`'s
    rate-based form cannot state (rates drift Σ by rounding;
    apportionment cannot).

    All integer: quotas and remainders are int64 products (guarded
    against overflow like systematic_pps_sample), the +1 ranks ride
    `stamp_rank` on the bounded |strata| frame (no unpartitioned
    window), and the in-stratum pick is the first `quota` rows by
    `order_col` — deterministic under any partitioning.  Pass a pre-hashed column (the `epoch_shuffle`
    md5 idiom) as order_col when the pick must be pseudo-random
    rather than id-ordered.

    Plan: one partial-agg'd shuffle to strata counts (tiny), quota
    algebra broadcast back onto the corpus scan, one per-stratum
    rank window on the corpus (the only big shuffle), filter.
    Empty-stratum-safe; n larger than N raises.  Returns the
    selected rows with `quota` attached."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    counts = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("_ns"))
    tot = counts.agg(
        F.sum("_ns").alias("_N"), F.count(F.lit(1)).alias("_k")
    )
    sized = counts.crossJoin(F.broadcast(tot))
    head = sized.limit(1).collect()
    if head and head[0]["_N"] * n >= 2**62:
        raise ValueError("stratified_allocate: n_s*n risks int64 overflow")
    if head and n > head[0]["_N"]:
        raise ValueError(
            f"stratified_allocate: n={n} exceeds corpus size {head[0]['_N']}"
        )
    from hadron_spark.operators.ops import stamp_rank

    # the rank rides stamp_rank on the bounded |strata| frame — no
    # unpartitioned window; _short broadcasts from a 1-row agg
    based = sized.withColumn("_base", F.expr(f"(_ns * {n}) div _N")).withColumn(
        "_rem", F.expr(f"(_ns * {n}) % _N")
    )
    short = based.agg((F.lit(n) - F.sum("_base")).alias("_short"))
    quotas = (
        stamp_rank(
            based,
            [F.col("_rem").desc(), *[F.col(c).asc() for c in strata_cols]],
            out_col="_rk",
        )
        .crossJoin(F.broadcast(short))
        .withColumn(
            "quota",
            (F.col("_base") + (F.col("_rk") <= F.col("_short")).cast("long")),
        )
        .select(*strata_cols, "quota")
    )
    wpick = Window.partitionBy(*strata_cols).orderBy(order_col)
    return (
        df.join(F.broadcast(quotas), strata_cols)
        .withColumn("_prk", F.row_number().over(wpick))
        .filter(F.col("_prk") <= F.col("quota"))
        .drop("_prk")
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Cross-group quantile normalization — map every group's score
    distribution onto the POOLED distribution by rank, so
    heterogeneous quality scores (different crawls, different
    scorer versions) become comparable before one global cut: a
    value at the p-th percentile of its group maps to the pooled
    p-th percentile value.  The microarray-normalization classic
    (Bolstad 2003) restated for corpus curation.

    Integer-exact end to end: per (group, value) the doubled
    tie-average rank r2 = 2·cum_before + t + 1 (the Mann-Whitney
    unit), the pooled target rank is
        target = ceil(r2·N / (2·n_g))
    — pure int64 cross-multiplication (guarded: r2·N < 2^63 needs
    n_g·N < ~2.3·10^18, i.e. quantize first at pathological scale) —
    and `normalized` is the smallest pooled value whose cumulative
    count reaches target (the histogram_quantiles rank-target rule,
    percentile_disc semantics: an ACTUAL pooled value, exact).

    Plan: one partial-agg'd shuffle per spine (group-value and
    pooled-value — both bounded by the quantized-value contract),
    one range join of the group spine against the pooled spine
    resolved by min() (pooled spine is distinct-value-bounded;
    broadcast when small).  Returns the MAPPING frame (group_col,
    value_col, n, r2, target_rank, normalized) — join it back onto
    rows by (group, value); emitting the mapping keeps the corpus
    pass at exactly one join."""
    from pyspark.sql import Window

    g = F.col(group_col)
    v = F.col(value_col).cast("long")
    base = df.select(g.alias("_g"), v.alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    cnt = base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_t"))
    wg = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gs = cnt.select(
        "_g",
        "_v",
        "_t",
        (2 * (F.sum("_t").over(wg) - F.col("_t")) + F.col("_t") + 1).alias(
            "_r2"
        ),
    )
    ng = cnt.groupBy("_g").agg(F.sum("_t").alias("_ng"))
    pooled = base.groupBy("_v").agg(F.count(F.lit(1)).alias("_pt"))
    # pooled cumulative rides range_cumsum (banded two-pass prefix —
    # never a single-partition window, even on the bounded spine)
    from hadron_spark.operators.ops import range_cumsum

    pool = range_cumsum(
        pooled,
        key=F.col("_v"),
        val=F.col("_pt"),
        order=[F.col("_v").asc()],
        out_col="_pc0",
        inclusive=False,
    ).select(
        F.col("_v").alias("_pv"),
        (F.col("_pc0") + F.col("_pt")).alias("_pc"),
    )
    tot = pooled.agg(F.sum("_pt").alias("_N"))
    spec = (
        gs.join(F.broadcast(ng), "_g")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "target", F.expr("(_r2 * _N + 2 * _ng - 1) div (2 * _ng)")
        )
    )
    return (
        spec.join(F.broadcast(pool), F.col("_pc") >= F.col("target"))
        .groupBy(
            F.col("_g").alias(group_col),
            F.col("_v").alias(value_col),
            F.col("_t").alias("n"),
            F.col("_r2").alias("r2"),
            F.col("target").alias("target_rank"),
        )
        .agg(F.min("_pv").alias("normalized"))
    )
