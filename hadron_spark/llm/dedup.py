"""Deduplication operators over a document corpus.

Exact dedup is a hash-groupBy; near-dup families use
signature → band → bucket-join candidate generation so the pairwise
comparison never goes n² — the only joins are equi-joins on bucket
keys, which shuffle-partition cleanly at 100 TB (MinHash/LSH per
Broder 1997; SimHash per Charikar 2002 — see PAPERS.md).

Determinism: every hash is a Catalyst expression (md5 / xxhash64)
so signatures are reproducible across runs and engines.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadron_spark.functions.text import ngrams, tokenize

_LOG = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; keeper = min id. Output one row
    per distinct text: (text_hash, keeper_id, n_copies). One shuffle
    with map-side partial agg."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col).cast("binary")))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct text (deterministic winner =
    lowest id, the reference's firstBy semantics
    Controller.hs:1257-1274).

    Shape (optimization r07, guide §2.3): groupBy the text hash with
    min_by(full row, id) instead of a row_number hash window — the
    aggregate gets map-side partial aggregation (duplicate texts
    collapse BEFORE the shuffle; the window shipped every row) and no
    per-partition sort. Keeper identical: min_by picks the lowest-id
    row, the same row rn=1 selected (ties on id were
    arbitrary-but-single in both shapes).

    The ordering key is wrapped in a struct (optimization r08, ADVICE
    r07): min_by SKIPS rows whose ordering value is NULL, so ordering
    on the bare id column fabricated an all-NULL winner for a
    duplicate group whose every id is NULL and picked the lowest
    non-null id over the window's nulls-first row on mixed groups.  A
    single-field struct is never NULL and its field comparison is
    nulls-first — exactly the old row_number window's asc_nulls_first
    order (pinned by test_exact_dedup_null_ids)."""
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("_h"))
        .agg(F.min_by(row, F.struct(F.col(id_col))).alias("_r"))
        .select("_r.*")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 5,
    id_col: str = "doc_id",
    max_chars: int = 100_000,
) -> DataFrame:
    """`sig: array<bigint>` per id — MinHash over character
    k-shingles. Returns (id_col, sig).

    Permutation family: xxhash64(shingle, seed=i) for i in 0..n-1;
    min per seed. Plan shape: shingle POSITIONS are exploded
    (`explode(sequence(...))`) and the shingle is materialized by a
    codegen'd `substring` over the text cast to BINARY — byte
    k-shingles, not char k-shingles, because positional indexing into
    a UTF8 string is O(pos) per call (O(len²) per document — measured
    3× slower corpus-wide) while byte offsets are O(1). For ASCII the
    two are identical; for multi-byte text, byte shingles are an
    equally valid MinHash feature set. The n mins are one codegen'd
    hash aggregate; min() over xxhash64(long, seed) is a cheap
    fixed-width hash, and map-side partial aggregation shrinks the
    shuffle to |docs|·n longs. Expressions are built as SQL strings
    (F.expr): building n aggregates through the Python Column DSL
    costs hundreds of py4j round-trips of driver latency.

    `max_chars` bounds the per-document explode (a pathological
    multi-GB document would otherwise own a partition's worth of
    rows by itself); shingling the first 100k bytes is standard
    web-dedup practice."""
    binary = df.select(id_col, F.expr(f"cast({text_col} as binary) AS _b"))
    pos = F.expr(
        f"explode(sequence(1, greatest(least(length(_b), {max_chars})"
        f" - {shingle_k - 1}, 1))) AS _pos"
    )
    exploded = binary.select(id_col, "_b", pos).select(
        id_col,
        F.xxhash64(F.expr(f"substring(_b, _pos, {shingle_k})")).alias("_h"),
    )
    mins = exploded.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(_h, {i}))").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        id_col, F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _drop_oversized_buckets(banded: DataFrame, keys: list[str], max_bucket_size: int) -> DataFrame:
    """Skew guard: LSH buckets larger than `max_bucket_size` are
    degenerate (boilerplate/empty-text clusters) and would go
    quadratic inside the self-join — drop them. Standard practice in
    web-scale dedup pipelines; at 100 TB this guard is what keeps the
    worst-case bounded at (max_bucket_size² / 2) per bucket.

    Implemented as a COUNT window over the bucket key rather than an
    aggregate + anti-join: the window's shuffle partitioning IS the
    downstream self-join key, so the join reuses the exchange and the
    whole guard costs one sort instead of an extra aggregation, a
    driver-side broadcast collect, and an anti-join."""
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def band_signatures(
    sigged: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Explode a signature table (`_id`, `sig: array<bigint>`) into
    `bands` rows per doc with an md5 bucket key per band — the LSH
    banding step, shared by self-join dedup and incremental
    (new-batch-vs-corpus) dedup. One `inline(array(named_struct))`
    SQL expression: band structs built Python-side cost a py4j
    round-trip per field."""
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bkey', md5(concat_ws(',', {cells})))".format(
            b=b,
            cells=", ".join(
                f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigged.select("_id", "sig", F.expr(f"inline(array({band_structs}))"))


def minhash_dedup_incremental(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus signature store
    (`corpus_sigs` = a saved `minhash_signature` output) — the
    incremental-ingest pattern: the corpus is never re-shingled, only
    its banded signature table is joined. Drops new docs whose
    estimated Jaccard against ANY corpus doc ≥ threshold, then
    self-dedups the surviving batch. Returns the kept new rows.

    At 100 TB the signature store is the only corpus-derived state
    (~1% of corpus size); re-banding it is a narrow map over a
    parquet scan, and the candidate join shuffles |batch|·bands +
    |corpus|·bands rows on the bucket key."""
    from pyspark import StorageLevel

    new_sigs = (
        minhash_signature(new_docs, text_col, num_hashes, shingle_k, id_col)
        .select(F.col(id_col).alias("_id"), "sig")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nb = band_signatures(new_sigs, num_hashes, bands)
    cb = band_signatures(corpus_sigs.select("_id", "sig"), num_hashes, bands)
    if max_bucket_size:
        cb = _drop_oversized_buckets(cb, ["band", "bkey"], max_bucket_size)
    est = (
        F.expr(
            "size(filter(zip_with(n.sig, c.sig, (x, y) -> x = y), m -> m))"
        ).cast("double")
        / F.lit(num_hashes)
    )
    dup_new_ids = (
        nb.alias("n")
        .join(cb.alias("c"), on=["band", "bkey"])
        .select(F.col("n._id").alias(id_col), est.alias("_est"))
        .filter(F.col("_est") >= threshold)
        .select(id_col)
        .distinct()
    )
    survivors = new_docs.join(dup_new_ids, on=id_col, how="left_anti")
    return minhash_dedup(
        survivors,
        id_col,
        text_col,
        threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 LSH
    band, with their estimated Jaccard (= fraction of matching
    signature components).

    Plan shape: signature agg → explode to `bands` rows per doc →
    oversized-bucket guard → band-key equi-self-join → distinct
    pairs. The shuffle key is the band hash; degenerate buckets
    (boilerplate/empty text) are dropped by the guard, bounding the
    self-join at max_bucket_size² per bucket."""
    sigged = minhash_signature(df, text_col, num_hashes, shingle_k, id_col).select(
        F.col(id_col).alias("_id"), "sig"
    )
    # The signature table feeds both sides of the self-join; without
    # a pin the shingle-explode + hash-agg pipeline can run twice
    # (runtime exchange reuse is plan-shape-dependent, and a lazy
    # persist only dedupes after first materialization). The table is
    # |docs| × (id + n longs) — a few hundred bytes per doc,
    # negligible next to the corpus. EAGER ops.pin.
    from hadron_spark.operators.ops import pin as _pin

    sigged = _pin(sigged)
    banded = band_signatures(sigged, num_hashes, bands)

    if max_bucket_size:
        banded = _drop_oversized_buckets(banded, ["band", "bkey"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    # est_jaccard is computed inside the join projection so the wide
    # signature arrays never enter the dedup shuffle — the distinct
    # runs over (long, long, double) rows only. The SQL-lambda match
    # count is fine here: it runs once per CANDIDATE pair, not per
    # corpus row.
    est = (
        F.expr(
            "size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), m -> m))"
        ).cast("double")
        / F.lit(num_hashes)
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bkey") == F.col("b.bkey"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    transitive: bool = False,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: any doc matched (est_jaccard ≥ threshold)
    with a lower-id doc is removed.

    `transitive=False` (default): single-link union approximated by
    ONE anti-join round — every doc appearing as the higher id of any
    matched pair is dropped.  Exact for pair/star clusters (the
    common crawl-dedup shape) and cheapest; on CHAINS it can both
    over-delete (b≈c dropped though its only match was itself
    dropped) and under-merge relative to true single-link.

    `transitive=True`: TRUE single-link clustering — candidate pairs
    feed `operators.graph.connected_components` (the two-phase
    large-star/small-star rounds, lineage-truncated) and exactly one
    doc survives per component: the minimum id.  This is the
    union-find-over-LSH-matches semantics of production web-dedup
    pipelines; costs O(log n) extra bounded rounds over the
    PAIR table (candidate-pair-sized, not corpus-sized)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    if transitive:
        from hadron_spark.operators.graph import connected_components

        comp = connected_components(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
        )
        losers = (
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
            .distinct()
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

# temp-view sequence for single-SQL pipelines (unique per call)
_VIEW_SEQ = [0]


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 64, id_col: str = "doc_id"
) -> DataFrame:
    """`simhash: bigint` per id — Charikar fingerprint over word
    1-grams: for each bit b, sign(Σ_tokens ±1) where the ± is bit b
    of xxhash64(token). Returns (id_col, simhash).

    Plan shape: tokens are EXPLODED as strings and hashed by a
    codegen'd xxhash64 on the exploded row (never inside an
    interpreted array lambda), then the per-bit ±1 votes are packed
    FOUR COUNTERS PER LONG (16-bit fields) so the hash aggregate has
    bits/4 + 1 buffers instead of `bits` — 4× less generated code
    (faster whole-stage-codegen compile, smaller partial-agg shuffle
    rows). vote_b = 2·popcount_b − n, so only the set-bit counts are
    accumulated. All aggregate expressions are SQL strings (F.expr):
    the Column-DSL equivalent costs hundreds of py4j round-trips.

    Packing contract: the four 16-bit count fields share one signed
    long, so the WORST-CASE sum is max_tokens·(2^48+2^32+2^16+1);
    max_tokens = 32 000 keeps that at 9.01e18 < 2^63−1 (ANSI mode
    would raise on overflow — the cap is load-bearing, and
    test_simhash_token_cap_contract pins it). Simhash over a
    32k-token prefix is an accepted approximation for monster
    documents. Token-less documents have no fingerprint (absent
    from output)."""
    assert bits % 4 == 0, "bits must be divisible by 4 (16-bit field packing)"
    max_tokens = 32_000
    groups = bits // 4
    packed_aggs = ", ".join(
        "sum("
        + " | ".join(f"(((_h >> {j + groups * s}) & 1) << {16 * s})" for s in range(4))
        + f") AS _p{j}"
        for j in range(groups)
    )
    # bit b lives in aggregate _p{b % groups}, field b // groups
    fingerprint = " | ".join(
        f"shiftleft(CAST(2 * ((_p{b % groups} >> {16 * (b // groups)}) & 65535)"
        f" - _n > 0 AS LONG), {b})"
        for b in range(bits)
    )
    # one spark.sql parse for the whole pipeline: the same plan built
    # through the Column DSL + per-aggregate F.expr costs ~1 s of
    # driver time (measured) against ~0.3 s for a single SQL parse
    _VIEW_SEQ[0] += 1
    view = f"_hadron_simhash_in_{_VIEW_SEQ[0]}"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        f"""
        WITH toks AS (
          SELECT {id_col},
                 explode(slice(filter(split({text_col}, '\\\\s+'), x -> x != ''),
                               1, {max_tokens})) AS _t
          FROM {view}),
        hashed AS (SELECT {id_col}, xxhash64(_t) AS _h FROM toks),
        votes AS (
          SELECT {id_col}, {packed_aggs}, count(1) AS _n
          FROM hashed GROUP BY {id_col})
        SELECT {id_col}, {fingerprint} AS simhash FROM votes
        """
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Pairs within `max_hamming` bits: pigeonhole block-match — split
    the 64-bit hash into `blocks` chunks; a pair within distance d <
    blocks must agree on ≥1 chunk → equi-join per chunk, then exact
    hamming filter via bit_count(xor). Bucketed equi-join, never n²."""
    h = simhash(df, text_col, id_col=id_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    return hamming_near_pairs(
        h,
        id_col="_id",
        hash_col="simhash",
        max_hamming=max_hamming,
        blocks=blocks,
        max_bucket_size=max_bucket_size,
    )


def hamming_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Generic 64-bit-fingerprint near-pair join: (id_a, id_b,
    hamming) for every pair within `max_hamming` bits — the
    pigeonhole block-match SimHash uses, factored out so ANY 64-bit
    perceptual/content hash (SimHash text, dHash images) shares one
    plan shape: split the hash into `blocks` chunks, equi-join per
    chunk (a pair within distance d < blocks must agree on >= 1
    chunk), exact bit_count(xor) filter, oversized-bucket guard —
    bucketed equi-join, never n².  Input is one (id, hash long) row
    per item.

    Built as ONE `spark.sql` string over a temp view of the pinned
    hash table (as `simhash` is): the chunk explode, the
    `count(1) OVER (PARTITION BY blk, ckey)` guard, the block
    self-join, the hamming filter and the per-pair dedup parse once
    instead of costing a py4j round trip per Column call."""
    width = 64 // blocks
    # same rationale as minhash_lsh_pairs: the fingerprint table is
    # tiny (id + one long per item) but feeds both join sides — EAGER
    # pin (ops.pin): a lazy persist still recomputes the upstream
    # fingerprint derivation when concurrent branch stages race the
    # first materialization, and leaves the full pipeline in the
    # plan for every downstream branch.
    from hadron_spark.operators.ops import pin as _pin

    h = _pin(hashes.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")))
    _VIEW_SEQ[0] += 1
    view = f"_hadron_hamming_in_{_VIEW_SEQ[0]}"
    h.createOrReplaceTempView(view)
    chunks = ", ".join(
        f"named_struct('blk', {i}, 'ckey', "
        f"shiftrightunsigned(_h, {i * width}) & {(1 << width) - 1})"
        for i in range(blocks)
    )
    # the skew guard (see _drop_oversized_buckets): its window shuffle
    # on (blk, ckey) is the self-join's partitioning, so the join
    # reuses the exchange
    guarded = (
        f"""SELECT _id, _h, blk, ckey FROM (
              SELECT *, count(1) OVER (PARTITION BY blk, ckey) AS _bn
              FROM chunked)
            WHERE _bn <= {max_bucket_size}"""
        if max_bucket_size
        else "SELECT * FROM chunked"
    )
    return h.sparkSession.sql(
        f"""
        WITH chunked AS (
          SELECT _id, _h, c.blk, c.ckey
          FROM (SELECT _id, _h, explode(array({chunks})) AS c FROM {view})),
        guarded AS ({guarded}),
        near AS (
          SELECT a._id AS id_a, b._id AS id_b, bit_count(a._h ^ b._h) AS hamming
          FROM guarded a JOIN guarded b
            ON a.blk = b.blk AND a.ckey = b.ckey AND a._id < b._id
          WHERE bit_count(a._h ^ b._h) <= {max_hamming})
        SELECT id_a, id_b, first(hamming) AS hamming FROM near GROUP BY id_a, id_b
        """
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, on candidate pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (id_a, id_b) candidate
    pairs — the verification stage after LSH candidate generation.
    Joins the n-gram sets in (two equi-joins on id), computes
    |∩|/|∪| via array ops."""
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(ngrams(tokenize(F.col(text_col)), n)).alias("grams"),
    )
    out = (
        candidate_pairs.join(grams.withColumnRenamed("_id", "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(grams.withColumnRenamed("_id", "id_b").withColumnRenamed("grams", "gb"), "id_b")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold, candidates from
    random-hyperplane LSH (sign-bucket on n_planes deterministic
    pseudo-random planes). Bucket equi-join → exact cosine filter."""
    from hadron_spark.llm.similarity import hyperplane_bucket
    from hadron_spark.functions.vectors import cosine_similarity

    dim = len(df.select(vec_col).first()[0])
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        hyperplane_bucket(F.col(vec_col), dim, n_planes, seed).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    cos = cosine_similarity(F.col("x._v"), F.col("y._v"))
    return (
        x.join(
            y,
            on=[
                F.col("x.bucket") == F.col("y.bucket"),
                F.col("x._id") < F.col("y._id"),
            ],
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# train/eval contamination check
# ---------------------------------------------------------------------------


def contamination_pairs(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: (train_id, eval_id, n_common)
    for every train/eval document pair sharing ≥1 distinct word
    n-gram. The join key is the n-gram itself — an equi-join that
    bucket-partitions cleanly; n ≥ 5 keeps gram frequency (and thus
    bucket size) low. At 100 TB, join on xxhash64(gram) instead of
    the string to shrink shuffle rows ~10× (same pairs, cheaper key);
    the string form is kept here for engine-portable verification.

    Plan shape: gram POSITIONS are exploded and the gram string is a
    codegen'd slice+concat on the exploded row (the array-building
    `ngrams` HOF runs interpreted per element — measured ~5× slower
    here), sides are NOT pre-deduplicated (that would need the HOF
    array), and n_common = COUNT(DISTINCT g) per pair, which counts
    each shared distinct gram once regardless of within-doc
    multiplicity — same result, one less pass."""

    def grams(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(alias), tokenize(F.col(text_col)).alias("_l")
            )
            .select(
                alias,
                "_l",
                F.expr(
                    f"explode(CASE WHEN size(_l) >= {n} THEN"
                    f" sequence(1, size(_l) - {n - 1}) ELSE array() END) AS _i"
                ),
            )
            .select(alias, F.expr(f"concat_ws(' ', slice(_l, _i, {n}))").alias("g"))
        )

    t = grams(train, "train_id")
    e = grams(evalset, "eval_id")
    return (
        t.join(e, "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count_distinct("g").alias("n_common"))
    )


def fuzzy_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
) -> DataFrame:
    """Blocked edit-distance record linkage: candidate pairs share
    `block_cols` (an equi self-join, so the quadratic cross-product is
    confined to blocks — the standard blocking strategy; pick keys
    that bound block size), scored with codegen'd levenshtein and cut
    at `max_dist`. Returns (id_a, id_b, dist), id_a < id_b.

    Scale: one shuffle on the block key; per-block cost is
    |block|²·|s|² — keep blocks ≤ a few thousand rows and strings
    short, or pre-cut candidates with MinHash (minhash_lsh_pairs)
    and use this as the verify stage."""
    # Spread the probe side: a small dimension arrives as ONE parquet
    # split, and with a broadcast build side the whole |block|² scoring
    # loop would run in that single task (measured 8 s → 0.x s at
    # sf0.1). Round-robin repartition costs one tiny shuffle and buys
    # full parallelism; the build side stays broadcast.
    n_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = df.select(
        *block_cols, F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")
    ).repartition(n_tasks)
    b = df.select(
        *block_cols, F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")
    )
    # cheap prechecks ordered BEFORE the O(|s|²) levenshtein in one
    # conjunction: id order halves the pairs, and edit distance ≥
    # length difference, so the length band is semantics-preserving
    return (
        a.join(b, list(block_cols))
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
            & (F.levenshtein("_ta", "_tb") <= max_dist)
        )
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .select("id_a", "id_b", "dist")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 4,
    threshold: float = 0.9,
    max_cluster_size: int = 10_000,
    target_cluster_rows: int = 2_000,
    resolve: str = "greedy",
    max_resolve_iters: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare
    cosine similarity ONLY within clusters — the clustering turns the
    O(n²) all-pairs problem into Σ|cluster|², and the oversized-
    cluster guard (`_drop_oversized_buckets`, the same skew bound the
    MinHash/SimHash joins use) caps the worst case.

    k is SCALE-DERIVED by default: k = ceil(n / target_cluster_rows)
    (clamped to [1, 16384]).  A fixed k is a scale trap — with k=16
    and max_cluster_size=10k, any corpus beyond ~160k embeddings has
    every cluster oversized, all clusters are dropped, and "dedup"
    silently keeps everything.  Deriving k from a target cluster
    width keeps Σ|cluster|² bounded at any corpus size; pass an
    explicit k to override.  The dropped-cluster fraction is computed
    and logged (WARNING above 10%) so a silent no-op can't happen.
    The 16384 ceiling is what the kmeans backend will actually plan
    (ADVICE r3): above `max_literal_centroids` the assignment rides a
    broadcast numpy centroid matrix (k=16384 × d=768 ≈ 100 MB — the
    practical broadcast bound), never k·dim plan literals.  Corpora
    needing more than ~16k·target rows (≳33 M embeddings at the
    default width) should go TWO-LEVEL: coarse-cluster first (kmeans
    on a few hundred cells), then run semantic_dedup per coarse cell
    — same recipe SemDeDup itself prescribes for web scale.

    Keeper discipline (`resolve`):
      "greedy"    (default) — exact greedy min-id scan semantics: a
                  row is dropped iff some ≥threshold lower-id row
                  that is ITSELF A KEEPER exists in its cluster
                  (the lexicographically-first maximal independent
                  set of the threshold graph).  Computed as a
                  fixpoint over the (bounded, within-cluster) edge
                  set: rounds alternate "rows with no live lower
                  neighbor become keepers" / "rows with a keeper
                  lower neighbor drop"; converges in chain-depth
                  rounds (capped at `max_resolve_iters`; unresolved
                  rows — chains deeper than the cap — are KEPT,
                  conservative).
      "any_lower" — one-join approximation: a row is dropped when ANY
                  ≥threshold lower-id row exists, keeper or not.
                  Over-deletes on chains (id1~id2, id2~id3, id1≁id3
                  drops 3 although its only duplicate 2 is already
                  gone) but costs exactly one join round.  Dup rate
                  is bounded below by greedy's, so it is the cheap
                  conservative-deletion screen.

    Output: (id_col, cluster, dup_of, keep) — `dup_of` is the
    smallest qualifying lower id (under "greedy", the smallest
    KEEPER neighbor; NULL for keepers), `keep` its negation, so both
    the pruned corpus (filter keep) and the dup audit trail fall out
    of one frame.

    Scale shape: the kmeans rounds are narrow literal-centroid scans
    + tiny cell aggregations (see similarity.kmeans); then ONE id
    equi-join to re-attach vectors, one windowed count for the guard
    whose exchange the self-join reuses (same key), and the
    within-cluster pair join producing the edge set, which is pinned
    once and reused by every resolve round (edge rounds are joins on
    the BOUNDED edge/id tables, never the corpus).  Clusters
    oversized for the quadratic stage are dropped, never exploded.
    Rows in dropped clusters are KEPT (conservative: no evidence of
    duplication is examined)."""
    from hadron_spark.functions.vectors import dot, l2_normalize
    from hadron_spark.llm.similarity import kmeans
    from hadron_spark.operators.ops import pin

    if resolve not in ("greedy", "any_lower"):
        raise ValueError(f"resolve must be 'greedy' or 'any_lower': {resolve}")
    if k is None:
        n = df.count()
        k = max(1, min(16384, -(-n // max(1, target_cluster_rows))))
    assigned = kmeans(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    # vectors are unit-normalized ONCE here, so the quadratic
    # within-cluster stage computes a plain dot per pair instead of
    # dot + two norms — 3x less O(d) work exactly where Σ|cluster|²
    # multiplies it
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            l2_normalize(F.col(vec_col)).alias("_v"),
        )
        .join(
            assigned.select(F.col(id_col).alias("_id"), "cluster"), "_id"
        )
    )
    return _dedup_within(
        base, id_col, threshold, max_cluster_size, resolve,
        max_resolve_iters, label=f"semantic_dedup: k={k}",
    )


def _dedup_within(
    base: DataFrame,
    id_col: str,
    threshold: float,
    max_cluster_size: int,
    resolve: str,
    max_resolve_iters: int,
    label: str,
) -> DataFrame:
    """Shared within-cluster dedup stage of `semantic_dedup` and
    `semantic_dedup_two_level`: `base` carries (_id, _v
    unit-normalized, cluster); oversized clusters drop whole, the
    pair join emits >=threshold cosine edges, and the keeper
    discipline (greedy fixpoint / any_lower) resolves dup_of."""
    from hadron_spark.functions.vectors import dot
    from hadron_spark.operators.ops import pin

    guarded = _drop_oversized_buckets(base, ["cluster"], max_cluster_size)
    # one count job reports the guard's coverage; a high dropped
    # fraction means k is too small for the corpus (or the corpus is
    # pathologically clumped) and dedup is silently examining little.
    counts = base.agg(
        F.count(F.lit(1)).alias("all"),
    ).collect()[0]
    n_all = counts["all"]
    n_kept = guarded.count()
    dropped_frac = 0.0 if n_all == 0 else 1.0 - n_kept / n_all
    msg = (
        f"{label}, {n_all} rows, "
        f"{dropped_frac:.1%} in oversized clusters (examined {n_kept})"
    )
    (_LOG.warning if dropped_frac > 0.10 else _LOG.info)(msg)

    x, y = guarded.alias("x"), guarded.alias("y")
    cos = dot(F.col("x._v"), F.col("y._v"))  # unit vectors: dot == cosine
    edges = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("y._id") < F.col("x._id")),
        )
        .filter(cos >= F.lit(threshold))
        .select(F.col("x._id").alias("eid"), F.col("y._id").alias("lo"))
    )
    if resolve == "any_lower":
        dup = edges.groupBy(F.col("eid").alias("_id")).agg(
            F.min("lo").alias("dup_of")
        )
    else:
        # Greedy fixpoint over the bounded edge set.  Rows that never
        # appear as an edge head have no lower neighbor and are
        # keepers trivially; only edge heads need resolving.  Each
        # round: unresolved heads with no LIVE lower neighbor become
        # keepers; edges from new keepers mark their heads dropped;
        # edges whose lower endpoint dropped disappear.  The keeper
        # set only grows, so the final dropped set is exactly "heads
        # with a keeper lower neighbor", and dup_of is computed ONCE
        # at the end as the global min keeper neighbor.
        edges = pin(edges)
        heads = pin(edges.select(F.col("eid").alias("_id")).distinct())
        # rows that appear only as lower endpoints have no lower
        # neighbor themselves -> keepers from the start; they seed
        # the fixpoint.  Only edge heads need resolving.
        keepers = pin(
            edges.select(F.col("lo").alias("_id"))
            .distinct()
            .join(heads, "_id", "left_anti")
        )
        live = edges
        unresolved = heads
        for _ in range(max_resolve_iters):
            if unresolved.isEmpty():
                break
            # heads with an edge from a confirmed keeper are dropped:
            # prune them from both edge endpoints and the work list
            new_drop = pin(
                live.join(keepers.select(F.col("_id").alias("lo")), "lo")
                .select(F.col("eid").alias("_id"))
                .distinct()
            )
            live = pin(
                live.join(
                    new_drop.select(F.col("_id").alias("lo")),
                    "lo",
                    "left_anti",
                ).join(
                    new_drop.select(F.col("_id").alias("eid")),
                    "eid",
                    "left_anti",
                )
            )
            unresolved = pin(unresolved.join(new_drop, "_id", "left_anti"))
            # surviving heads with no live lower neighbor left become
            # keepers themselves
            new_keep = pin(
                unresolved.join(
                    live.select(F.col("eid").alias("_id")).distinct(),
                    "_id",
                    "left_anti",
                )
            )
            keepers = pin(keepers.union(new_keep))
            unresolved = pin(unresolved.join(new_keep, "_id", "left_anti"))
        # greedy verdict: a head is dropped iff it has a keeper lower
        # neighbor (dup_of = the smallest); heads left unresolved by
        # the iteration cap have no confirmed-keeper neighbor and are
        # kept (conservative).
        dup = (
            edges.join(keepers.select(F.col("_id").alias("lo")), "lo")
            .groupBy(F.col("eid").alias("_id"))
            .agg(F.min("lo").alias("dup_of"))
        )
    return base.join(dup, "_id", "left").select(
        F.col("_id").alias(id_col),
        "cluster",
        "dup_of",
        F.col("dup_of").isNull().alias("keep"),
    )


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int | None = None,
    max_cell_rows: int = 500_000,
    coarse_iters: int = 4,
    fine_iters: int = 8,
    threshold: float = 0.9,
    target_cluster_rows: int = 2_000,
    max_cluster_size: int = 10_000,
    resolve: str = "greedy",
    max_resolve_iters: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Two-level SemDeDup — the web-scale recipe `semantic_dedup`'s
    docstring prescribes for corpora past ~16k·target rows, now as
    code: a COARSE distributed k-means splits the corpus into cells
    small enough to fine-cluster locally, then every coarse cell is
    fine-clustered by a seeded in-memory Lloyd's inside ONE
    applyInPandas group (Arrow batch = the cell), and the standard
    within-cluster cosine dedup runs on the (coarse, fine) composite
    cluster.

    Scale contract: coarse_k = ceil(n / max_cell_rows) (clamped to
    [1, 65536]) bounds every pandas group at ~max_cell_rows vectors
    (the executor-memory knob — 500k × 768d float64 ≈ 3 GB; lower it
    for fatter vectors), and per-cell fine k = ceil(|cell| /
    target_cluster_rows) keeps Σ|cluster|² bounded exactly as the
    single-level derivation does.  The fine step is deterministic:
    cell rows sort by id before the seeded RandomState init, and
    argmin ties break to the first centroid — so the output is a
    pure function of the input set under any partitioning.  Fine
    assignment distances use the BLAS form ‖x‖²−2xCᵀ+‖c‖² (never
    the n×k×d broadcast intermediate).

    Output matches `semantic_dedup`: (id_col, cluster, dup_of,
    keep), with `cluster` the composite coarse·2³²+fine."""
    import math

    from hadron_spark.functions.vectors import l2_normalize
    from hadron_spark.llm.similarity import kmeans
    from hadron_spark.operators.ops import pin

    if resolve not in ("greedy", "any_lower"):
        raise ValueError(f"resolve must be 'greedy' or 'any_lower': {resolve}")
    if max_cell_rows < 1:
        raise ValueError(f"max_cell_rows must be >= 1: {max_cell_rows}")
    if coarse_k is None:
        n = df.count()
        coarse_k = max(1, min(65536, -(-n // max_cell_rows)))
    assigned = kmeans(
        df, k=coarse_k, iters=coarse_iters, id_col=id_col, vec_col=vec_col,
        init="sample_farthest",
    )
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            l2_normalize(F.col(vec_col)).alias("_v"),
        )
        .join(
            assigned.select(
                F.col(id_col).alias("_id"), F.col("cluster").alias("_coarse")
            ),
            "_id",
        )
    )
    base = pin(base)
    id_type = dict(zip(base.schema.names, base.schema))["_id"].dataType
    tgt = max(1, target_cluster_rows)

    def fine(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_id").reset_index(drop=True)
        X = np.array(pdf["_v"].tolist(), dtype=np.float64)
        k_f = max(1, -(-len(pdf) // tgt))
        if k_f == 1 or len(pdf) <= k_f:
            a = np.zeros(len(pdf), dtype=np.int64)
        else:
            rng = np.random.RandomState(seed)
            C = X[rng.choice(len(X), size=k_f, replace=False)].copy()
            cn = (C * C).sum(1)
            for _ in range(fine_iters):
                d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
                a = d.argmin(1)
                for j in range(k_f):
                    pts = X[a == j]
                    if len(pts):
                        C[j] = pts.mean(0)
                cn = (C * C).sum(1)
            d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
            a = d.argmin(1)
        return pd.DataFrame(
            {"_id": pdf["_id"], "_coarse": pdf["_coarse"], "_fine": a}
        )

    fine_schema = (
        f"_id {id_type.simpleString()}, _coarse long, _fine long"
    )
    fined = base.groupBy("_coarse").applyInPandas(fine, fine_schema)
    base2 = base.join(fined, ["_id", "_coarse"]).select(
        "_id",
        "_v",
        (F.col("_coarse").cast("long") * F.lit(2**32) + F.col("_fine")).alias("cluster"),
    )
    return _dedup_within(
        base2, id_col, threshold, max_cluster_size, resolve,
        max_resolve_iters,
        label=f"semantic_dedup_two_level: coarse_k={coarse_k}",
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level EXACT-SUBSTRING duplication report (the
    ExactSubstr pass of Lee et al. 2022, arXiv:2107.06499, token
    windows instead of a suffix array — the shape that distributes):
    every length-`window` token span whose md5 fingerprint occurs
    >= `min_count` times ACROSS THE WHOLE CORPUS is a repeated span;
    overlapping repeated spans within a document are merged into
    maximal islands.

    Output: (id_col, span_start, span_end, n_positions) — one row
    per merged island; span bounds are token indices [start, end),
    n_positions = repeated window positions merged into the island.

    Scale shape: a tokenize+explode pass emitting (doc, pos,
    fingerprint); ONE WindowExec — `count(*) over (partition by fp)`
    then filter — keeps the positions whose fingerprint repeats, so
    the position table is evaluated once, shuffled once (hash by
    fp), and never pinned (it is ~one row per corpus token, a
    corpus-sized copy at 100 TB); a celebrity fingerprint spills
    through WindowExec's external row buffer. Island merging is a
    per-document windowed scan (partitioned by doc, never
    single-partition). Everything is exact integers + md5, so the
    whole report hash-matches a DuckDB replay — the reason this
    operator carries a full SQL oracle (q208)."""
    from pyspark.sql import Window as _W

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    # (pos, fingerprint-of-window-at-pos) pairs built inside the row
    grams = F.expr(
        "transform(sequence(0, size(__toks) - {W}), "
        "i -> struct(i as pos, unhex(md5(cast(array_join(slice(__toks, i + 1, {W}), ' ') as binary))) as fp))".format(
            W=window
        )
    )
    pos = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= window)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    )
    # a row survives iff its fp's corpus-wide count >= min_count
    rep = (
        pos.withColumn("_nfp", F.count(F.lit(1)).over(_W.partitionBy("fp")))
        .filter(F.col("_nfp") >= min_count)
        .drop("_nfp")
    )
    return _merge_islands(rep, id_col, window)


def _merge_islands(rep: DataFrame, id_col: str, window: int) -> DataFrame:
    """Gaps-and-islands per document: a position starts a new island
    when it begins after the previous covered extent ends."""
    from pyspark.sql import Window as _W

    w = _W.partitionBy(id_col).orderBy("pos")
    flagged = rep.withColumn(
        "new_island",
        F.when(
            F.col("pos")
            > F.coalesce(F.lag("pos").over(w), F.lit(-window)) + window - 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        ),
    )
    return (
        flagged.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count(F.lit(1)).alias("n_positions"),
        )
        .drop("island")
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove every repeated island's tokens from each document
    (keeping the FIRST window of each island is a policy variant;
    this removes the whole island — the conservative Lee et al.
    cut), re-joining survivors with single spaces. Documents with no
    repeated span pass through with whitespace normalized the same
    way so the output column is uniformly single-spaced."""
    spans = repeated_spans(df, id_col, text_col, window, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("__toks", toks)
        .withColumn(
            out_col,
            F.array_join(
                F.expr(
                    "filter(__toks, (t, i) -> not exists("
                    "coalesce(_spans, array()), "
                    "s -> i >= s.span_start and i < s.span_end))"
                ),
                " ",
            ),
        )
        .select(id_col, text_col, out_col)
    )


def span_fingerprint_store(
    df: DataFrame,
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """(fp binary) — the distinct window-fingerprint set of a corpus
    (16-byte raw md5 — binary, not hex text: half the store/shuffle
    bytes at corpus scale; 128 bits keeps false-positive collisions
    out of a DESTRUCTIVE dedup even at trillions of windows, where a
    64-bit hash would birthday-collide): the
    persistable state for INCREMENTAL exact-substring dedup (save as
    parquet; ~one row per distinct window). The incremental-ingest
    analog of `minhash_dedup_incremental`'s signature store: the
    corpus is never re-tokenized when a new batch arrives."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    grams = F.expr(
        "transform(sequence(0, size(__toks) - {W}), "
        "i -> unhex(md5(cast(array_join(slice(__toks, i + 1, {W}), ' ') as binary))))".format(
            W=window
        )
    )
    return (
        df.select(toks.alias("__toks"))
        .filter(F.size("__toks") >= window)
        .select(F.explode(grams).alias("fp"))
        .distinct()
    )


def exact_substring_dedup_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """Incremental ExactSubstr: remove from each NEW document every
    token span whose window fingerprint already exists in the corpus
    `store` (a saved `span_fingerprint_store` output). The batch's
    own internal repeats are NOT considered — that is `repeated_
    spans`' job on the batch itself; composing both gives the full
    semantics with the corpus never rescanned.

    Scale shape: batch positions explode narrowly; the membership
    check is a left-semi equi-join on the fingerprint (shuffles
    |batch positions| + touches only the store partitions with
    matching keys); island merge is the same doc-partitioned scan as
    the batch op. Output: (id_col, text, clean_text)."""
    from pyspark.sql import Window as _W

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    grams = F.expr(
        "transform(sequence(0, size(__toks) - {W}), "
        "i -> struct(i as pos, unhex(md5(cast(array_join(slice(__toks, i + 1, {W}), ' ') as binary))) as fp))".format(
            W=window
        )
    )
    pos = (
        new_docs.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= window)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    )
    rep = pos.join(store.select("fp"), "fp", "left_semi")
    w = _W.partitionBy(id_col).orderBy("pos")
    flagged = rep.withColumn(
        "new_island",
        F.when(
            F.col("pos")
            > F.coalesce(F.lag("pos").over(w), F.lit(-window)) + window - 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        ),
    )
    spans = flagged.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + window).alias("span_end"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    return (
        new_docs.join(per_doc, id_col, "left")
        .withColumn("__toks", toks)
        .withColumn(
            out_col,
            F.array_join(
                F.expr(
                    "filter(__toks, (t, i) -> not exists("
                    "coalesce(_spans, array()), "
                    "s -> i >= s.span_start and i < s.span_end))"
                ),
                " ",
            ),
        )
        .select(id_col, text_col, out_col)
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict,
    id_col: str = "doc_id",
    pair_cols: tuple = ("id_a", "id_b"),
    n_buckets: int = 100,
) -> DataFrame:
    """Train/val/test split that near-duplicates can NEVER straddle:
    documents are grouped into connected components of the near-dup
    graph (`pairs` — any candidate/verified pair table such as
    `minhash_lsh_pairs` output), and the split is assigned by md5
    hash of the COMPONENT id, not the document id — so a test
    document's near-twin cannot sit in train (the dedup-aware
    evaluation-leakage guard; the failure mode is documented in Lee
    et al. 2022 §6, arXiv:2107.06499).

    Singleton documents are their own component.  Output: df +
    (cluster, split).  Deterministic and re-shard-stable: component =
    min reachable id (iterative CC, `graph.connected_components`),
    split = hash_bucket(component) — both pure functions of the
    data."""
    from hadron_spark.operators.graph import connected_components
    from hadron_spark.operators.ops import hash_bucket

    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    a, b = pair_cols
    cc = connected_components(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")),
        nodes=df.select(F.col(id_col).alias("node")),
    )
    withc = df.join(
        cc.select(
            F.col("node").alias(id_col), F.col("component").alias("cluster")
        ),
        id_col,
        "left",
    ).withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col)))
    bkt = hash_bucket(F.col("cluster"), n_buckets)
    expr = None
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * n_buckets))
        cond = (bkt >= lo) & (bkt < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return withc.withColumn("split", expr)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting"
    — the MOSS scheme): hash every token k-gram, slide a window of
    `w` consecutive hashes, keep the RIGHTMOST MINIMUM of each
    window, dedupe selections. Guarantees: any shared substring of
    ≥ w+k−1 tokens yields at least one shared fingerprint, and the
    density of selected fingerprints is ~2/(w+1) — the compact,
    position-aware alternative to full n-gram sets for
    plagiarism/near-dup candidate generation.

    Output: (id_col, pos, fp) — token position (1-based) of each
    selected k-gram and its fingerprint. All selection runs INSIDE
    the row as array expressions (zero shuffle before the explode);
    the hash is an md5-prefix long, so the entire selected set
    hash-matches a DuckDB replay (q219). Docs shorter than w k-grams
    contribute their global minimum (one fingerprint), shorter than
    k tokens contribute nothing."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    expr = """
    array_distinct(transform(
      sequence(1, greatest(size(__hh) - {W} + 1, 1)),
      s -> named_struct(
        'pos', s + least({W}, size(__hh) - s + 1)
                 - array_position(reverse(slice(__hh, s, {W})),
                                  array_min(slice(__hh, s, {W}))),
        'fp', array_min(slice(__hh, s, {W}))
      )
    ))
    """.format(W=w)
    hashed = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= k)
        .withColumn(
            "__hh",
            F.expr(
                "transform(transform(sequence(1, size(__toks) - {K} + 1), "
                "i -> array_join(slice(__toks, i, {K}), ' ')), "
                "g -> cast(conv(substring(md5(cast(g as binary)), 1, 15), "
                "16, 10) as bigint))".format(K=k)
            ),
        )
    )
    return (
        hashed.select(id_col, F.explode(F.expr(expr)).alias("s"))
        .select(
            id_col,
            F.col("s.pos").cast("long").alias("pos"),
            F.col("s.fp").alias("fp"),
        )
    )


def global_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
) -> DataFrame:
    """CORPUS-WIDE line deduplication (RefinedWeb/MassiveText stage):
    every line that appears anywhere else in the corpus survives only
    in its first occurrence — smallest (id, position) — and is
    dropped from every other document.  Complements
    functions.text.dedup_lines, which is per-document: boilerplate
    shared ACROSS documents (cookie banners, nav menus, license
    headers) needs the global pass.

    Lines shorter than `min_words` words never participate (blank
    lines, headings, 'OK' — dropping those would shred document
    structure and short lines collide by chance, not by provenance).

    Scale shape: keeper election is groupBy(line).min(struct(id,pos))
    — partial-aggregatable, so a boilerplate line occurring 10^9
    times combines map-side instead of flooding one reducer the way
    a row_number window over partitionBy(line) would.  The keeper
    join is on (line, id, pos) against one row per DISTINCT line —
    skew-free by construction.  Reassembly is one groupBy(id) with
    an in-array sort.  Three hash exchanges total, no windows, no
    single-partition stages.

    Returns (id_col, text_col cleaned, n_lines_before, n_lines_after).
    Ref parity: the reference's firstBy dedup (Hadron.Controller
    firstBy) lifted from whole-records to corpus line occurrences."""
    lines = df.select(
        F.col(id_col).alias("__gld_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__gld_pos", "__gld_line"
        ),
    )
    n_words = F.size(
        F.filter(F.split(F.col("__gld_line"), " "), lambda x: x != "")
    )
    lines = lines.withColumn("__gld_elig", n_words >= F.lit(int(min_words)))
    keepers = (
        lines.filter(F.col("__gld_elig"))
        .groupBy("__gld_line")
        .agg(
            F.min(F.struct("__gld_id", "__gld_pos")).alias("__gld_k")
        )
        .select(
            F.col("__gld_line").alias("__gld_kline"),
            F.col("__gld_k.__gld_id").alias("__gld_kid"),
            F.col("__gld_k.__gld_pos").alias("__gld_kpos"),
        )
    )
    kept = (
        lines.join(
            keepers,
            on=[
                F.col("__gld_line") == F.col("__gld_kline"),
                F.col("__gld_id") == F.col("__gld_kid"),
                F.col("__gld_pos") == F.col("__gld_kpos"),
            ],
            how="left",
        )
        .filter((~F.col("__gld_elig")) | F.col("__gld_kid").isNotNull())
        .select("__gld_id", "__gld_pos", "__gld_line")
    )
    out = (
        kept.groupBy("__gld_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("__gld_pos", "__gld_line")
                        )
                    ),
                    lambda s: s["__gld_line"],
                ),
                "\n",
            ).alias("__gld_text"),
            F.count(F.lit(1)).alias("n_lines_after"),
        )
    )
    before = df.select(
        F.col(id_col).alias("__gld_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines_before"),
    )
    return (
        before.join(out, "__gld_id", "left")
        .select(
            F.col("__gld_id").alias(id_col),
            F.coalesce("__gld_text", F.lit("")).alias(text_col),
            F.col("n_lines_before").cast("int").alias("n_lines_before"),
            F.coalesce("n_lines_after", F.lit(0)).cast("int").alias(
                "n_lines_after"
            ),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark_text_col: str = "text",
    window: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """Benchmark decontamination at SPAN granularity: remove from
    every training document each token span whose `window`-token
    fingerprint occurs anywhere in the benchmark/eval suite —
    instead of discarding whole documents on any n-gram overlap
    (the GPT-3 appendix-C / PaLM practice), only the overlapping
    spans are cut, so one leaked exam question does not cost an
    otherwise-clean million-token document.

    Pure composition of the incremental-substring machinery: the
    benchmark becomes a `span_fingerprint_store` (distinct 16-byte
    window fps — tiny: benchmarks are MBs against a 100 TB corpus,
    so the membership semi-join broadcasts in practice) and the
    corpus is cleaned against it via
    `exact_substring_dedup_incremental`; the benchmark is scanned
    once, never per corpus batch.

    Adds the audit columns a release pipeline wants: n_tokens_before
    / n_tokens_after / contaminated (any span cut).  Returns
    (id_col, text_col, out_col, n_tokens_before, n_tokens_after,
    contaminated)."""
    bench = benchmark
    if benchmark_text_col != text_col:
        bench = benchmark.withColumnRenamed(benchmark_text_col, text_col)
    store = span_fingerprint_store(bench, text_col=text_col, window=window)
    cleaned = exact_substring_dedup_incremental(
        corpus, store, id_col=id_col, text_col=text_col,
        window=window, out_col=out_col,
    )
    n_tok = lambda c: F.size(  # noqa: E731
        F.filter(F.split(F.col(c), r"\s+"), lambda t: t != "")
    )
    return cleaned.select(
        id_col,
        text_col,
        out_col,
        n_tok(text_col).cast("int").alias("n_tokens_before"),
        n_tok(out_col).cast("int").alias("n_tokens_after"),
        (n_tok(out_col) != n_tok(text_col)).alias("contaminated"),
    )


def contamination_scores(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    store: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark_text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap SCORES — the GPT-3 appendix-C /
    PaLM "dirty document" metric at token-window granularity: for
    each corpus document, the fraction of its distinct window-token
    fingerprints that occur anywhere in the benchmark/eval suite.
    `decontaminate_spans` is the surgical cut; this is the audit that
    tells you how much is contaminated BEFORE deciding to cut, and
    the score release reports quote.

    Pass either `benchmark` (fingerprinted here via
    `span_fingerprint_store`) or a pre-built `store` (the persisted
    parquet from an earlier run — the benchmark is never re-scanned
    per corpus batch).

    Returns (id_col, n_windows, n_hit, overlap_frac):
      n_windows    — distinct window fingerprints in the document
                     (0 for docs shorter than `window` tokens),
      n_hit        — of those, how many appear in the benchmark,
      overlap_frac — n_hit / n_windows (0.0 when n_windows = 0; a
                     single IEEE double division — bit-portable).

    Scale shape: the store is MB-scale against a 100 TB corpus →
    broadcast hash join (hinted); the only shuffle is the per-doc
    groupBy count, which partial-aggregates map-side. Distinct fps
    per doc are computed IN-ROW (array_distinct over the transform)
    so no (doc, fp) shuffle-dedup pass is needed."""
    if store is None:
        if benchmark is None:
            raise ValueError("pass either `benchmark` or `store`")
        bench = benchmark
        if benchmark_text_col != text_col:
            bench = benchmark.withColumnRenamed(benchmark_text_col, text_col)
        store = span_fingerprint_store(bench, text_col=text_col, window=window)

    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    fps = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(__toks) - {W}), "
            "i -> unhex(md5(cast(array_join(slice(__toks, i + 1, {W}), ' ') "
            "as binary))))".format(W=window)
        )
    )
    base = corpus.select(F.col(id_col), toks.alias("__toks")).select(
        id_col,
        F.when(F.size("__toks") >= window, fps)
        .otherwise(F.array().cast("array<binary>"))
        .alias("__fps"),
    )
    exploded = base.select(id_col, F.explode("__fps").alias("fp"))
    hits = (
        exploded.join(
            F.broadcast(store.withColumn("__hit", F.lit(1))), on="fp", how="left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        base.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("int").alias("n_windows"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            F.when(
                F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_frac"),
        )
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
) -> DataFrame:
    """EMBEDDING-level benchmark contamination: for every corpus
    document embedding, the single most-similar benchmark item by
    exact cosine, and a verdict `max_cos >= threshold`.  This is the
    semantic complement of the n-gram passes (`contamination_scores`
    / `decontaminate_spans`): paraphrased or reformatted eval leaks
    share no 8-gram with the benchmark but sit next to it in
    embedding space — the practice used by phi / Tülu-style
    embedding decontamination.

    Exact by design: published decontamination runs exact similarity
    (a missed leak is worse than the compute), and exact stays cheap
    at 100 TB because the benchmark side is MB-scale by contract —
    it is BROADCAST, every corpus partition scores its rows locally
    (zero shuffle of the corpus), and the only exchange is the
    per-document max, which partial-aggregates map-side to one row
    per corpus doc.  For a benchmark too big to broadcast, route
    through `similarity.ivf_topk` (quantizer-pruned) instead and
    threshold its top-1 — same verdict columns, approximate recall.

    The argmax is tie-broken deterministically by taking the
    lexicographic max of (cosine, bench_id) — on equal cosine the
    HIGHEST benchmark id wins (mirrors a struct-max exactly in
    portable SQL).  Benchmark must be non-empty; zero-norm vectors
    yield NULL cosine and are never selected over a real score.

    Returns (id_col, top_bench_id, contaminated)."""
    from hadron_spark.functions.vectors import cosine_similarity

    b_id = bench_id_col or id_col
    b_vec = bench_vec_col or vec_col
    bench = F.broadcast(
        benchmark.select(
            F.col(b_id).alias("__bench_id"), F.col(b_vec).alias("__bvec")
        )
    )
    scored = corpus.select(id_col, vec_col).crossJoin(bench).select(
        id_col,
        F.struct(
            cosine_similarity(F.col(vec_col), F.col("__bvec")).alias("c"),
            F.col("__bench_id").alias("b"),
        ).alias("__cb"),
    )
    m = F.max("__cb").alias("__m")
    return (
        scored.groupBy(id_col)
        .agg(m)
        .select(
            id_col,
            F.col("__m.b").alias("top_bench_id"),
            (F.col("__m.c") >= F.lit(float(threshold))).alias("contaminated"),
        )
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    threshold_num: int = 1,
    threshold_den: int = 2,
    hash_tokens: bool = True,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering
    (Chaudhuri et al. SSJoin ICDE'06 / Bayardo et al. WWW'07): all
    unordered pairs whose token-set Jaccard >= threshold_num /
    threshold_den, with exact integer intersection/union — the
    exact complement of `minhash_lsh_pairs` (which estimates; this
    proves).  The threshold is a RATIONAL so the acceptance test is
    pure integer arithmetic (`den * inter >= num * union`) — no
    float threshold ambiguity, hash-exact across engines.

    Prefix principle: order every set by ascending global document
    frequency (rarest token first; ties on the token string — any
    consistent total order works), keep only the first
    s - ceil(t*s) + 1 tokens as the set's PREFIX.  Two sets with
    Jaccard >= t must share at least one prefix token, so the
    candidate join is an equi-join on prefix tokens only — rare
    tokens by construction, which is what bounds bucket fan-out
    (the frequent tokens that would explode a token-equi-join never
    reach a prefix).  A size filter (min*den >= num*max) prunes
    candidates before the verify step.  No bucket is dropped —
    unlike the LSH guard, exactness is the contract here.

    Plan: df-count shuffle (token) -> per-set rebuild shuffle (id)
    -> prefix-token candidate shuffle -> two id-equi-joins to fetch
    both token arrays -> in-row array_intersect verify.  Returns
    (id_a, id_b, size_a, size_b, n_common, n_union, jaccard) with
    id_a < id_b; jaccard is the exact small-int ratio.

    hash_tokens (default True): map each token to xxhash64 BEFORE
    set build, so the rebuilt sets, prefixes, and — critically — the
    verify join ship int64 arrays instead of strings (measured ~7x
    less shuffle volume at wide duplicate clusters, where the
    candidate x array volume is the wall; the SCALE.md k=64 cliff).
    A 2^-64-per-pair-token collision could in principle inflate one
    intersection by 1 — pass False for the bit-guaranteed-lossless
    (oracle) mode; results are pinned equal in tests.
    """
    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    tok_arr = F.array_distinct(tokens_col)
    if hash_tokens:
        tok_arr = F.array_distinct(
            F.transform(F.col(tokens_col), lambda t: F.xxhash64(t))
        )
    toks = (
        df.select(F.col(id_col).alias("_id"), tok_arr.alias("_t"))
        .filter(F.size("_t") > 0)
    )
    ex = toks.select("_id", F.explode("_t").alias("_tok"))
    dfreq = ex.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    from hadron_spark.operators.ops import pin as _pin

    sets = (
        ex.join(dfreq, "_tok")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_tok"))).alias("_st"))
        .select(
            "_id",
            F.transform("_st", lambda x: x["_tok"]).alias("_toks"),
            F.size("_st").alias("_s"),
        )
    )
    # sets feeds THREE branches (prefix explode + both verify-side
    # fetches); pin so the df-join/rebuild runs once (ops.pin).
    sets = _pin(sets)
    # ceil(num*s/den) in pure integer math; prefix = s - ceil + 1
    ceil_ts = F.floor((F.col("_s") * num + (den - 1)) / den).cast("int")
    pref = sets.select(
        "_id",
        "_s",
        F.explode(F.slice("_toks", F.lit(1), F.col("_s") - ceil_ts + 1)).alias("_tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, "_tok")
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(
            F.least("a._s", "b._s") * den >= F.greatest("a._s", "b._s") * num
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    pairs = (
        cand.join(sets.select(F.col("_id").alias("id_a"),
                              F.col("_toks").alias("_ta"),
                              F.col("_s").alias("size_a")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"),
                          F.col("_toks").alias("_tb"),
                          F.col("_s").alias("size_b")), "id_b")
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    uni = F.col("size_a") + F.col("size_b") - inter
    return (
        pairs.select(
            "id_a", "id_b", "size_a", "size_b",
            inter.alias("n_common"), uni.alias("n_union"),
        )
        .filter(F.col("n_common") * den >= F.col("n_union") * num)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / F.col("n_union").cast("double"),
        )
    )


def _lcs_len(a: "list[str]", b_arr) -> int:
    """Word-level longest-common-subsequence length, vectorized over
    the b axis (two-row DP, max-of-three recurrence): O(|a|) python
    steps of O(|b|) numpy work."""
    import numpy as np

    if not a or b_arr.size == 0:
        return 0
    prev = np.zeros(b_arr.size + 1, dtype=np.int32)
    for tok in a:
        cand = prev[:-1] + (b_arr == tok)
        np.maximum(cand, prev[1:], out=cand)
        cur = np.empty_like(prev)
        cur[0] = 0
        np.maximum.accumulate(cand, out=cand)
        cur[1:] = cand
        prev = cur
    return int(prev[-1])


def rouge_l_decontaminate(
    corpus: DataFrame,
    seeds: DataFrame,
    *,
    threshold_num: int = 7,
    threshold_den: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_id_col: str | None = None,
    seed_text_col: str | None = None,
) -> DataFrame:
    """Self-Instruct-style ROUGE-L seed decontamination (Wang et al.
    2023, §3.3; Alpaca follows it): score every corpus document
    against a small seed/eval instruction set by word-level ROUGE-L
    F-measure and flag docs whose best match reaches
    threshold_num/threshold_den (the published cut is 0.7).
    ROUGE-L F = 2·LCS/(|c|+|s|) — a RATIO OF INTEGERS — so both the
    flag test and the across-seed argmax are pure integer
    cross-multiplications; the reported double is the exact ratio.
    Ties break to the higher seed id (the semantic_contamination
    discipline), so output is a pure function of the inputs under
    any partitioning.

    Scale shape: the seed side is DRIVER-BOUNDED by contract (a few
    hundred instructions — collected once, broadcast); the corpus
    never shuffles — each Arrow batch scores its rows locally
    against the broadcast seeds with a vectorized numpy LCS DP
    (O(|c|·|s|) per pair; instructions are short by construction).
    LCS is not expressible as a Catalyst expression or portable SQL,
    so the op registers rows-only and is pinned against a
    pure-python reference in tests.

    Returns (id_col, max_rouge_l, top_seed_id, contaminated)."""
    import numpy as np
    import pandas as pd

    s_id = seed_id_col or id_col
    s_text = seed_text_col or text_col
    if threshold_den <= 0 or threshold_num < 0:
        raise ValueError(f"bad threshold {threshold_num}/{threshold_den}")
    seed_rows = [
        (r[0], np.asarray(r[1].lower().split(), dtype=object))
        for r in seeds.select(s_id, s_text).collect()
    ]
    if not seed_rows:
        raise ValueError("rouge_l_decontaminate: empty seed set")
    bc = corpus.sparkSession.sparkContext.broadcast(seed_rows)
    id_type = corpus.schema[id_col].dataType.simpleString()
    seed_type = seeds.schema[s_id].dataType.simpleString()
    num, den = int(threshold_num), int(threshold_den)

    def score(batches):
        sds = bc.value
        for pdf in batches:
            out_id, out_f, out_sid, out_c = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ctoks = (text or "").lower().split()
                lc = len(ctoks)
                best_l, best_ls, best_sid = 0, 0, None
                for sid, sarr in sds:
                    l = _lcs_len(ctoks, sarr)
                    ls = int(sarr.size)
                    # f_new > f_best  <=>  l*(lc+best_ls) > best_l*(lc+ls)
                    lhs = l * (lc + best_ls)
                    rhs = best_l * (lc + ls)
                    if (
                        best_sid is None
                        or lhs > rhs
                        or (lhs == rhs and sid > best_sid)
                    ):
                        best_l, best_ls, best_sid = l, ls, sid
                denom = lc + best_ls
                f = (2.0 * best_l / denom) if denom else 0.0
                out_id.append(did)
                out_f.append(f)
                out_sid.append(best_sid)
                out_c.append(2 * best_l * den >= num * denom and denom > 0)
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "max_rouge_l": out_f,
                    "top_seed_id": out_sid,
                    "contaminated": out_c,
                }
            )

    return corpus.select(id_col, text_col).mapInPandas(
        score,
        schema=(
            f"{id_col} {id_type}, max_rouge_l double, "
            f"top_seed_id {seed_type}, contaminated boolean"
        ),
    )
