"""Similarity search over an embedding column (array<float>).

The tiers, cheapest-storage to exact:
- brute_force_topk — exact cosine top-k: broadcast the (small) query
  set against the full corpus; per-row score is a codegen'd
  expression, top-k per query via window. Correct baseline at any
  corpus size (scales linearly, one pass).
- lsh_topk — random-hyperplane LSH bucketing: queries only compare
  against corpus rows sharing a bucket (with optional multi-probe) —
  no training pass, expression-level and deterministic.
- ivf_topk — k-means coarse quantizer; queries probe n_probe cells
  (the default approximate tier, see RECALL.md).
- pq_topk / ivfpq_topk — product-quantization codes (~32× smaller
  rows), ADC lookup scoring, optional exact re-rank of the
  shortlist; ivfpq composes coarse cells with residual codebooks —
  the billion-scale layout.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadron_spark.functions.vectors import cosine_similarity
from hadron_spark.operators.ops import pin


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side tiny
    constant, shipped in the plan as literals)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Sign-pattern bucket id (0..2^n_planes-1) of `vec` against the
    deterministic plane set — a pure expression (no UDF).

    The n_planes × dim plane matrix ships as ONE parsed SQL literal
    (`repr(p)D` doubles, never DECIMAL), and the bucket is one
    `transform` over its rows — `IF(Σ vec·plane >= 0, 2^i, 0)` per
    plane, the dot product the left-to-right `zip_with`/`aggregate`
    fold — summed by one `aggregate`. Building each coefficient as its
    own `F.lit` cost a py4j round trip per element (~2,500 at dim 64 ×
    6 planes); this build costs a fixed ~250 whatever dim and n_planes
    are. A NULL vector, a NULL element or a length other than dim
    makes the plane's dot product NULL, which counts as bit 0.

    The fold is deliberately not unrolled into per-element codegen
    arithmetic (measured on a 4-core VM, local[2], 64 dims × 6 planes,
    noop sink, min of 3): at 500 rows the unrolled form runs 0.47 s
    against the fold's 0.25 s, and at 400k rows it wins only 6.3 s
    against 6.8 s."""
    matrix = ", ".join(
        "array(" + ", ".join(f"{p!r}D" for p in plane) + ")"
        for plane in _planes(dim, n_planes, seed)
    )
    planes = F.expr(f"array({matrix})")
    bits = F.transform(
        planes,
        lambda p, i: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.call_function("shiftleft", F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long")),
    )
    # an aggregate's accumulator is always typed nullable: the coalesce
    # (never taken) keeps the bucket non-nullable, so the optimizer adds
    # no isnotnull(bucket) filter that would evaluate it a second time
    zero = F.lit(0).cast("long")
    return F.coalesce(F.aggregate(bits, zero, lambda acc, x: acc + x), zero)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Plan: broadcast the query set (queries are the small side by
    construction) → every corpus partition scores its rows against
    all queries locally (no shuffle of the corpus) → one shuffle of
    k·|queries| candidate rows for the window. Self-matches excluded.
    Rank ties broken by neighbor id for determinism."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → corpus
    partitioned by nearest centroid → queries probe their `n_probe`
    nearest cells only.

    Scale path: training samples ≤ max_train_rows (driver-coordinated
    k-means over a bounded sample); cell assignment is one JVM-side
    model.transform pass; the search is a centroid-cell equi-join —
    compare cost drops by ~n_centroids/n_probe vs brute force, and
    the join partitions cleanly. Recall is tunable via n_probe."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fc = F.col(vec_col).cast("array<double>")
    corpus_feat = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(fc).alias("features"),
    )
    n_rows = corpus_feat.count()
    train = (
        corpus_feat.sample(fraction=min(1.0, max_train_rows / max(n_rows, 1)), seed=seed)
        if n_rows > max_train_rows
        else corpus_feat
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    assigned = model.transform(corpus_feat).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cell")
    )

    # query-side probes: distance to every centroid as an expression
    # over the (tiny, literal) centroid matrix → top n_probe cells
    centers = [list(map(float, c)) for c in model.clusterCenters()]

    def sq_dist(vec, center):
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in center]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centers)
        ]
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
                )
            ).alias("cell"),
        )
    )
    scored = (
        assigned.join(q, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
    assume_clustered: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via hyperplane-LSH buckets.

    NOT the default approximate tier — `ivf_topk` is. Measured on the
    driver fixtures (RECALL.md, 50 queries, recall@10, corpus =
    embeddings.parquet): sign-LSH recall@10 is **0.074** at the
    n_planes=8 default and **0.122** at (n_planes=6, multiprobe=2)
    on i.i.d.-noise embeddings — its theoretical worst case, where
    recall degenerates to the probed corpus fraction
    (1 + multiprobe) / 2^n_planes — vs IVF's 0.88 on the same
    fixture. On CLUSTERED fixtures (real embedding distributions)
    LSH recovers (0.73 at the same params) because same-bucket
    probability concentrates on true neighbors. Reach for LSH when
    the corpus is KNOWN to be strongly clustered AND the one-time
    k-means pass of IVF is unaffordable; otherwise use `ivf_topk`.

    Because the worst case is silent near-garbage (VERDICT r4 #4),
    the function WARNS whenever the probed fraction — the only
    recall floor that holds without a clustering assumption — is
    below 0.5. Pass `assume_clustered=True` to state the clustering
    assumption explicitly and silence the guard.

    Corpus is bucketed once (narrow); queries probe their own bucket
    plus `multiprobe` single-bit-flip neighbors (recall knob). The
    compare set shrinks by ~2^n_planes; the join is a plain bucket
    equi-join that partitions cleanly at scale.

    Precondition: `id_col` is unique in `corpus` and in `queries`.
    Each corpus row has one bucket and the probes are distinct XORs of
    the query's bucket, so under it every (query, neighbor) pair is
    scored once and no dedup exchange is needed. A duplicated id is
    not collapsed: each of its rows is kept and ranked as its own
    neighbor."""
    probed_frac = (1 + multiprobe) / float(2**n_planes)
    if not assume_clustered and probed_frac < 0.5:
        import warnings

        warnings.warn(
            f"lsh_topk(n_planes={n_planes}, multiprobe={multiprobe}) "
            f"probes ~{probed_frac:.1%} of the corpus; on unclustered "
            f"embeddings recall@k degenerates to that fraction "
            f"(measured 0.07-0.12 on the i.i.d. fixture, RECALL.md). "
            f"Use ivf_topk (the default approximate tier) unless the "
            f"corpus is known to be clustered — then pass "
            f"assume_clustered=True to acknowledge.",
            stacklevel=2,
        )
    dim = len(corpus.select(vec_col).first()[0])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        hyperplane_bucket(F.col(vec_col), dim, n_planes, seed).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        hyperplane_bucket(F.col(vec_col), dim, n_planes, seed).alias("bucket0"),
    )
    probes = [F.col("bucket0")] + [
        F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(multiprobe)
    ]
    q = F.broadcast(
        qb.select(
            "query_id", "qvec", F.explode(F.array(*probes)).alias("bucket")
        )
    )
    scored = (
        c.join(q, on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "first",
    max_literal_centroids: int = 131_072,
    sample_size: int = 2048,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column:
    (id, cluster, sq_dist). All inits are DETERMINISTIC:

    - "first": the first k vectors by id — one collect, zero extra
      passes; fine when ids are uncorrelated with geometry.
    - "farthest": farthest-first traversal (Gonzalez 1985 — the
      deterministic cousin of k-means++ seeding): start at the min
      id, then k−1 rounds each pick the point MAXIMIZING distance to
      its nearest chosen centroid (ties to the lowest id).  One
      TakeOrdered pass per round; use when ids cluster by topic or
      source, where "first k" would seed all centroids inside one
      region and Lloyd's merges true clusters.
    - "sample_farthest": farthest-first ON A DRIVER SAMPLE — the
      k-sequential-rounds cost of "farthest" collapsed to ONE
      collect: take the `sample_size` rows with the smallest
      md5(id) (a deterministic uniform hash sample — decorrelated
      from id-topology, which is the whole reason to seed
      carefully), run the same traversal in numpy (same min-id
      start, same lowest-id tie-break via first-argmax over
      id-sorted rows).  Sample-vs-full only differs when a true
      cluster has < ~sample/k members — at that size Lloyd's
      recovers it anyway.  The init of choice whenever k-means sits
      in a measured path (q220: 8 TakeOrdered rounds were most of
      the 6 s bench cell).

    Scale contract: the DATA never reaches the driver — assignment is
    a codegen'd expression scoring each row against k centroid
    literals (centroids are MODEL STATE, k·dim floats, the one thing
    that legitimately rides the driver loop, exactly like PageRank's
    per-round ranks stay distributed while the loop counter doesn't).
    Per iteration: one narrow assignment pass + one groupBy(cluster)
    mean — the posexplode path aggregates (cluster, dim) cells so the
    centroid update is a |k·dim|-row result, partial-agg'd map-side.

    Two assignment backends, switched on k·dim (ADVICE r3: a derived
    k in the tens of thousands × dim in the hundreds embeds millions
    of literal doubles per iteration and overwhelms Catalyst/codegen
    long before execution):
    - k·dim ≤ `max_literal_centroids`: codegen'd literal-centroid
      expression (zip_with/aggregate) — zero serialization, stays in
      whole-stage codegen.
    - k·dim > `max_literal_centroids`: the centroid matrix rides a
      Spark BROADCAST (k·dim float64 numpy array, e.g. k=16384 ×
      d=768 → 100 MB) and assignment is an Arrow-batched mapInPandas
      argmin (‖x‖²−2x·Cᵀ+‖C‖² BLAS matmul per batch).  Same
      narrow-scan shape, no plan blowup.  "farthest" init is
      literal-expression-only (k sequential TakeOrdered rounds are
      the real cost at large k) — it raises above the budget;
      use init="first" or two-level clustering there.
    """

    def dists_expr(cs: list[list[float]]) -> str:
        # ONE constant-foldable 2D array literal + ONE shared lambda:
        # Catalyst folds array(array(...),...) into a single Literal
        # node, so the serialized plan carries k·dim doubles (~8
        # bytes each), not k separate zip_with subtrees (~KB of
        # expression nodes per centroid — the difference between a
        # 60 KB and a 25 MB task binary at k=128, d=64)
        lit = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in cs
            )
            + ")"
        )
        return (
            f"transform({lit}, c -> aggregate(zip_with({vec_col}, c, "
            "(x, y) -> (double(x) - y) * (double(x) - y)), 0D, "
            "(a, x) -> a + x))"
        )

    if init == "farthest":
        first = df.orderBy(id_col).limit(1).collect()
        centroids = [[float(x) for x in r[vec_col]] for r in first]
        if centroids and k * len(centroids[0]) > max_literal_centroids:
            raise ValueError(
                f"init='farthest' with k*dim={k * len(centroids[0])} exceeds "
                f"max_literal_centroids={max_literal_centroids}; use "
                "init='first' (broadcast backend) or two-level clustering"
            )
        while centroids and len(centroids) < k:
            mind = f"array_min({dists_expr(centroids)})"
            nxt = (
                df.selectExpr(id_col, vec_col, f"{mind} as _d")
                .orderBy(F.col("_d").desc(), F.col(id_col).asc())
                .limit(1)
                .collect()
            )
            centroids.append([float(x) for x in nxt[0][vec_col]])
    elif init == "sample_farthest":
        import numpy as np

        rows = (
            df.select(id_col, vec_col)
            .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(sample_size)
            .collect()
        )
        rows.sort(key=lambda r: r[id_col])  # first-argmax == lowest id
        if rows:
            X = np.array(
                [[float(x) for x in r[vec_col]] for r in rows],
                dtype=np.float64,
            )
            centroids = [X[0].tolist()]
            d = ((X - X[0]) ** 2).sum(1)
            while len(centroids) < min(k, len(X)):
                i = int(d.argmax())
                centroids.append(X[i].tolist())
                d = np.minimum(d, ((X - X[i]) ** 2).sum(1))
        else:
            centroids = []
    elif init == "first":
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(k).collect()
        ]
    else:
        raise ValueError(
            "init must be 'first', 'farthest', or 'sample_farthest': "
            f"{init!r}"
        )

    dim = len(centroids[0]) if centroids else 0
    use_broadcast = k * dim > max_literal_centroids

    def assign_broadcast(cents: list[list[float]]) -> DataFrame:
        import numpy as np

        C = np.asarray(cents, dtype=np.float64)
        bc = df.sparkSession.sparkContext.broadcast(C)
        id_t = dict(zip(df.schema.names, df.schema))[id_col].dataType
        vec_t = dict(zip(df.schema.names, df.schema))[vec_col].dataType
        schema = (
            f"{id_col} {id_t.simpleString()}, "
            f"{vec_col} {vec_t.simpleString()}, "
            "sq_dist double, cluster int"
        )

        def score(batches):
            import numpy as np
            import pandas as pd

            Cm = bc.value
            cn = (Cm * Cm).sum(1)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ Cm.T) + cn[None, :]
                cl = d2.argmin(1)  # first minimum, same tie rule
                sq = np.maximum(d2[np.arange(len(X)), cl], 0.0)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        vec_col: pdf[vec_col],
                        "sq_dist": sq,
                        "cluster": cl.astype("int32"),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(score, schema)

    assigned = None
    for _ in range(iters):
        if use_broadcast:
            assigned = assign_broadcast(centroids)
        else:
            # the folded literal matrix is also stated ONCE behind a
            # projection boundary — naming it inline would embed it
            # 3x (min + position + position's min); both layers
            # matter for the task-binary size (the round-4
            # scale-probe OOM)
            assigned = df.selectExpr(
                f"{id_col}", f"{vec_col}", f"{dists_expr(centroids)} as _ds"
            ).selectExpr(
                f"{id_col}",
                f"{vec_col}",
                "array_min(_ds) as sq_dist",
                # array_position is 1-based; ties break to the lowest
                # cluster id (position of the first minimum)
                "int(array_position(_ds, array_min(_ds)) - 1) as cluster",
            )
        cells = assigned.select(
            "cluster", F.posexplode(vec_col).alias("pos", "x")
        )
        means = (
            cells.groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
            .select("cluster", F.col("s.m").alias("c"))
            .collect()
        )
        new_c = {r["cluster"]: [float(x) for x in r["c"]] for r in means}
        centroids = [new_c.get(i, centroids[i]) for i in range(k)]
    # pin the returned assignment: every consumer (semantic_dedup's
    # guard + self-join, IVF's probe join) references it from 2-4
    # plan branches, and without the pin each branch re-embeds the
    # k·dim-literal scoring plan AND re-runs the scan per branch
    return pin(assigned.select(id_col, "cluster", "sq_dist"))


# ---------------------------------------------------------------------------
# product quantization (IVF's companion at 100 TB: 8-byte codes + ADC)
# ---------------------------------------------------------------------------


def _np_kmeans(X, k: int, iters: int, seed: int):
    """Seeded Lloyd's on a driver-bounded sample (codebook training
    state is m·k·(d/m) floats — the kmeans-centroid contract)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    if len(X) >= k:
        C = X[rng.choice(len(X), size=k, replace=False)].astype(np.float64).copy()
    else:
        C = np.vstack([X, rng.normal(size=(k - len(X), X.shape[1]))]).astype(
            np.float64
        )
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    codes: int = 16,
    iters: int = 8,
    seed: int = 42,
    max_train_rows: int = 100_000,
):
    """Train product-quantization codebooks (Jégou et al. 2011,
    "Product quantization for nearest neighbor search"): split the
    d-dim space into `m` contiguous subspaces and k-means each to
    `codes` centroids on a bounded sample. Returns an m×codes×(d/m)
    numpy array. The full corpus never reaches the driver — only the
    seeded sample (≤ max_train_rows, the IVF training contract)."""
    import numpy as np

    n_rows = corpus.count()
    frac = min(1.0, max_train_rows / max(n_rows, 1))
    sample = (
        corpus.sample(fraction=frac, seed=seed) if frac < 1.0 else corpus
    )
    X = np.array(
        [list(map(float, r[vec_col])) for r in sample.select(vec_col).collect()]
    )
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return np.stack(
        [
            _np_kmeans(X[:, i * ds : (i + 1) * ds], codes, iters, seed + i)
            for i in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Encode every vector as `m` small codes (argmin centroid per
    subspace) — ONE narrow JVM pass; the codes column is m ints
    (m bytes on disk after parquet dictionary/bitpack encoding)
    replacing d floats, the ~32× footprint cut that lets a 100 TB
    embedding corpus fit hot storage. Built as a single SQL
    expression string (the wide-expression py4j discipline): per
    subspace the distance set materializes once inside an
    array(struct(d, idx)) and array_min picks (min d, lowest idx) —
    deterministic ties."""
    m, codes, ds = codebooks.shape
    subs = []
    for i in range(m):
        alts = []
        for j in range(codes):
            lits = ",".join(f"{float(x)!r}D" for x in codebooks[i, j])
            dist = (
                f"aggregate(zip_with(slice({vec_col}, {i*ds+1}, {ds}), "
                f"array({lits}), (x, y) -> (double(x) - y) * (double(x) - y)), "
                "0D, (a, x) -> a + x)"
            )
            alts.append(f"struct({dist} as d, {j} as idx)")
        subs.append(f"array_min(array({','.join(alts)})).idx")
    code_expr = f"array({','.join(subs)})"
    keep = [F.col(c) for c in keep_cols]
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        *keep,
        F.expr(code_expr).alias(out_col),
    )


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Re-rank an ANN candidate shortlist (query_id, neighbor_id) by
    exact squared L2 over the raw vectors — R·k·|queries| rows of
    work, independent of corpus size. Shared by the PQ and IVF-PQ
    refine stages."""
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("cvec"),
            F.col("qvec"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    refined = (
        shortlist.join(vecs, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", exact.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return refined.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    codebooks=None,
    encoded: DataFrame | None = None,
    refine: int = 0,
) -> DataFrame:
    """PQ-ADC approximate nearest neighbors: rank corpus rows for
    each query by the asymmetric distance Σᵢ LUT_q[i][code_i] —
    the query builds an m×codes lookup table of exact subspace
    distances to every centroid (driver numpy, tiny), and scoring a
    corpus row is m array lookups + adds over its CODES, never its
    vector. Output (query_id, neighbor_id, adc_dist, rank), distance
    ascending, ties by neighbor id.

    Metric is squared L2 on the vectors as given — L2-normalize both
    sides first for cosine ranking. Scale shape: codes computed in
    one narrow pass (reusable via `encoded`), queries+LUTs broadcast,
    per-partition scoring with NO corpus shuffle, then the k·|queries|
    candidate window — the brute-force plan with the d-float dot
    product replaced by an m-lookup sum over 32×-smaller rows.

    `refine=R` (R>1) adds the production two-stage shape: ADC keeps a
    shortlist of R·k candidates per query, then ONLY those
    (R·k·|queries| rows — corpus-size-independent) are joined back to
    their raw vectors and re-ranked by exact distance. This is what
    recovers exact-quality ranking when near-duplicate points share
    codes (ADC cannot order within a code cell — its ties go to the
    lowest id). The final column is then `dist` (exact), not
    `adc_dist`."""
    import numpy as np

    if codebooks is None:
        codebooks = pq_train(
            corpus, vec_col=vec_col, m=m, codes=codes, seed=seed
        )
    m, n_codes, ds = codebooks.shape
    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    )
    qrows = []
    for r in queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect():
        qv = np.array(list(map(float, r["qvec"])))
        lut = [
            [
                float(((qv[i * ds : (i + 1) * ds] - codebooks[i, j]) ** 2).sum())
                for j in range(n_codes)
            ]
            for i in range(m)
        ]
        qrows.append((r["query_id"], lut))
    spark = corpus.sparkSession
    q = F.broadcast(
        spark.createDataFrame(
            qrows, "query_id long, lut array<array<double>>"
        )
    )
    score = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.col("lut"),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine <= 1:
        return ranked.filter(F.col("rank") <= k)
    shortlist = ranked.filter(F.col("rank") <= k * refine).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    codes: int = 16,
    seed: int = 42,
    refine: int = 4,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ (the Jégou et al. 2011 composition, the layout FAISS
    deploys at billion scale): a coarse k-means quantizer partitions
    the corpus into cells, PQ codebooks are trained on the RESIDUALS
    x − centroid(cell), and a query probes only its `n_probe` nearest
    cells, ADC-scoring each cell's codes against a per-(query, cell)
    residual lookup table. The coarse step removes the inter-cell
    structure PQ codes cannot carry (the code-signature collisions
    RECALL.md measures for flat PQ), and the residual codebooks spend
    their 2^code bits on the fine within-cell geometry.

    Scale shape, stage by stage:
      1. coarse train: bounded-sample k-means (IVF contract).
      2. cell assignment + residual: one narrow JVM pass (literal
         centroid matrix indexed by cell id — no shuffle).
      3. PQ train on residuals: bounded driver sample.
      4. residual encode: one narrow pass (pq_encode expression);
         corpus state is (id, cell, m codes) — ~32× smaller.
      5. search: per-(query, probed-cell) LUTs broadcast
         (|queries|·n_probe tiny rows), cell equi-join (the IVF
         pruning — only probed cells are scored), ADC = m lookups,
         then the k·|queries| candidate window.
      6. optional exact re-rank of the R·k shortlist (shared
         _exact_rerank — corpus-size-independent).
    Output (query_id, neighbor_id, rank [, dist|adc_dist])."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fc = F.col(vec_col).cast("array<double>")
    corpus_feat = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(fc).alias("features"),
    )
    n_rows = corpus_feat.count()
    train = (
        corpus_feat.sample(
            fraction=min(1.0, max_train_rows / max(n_rows, 1)), seed=seed
        )
        if n_rows > max_train_rows
        else corpus_feat
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    cmat = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centers])
    residual = F.zip_with(
        F.col("cvec"),
        F.element_at(cmat, F.col("cell") + 1),
        lambda a, b: a.cast("double") - b,
    )
    assigned = (
        model.transform(corpus_feat)
        .select("neighbor_id", "cvec", F.col("prediction").alias("cell"))
        .withColumn("rvec", residual)
    )
    # PQ codebooks on residuals (bounded sample, reusing pq_train's
    # sampling through a renamed frame)
    books = pq_train(
        assigned.select(F.col("neighbor_id").alias(id_col), F.col("rvec")),
        vec_col="rvec",
        m=m,
        codes=codes,
        seed=seed,
        max_train_rows=max_train_rows,
    )
    enc = pq_encode(
        assigned,
        books,
        id_col="neighbor_id",
        vec_col="rvec",
        keep_cols=("cell",),
    )
    # per-(query, probed cell) residual LUTs — driver numpy, tiny
    mq, n_codes, ds = books.shape
    C = np.array(centers)
    qrows = []
    for r in queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect():
        qv = np.array(list(map(float, r["qvec"])))
        cd = ((C - qv) ** 2).sum(axis=1)
        for cell in np.argsort(cd)[:n_probe]:
            rq = qv - C[cell]
            lut = [
                [
                    float(((rq[i * ds : (i + 1) * ds] - books[i, j]) ** 2).sum())
                    for j in range(n_codes)
                ]
                for i in range(mq)
            ]
            qrows.append((r["query_id"], int(cell), lut))
    spark = corpus.sparkSession
    q = F.broadcast(
        spark.createDataFrame(
            qrows, "query_id long, cell int, lut array<array<double>>"
        )
    )
    score = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.col("lut"),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.join(q, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine <= 1:
        return ranked.filter(F.col("rank") <= k)
    shortlist = ranked.filter(F.col("rank") <= k * refine).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(shortlist, corpus, queries, k, id_col, vec_col)


def save_pq_index(
    encoded: DataFrame, codebooks, out_dir: str
) -> None:
    """Persist a PQ index: the codes table as parquet (m small ints
    per row — the ~32× compressed corpus representation) and the
    codebooks as JSON metadata beside it. The saved index is the
    build-once/query-many artifact: later sessions `load_pq_index`
    and run `pq_topk(..., codebooks=..., encoded=...)` without
    re-training or re-encoding — at 100 TB the encode pass is the
    expensive step and this is what amortizes it."""
    import json
    import os

    encoded.write.mode("overwrite").parquet(f"{out_dir}/codes.parquet")
    meta = {
        "shape": list(codebooks.shape),
        "codebooks": [[list(map(float, c)) for c in sub] for sub in codebooks],
    }
    tmp = f"{out_dir}/codebooks.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, f"{out_dir}/codebooks.json")


def load_pq_index(spark, out_dir: str):
    """Load a `save_pq_index` artifact → (codebooks ndarray, encoded
    DataFrame) ready for `pq_topk`."""
    import json

    import numpy as np

    with open(f"{out_dir}/codebooks.json") as fh:
        meta = json.load(fh)
    books = np.array(meta["codebooks"], dtype=np.float64)
    assert list(books.shape) == meta["shape"]
    return books, spark.read.parquet(f"{out_dir}/codes.parquet")


def build_ivf_index(
    corpus: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> None:
    """Build and persist an IVF index: the trained coarse centroids
    as JSON and the cell-assigned corpus as parquet PARTITIONED BY
    cell — so a later `ivf_search` reads ONLY the probed cells'
    files (partition pruning does the inverted-file lookup at the
    storage layer). Build-once/query-many: the k-means pass and the
    full-corpus assignment scan are paid here, never per query."""
    import json
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fc = F.col(vec_col).cast("array<double>")
    feat = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(fc).alias("features"),
    )
    n_rows = feat.count()
    frac = min(1.0, max_train_rows / max(n_rows, 1))
    train = feat.sample(fraction=frac, seed=seed) if frac < 1.0 else feat
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    assigned = model.transform(feat).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cell")
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{out_dir}/cells.parquet"
    )
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    tmp = f"{out_dir}/centroids.json.tmp"
    with open(tmp, "w") as fh:
        json.dump({"n_centroids": n_centroids, "centers": centers}, fh)
    os.replace(tmp, f"{out_dir}/centroids.json")


def ivf_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: probe cells are computed against
    the tiny centroid JSON (literal expression), and the cell filter
    lands on the PARTITION COLUMN of the saved layout — the plan
    shows `PartitionFilters: [cell IN (...)]`, i.e. unprobed cells'
    files are never opened. Same output contract as ivf_topk."""
    import json

    with open(f"{index_dir}/centroids.json") as fh:
        meta = json.load(fh)
    centers = meta["centers"]
    assigned = spark.read.parquet(f"{index_dir}/cells.parquet")

    def sq_dist(vec, center):
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in center]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centers)
        ]
    )
    probe_cells = sorted(
        {
            int(cell)
            for r in queries.select(
                F.transform(
                    F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
                ).alias("cells")
            ).collect()
            for cell in r["cells"]
        }
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
                )
            ).alias("cell"),
        )
    )
    pruned = assigned.filter(F.col("cell").isin(probe_cells))
    scored = (
        pruned.join(q, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental ingest into a persisted IVF index — the
    vector-store maintenance path (new embeddings arrive daily; a
    full k-means rebuild is a scheduled event, not an ingest step):
    assign each new vector to its nearest EXISTING coarse centroid
    (the same literal-centroid argmin expression `ivf_search`
    probes with, so placement and probing can never disagree) and
    APPEND into the cell-partitioned parquet layout.  Searches see
    the new rows immediately; recall degrades only as the data
    distribution drifts from the frozen centroids.

    Returns {"appended": n, "max_cell_fill": m, "cells": k} — the
    drift gauges: when max_cell_fill runs away from appended/k,
    schedule the rebuild (`build_ivf_index`).  Idempotence is the
    caller's contract (ship each batch once, or dedup on id
    downstream); appends are atomic per task file, never partial
    rows."""
    import json

    with open(f"{index_dir}/centroids.json") as fh:
        meta = json.load(fh)
    centers = meta["centers"]

    def sq_dist(vec, center):
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in center]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(sq_dist(F.col(vec_col), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centers)
        ]
    )
    assigned = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(F.array_sort(dists), 1)["cell"].alias("cell"),
    )
    assigned = pin(assigned)
    assigned.write.mode("append").partitionBy("cell").parquet(
        f"{index_dir}/cells.parquet"
    )
    stats = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).agg(
        F.sum("n").alias("appended"),
        F.max("n").alias("max_cell_fill"),
        F.count(F.lit(1)).alias("cells"),
    ).first()
    return {
        "appended": int(stats["appended"] or 0),
        "max_cell_fill": int(stats["max_cell_fill"] or 0),
        "cells": int(stats["cells"] or 0),
    }


def mmr_rerank(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    rel_col: str,
    emb_col: str,
    lam: float = 0.5,
    top_n: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass between retrieval and the context
    window: greedily pick

        argmax_d  λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)

    so near-duplicate passages don't crowd out coverage (the RAG
    failure `reciprocal_rank_fusion` can't fix — fused ranks still
    reward redundancy).

    CONTRACT: `df` is the per-query CANDIDATE set (the top-k of
    `brute_force_topk`/`ivf_topk`, ≤ ~10³ rows per query), NOT the
    corpus — the greedy loop is quadratic in candidates and runs
    inside one Arrow batch per query (`applyInPandas` keyed on the
    query — parallel across queries, bounded per query).
    Deterministic: candidates process in (−rel, doc) order, ties
    break to the smaller doc id, embeddings L2-normalize once in
    float64.  Approximate tier (BLAS dot-product ordering is
    machine-local), so rows-only in the registry; the pure-python
    mirror is pinned in test_llm_ops.

    Returns (query_col, doc_col, rel_col, mmr_score, mmr_rank),
    `top_n` rows per query in pick order."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    base = df.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rel_col).cast("double").alias("_r"),
        F.col(emb_col).alias("_e"),
    )
    out_schema = StructType(
        [
            base.schema["_q"],
            base.schema["_d"],
            StructField("_r", DoubleType()),
            StructField("mmr_score", DoubleType()),
            StructField("mmr_rank", IntegerType()),
        ]
    )
    l_, o_ = float(lam), 1.0 - float(lam)
    n_ = int(top_n)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_r", "_d"], ascending=[False, True]
        ).reset_index(drop=True)
        embs = np.stack(
            [np.asarray(e, dtype=np.float64) for e in pdf["_e"]]
        )
        norms = np.sqrt((embs * embs).sum(axis=1))
        norms[norms == 0.0] = 1.0
        embs = embs / norms[:, None]
        rel = pdf["_r"].to_numpy()
        m = len(pdf)
        chosen: list[int] = []
        scores: list[float] = []
        max_sim = np.zeros(m)
        avail = np.ones(m, dtype=bool)
        for _ in range(min(n_, m)):
            cand = l_ * rel - o_ * (max_sim if chosen else 0.0)
            cand = np.where(avail, cand, -np.inf)
            best = int(np.argmax(cand))  # argmax: first (lowest
            # index = highest rel, smallest doc) wins ties
            chosen.append(best)
            scores.append(float(cand[best]))
            avail[best] = False
            sims = embs @ embs[best]
            max_sim = np.maximum(max_sim, sims)
        out = pdf.iloc[chosen][["_q", "_d", "_r"]].copy()
        out["mmr_score"] = scores
        out["mmr_rank"] = np.arange(1, len(chosen) + 1, dtype=np.int32)
        return out

    picked = base.groupBy("_q").applyInPandas(pick, out_schema)
    return picked.select(
        F.col("_q").alias(query_col),
        F.col("_d").alias(doc_col),
        F.col("_r").alias(rel_col),
        "mmr_score",
        "mmr_rank",
    )
