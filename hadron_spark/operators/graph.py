"""Distributed connected components — the cluster-resolution stage of
the dedup funnel (pair generation → components → keeper election).

The reference resolves duplicate groups per-key inside one reducer
(Controller.hs joinStep / reduce folds), which caps a cluster at one
node's memory and cannot follow transitive links across keys. Here we
use the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — also the
basis of GraphFrames' implementation), which converges in
O(log^2 n) rounds on any graph shape (chains included), each round
being two shuffles on the node id.

Scale notes:
- State per round is the edge list only (no adjacency collection —
  high-degree nodes never materialize a neighbor array; mins come
  from a groupBy, so partial aggregation bounds every reducer).
- `ops.pin` each round truncates lineage: without it the
  plan doubles per iteration and the driver OOMs on plan size long
  before data is a problem.
- Convergence is detected with a cheap invariant (edge count + sum of
  endpoint ids, both monotone under the star operations) instead of a
  full except() diff — one extra tiny agg per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadron_spark.operators.ops import pin


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (src > dst), no self-loops, distinct."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


def _sym(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: link every strictly-larger neighbor v to
    m = min(N(u) ∪ {u})."""
    nbrs = _sym(edges)
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least("mn", F.col("src")).alias("dst"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: link every smaller-or-equal neighbor (and u
    itself) to m = min of those neighbors."""
    le = _canon(edges)  # src > dst ⇒ dst side is the "smaller neighbors of src"
    mins = le.groupBy("src").agg(F.min("dst").alias("mn"))
    linked = le.join(mins, "src")
    return linked.select(F.col("dst").alias("src"), F.col("mn").alias("dst")).unionByName(
        linked.select("src", F.col("mn").alias("dst"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    edges: undirected edge list (either orientation, duplicates ok).
    nodes: optional 1-column frame of node ids — include it to get
    rows for isolated nodes (no incident edges).
    """
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    e = pin(e)
    prev = None
    for _ in range(max_iter):
        e = _canon(_small_star(_large_star(e)))
        e = pin(e)
        stat = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("src") + F.col("dst")).alias("s"),
        ).first()
        cur = (stat["n"], stat["s"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")

    # converged edges form stars src→component-min
    comp = e.groupBy("src").agg(F.min("dst").alias("component"))
    members = comp.select(F.col("src").alias("node"), "component").unionByName(
        comp.select(F.col("component").alias("node"), "component")
    ).distinct()
    if nodes is not None:
        node_col = nodes.columns[0]
        all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
        members = (
            all_nodes.join(members, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component"))
        )
    return members


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """PageRank (Brin/Page '98, simple directed form): rank(v) =
    (1−d)/N + d·Σ_{u→v} rank(u)/outdeg(u), iterated a fixed number of
    rounds. Dangling-node mass is dropped (the usual simplification);
    fixed iteration count keeps the result deterministic.

    Scale notes (same discipline as connected_components):
    - Each round is exactly two shuffles — contributions join on the
      source id, re-aggregate on the destination id — over the edge
      list; no adjacency lists are ever collected, so high-degree
      nodes cost only their edge rows.
    - edges and out-degrees are persisted once and reused every round;
      ranks are pinned per round to truncate lineage
      (otherwise the plan doubles per iteration and the driver dies
      on plan size long before data volume matters).
    - Iterative algorithms are inherently outside the reference's
      single-pass MapReduce surface (SURVEY §2.10: the Controller can
      chain jobs but each stage re-reads HDFS; here intermediate state
      stays in executor memory)."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = pin(ranks)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count — one row (triangles) — over the shared
    degree-ordered wedge-closing core (_triangle_frame below, which
    documents the O(√m) skew bound and join plan). Any total order
    counts each triangle exactly once, so an oracle using plain id
    order agrees on the count."""
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    return _triangle_frame(e).agg(F.count(F.lit(1)).alias("triangles"))


def tree_depth(
    df: DataFrame,
    node: str = "node",
    parent: str = "parent",
    max_iter: int = 40,
) -> DataFrame:
    """(node, depth) for a forest given child→parent pointers (roots:
    parent IS NULL) — the distributed answer to a recursive CTE,
    which Spark SQL lacks (DuckDB's WITH RECURSIVE is the oracle for
    q133).

    Pointer doubling, not parent-walking: every round each node's
    ancestor pointer is rewired to its ancestor's pointer and the
    walked distance accumulates, so a height-h forest converges in
    ⌈log₂ h⌉ self-joins instead of h frontier expansions — at 100 TB
    that's ~5 key-partitioned shuffles for a billion-node hierarchy,
    each pinned to truncate lineage (same discipline as
    connected_components above). Roots self-loop with distance 0, so
    Σd is monotone and stalls exactly at convergence."""
    st = pin(
        df.select(
            F.col(node).alias("node"),
            F.coalesce(F.col(parent), F.col(node)).alias("anc"),
            F.when(F.col(parent).isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("d"),
        )
    )
    prev = None
    for _ in range(max_iter):
        hop = st.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("d").alias("d2"),
        )
        st = pin(
            st.join(hop, "anc").select(
                "node",
                F.col("anc2").alias("anc"),
                (F.col("d") + F.col("d2")).alias("d"),
            )
        )
        cur = st.agg(F.sum("d")).first()[0]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"tree_depth: no convergence in {max_iter} rounds")
    return st.select("node", F.col("d").alias("depth"))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg '99): iterate
    auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), L2-normalizing
    each vector per round (the power iteration on AᵀA / AAᵀ). Fixed
    round count for determinism.

    Scale shape mirrors pagerank: each half-round is one join on the
    edge list + one re-aggregation (two shuffles), the edge list is
    persisted once, scores are pinned per round so the
    plan stays one round deep, and the L2 norm is a broadcast 1-row
    aggregate — no adjacency list ever materializes, so hub nodes
    cost only their edge rows. Returns (node, hub, auth)."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )

    def _l2(df: DataFrame, col: str) -> DataFrame:
        norm = F.broadcast(
            df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_nrm"))
        )
        return df.crossJoin(norm).select(
            *[c for c in df.columns if c != col],
            F.when(F.col("_nrm") > 0, F.col(col) / F.col("_nrm"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    for _ in range(iters):
        auth = (
            e.join(
                scores.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        scores = _l2(
            scores.drop("auth").join(auth, "node", "left").fillna(
                {"auth": 0.0}
            ),
            "auth",
        )
        hub = (
            e.join(
                scores.select(F.col("node").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        scores = _l2(
            scores.drop("hub").join(hub, "node", "left").fillna({"hub": 0.0}),
            "hub",
        )
        scores = pin(scores)
    return scores.select("node", "hub", "auth")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007): every node starts as its own label; each
    round a node adopts the most frequent label among its neighbors
    (ties to the SMALLEST label — deterministic under any
    partitioning, unlike the randomized original). Fixed rounds;
    synchronous update (all nodes flip together), so the result is a
    pure function of the graph.

    Scale shape: per round one join edge⋈labels + one count per
    (node, label) + one deterministic arg-max window partitioned by
    node — shuffles keyed on node ids, no adjacency collection;
    labels pinned per round. Returns (node, label)."""
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    nodes = und.select(F.col("src").alias("node")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        neigh = (
            und.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        winner = (
            neigh.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("node", "label")
        )
        labels = pin(
            nodes.join(winner, "node", "left").select(
                "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
            )
        )
    return labels


def _triangle_frame(e: DataFrame) -> DataFrame:
    """One row (u, v1, v2) per triangle of a CANONICAL edge set —
    the shared core of triangle_count / node_triangle_counts /
    clustering_coefficient.

    Degree-ordered orientation (Cohen, "Graph Twiddling in a
    MapReduce World", CiSE 2009; analyzed in Suri & Vassilvitskii,
    WWW'11): every edge points from its lower-(degree, id) endpoint
    to the higher one, so the oriented out-degree of ANY node is
    O(sqrt(m)) — a hub of degree d only keeps out-edges to neighbors
    of degree >= d — and the per-node adjacency work is skew-bounded
    by construction, where a naive id-ordered orientation lets one
    celebrity node own d² candidate pairs.  A triangle {a, b, c}
    ordered ka < kb < kc appears as oriented edges a→b, a→c, b→c, so
    it is found exactly once, at its lowest edge (a, b), as the third
    vertex c ∈ N⁺(a) ∩ N⁺(b).  Orientation only affects HOW triangles
    are found, never which — the frame is a pure function of the edge
    set, and a plain id-ordered 3-way self-join states the same
    triangles in SQL.

    Plan (edge-iterator over oriented adjacency — the compact-forward
    shape of Chiba–Nishizeki 1985 / Latapy 2008; optimization r08):
    build the oriented out-adjacency lists (one groupBy shuffle of the
    m-row edge set, list length capped at the orientation's O(√m)
    out-degree bound), join them back to the edges on BOTH endpoints
    (two m-row shuffles), and intersect IN-ROW.  This replaced the
    r07 wedge self-join + closing join: the wedge stream is
    O(Σ outdeg²) ROWS — measured 36M rows for the 1.2M-edge sf0.1
    graph, a 30× row blowup materialized and shuffled into the
    closing join — where array_intersect does the same probe work
    inside one expression and only actual triangles (1.9M here) ever
    become rows.  Per-row memory stays O(√m); AQE skew-join covers
    hot in-degree keys on the second join.  Interleaved A/B vs the
    wedge shape recorded in OPTIMIZATION_r08.md."""
    deg = _sym(e).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # (deg, id) total order as a sortable struct key for each endpoint
    keyed = (
        e.join(deg.select(F.col("node").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dd")), "dst")
        # degree-<2 peel (optimization r08, guide §2.2/§3.4): every
        # vertex of a triangle has degree >= 2, so an edge with a
        # degree-1 endpoint can appear in NO wedge or closing edge —
        # drop it here, where the degree values are already joined
        # for the orientation key (zero extra shuffles; shrinks the
        # pinned oriented set, both wedge sides, and the closer
        # build).  One pass only — the full 2-core needs recomputed
        # degrees per round; the first pass takes most of the benefit
        # at zero cost.
        .filter((F.col("ds") >= 2) & (F.col("dd") >= 2))
        .select(
            F.col("src"), F.col("dst"),
            F.struct(F.col("ds").alias("d"), F.col("src").alias("n")).alias("ks"),
            F.struct(F.col("dd").alias("d"), F.col("dst").alias("n")).alias("kd"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ks") < F.col("kd"), F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(F.col("ks") < F.col("kd"), F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    # oriented feeds THREE branches (the adjacency build + both sides
    # of the edge stream); unpinned, each branch re-derives the
    # canon/degree joins from the raw edge scan (fan-out pin
    # discipline, ops.pin).  Pinned two columns only — the r07 shape
    # also pinned both (deg, id) struct keys; the intersection needs
    # none of them (orientation already encodes the order).
    oriented = pin(oriented)
    adj = oriented.groupBy(F.col("u").alias("n")).agg(
        F.collect_list("v").alias("nbrs")
    )
    # inner joins are exact: every edge's u has an out-edge (v itself),
    # and an edge whose v has NO out-edges closes no triangle — the
    # compact-forward rule drops it correctly.
    ea = oriented.join(
        adj.select(F.col("n").alias("u"), F.col("nbrs").alias("_na")), "u"
    )
    eab = ea.join(
        adj.select(F.col("n").alias("v"), F.col("nbrs").alias("_nb")), "v"
    )
    # explode order within a row follows _na's collect_list order
    # (nondeterministic), but the SET of (u, v1, v2) tuples is a pure
    # function of the edge set — all consumers aggregate.
    return eab.select(
        F.col("u"),
        F.col("v").alias("v1"),
        F.explode(F.array_intersect("_na", "_nb")).alias("v2"),
    )


def node_triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected
    graph: (node, n_triangles) for every node on >= 1 triangle.
    In a dedup/link-analysis funnel these distinguish tight
    duplicate cliques from accidental chains; see _triangle_frame
    for the skew-bounded algorithm and plan shape."""
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    return _node_counts_from_canonical(e)


def _node_counts_from_canonical(e: DataFrame) -> DataFrame:
    """node_triangle_counts core for an ALREADY-canonical edge set
    (split out r08 so clustering_coefficient doesn't pay a second
    _canon distinct over edges it just canonicalized)."""
    tri = _triangle_frame(e)
    # ONE downstream pass: explode each triangle to its 3 members
    # in-row — a 3-branch union would re-run the wedge join per
    # branch (measured 3x the whole query at sf0.1)
    members = tri.select(
        F.explode(F.array("u", "v1", "v2")).alias("node")
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), T(v) = triangles through v
    — how close each node's neighborhood is to a clique, THE standard
    tightness score for duplicate-cluster triage on top of
    `node_triangle_counts`.  Every node of the canonical graph gets a row
    (degree-1 nodes and triangle-free nodes score 0.0).

    Exactness: T and deg are exact integers; the coefficient is one
    correctly-rounded IEEE division of exact ints — bit-portable.
    Plan: triangle_count's skew-bounded pipeline + one degree
    aggregate off the same canonical edge set, joined on the node
    key (the tiny triangle table broadcasts onto the degree table at
    typical sparsity; Catalyst picks)."""
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    deg = _sym(e).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = _node_counts_from_canonical(e)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.coalesce("n_triangles", F.lit(0)) * F.lit(2)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """k-core decomposition — every node's core number (the largest
    k such that the node survives in the k-core, the subgraph where
    all degrees >= k).  Coreness ranks "how embedded" a node is far
    more robustly than raw degree: the standard triage for dense
    duplicate communities, spam link farms, and influence tiers.

    Algorithm: distributed h-index iteration (Lü et al., "The
    H-index of a network node and its relation to degree and
    coreness", Nature Comms 2016): start c(v) = deg(v) and repeat
      c(v) <- H({c(u) : u ~ v})   (largest h with >= h neighbors
                                   having c >= h)
    until fixpoint — provably converges to the core number, with NO
    peeling sequencing (the sequential Batagelj-Zaversnik algorithm
    is inherently serial; h-index rounds are embarrassingly
    parallel).  Each round: one edge join on the label table, one
    per-node descending rank window, one max(least(rank, c)) agg —
    all shuffles keyed on node ids, no adjacency collection; labels
    pinned per round (lineage discipline).  Convergence is
    the exact fixpoint of Σc (monotone non-increasing under H).

    Deterministic: H is a pure multiset function — no tie-breaks at
    all.  Returns (node, coreness); isolated self-loop-only nodes
    drop with the canonicalization."""
    from pyspark.sql import Window

    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    und = pin(_sym(e))
    labels = pin(
        und.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("c"))
    )
    prev = None
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("nbr"))
    for _ in range(max_iter):
        neigh = und.join(
            labels.select(F.col("node").alias("dst"), "c"), "dst"
        ).select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "c")
        hidx = (
            neigh.withColumn("_rk", F.row_number().over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("_rk"), F.col("c"))).alias("c"))
        )
        labels = pin(hidx)
        cur = labels.agg(F.sum("c").alias("s")).first()["s"]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"coreness: no convergence in {max_iter} rounds")
    return labels.select("node", F.col("c").alias("coreness"))


def bipartite_project(
    df: DataFrame,
    group: str,
    item: str,
    min_weight: int = 1,
    max_group_size: int | None = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite membership table
    (order→part, user→community, doc→token): an undirected edge
    (src < dst) between items that co-occur in a group, weighted by
    the number of co-occurrence groups.  The formal front door to
    the co-occurrence graphs the triangle/coreness/component ops
    consume (q245/q250/q252 build exactly this inline).

    Skew is the projection's classic failure: ONE group of size g
    emits C(g,2) pairs, so a single celebrity group (a token in
    every doc) produces a quadratic blowup no downstream op can
    undo.  `max_group_size` drops oversized groups BEFORE the
    self-join (the LSH oversized-bucket guard's convention —
    explicit, logged by count in the returned plan via a filter,
    never silent truncation of survivors: a dropped group drops
    ALL its pairs).  Exact counts; one self-join on the group key +
    one partial-agg'd pair count."""
    base = df.select(F.col(group).alias("_g"), F.col(item).alias("_i")).distinct()
    if max_group_size is not None:
        sizes = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_gs"))
        base = base.join(
            sizes.filter(F.col("_gs") <= max_group_size).select("_g"), "_g"
        )
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.join(b, "_g")
        .filter(F.col("a._i") < F.col("b._i"))
        .select(F.col("a._i").alias("src"), F.col("b._i").alias("dst"))
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Link-prediction scores for node pairs: common-neighbor count
    and neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the two
    exact classics (Liben-Nowell & Kleinberg 2003) that rank
    "which parts co-occur without a direct edge yet" / "which
    duplicate communities are about to merge"; Adamic-Adar's
    1/ln(deg) weighting is the rows-only cousin (ln), so Jaccard is
    the hash-exact member of the family.

    Every common neighbor u of pair (a, b) is one WEDGE a—u—b, so
    the count is a symmetric-adjacency self-join on the apex with
    a < b — and the output is HONESTLY quadratic in hub degree: a
    degree-d apex certifies C(d, 2) pairs; that is the statistic,
    not an implementation artifact (triangle counting escapes via
    orientation only because each triangle needs ONE apex — a
    common-neighbor count needs them all).  `max_degree` is the
    explicit skew valve (bipartite_project's contract): apexes
    above it are dropped WHOLE, never truncated, so the count is
    exact over the kept apex set.  Degrees in the Jaccard
    denominator are always TRUE full-graph degrees.

    Plan: one degree agg, the apex wedge join (one shuffle on the
    apex), a partial-agg'd pair count, two broadcast-able degree
    attach joins.  Jaccard = common/(deg_a + deg_b − common), ONE
    IEEE division.  Self-loops/duplicate edges are canonicalized
    away.  Returns (a, b, common, deg_a, deg_b, jaccard) for pairs
    with common >= min_common."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    und = _sym(_canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))))
    und = pin(und)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    apexes = und
    if max_degree is not None:
        keep = deg.filter(F.col("deg") <= max_degree).select(
            F.col("node").alias("src")
        )
        apexes = und.join(keep, "src")
    a = apexes.select(F.col("src").alias("_u"), F.col("dst").alias("a"))
    b = apexes.select(F.col("src").alias("_u"), F.col("dst").alias("b"))
    pairs = (
        a.join(b, "_u")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    j = pairs.join(da, "a").join(db, "b")
    union = F.col("deg_a") + F.col("deg_b") - F.col("common")
    return j.select(
        "a",
        "b",
        "common",
        "deg_a",
        "deg_b",
        (F.col("common").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )
