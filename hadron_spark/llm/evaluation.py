"""Classifier evaluation for quality-filter pipelines: exact
precision/recall curves (threshold calibration) and exact tie-aware
ROC AUC — the numbers a curation team reads before wiring a trained
filter (`llm.classifier`) into the funnel.

Exactness discipline: everything reduces to integer counts on a
DISTINCT-SCORE SPINE (one row per observed score with its positive /
total counts), cumulated with `operators.ops.range_cumsum` (banded
two-pass prefix — never a single-partition window), then one
correctly-rounded IEEE division per reported ratio. Ties are handled
the textbook way (Mann-Whitney average ranks, kept integral by
working in DOUBLED rank units), so every number — including the AUC
— hash-matches a SQL engine stating the same algebra.

100 TB shape: the corpus aggregates to the spine with one
partial-agg'd shuffle (|spine| = distinct scores, bounded for any
quantized/integer score); all downstream passes run on the spine.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadron_spark.operators.ops import _range_cumsum, pin, range_cumsum


def _score_spine(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """(score, n_pos, n_tot, cum_pos, cum_tot) — cums EXCLUSIVE,
    ascending score order. Label must be 0/1-valued."""
    spine = (
        df.select(
            F.col(score_col).alias("score"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("score")
        .agg(
            F.sum("_y").alias("n_pos"),
            F.count(F.lit(1)).alias("n_tot"),
        )
    )
    spine = pin(spine)
    spine = _range_cumsum(
        spine,
        key=F.col("score"),
        val=F.col("n_pos"),
        order=[F.col("score").asc()],
        out_col="cum_pos",
    )
    # the second pass pins its input (the first pass's output feeds
    # the min/max, per-band, and windowed branches); the first runs
    # unpinned off the already-pinned spine
    return range_cumsum(
        spine,
        key=F.col("score"),
        val=F.col("n_tot"),
        order=[F.col("score").asc()],
        out_col="cum_tot",
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact precision/recall/F1 at EVERY observed decision threshold
    (predict positive when score >= t, one row per distinct score) —
    the table a team scans to pick a filter cutoff for a target
    precision, stated without interpolation or binning.

    tp(t) = P − cum_pos(<t), predicted(t) = N − cum_tot(<t) from the
    ascending exclusive prefixes; precision/recall/F1 are single
    divisions of those exact longs (F1 = 2tp/(pred+P) — already a
    ratio of ints, no P,R intermediates). Returns (threshold, tp,
    fp, fn, precision, recall, f1) ordered-agnostic."""
    spine = _score_spine(df, score_col, label_col)
    tot = spine.agg(
        F.sum("n_pos").alias("_P"), F.sum("n_tot").alias("_N")
    )
    s = spine.crossJoin(F.broadcast(tot))
    tp = F.col("_P") - F.col("cum_pos")
    pred = F.col("_N") - F.col("cum_tot")
    return s.select(
        F.col("score").alias("threshold"),
        tp.alias("tp"),
        (pred - tp).alias("fp"),
        (F.col("_P") - tp).alias("fn"),
        (tp.cast("double") / pred.cast("double")).alias("precision"),
        (tp.cast("double") / F.col("_P").cast("double")).alias("recall"),
        (
            (tp * 2).cast("double") / (pred + F.col("_P")).cast("double")
        ).alias("f1"),
    )


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney U statistic with textbook
    tie handling (average ranks), one row:
    (n_pos, n_neg, u2, auc) where u2 = 2·U (kept integral — a tied
    group's average rank is a half-integer, so DOUBLED rank units
    stay in int64) and auc = u2 / (2·n_pos·n_neg), one IEEE
    division — bit-portable.

    Ranks never materialize per row: ascending-score group ranks
    come from the spine's exclusive prefix (avg doubled rank of a
    group = 2·cum_tot + n_tot + 1), weighted by the group's
    positive count — one spine pass after the corpus aggregate."""
    spine = _score_spine(df, score_col, label_col)
    r2 = (
        spine.select(
            (
                F.col("n_pos") * (F.col("cum_tot") * 2 + F.col("n_tot") + 1)
            ).alias("_r2"),
            "n_pos",
            "n_tot",
        )
        .agg(
            F.sum("_r2").alias("_R2"),
            F.sum("n_pos").alias("n_pos"),
            (F.sum("n_tot") - F.sum("n_pos")).alias("n_neg"),
        )
    )
    u2 = F.col("_R2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return r2.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        (
            u2.cast("double")
            / (F.col("n_pos") * F.col("n_neg") * 2).cast("double")
        ).alias("auc"),
    )


def _rank_lcm(k: int) -> int:
    """lcm(1..k) — the common denominator that keeps every P@i and
    1/rank term integral.  Bounded to k <= 42 so the scaled units
    (and their corpus sums) stay safely inside int64."""
    if not 1 <= k <= 42:
        raise ValueError(f"k must be in [1, 42] for exact LCM scaling: {k}")
    return math.lcm(*range(1, k + 1))


def _ranked(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """(_q, _d, _s, _y, _rank, _hits_i): per-query ranking by
    (score DESC, doc ASC — the deterministic tie-break) plus the
    inclusive cumulative hit count along that order."""
    w = Window.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_d").asc())
    return (
        df.select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .withColumn("_rank", F.row_number().over(w))
        .withColumn(
            "_hits_i",
            F.sum("_y").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )


def ranking_metrics(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval-evaluation metrics at cutoff k — the
    scorecard for a retrieval / reranking stage (RAG index QC, ANN
    recall audits, next-item recommenders): precision@k, recall@k,
    reciprocal rank@k, and average precision@k (Manning et al., IR
    ch. 8; AP@k normalized by min(n_rel, k) as in trec_eval).

    Exactness discipline: ranks are integers (row_number over
    score DESC, doc ASC — explicit tie-break), and every fractional
    term is kept integral by scaling with L = lcm(1..k): a relevant
    hit at rank i contributes hits_i·(L div i) AP units and the
    first hit L div r RR units — exact int64 algebra whose sums are
    order-independent, so the frame hashes cross-engine.  Each
    reported ratio is then ONE correctly-rounded IEEE division
    (rr = rr_units/L IS 1/r exactly).  Queries with no relevant
    candidate get NULL recall/AP (trec_eval omits them; NULL keeps
    them visible without inventing a 0).

    100 TB shape: ONE shuffle on query_col; the window and the
    group-by share that partitioning (no second exchange), and
    per-query state is the candidate list a retrieval stage already
    bounded (top-N), never the corpus.

    Returns (query_col, n_cand, n_rel, hits, rr_units, ap_units,
    precision, recall, rr, ap)."""
    L = _rank_lcm(k)
    ranked = _ranked(df, query_col, doc_col, score_col, label_col)
    in_k = F.col("_rank") <= k
    rel = F.col("_y") == 1
    per_q = ranked.groupBy("_q").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum("_y").alias("n_rel"),
        F.sum(F.when(in_k, F.col("_y")).otherwise(0)).alias("hits"),
        F.min(F.when(in_k & rel, F.col("_rank"))).alias("_first"),
        F.sum(
            F.when(in_k & rel, F.expr(f"_hits_i * ({L} div _rank)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("ap_units"),
    )
    rr_units = F.coalesce(
        F.expr(f"{L} div _first").cast("long"), F.lit(0).cast("long")
    )
    ap_den = F.least(F.col("n_rel"), F.lit(k).cast("long")) * L
    return per_q.select(
        F.col("_q").alias(query_col),
        "n_cand",
        "n_rel",
        "hits",
        rr_units.alias("rr_units"),
        "ap_units",
        (F.col("hits").cast("double") / F.lit(float(k))).alias("precision"),
        F.when(
            F.col("n_rel") > 0,
            F.col("hits").cast("double") / F.col("n_rel").cast("double"),
        ).alias("recall"),
        (rr_units.cast("double") / F.lit(float(L))).alias("rr"),
        F.when(
            F.col("n_rel") > 0,
            F.col("ap_units").cast("double") / ap_den.cast("double"),
        ).alias("ap"),
    )


def ranking_summary(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Corpus-level roll-up of `ranking_metrics` in ONE row, every
    scalar exact: MRR = Σ rr_units/(L·n) and mean precision@k =
    Σ hits/(k·n) telescope to single divisions of exact int64 sums
    (float accumulation never happens, so summation order cannot
    perturb the scalar); recall is micro-averaged (Σ hits/Σ n_rel)
    for the same reason — a macro mean of per-query ratios has no
    order-free form.  Returns (n_queries, n_evaluated, sum_hits,
    sum_rr_units, mrr, mean_precision, micro_recall)."""
    L = _rank_lcm(k)
    per_q = ranking_metrics(df, query_col, doc_col, score_col, label_col, k)
    agg = per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.when(F.col("n_rel") > 0, 1).otherwise(0)).alias("n_evaluated"),
        F.sum("hits").alias("sum_hits"),
        F.sum("rr_units").alias("sum_rr_units"),
        F.sum("n_rel").alias("_sum_rel"),
    )
    return agg.select(
        "n_queries",
        "n_evaluated",
        "sum_hits",
        "sum_rr_units",
        (
            F.col("sum_rr_units").cast("double")
            / (F.col("n_queries") * L).cast("double")
        ).alias("mrr"),
        (
            F.col("sum_hits").cast("double")
            / (F.col("n_queries") * k).cast("double")
        ).alias("mean_precision"),
        F.when(
            F.col("_sum_rel") > 0,
            F.col("sum_hits").cast("double") / F.col("_sum_rel").cast("double"),
        ).alias("micro_recall"),
    )


def ndcg(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query nDCG@k (Järvelin & Kekäläinen 2002) with graded
    relevance: DCG = Σ_{i<=k} rel_i/log2(i+1) over the (score DESC,
    doc ASC) ranking, IDCG from the ideal ordering (rel DESC with
    the same tie-break), ndcg = DCG/IDCG (NULL when IDCG = 0).

    HASH-EXACT despite the transcendental discounts: only k
    distinct discount values exist at cutoff k, so 1/log2(i+1) is
    PRE-COMPUTED in python and shipped as a k-element LITERAL array
    both engines index identically — no engine ever evaluates a
    log; each gain is ONE multiply, and the ≤ k gains per query
    fold in RANK-SORTED order (the kruskal G2 discipline).
    `ranking_metrics` remains the all-integer tier.  Same
    one-shuffle shape: both rankings are windows over the query
    partition; the collected fold lists are ≤ k structs per query.

    Returns (query_col, n_rel, dcg, idcg, ndcg)."""
    import math

    darr = F.array(
        *[F.lit(1.0 / math.log2(i + 1)) for i in range(1, k + 1)]
    )
    ranked = _ranked(df, query_col, doc_col, score_col, label_col)
    w_ideal = Window.partitionBy("_q").orderBy(
        F.col("_y").desc(), F.col("_s").desc(), F.col("_d").asc()
    )
    ranked = ranked.withColumn("_irank", F.row_number().over(w_ideal))
    gain = F.col("_y").cast("double") * F.element_at(
        darr, F.col("_rank").cast("int")
    )
    igain = F.col("_y").cast("double") * F.element_at(
        darr, F.col("_irank").cast("int")
    )
    per_q = ranked.groupBy("_q").agg(
        F.sum("_y").alias("n_rel"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_rank") <= k,
                    F.struct(F.col("_rank").alias("r"), gain.alias("g")),
                )
            )
        ).alias("_dl"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_irank") <= k,
                    F.struct(F.col("_irank").alias("r"), igain.alias("g")),
                )
            )
        ).alias("_il"),
    )

    def fold(c):
        return F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x["g"])

    per_q = per_q.select(
        "_q", "n_rel", fold(F.col("_dl")).alias("dcg"),
        fold(F.col("_il")).alias("idcg"),
    )
    return per_q.select(
        F.col("_q").alias(query_col),
        "n_rel",
        "dcg",
        "idcg",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 20,
    weight_col: str | None = None,
    eps: float = 1e-12,
) -> DataFrame:
    """Bradley-Terry strength fitting over pairwise outcomes — the
    model behind preference-data leaderboards (RLHF reward QC,
    model-vs-model win matrices, annotator calibration): item i
    beats j with probability p_i/(p_i+p_j); strengths are fit by the
    standard MM update (Hunter 2004)

        p_i <- W_i / Σ_j n_ij/(p_i+p_j)

    over `iters` fixed rounds (determinism over a convergence test),
    then mean-normalized to 1.  Strengths are floored at `eps` so an
    item that never wins cannot zero a shared denominator.

    HASH-EXACT despite being iterative: each item's denominator
    Σ_j n_ij/(p_i+p_j) folds its opponents in OPPONENT-SORTED order
    (collect_list → sort_array → aggregate, the kruskal G2
    discipline), and the per-round normalization total folds the
    item-sorted strengths the same way — every float op in the whole
    fit is a FIXED chain, so given the same `iters` any engine
    replaying the walk (the q272 oracle unrolls it CTE-per-round)
    reproduces the strengths bit-for-bit; pure-python parity lives
    in test_evaluation.

    100 TB shape: outcomes partial-aggregate once to the undirected
    pair-count spine n_ij and the win vector W_i; each MM round is
    one spine-sized hash join + one partial-agg'd shuffle onto
    items — raw outcome rows are never revisited, and per-round
    state is |items| rows carrying ≤ |items|-long opponent lists
    (leaderboard-scale: fine to ~10⁴ items; the raw corpus never
    re-enters).  Strengths are pinned per round — the kmeans-style
    iterative-consumer discipline.

    Returns (item, wins, losses, strength)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1: {iters}")
    n = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    outcomes = df.select(
        F.col(winner_col).alias("_w"), F.col(loser_col).alias("_l"), n.alias("_n")
    ).filter(F.col("_w") != F.col("_l"))
    a = F.when(F.col("_w") < F.col("_l"), F.col("_w")).otherwise(F.col("_l"))
    b = F.when(F.col("_w") < F.col("_l"), F.col("_l")).otherwise(F.col("_w"))
    und = pin(
        outcomes.select(a.alias("_a"), b.alias("_b"), "_n")
        .groupBy("_a", "_b")
        .agg(F.sum("_n").alias("_nab")),
    )
    wins = pin(
        outcomes.select(F.col("_w").alias("item"), "_n")
        .groupBy("item")
        .agg(F.sum("_n").alias("wins")),
    )
    losses = pin(
        outcomes.select(F.col("_l").alias("item"), "_n")
        .groupBy("item")
        .agg(F.sum("_n").alias("losses")),
    )
    items = pin(
        und.select(F.col("_a").alias("item"))
        .union(und.select(F.col("_b").alias("item")))
        .distinct(),
    )
    dirs = pin(
        und.select(
            F.col("_a").alias("item"), F.col("_b").alias("_other"), "_nab"
        ).unionByName(
            und.select(
                F.col("_b").alias("item"), F.col("_a").alias("_other"), "_nab"
            )
        ),
    )
    strengths = items.withColumn("p", F.lit(1.0))
    for _ in range(iters):
        po = strengths.select(
            F.col("item").alias("_other"), F.col("p").alias("_po")
        )
        # opponent-sorted fold: the denominator's float sum runs in a
        # FIXED order so the whole fit replays bit-identically
        lst = (
            dirs.join(po, "_other")
            .groupBy("item")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("_other").alias("o"),
                            F.col("_nab").alias("nab"),
                            F.col("_po").alias("po"),
                        )
                    )
                ).alias("_l")
            )
        )
        d = lst.join(strengths, "item").select(
            "item",
            F.aggregate(
                F.col("_l"),
                F.lit(0.0),
                lambda acc, x: acc
                + x["nab"].cast("double") / (F.col("p") + x["po"]),
            ).alias("_denom"),
        )
        raw = d.join(wins, "item", "left").select(
            "item",
            F.greatest(
                F.coalesce(F.col("wins"), F.lit(0)).cast("double")
                / F.col("_denom"),
                F.lit(eps),
            ).alias("_praw"),
        )
        # one pin per round: `raw` feeds the totals AND both join
        # sides of the next round; the normalized frame is a narrow
        # projection off it (re-running that per branch is free)
        raw = pin(raw)
        tot = raw.agg(
            F.count(F.lit(1)).alias("_c"),
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct("item", "_praw"))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["_praw"],
            ).alias("_t"),
        )
        strengths = raw.crossJoin(F.broadcast(tot)).select(
            "item",
            (F.col("_praw") * F.col("_c") / F.col("_t")).alias("p"),
        )
    return (
        strengths.join(wins, "item", "left")
        .join(losses, "item", "left")
        .select(
            "item",
            F.coalesce("wins", F.lit(0)).alias("wins"),
            F.coalesce("losses", F.lit(0)).alias("losses"),
            F.col("p").alias("strength"),
        )
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Inter-annotator agreement (Cohen 1960) over two categorical
    label columns — the RLHF/eval-annotation QC number: chance-
    corrected agreement kappa = (p_o − p_e)/(1 − p_e).

    Integer-exact end to end: with confusion counts n_ab, row/col
    marginals r_k, c_k and N rows,
        kappa = (N·Σ_k n_kk − Σ_k r_k·c_k) / (N² − Σ_k r_k·c_k)
    — ONE IEEE division of two exact int64s (p_o, p_e are also
    emitted as single divisions), so everything hashes.  Rows where
    either label is NULL are dropped (unlabeled).

    Plan: one partial-agg'd shuffle to the k×k confusion matrix;
    marginals and the scalar algebra run on that tiny frame
    (broadcast joins).  Returns one row (n, agree, kappa_num,
    kappa_den, p_o, p_e, kappa)."""
    pairs = (
        df.select(F.col(rater_a).alias("_a"), F.col(rater_b).alias("_b"))
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    pairs = pin(pairs)
    ra = pairs.groupBy("_a").agg(F.sum("_n").alias("_r"))
    cb = pairs.groupBy("_b").agg(F.sum("_n").alias("_c"))
    pe_sum = (
        ra.join(cb, ra["_a"] == cb["_b"])
        .agg(F.sum(F.col("_r") * F.col("_c")).alias("_pe"))
    )
    tot = pairs.agg(
        F.sum("_n").alias("_N"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_n")).otherwise(0)).alias(
            "_agree"
        ),
    )
    j = tot.crossJoin(F.broadcast(pe_sum)).select(
        "_N",
        "_agree",
        F.coalesce("_pe", F.lit(0)).alias("_pe"),
    )
    num = F.col("_N") * F.col("_agree") - F.col("_pe")
    den = F.col("_N") * F.col("_N") - F.col("_pe")
    return j.select(
        F.col("_N").alias("n"),
        F.col("_agree").alias("agree"),
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        (F.col("_agree").cast("double") / F.col("_N").cast("double")).alias("p_o"),
        (F.col("_pe").cast("double") / (F.col("_N") * F.col("_N")).cast("double")).alias(
            "p_e"
        ),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Multi-rater inter-annotator agreement (Fleiss 1971) — the
    n-rater generalization of `cohens_kappa` for annotation rounds
    where each item gets n_raters independent labels (RLHF batches,
    eval-suite adjudication).  Input is LONG form: one row per
    (item, rating); items whose rating count ≠ n_raters are dropped
    and counted in `n_items_dropped` (deterministic, no driver-side
    validation round-trip).

    Integer-exact: with n_ij the per-item category counts, N kept
    items, n raters, C_j the column totals,
        P_o = Σ_ij n_ij(n_ij−1) / (N·n·(n−1)),
        P_e = Σ_j C_j² / (N·n)²,
    and kappa = (P_o − P_e)/(1 − P_e) — P_o and P_e are each ONE
    IEEE division of exact int64s and kappa a fixed chain over
    them, so the row hashes cross-engine.  int64 bound:
    (N·n)² < 2^63 needs N·n < 3.03·10⁹ ratings; past that lift the
    two numerators to DECIMAL(38,0).

    Plan: one partial-agg'd shuffle to (item, category) counts, one
    to per-item totals (broadcast filter), column totals and the
    scalar algebra on tiny frames.  Returns one row (n_items,
    n_raters, n_items_dropped, po_num, pe_num, p_o, p_e, kappa)."""
    if n_raters < 2:
        raise ValueError(f"n_raters must be >= 2: {n_raters}")
    cnt = (
        df.select(F.col(item_col).alias("_i"), F.col(category_col).alias("_c"))
        .filter(F.col("_i").isNotNull() & F.col("_c").isNotNull())
        .groupBy("_i", "_c")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cnt = pin(cnt)
    itot = cnt.groupBy("_i").agg(F.sum("_n").alias("_it"))
    kept_items = itot.filter(F.col("_it") == n_raters).select("_i")
    dropped = itot.filter(F.col("_it") != n_raters).agg(
        F.count(F.lit(1)).alias("_nd")
    )
    kept = cnt.join(kept_items, "_i")
    kept = pin(kept)
    po = kept.agg(
        F.count_distinct("_i").alias("_N"),
        F.sum(F.col("_n") * (F.col("_n") - 1)).alias("_po_num"),
    )
    pe = kept.groupBy("_c").agg(F.sum("_n").alias("_cj")).agg(
        F.coalesce(F.sum(F.col("_cj") * F.col("_cj")), F.lit(0)).alias("_pe_num")
    )
    j = po.crossJoin(F.broadcast(pe)).crossJoin(F.broadcast(dropped))
    n = F.lit(n_raters)
    p_o = F.col("_po_num").cast("double") / (
        F.col("_N") * n * (n - 1)
    ).cast("double")
    p_e = F.col("_pe_num").cast("double") / (
        F.col("_N") * n * F.col("_N") * n
    ).cast("double")
    return j.select(
        F.col("_N").alias("n_items"),
        n.cast("int").alias("n_raters"),
        F.coalesce(F.col("_nd"), F.lit(0)).alias("n_items_dropped"),
        F.col("_po_num").alias("po_num"),
        F.col("_pe_num").alias("pe_num"),
        p_o.alias("p_o"),
        p_e.alias("p_e"),
        ((p_o - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


def calibration_bins(
    df: DataFrame,
    prob_units_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Reliability-diagram bins over integer-unit probabilities
    (prob_units in [0, scale], e.g. percent): per equal-width bin,
    count, mean confidence, and empirical accuracy — the table
    behind a calibration plot for a quality classifier.

    Everything is exact: bin = min(n_bins−1, units·n_bins div
    scale) is integer math; confidence = Σunits/(n·scale) and
    accuracy = Σpos/n are single IEEE divisions; `gap_num` =
    |Σpos·scale − Σunits| is the bin's calibration-gap NUMERATOR
    kept as an exact integer so `ece` can sum it without
    float-order sensitivity.  One partial-agg'd shuffle onto
    ≤ n_bins rows.  Returns (bin, n, sum_units, sum_pos,
    confidence, accuracy, gap_num)."""
    if n_bins < 1 or scale < 1:
        raise ValueError(f"n_bins/scale must be >= 1: {n_bins}/{scale}")
    u = F.col(prob_units_col).cast("long")
    b = F.least(F.lit(n_bins - 1), F.expr(f"({prob_units_col} * {n_bins}) div {scale}"))
    binned = df.select(
        b.cast("int").alias("bin"),
        u.alias("_u"),
        F.col(label_col).cast("long").alias("_y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_u").alias("sum_units"),
        F.sum("_y").alias("sum_pos"),
    )
    return agg.select(
        "bin",
        "n",
        "sum_units",
        "sum_pos",
        (
            F.col("sum_units").cast("double")
            / (F.col("n") * scale).cast("double")
        ).alias("confidence"),
        (F.col("sum_pos").cast("double") / F.col("n").cast("double")).alias(
            "accuracy"
        ),
        F.abs(F.col("sum_pos") * scale - F.col("sum_units")).alias("gap_num"),
    )


def expected_calibration_error(
    df: DataFrame,
    prob_units_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """ECE (Naeini et al. 2015) with NO float accumulation: the
    standard Σ_b (n_b/N)·|acc_b − conf_b| telescopes to
    Σ_b |Σpos_b·scale − Σunits_b| / (N·scale) — an exact INTEGER
    numerator summed over bins, then ONE IEEE division.  Bin-sum
    order can never perturb the result, so the scalar hashes.
    One row: (n, ece_num, ece)."""
    bins = calibration_bins(df, prob_units_col, label_col, n_bins, scale)
    return bins.agg(
        F.sum("n").alias("n"),
        F.sum("gap_num").alias("ece_num"),
    ).select(
        "n",
        "ece_num",
        (
            F.col("ece_num").cast("double")
            / (F.col("n") * scale).cast("double")
        ).alias("ece"),
    )


def brier_score(
    df: DataFrame,
    prob_units_col: str,
    label_col: str,
    scale: int = 100,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Brier score per group (Brier 1950) — the PROPER scoring rule
    companion to `expected_calibration_error`: ECE measures
    calibration alone (a constant base-rate predictor has ECE ≈ 0),
    Brier = mean (p − y)² decomposes into calibration + refinement,
    so it also punishes uninformative confidence.  Report both.

    Integer-unit probabilities (the calibration_bins contract,
    p_units ∈ [0, scale]) make it exact:
        brier = Σ (units − y·scale)² / (N·scale²)
    — the squared terms sum in DECIMAL(38,0) and the result is ONE
    IEEE division: hash-exact.  NULL prob/label rows are excluded
    (pairwise-complete).  Returns (group_cols..., n, brier_num,
    brier)."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1: {scale}")
    gc = list(group_cols or [])
    u = F.col(prob_units_col).cast("long")
    y = F.col(label_col).cast("long")
    base = df.filter(u.isNotNull() & y.isNotNull()).select(
        *gc, (u - y * scale).cast("decimal(38,0)").alias("_d")
    )
    agg = base.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_d") * F.col("_d")).alias("brier_num"),
    )
    return agg.select(
        *gc,
        "n",
        F.col("brier_num").cast("long").alias("brier_num"),
        (
            F.col("brier_num").cast("double")
            / (F.col("n").cast("double") * F.lit(float(scale) * float(scale)))
        ).alias("brier"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile lift / gains table — the campaign-targeting and
    filter-triage view of a scored population: rank by score
    descending, cut into `n_buckets` ntiles, and report per tile
    the positives captured so far and the lift over random
    targeting.

    Scale-safe ranking rides `operators.ops.range_rank` (banded
    two-pass global ntile — NO single-partition window), with
    (score desc, id asc) as the total order so ties are
    deterministic.  Counts are exact longs; cumulative counts come
    from the bounded tile×tile triangular join (≤ n_buckets² rows);
    lift telescopes to the exact integer cross-product form
        lift = (cum_pos·N) / (cum_n·P)
    emitted as numerator/denominator longs PLUS the single-division
    doubles — all hash-exact.  Returns (tile, n, pos, cum_n,
    cum_pos, capture, lift); capture = cum_pos/P is the gains
    curve's y-axis."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    from hadron_spark.operators.ops import range_rank

    ranked = range_rank(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("long").alias("_y"),
        ),
        key=-F.col("_s").cast("double"),
        order=[F.col("_s").desc(), F.col("_id").asc()],
        ntile=n_buckets,
    )
    tiles = ranked.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_y").alias("pos")
    )
    a, b = tiles.alias("a"), tiles.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.tile") <= F.col("a.tile"))
        .groupBy(F.col("a.tile").alias("tile"), F.col("a.n").alias("n"), F.col("a.pos").alias("pos"))
        .agg(
            F.sum("b.n").alias("cum_n"),
            F.sum("b.pos").alias("cum_pos"),
        )
    )
    tot = tiles.agg(
        F.sum("n").alias("_N"), F.sum("pos").alias("_P")
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.select(
        "tile",
        "n",
        "pos",
        "cum_n",
        "cum_pos",
        F.when(
            F.col("_P") > 0,
            F.col("cum_pos").cast("double") / F.col("_P").cast("double"),
        ).alias("capture"),
        F.when(
            (F.col("_P") > 0) & (F.col("cum_n") > 0),
            (F.col("cum_pos") * F.col("_N")).cast("double")
            / (F.col("cum_n") * F.col("_P")).cast("double"),
        ).alias("lift"),
    )


def confusion_at_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Full confusion-matrix row at EVERY observed threshold
    (predict positive when score >= t) with the derived quality
    scalars `pr_curve` doesn't state: specificity, Youden's J
    (tpr − fpr, the threshold-selection objective that ignores
    class balance), and Matthews correlation (the single number
    robust to imbalance — Chicco & Jurman 2020).

    tp/fp/fn/tn are exact longs off the shared distinct-score
    spine; tpr/fpr/specificity are single IEEE divisions;
    J = (tp·neg − fp·pos)/(pos·neg) states tpr−fpr as ONE division
    of an exact int64 cross-product (no float subtraction); MCC's
    numerator tp·tn − fp·fn is exact int64 and its denominator a
    four-sqrt chain over exact longs (each factor ≤ n, so the
    int64 products live in the doubles exactly up to n ~ 9·10⁶ per
    factor and deterministically beyond) — hash-exact.  Degenerate
    one-class slices yield NULL rates (ANSI division discipline —
    never ±inf).  Returns (threshold, tp, fp, fn, tn, tpr, fpr,
    specificity, j, mcc)."""
    spine = _score_spine(df, score_col, label_col)
    tot = spine.agg(F.sum("n_pos").alias("_P"), F.sum("n_tot").alias("_N"))
    s = spine.crossJoin(F.broadcast(tot))
    tp = F.col("_P") - F.col("cum_pos")
    pred = F.col("_N") - F.col("cum_tot")
    fp = pred - tp
    fn = F.col("_P") - tp
    neg = F.col("_N") - F.col("_P")
    tn = neg - fp
    mcc_num = (tp * tn - fp * fn).cast("double")
    mcc_den = (
        F.sqrt((tp + fp).cast("double"))
        * F.sqrt((tp + fn).cast("double"))
        * F.sqrt((tn + fp).cast("double"))
        * F.sqrt((tn + fn).cast("double"))
    )
    return s.select(
        F.col("score").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
        F.when(
            F.col("_P") > 0, tp.cast("double") / F.col("_P").cast("double")
        ).alias("tpr"),
        F.when(neg > 0, fp.cast("double") / neg.cast("double")).alias("fpr"),
        F.when(neg > 0, tn.cast("double") / neg.cast("double")).alias(
            "specificity"
        ),
        F.when(
            (F.col("_P") > 0) & (neg > 0),
            (tp * neg - fp * F.col("_P")).cast("double")
            / (F.col("_P") * neg).cast("double"),
        ).alias("j"),
        F.when(mcc_den > 0, mcc_num / mcc_den).alias("mcc"),
    )


def youden_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """The Youden-optimal operating point: the threshold maximizing
    J = tpr − fpr, decided ENTIRELY in exact integers — the
    objective is ranked by the int64 cross-product
    j_num = tp·neg − fp·pos (ties break to the SMALLEST threshold,
    i.e. the most-recall operating point among equals, via
    struct-ordered max) — so the selection is hash-exact, not a
    float argmax.  One row: (threshold, tp, fp, fn, tn, j)."""
    spine = _score_spine(df, score_col, label_col)
    tot = spine.agg(F.sum("n_pos").alias("_P"), F.sum("n_tot").alias("_N"))
    s = spine.crossJoin(F.broadcast(tot))
    tp = F.col("_P") - F.col("cum_pos")
    pred = F.col("_N") - F.col("cum_tot")
    fp = pred - tp
    neg = F.col("_N") - F.col("_P")
    j_num = tp * neg - fp * F.col("_P")
    best = s.select(
        "_P",
        "_N",
        F.struct(
            j_num.alias("jn"),
            (-F.col("score")).cast("double").alias("negt"),
            F.col("score").alias("t"),
            tp.alias("tp"),
            fp.alias("fp"),
        ).alias("_b"),
    ).agg(F.max("_b").alias("b"), F.first("_P").alias("P"), F.first("_N").alias("N"))
    neg_t = F.col("N") - F.col("P")
    return best.select(
        F.col("b.t").alias("threshold"),
        F.col("b.tp").alias("tp"),
        F.col("b.fp").alias("fp"),
        (F.col("P") - F.col("b.tp")).alias("fn"),
        (neg_t - F.col("b.fp")).alias("tn"),
        F.when(
            (F.col("P") > 0) & (neg_t > 0),
            (F.col("b.tp") * neg_t - F.col("b.fp") * F.col("P")).cast("double")
            / (F.col("P") * neg_t).cast("double"),
        ).alias("j"),
    )


def token_budget_curve(
    df: DataFrame,
    score_col: str,
    token_col: str,
    quality_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Token-budget gains curve (VERDICT r4 #7 — `lift_table`'s
    accounting axis swapped from documents to TOKENS): rank by
    score descending, cut into `n_buckets` ntiles, and report per
    tile how much of the corpus token mass a budget that deep spends
    and how much quality mass it captures — the "is the quality
    scorer worth its training-token bill" view that sizes a
    `mixing.select_token_budget` cut before running it (the curve
    picks the budget; select_token_budget then materializes the
    exact prefix for it).

    Returns (tile, n_docs, tokens, quality, cum_tokens, cum_quality,
    token_share, quality_capture, lift):
      token_share     = cum_tokens / T     (the budget x-axis)
      quality_capture = cum_quality / Q    (the gains y-axis)
      lift            = (cum_quality·T) / (cum_tokens·Q) — quality
                        per token vs spending the budget at random,
                        in the exact integer cross-product form.
    All masses are exact longs (`token_col`/`quality_col` are cast);
    each double is ONE IEEE division — hash-exact.

    Scale shape is `lift_table`'s: ranking rides
    `operators.ops.range_rank` (banded two-pass global ntile, no
    single-partition window) with (score desc, id asc) as the total
    order; cumulatives come from the bounded tile×tile triangular
    join (≤ n_buckets² rows); totals broadcast."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    from hadron_spark.operators.ops import range_rank

    ranked = range_rank(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(score_col).alias("_s"),
            F.col(token_col).cast("long").alias("_t"),
            F.col(quality_col).cast("long").alias("_q"),
        ),
        key=-F.col("_s").cast("double"),
        order=[F.col("_s").desc(), F.col("_id").asc()],
        ntile=n_buckets,
    )
    tiles = ranked.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").alias("tokens"),
        F.sum("_q").alias("quality"),
    )
    a, b = tiles.alias("a"), tiles.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.tile") <= F.col("a.tile"))
        .groupBy(
            F.col("a.tile").alias("tile"),
            F.col("a.n_docs").alias("n_docs"),
            F.col("a.tokens").alias("tokens"),
            F.col("a.quality").alias("quality"),
        )
        .agg(
            F.sum("b.tokens").alias("cum_tokens"),
            F.sum("b.quality").alias("cum_quality"),
        )
    )
    tot = tiles.agg(
        F.sum("tokens").alias("_T"), F.sum("quality").alias("_Q")
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.select(
        "tile",
        "n_docs",
        "tokens",
        "quality",
        "cum_tokens",
        "cum_quality",
        F.when(
            F.col("_T") > 0,
            F.col("cum_tokens").cast("double") / F.col("_T").cast("double"),
        ).alias("token_share"),
        F.when(
            F.col("_Q") > 0,
            F.col("cum_quality").cast("double") / F.col("_Q").cast("double"),
        ).alias("quality_capture"),
        F.when(
            (F.col("_Q") > 0) & (F.col("cum_tokens") > 0),
            (F.col("cum_quality") * F.col("_T")).cast("double")
            / (F.col("cum_tokens") * F.col("_Q")).cast("double"),
        ).alias("lift"),
    )


def mcnemar(
    df: DataFrame,
    pred_a_col: str,
    pred_b_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """McNemar's paired test per group (McNemar 1947) — the
    model-comparison significance check done RIGHT for paired
    predictions: two classifiers scored on the SAME rows are not
    independent samples (a two-proportion z overstates certainty),
    so the test looks only at the DISCORDANT pairs — b = rows A gets
    right and B wrong, c = the reverse — under H₀: b ≈ c.

        chi2    = (b − c)² / (b + c)
        chi2_cc = (|b − c| − 1)² / (b + c)   (Edwards continuity
                  correction, the form quoted in most comparisons;
                  0 when |b − c| ≤ 1)

    b and c are exact int64 counts and each statistic ONE IEEE
    division — hash-exact.  Zero discordant pairs (b + c = 0) yield
    NULL statistics (the models are indistinguishable on this data,
    not infinitely different — and ANSI would raise on the bare
    division).  One partial-agg'd shuffle onto |groups| rows.

    Rows where either prediction or the label is NULL are EXCLUDED up
    front (the spearman/kendall pairwise-complete convention): a NULL
    equality term would be skipped by the b/c/concordant sums while
    still counting in n, silently breaking n = n_concordant + b + c.
    Returns (group_cols..., n, n_concordant, b, c, chi2, chi2_cc)."""
    gc = list(group_cols or [])
    df = df.filter(
        F.col(pred_a_col).isNotNull()
        & F.col(pred_b_col).isNotNull()
        & F.col(label_col).isNotNull()
    )
    a_ok = (F.col(pred_a_col) == F.col(label_col)).cast("long")
    b_ok = (F.col(pred_b_col) == F.col(label_col)).cast("long")
    agg = df.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a_ok * b_ok + (1 - a_ok) * (1 - b_ok)).alias("n_concordant"),
        F.sum(a_ok * (1 - b_ok)).alias("b"),
        F.sum((1 - a_ok) * b_ok).alias("c"),
    )
    d = (F.col("b") - F.col("c")).cast("double")
    tot = (F.col("b") + F.col("c")).cast("double")
    cc = F.greatest(
        F.abs(F.col("b") - F.col("c")) - 1, F.lit(0)
    ).cast("double")
    return agg.select(
        *gc,
        "n",
        "n_concordant",
        "b",
        "c",
        F.when(F.col("b") + F.col("c") > 0, d * d / tot).alias("chi2"),
        F.when(F.col("b") + F.col("c") > 0, cc * cc / tot).alias("chi2_cc"),
    )


def pass_at_k(
    df: DataFrame,
    task_col: str,
    passed_col: str,
    ks: list[int],
    group_cols: list[str] | None = None,
    summarize: bool = False,
) -> DataFrame:
    """pass@k per task — the UNBIASED estimator of Chen et al. 2021
    (Codex, eq. 2): given n samples per task with c passing,

        pass@k = 1 − C(n−c, k)/C(n, k)

    — NOT the naive "fraction of tasks with a pass in the first k",
    which is biased low and sample-order-dependent.  The ratio is
    the Codex paper's own numerically-stable product form,
    Π_{i<k} (n−c−i)/(n−i), folded as k fixed-order multiply-divide
    steps over exact small-int casts — every intermediate ≤ 1, no
    big-integer cast anywhere (a falling-factorial DECIMAL→double
    cast is NOT correctly rounded in every engine — measured 1-ulp
    drift at n ≈ 660, k = 10), so the column is hash-exact with NO
    size bound on n.  k > n yields NULL (undefined — fewer samples
    than draws); c = 0 gives exactly 0.0, n − c < k exactly 1.0, by
    construction (a zero factor) rather than by clamping.

    With `summarize=True` the per-task rows collapse to the
    benchmark score: mean pass@k per k over tasks, summed via the
    task-sorted fold (the kruskal G2 discipline) so the mean is
    hash-exact too.

    Plan: one partial-agg'd shuffle onto tasks, a |ks|-way literal
    explode, scalar folds per output row; the summary adds one more
    shuffle onto |ks| rows.  Returns (group_cols..., task, n, c, k,
    pass_at_k) or, summarized, (group_cols..., k, n_tasks,
    mean_pass_at_k)."""
    if not ks or any(k < 1 for k in ks):
        raise ValueError(f"ks must be non-empty positive ints: {ks}")
    gc = list(group_cols or [])
    per_task = (
        df.filter(
            F.col(task_col).isNotNull() & F.col(passed_col).isNotNull()
        )
        .groupBy(*gc, F.col(task_col).alias("task"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(passed_col).cast("long")).alias("c"),
        )
    )
    ked = per_task.select(
        *gc,
        "task",
        "n",
        "c",
        F.explode(F.array(*[F.lit(int(k)) for k in sorted(set(ks))])).alias(
            "k"
        ),
    )

    ratio = F.aggregate(
        F.sequence(F.lit(0), F.col("k") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (F.col("n") - F.col("c") - i).cast("double")
        / (F.col("n") - i).cast("double"),
    )
    p = F.when(F.col("k") <= F.col("n"), F.lit(1.0) - ratio)
    out = ked.select(*gc, "task", "n", "c", "k", p.alias("pass_at_k"))
    if not summarize:
        return out
    agg = (
        out.filter(F.col("pass_at_k").isNotNull())
        .groupBy(*gc, "k")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.sort_array(
                F.collect_list(F.struct("task", "pass_at_k"))
            ).alias("_ta"),
        )
    )
    mean = (
        F.aggregate(
            F.col("_ta"),
            F.lit(0.0),
            lambda acc, x: acc + x["pass_at_k"],
        )
        / F.col("n_tasks").cast("double")
    )
    return agg.select(*gc, "k", "n_tasks", mean.alias("mean_pass_at_k"))


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
    max_raters: int = 16,
) -> DataFrame:
    """Krippendorff's alpha per group, NOMINAL metric (Krippendorff
    2004) — the annotation-agreement number that, unlike
    `cohens_kappa` (exactly 2 raters) and `fleiss_kappa` (complete
    rectangular design), is built for the real shape of labeling
    jobs: any number of raters per unit, missing ratings ignored per
    unit rather than dropping the unit.

    Computed EXACTLY: units with m_u ≥ 2 ratings contribute the
    within-unit disagreement A_u = Σ_c n_uc(m_u − n_uc) weighted
    1/(m_u − 1); multiplying through by L = lcm(1..max_raters−1)
    clears every denominator, so

        alpha = 1 − (n−1)·S_L / (L·Σ_c n_c(n − n_c)),

    with S_L = Σ_u A_u·L/(m_u − 1) — ALL integer terms (DECIMAL(38,0);
    with the default max_raters=16, L = 360360 and the bound is
    n < 10¹⁵ ratings) and ONE final division: hash-exact, no sorted
    fold needed.  Units with more than `max_raters` ratings RAISE
    (silently mis-weighting them is the page_trend bias class —
    widen the parameter instead; max_raters ≤ 42 keeps L in int64,
    ≤ 96 in decimal).

    Plan: one shuffle onto (unit, value) cells, one onto units, one
    onto values, all partial-agg'd; joins collapse onto |groups|
    rows.  Returns (group_cols..., n_units, n_ratings, alpha);
    all-one-category groups (zero expected disagreement) yield alpha
    NULL."""
    from math import lcm

    if not 2 <= max_raters <= 42:
        raise ValueError(f"max_raters must be in [2, 42]: {max_raters}")
    L = lcm(*range(1, max_raters))
    gc = list(group_cols or [])
    base = df.filter(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *gc, F.col(unit_col).alias("_u"), F.col(value_col).alias("_v")
    )
    cells = base.groupBy(*gc, "_u", "_v").agg(
        F.count(F.lit(1)).alias("_c")
    )
    units = cells.groupBy(*gc, "_u").agg(
        F.sum("_c").alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_c2"),
    )
    over = units.filter(F.col("_m") > max_raters)
    if over.limit(1).count() > 0:
        raise ValueError(
            f"a unit has more than max_raters={max_raters} ratings; "
            f"widen max_raters (<= 96)"
        )
    # A_u = Σ_c n_uc(m_u − n_uc) = m_u² − Σ n_uc²; the weight
    # L/(m_u−1) is an exact integer by construction of L, emitted
    # as a LITERAL per possible m (a double division of L would
    # round past 2^53; a decimal division would force a scale)
    usable = units.filter(F.col("_m") >= 2)
    weight = F.coalesce(
        *[
            F.when(
                F.col("_m") == m,
                F.lit(str(L // (m - 1))).cast("decimal(38,0)"),
            )
            for m in range(2, max_raters + 1)
        ]
    )
    s = usable.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("_m").alias("n_ratings"),
        F.sum(
            (F.col("_m") * F.col("_m") - F.col("_c2")).cast("decimal(38,0)")
            * weight
        ).alias("_sl"),
    )
    keep = usable.select(*gc, "_u")
    nc = (
        cells.join(keep, [*gc, "_u"])
        .groupBy(*gc, "_v")
        .agg(F.sum("_c").alias("_nc"))
    )
    d = nc.join(
        s.select(*gc, F.col("n_ratings").alias("_n")), gc
    ) if gc else nc.crossJoin(
        F.broadcast(s.select(F.col("n_ratings").alias("_n")))
    )
    d = d.groupBy(*gc).agg(
        F.sum(
            F.col("_nc").cast("decimal(38,0)")
            * (F.col("_n") - F.col("_nc")).cast("decimal(38,0)")
        ).alias("_d")
    )
    j = s.join(d, gc) if gc else s.crossJoin(F.broadcast(d))
    alpha = F.when(
        F.col("_d") > 0,
        F.lit(1.0)
        - (
            (F.col("n_ratings") - 1).cast("decimal(38,0)") * F.col("_sl")
        ).cast("double")
        / (F.lit(L).cast("decimal(38,0)") * F.col("_d")).cast("double"),
    )
    return j.select(*gc, "n_units", "n_ratings", alpha.alias("alpha"))


def reciprocal_rank_fusion(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    ranker_col: str,
    rank_col: str,
    k0: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) —
    the zero-training way to merge N retrieval runs (BM25 + dense
    ANN + recency, the standard RAG hybrid):

        score(q, d) = Σ_rankers 1/(k0 + rank_r(q, d))

    with the canonical k0 = 60.  Each term is ONE correctly-rounded
    IEEE division over exact integers; the per-document sum folds in
    RANKER-SORTED order (collect_list → sort_array → aggregate, the
    kruskal G2 discipline — the list is |rankers| long, a handful),
    so the fused score is hash-exact cross-engine.  Ties on score
    break by doc id — the output rank is a pinned total order.

    Plan: one partial-agg'd shuffle onto (query, doc) — the fold
    happens inside the agg, no join per ranker — then one
    query-partitioned window for the fused rank (frame bounded by
    per-query candidate count).  Returns (query_col, doc_col,
    n_rankers, score, fused_rank), optionally cut to top_n."""
    fused = (
        df.filter(
            F.col(query_col).isNotNull()
            & F.col(doc_col).isNotNull()
            & F.col(rank_col).isNotNull()
        )
        .groupBy(F.col(query_col), F.col(doc_col))
        .agg(
            F.count(F.lit(1)).alias("n_rankers"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ranker_col).alias("r"),
                        F.col(rank_col).cast("long").alias("rk"),
                    )
                )
            ).alias("_rr"),
        )
        .withColumn(
            "score",
            F.aggregate(
                F.col("_rr"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.lit(1.0) / (F.lit(float(k0)) + x["rk"].cast("double")),
            ),
        )
        .drop("_rr")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("score").desc(), F.col(doc_col)
    )
    out = fused.withColumn("fused_rank", F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col("fused_rank") <= top_n)
    return out


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Isotonic-regression calibration map per group (pool-adjacent
    -violators; Zadrozny & Elkan 2002 for the classifier use) — the
    nonparametric step between `calibration_bins`' diagnosis and a
    fixed model: the monotone function closest (L2) to the
    empirical per-score pass rates.  Fit via the MINIMAX identity
    (Robertson/Wright/Dykstra 1988, eq. 1.9–1.13)

        ŷ_k = max_{i ≤ k} min_{j ≥ k} avg(y on scores i..j)

    which needs no sequential pooling loop: every block average is
    (Py_j − Py_{i−1})/(Pw_j − Pw_{i−1}) — ONE division of exact
    int64 prefix sums — and the min/max are order-free aggregates,
    so the whole fit is window algebra on the DISTINCT-SCORE spine
    (the _score_spine contract: |spine| bounded by quantization,
    pair frame |spine|²/2 — never label rows) and hash-exact
    cross-engine.  The textbook identity uses min over j ≥ i inside
    max over i ≤ k; on doubles both engines compute identical
    division results, so argmin ties cannot diverge the VALUE.

    Returns (group_cols..., score, n, pos, rate, calibrated) — one
    row per distinct score, `calibrated` non-decreasing in score
    (the lookup table to join against new scores)."""
    from pyspark.sql import Window

    gc = list(group_cols or [])
    spine = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(*gc, F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).alias("_w"),
            F.sum(F.col(label_col).cast("long")).alias("_y"),
        )
    )
    w_ord = (
        Window.partitionBy(*(gc or [F.lit(1)]))
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = spine.select(
        *gc,
        "_s",
        "_w",
        "_y",
        F.sum("_w").over(w_ord).alias("_pw"),
        F.sum("_y").over(w_ord).alias("_py"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    cond = F.col("a._s") <= F.col("b._s")
    for g in gc:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    # block average over scores a.._s .. b._s (inclusive): prefix
    # diffs; a's EXCLUSIVE prefix = pw − w
    num = (F.col("b._py") - (F.col("a._py") - F.col("a._y"))).cast(
        "double"
    )
    den = (F.col("b._pw") - (F.col("a._pw") - F.col("a._w"))).cast(
        "double"
    )
    blocks = a.join(b, cond).select(
        *[F.col(f"a.{g}").alias(g) for g in gc],
        F.col("a._s").alias("_i"),
        F.col("b._s").alias("_j"),
        (num / den).alias("_avg"),
    )
    # m(i, k) = min over j >= k of avg(i..j): for each start i, a
    # suffix min over j — then y(k) = max over i <= k of m(i, k).
    # Two passes of window algebra on the pair frame:
    w_suffix = (
        Window.partitionBy(*gc, "_i")
        .orderBy(F.col("_j").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suff = blocks.withColumn("_m", F.min("_avg").over(w_suffix))
    # row (i, k) now carries min_{j >= k} avg(i..j); keep pairs with
    # i <= k (already the frame) and take max over i per k
    fitted = suff.groupBy(*gc, F.col("_j").alias("_s")).agg(
        F.max("_m").alias("calibrated")
    )
    out = pre.join(fitted, [*gc, "_s"])
    return out.select(
        *gc,
        F.col("_s").alias("score"),
        F.col("_w").alias("n"),
        F.col("_y").alias("pos"),
        (F.col("_y").cast("double") / F.col("_w").cast("double")).alias(
            "rate"
        ),
        "calibrated",
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    score_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cronbach's alpha per group (Cronbach 1951) — internal
    consistency of a k-item instrument: do an eval suite's items
    pull in the same direction, or is the "overall score" averaging
    noise?  The reliability gate before trusting a composite metric
    (rubric-scored generations, multi-probe benchmarks):

        α = k/(k−1) · (1 − Σᵢ s²ᵢ / s²_total)

    with s²ᵢ the per-item variance over subjects and s²_total the
    variance of per-subject TOTAL scores.  Subjects missing any
    item are dropped whole (complete-design, the fleiss/cochran_q
    discipline).  With quantized integer scores every variance
    numerator n·Σx² − (Σx)² is an exact DECIMAL(38,0) integer and
    the per-item Σ folds item-sorted (the kruskal G2 discipline):
    α is a fixed IEEE chain — hash-exact.  Degenerate designs
    (k < 2, n < 2, zero total variance) yield alpha NULL.

    Plan: one shuffle onto (subject, item) cells, one onto
    subjects, one onto items, all partial-agg'd.  Returns
    (group_cols..., k, n_subjects, alpha)."""
    gc = list(group_cols or [])
    base = df.filter(
        F.col(subject_col).isNotNull()
        & F.col(item_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        *gc,
        F.col(subject_col).alias("_u"),
        F.col(item_col).alias("_i"),
        F.col(score_col).cast("long").alias("_x"),
    )
    k_df = base.groupBy(*gc).agg(F.countDistinct("_i").alias("k"))
    per_subj = base.groupBy(*gc, "_u").agg(
        F.count(F.lit(1)).alias("_m"), F.sum("_x").alias("_tot")
    )
    complete = (
        per_subj.join(k_df, gc)
        if gc
        else per_subj.crossJoin(F.broadcast(k_df))
    ).filter(F.col("_m") == F.col("k"))
    n_tot = complete.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_subjects"),
        F.sum("_tot").alias("_ts"),
        F.sum(
            F.col("_tot").cast("decimal(38,0)") * F.col("_tot")
        ).alias("_tq"),
    )
    kept = complete.select(*gc, "_u")
    items = (
        base.join(kept, [*gc, "_u"])
        .groupBy(*gc, "_i")
        .agg(
            F.sum("_x").alias("_s"),
            F.sum(
                F.col("_x").cast("decimal(38,0)") * F.col("_x")
            ).alias("_q"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    # per-item variance numerator n·Σx² − (Σx)² shares the n across
    # items (complete design); fold item-sorted for the float sum
    ivars = items.groupBy(*gc).agg(
        F.sort_array(
            F.collect_list(F.struct("_i", "_s", "_q", "_n"))
        ).alias("_ia")
    )
    j = n_tot.join(ivars, gc) if gc else n_tot.crossJoin(
        F.broadcast(ivars)
    )
    j = j.join(k_df, gc) if gc else j.crossJoin(F.broadcast(k_df))
    nd = F.col("n_subjects").cast("double")
    sum_ivar = F.aggregate(
        F.col("_ia"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            x["_n"].cast("decimal(38,0)") * x["_q"]
            - x["_s"].cast("decimal(38,0)") * x["_s"]
        ).cast("double"),
    )
    tot_var_num = (
        F.col("n_subjects").cast("decimal(38,0)") * F.col("_tq")
        - F.col("_ts").cast("decimal(38,0)") * F.col("_ts")
    ).cast("double")
    kd = F.col("k").cast("double")
    alpha = F.when(
        (F.col("k") >= 2) & (F.col("n_subjects") >= 2) & (tot_var_num > 0),
        kd / (kd - 1) * (F.lit(1.0) - sum_ivar / tot_var_num),
    )
    return j.select(*gc, "k", "n_subjects", alpha.alias("alpha"))


def icc_oneway(
    df: DataFrame,
    subject_col: str,
    score_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """One-way random-effects intraclass correlation per group —
    ICC(1,1) of Shrout & Fleiss 1979: how much of a CONTINUOUS
    rating's variance is the subject rather than the rater draw
    (the graded-score companion to `krippendorff_alpha`'s
    categorical agreement; each subject may have any number ≥ 2 of
    ratings — raters need not be identified):

        ICC = (MSB − MSW) / (MSB + (k̄₀ − 1)·MSW)

    with MSB/MSW the between/within mean squares and k̄₀ the
    ANOVA-balanced average group size n₀ = (N − Σkᵢ²/N)/(n − 1).
    Sums of squares are exact rationals over quantized scores:
    SSW·N = Σᵢ (kᵢΣx² − (Σx)²)·(N/kᵢ)... kept exact by computing
    per-subject (kᵢΣᵢx² − (Σᵢx)²)/kᵢ terms as ONE division each,
    folded subject-sorted (the kruskal G2 discipline); everything
    else is exact integers.  Hash-exact.  Degenerate designs
    (n < 2 subjects, all singleton subjects, zero variance) yield
    icc NULL.

    Plan: one shuffle onto subjects, one collapse.  Returns
    (group_cols..., n_subjects, n_ratings, icc)."""
    gc = list(group_cols or [])
    base = df.filter(
        F.col(subject_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        *gc,
        F.col(subject_col).alias("_u"),
        F.col(score_col).cast("long").alias("_x"),
    )
    subj = base.groupBy(*gc, "_u").agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_x").alias("_s"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("_q"),
    )
    subj = subj.filter(F.col("_k") >= 2)
    agg = subj.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n_subjects"),
        F.sum("_k").alias("n_ratings"),
        F.sum("_s").alias("_ts"),
        F.sum("_q").alias("_tq"),
        F.sum(F.col("_k").cast("decimal(38,0)") * F.col("_k")).alias(
            "_k2"
        ),
        F.sort_array(
            F.collect_list(F.struct("_u", "_k", "_s", "_q"))
        ).alias("_ua"),
    )
    agg = agg.filter(F.col("n_subjects") > 0)
    nn = F.col("n_ratings").cast("double")
    n = F.col("n_subjects").cast("double")
    # SSW = Σ_i (Σx² − (Σx)²/kᵢ): per-subject one-division terms,
    # subject-sorted fold
    ssw = F.aggregate(
        F.col("_ua"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            x["_q"].cast("double")
            - x["_s"].cast("double")
            * x["_s"].cast("double")
            / x["_k"].cast("double")
        ),
    )
    # SST = Σx² − (Σx)²/N ; SSB = SST − SSW
    sst = F.col("_tq").cast("double") - F.col("_ts").cast(
        "double"
    ) * F.col("_ts").cast("double") / nn
    msb = (sst - ssw) / (n - 1)
    msw = ssw / (nn - n)
    k0 = (nn - F.col("_k2").cast("double") / nn) / (n - 1)
    icc = F.when(
        (F.col("n_subjects") >= 2)
        & (F.col("n_ratings") > F.col("n_subjects"))
        & ((msb + (k0 - 1) * msw) > 0),
        (msb - msw) / (msb + (k0 - 1) * msw),
    )
    return agg.select(*gc, "n_subjects", "n_ratings", icc.alias("icc"))
