"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is timed end-to-end (plan + execute + collect-to-count) —
a foreachPartition-style count() action so results are materialized
but never shipped to the driver.

    python bench.py                       # HEADLINE set, verdicts, A/B
    python bench.py --only q01_x q27_y    # {"queries": {...}} only
    python bench.py --adjudicate q01_x    # A/B vs the sealed commit

Every mode times through the one loop, `time_cells`.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# headline set: aggregation core, joins, windows, custom streaming
# reducer, and the LLM ops — the queries whose plans matter at scale.
HEADLINE = [
    "q01_pricing_summary",
    "q02_wordcount",
    "q04_topk_orders",
    "q06_first_order_per_customer",
    "q07_join_nway_revenue",
    "q08_join_optional_fill",
    "q09_broadcast_region_rollup",
    "q14_rollup",
    "q15_window_lag",
    "q16_sessionize",
    "q17_sessionize_stream",
    "q18_json_extract",
    "q20_asof_join",
    "q21_dedup_exact",
    "q22_token_counts",
    "q25_ann_bruteforce",
    "q26_minhash_pairs",
    "q27_simhash_pairs",
    "q28_lsh_topk",
    "q31_stream_window",
    "q33_cube",
    "q36_jaccard_pairs",
    "q37_doc_frequency",
    "q40_quantiles",
    "q48_hash_split",
    "q51_quality_rules",
    "q52_contamination",
    # round-1 late additions (BASELINE.md records the set change)
    "q61_tfidf_topk",
    "q66_collocations",
    "q68_fuzzy_pairs",
    "q70_incremental_rollup",
    # third-session additions (set change #2, BASELINE.md): the
    # streak/sweep/capstone trio exercises window-reuse, the
    # partitioned interval sweep, and the fused 5-stage pipeline
    "q91_order_streaks",
    "q92_max_concurrency",
    "q100_corpus_prep",
    # set change #3 (round-1 close, BASELINE.md): the invisible-
    # optimization tier (bloom pre-filter, CMS-screened exact
    # frequents), the broadcast-moments statistics shape, and the
    # densify+LOCF fill
    "q119_zscore_outliers",
    "q121_locf_resample",
    "q129_bloom_prefilter_join",
    "q136_sketch_guided_frequent",
    # set change #4 (round 2, BASELINE.md): the banded-prefix-sum
    # sequence packer and the Arrow-batched exact Gram pass — the
    # two new training-pipeline primitives whose plans matter at
    # corpus scale
    "q183_pack_sequences",
    "q185_gram_matrix",
    # set change #5 (round 3, BASELINE.md): model-based quality
    # scoring (narrow, exp-free) and corpus-level exact-substring
    # dedup — the two new oracle-backed training-data primitives
    "q204_quality_classifier",
    "q208_repeated_spans",
    # set change #6 (round 4, BASELINE.md / VERDICT r3 #6): the
    # curation tier's heavy hitters — whole-string substring dedup
    # (the code most likely to change: materialize modes), domain
    # discovery (the heaviest registry entry: iterative k-means),
    # and the new CCNet perplexity scorer at its hashed 100 TB shape
    "q209_exact_substring_dedup",
    "q220_domain_discovery",
    "q223_perplexity_scores",
    # set change #7 (round 4 late, BASELINE.md): the two new
    # join-heavy exact ops — degree-ordered triangle counting (wedge
    # self-join) and lossless prefix-filtered set-similarity join
    "q245_triangle_count",
    "q246_set_similarity_exact",
    "q290_wordpiece_encode",
    "q288_interval_join",
    # set change #9 (round 5, BASELINE.md): the no-equi-key banded
    # range join and the token-budget gains curve (range_rank ntile)
    "q302_bucketize_range_join",
    "q304_token_budget_curve",
    # set change #10 (round 6, BASELINE.md / VERDICT r5 #8): the
    # inferential-stats and filter tiers get regression coverage —
    # the window-heavy friedman cell and the blockword broadcast
    # gate are the cells most likely to regress silently
    "q311_blockword_filter",
    "q312_friedman",
    # set change #11 (round 7, BASELINE.md): the time-series/eval
    # tier — the kendall-grid pair join behind mann_kendall and the
    # per-series all-integer CUSUM argmax; both are cell-bounded
    # shapes whose plans would degrade silently if the quantization
    # contract regressed
    "q328_mann_kendall",
    "q336_cusum_changepoint",
]


def release_pins(spark) -> None:
    """Blocking-unpersist every leftover persistent RDD (eager
    localCheckpoint pins from ops.pin).  The
    ContextCleaner releases these asynchronously AFTER the owning
    plan is garbage — too late for back-to-back bench cells, where a
    prior query's pinned corpus table sits in the unified memory
    region and forces the NEXT query's joins to spill (measured:
    q245 9.9 s after q208/q209's pins vs 5.8 s clean — a 1.7x
    phantom regression on an untouched query).  Runs only in the
    UNTIMED gap between cells: every timed iteration still computes
    from parquet; this removes cross-query state, it never adds any.

    Lives here, not in hadron_spark, because the A/B side imports a
    sealed hadron_spark that may predate any helper added there.  No
    try/except: a release that silently no-ops (it once did, on a
    `.iterator()` call the py4j map does not have) is a bench that
    measures the previous cell's pins."""
    # py4j wraps the java.util.Map as a Python MutableMapping, so
    # .values() is a plain Python ValuesView — iterate it directly
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def main(only: list[str] | None = None) -> None:
    """The HEADLINE bench; with `only`, time just those cells and print
    {"queries": {...}} — no verdicts, no adjudication."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hadron_spark import get_spark

    spark = get_spark("hadron_spark_bench")
    timings = time_cells(spark, only or HEADLINE, sf_dir)
    if only:
        spark.stop()
        print(json.dumps({"queries": timings}))
        return
    total = round(sum(timings.values()), 3)
    # Field ORDER is load-bearing (optimization r08, VERDICT r07 #2):
    # the round driver records the END of stdout, so a too-long line
    # is truncated at the FRONT — r6's recording lost metric/value and
    # parsed as null.  The scalar summary comes first, the per-query
    # dict goes LAST (a front-truncated line still keeps every cell
    # for the pairwise recovery parser), and the fat regressions/
    # adjudication detail moves OFF the line into a sidecar file —
    # that detail is what outgrew the tail buffer in the first place.
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": run_scale()[0],
    }
    verdicts = regression_verdicts(timings)
    regs = verdicts.pop("regressions", {})
    out.update(verdicts)  # prior_bench, median_ratio
    out["n_regressions"] = len(regs)
    # the main session must be DOWN before adjudication subprocesses
    # spin their own (two live local[32] JVMs contend and the A/B is
    # garbage — the documented never-bench-while-busy rule)
    spark.stop()
    if regs and os.environ.get("SPARK_GRAFT_NO_ADJUDICATE") != "1":
        names = sorted(regs)[:8]
        try:
            for q, v in adjudicate(names, sf_dir).items():
                regs[q].update(v)
        except Exception as e:  # noqa: BLE001 — adjudication is advisory
            out["adjudication_error"] = str(e)[-300:]
    if regs:
        side = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_regressions.json",
        )
        with open(side, "w") as f:
            json.dump({"prior_bench": out.get("prior_bench"),
                       "regressions": regs}, f, indent=1)
        out["regressions_file"] = os.path.basename(side)
    out["queries"] = timings
    print(json.dumps(out))


def time_cells(spark, names: list[str], sf_dir: str) -> dict[str, float]:
    """{name: seconds} for registry queries `names` at `sf_dir` — the
    one timing loop behind every bench mode.

    Warm-up: one full UNTIMED pass over `names` at the measured SF
    (JMH iteration 0), so codegen compilation and JIT are not billed
    to the timed pass; the SF must match because AQE picks different
    strategies (broadcast vs SMJ) at different sizes.  A cell that
    raises stops the run here, named.

    Timed: per cell, the min of two `noop` writes (single shots carry
    2-3x GC/recompile spikes), then an untimed release + full GC.  GC
    sits BETWEEN cells, never between the two iterations: a full GC
    unloads generated classes, forcing a Janino recompile into
    iteration 2 (measured +0.35 s), while no GC at all lets earlier
    cells' garbage land organic full GCs in both iterations (+2 s).
    Iteration 1 eats the recompile, iteration 2 runs on a clean heap."""
    from hadron_spark.queries import QUERIES

    def run(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    for name in names:
        try:
            run(name)
        except Exception as exc:
            raise RuntimeError(f"bench warm-up failed on {name}") from exc
    spark.catalog.clearCache()  # drop warm-up persists; keep JIT/codegen
    release_pins(spark)  # drop warm-up pins too
    # settle so warm-up garbage isn't collected inside the first cell
    spark._jvm.System.gc()
    time.sleep(1.0)

    timings: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            run(name)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        release_pins(spark)  # untimed: clear pins before the next cell
        spark._jvm.System.gc()
    return timings


def run_scale() -> tuple:
    """(sf, cpus) of this run — the two scale fields the driver records
    at the top of every BENCH_r*.json."""
    from hadron_spark.session import _default_parallelism

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    return sf, _default_parallelism()


def regression_verdicts(
    timings: dict[str, float], threshold: float = 1.5
) -> dict:
    """Machine like-for-like gate (VERDICT r4 #6): compare this run's
    common-subset cells against the newest recorded BENCH_r*.json of
    the SAME scale (top-level `sf` and `cpus` equal to `run_scale()`;
    with no such prior the result is `{}`), NORMALIZE by the median
    per-query ratio — the median absorbs the VM's documented
    1.1–1.25× whole-machine jitter, so what remains is per-query
    drift — and flag any cell whose normalized ratio
    exceeds `threshold` (q100's r4 2.86× would have been machine-
    flagged).  Returns extra JSON fields: `prior_bench`,
    `median_ratio`, and `regressions` {query: {prior, sec, ratio,
    normalized}} (empty dict = clean).  Advisory by design — the
    driver contract is ONE JSON line with the timings; the verdict
    fields ride along rather than failing the run."""
    import glob
    import re
    import statistics

    here = os.path.dirname(os.path.abspath(__file__))
    benches = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    scale = run_scale()
    for prior_path in reversed(benches):
        with open(prior_path) as f:
            raw = json.load(f)
        if (raw.get("sf"), raw.get("cpus")) == scale:
            break
    else:
        return {}
    try:
        src = raw.get("parsed") or raw
        if "queries" not in src and isinstance(raw.get("tail"), str):
            # driver-recorded BENCH_r*.json (r6+) wraps the bench's
            # JSON line inside a "tail" log string with parsed=null,
            # and the tail may be TRUNCATED at the front (mid-line) —
            # recover the per-query cells pairwise.  Only the queries
            # dict maps q-names to bare floats (the trailing
            # `regressions` block maps them to objects), so the
            # float-valued pattern is unambiguous; a front-truncated
            # first cell simply drops out of the common subset.
            # Anchored (r08, ADVICE r07): if the tail carries any
            # intact '"queries": {' marker (e.g. two appended bench
            # lines), parse only from the LAST one so the newest
            # run's cells win instead of whichever duplicate the
            # regex met last; a front-truncated tail with no marker
            # falls back to the whole string as before.
            hay = raw["tail"]
            marker = hay.rfind('"queries": {')
            if marker >= 0:
                hay = hay[marker:]
            cells = {
                name: float(val)
                for name, val in re.findall(
                    r'"(q\w+)":\s*([0-9][0-9.eE+-]*)[,}]', hay
                )
            }
            if cells:
                src = {"queries": cells}
        prior = src["queries"]
    except Exception:
        return {"prior_bench": os.path.basename(prior_path), "regressions": {}}
    common = {
        q: (timings[q], prior[q])
        for q in timings
        if q in prior and prior[q] > 0
    }
    if len(common) < 3:
        return {"prior_bench": os.path.basename(prior_path), "regressions": {}}
    ratios = {q: cur / old for q, (cur, old) in common.items()}
    med = statistics.median(ratios.values())
    regressions = {
        q: {
            "prior": common[q][1],
            "sec": common[q][0],
            "ratio": round(r, 3),
            "normalized": round(r / med, 3),
        }
        for q, r in ratios.items()
        if med > 0 and r / med > threshold
    }
    return {
        "prior_bench": os.path.basename(prior_path),
        "median_ratio": round(med, 3),
        "regressions": regressions,
    }


def _ab_side_run(side_dir: str, sf_dir: str, names: list[str]) -> dict:
    """One timing side of the A/B: THIS tree's `bench.py --only` in a
    subprocess (fresh JVM) that imports `side_dir`'s hadron_spark.
    `-P` keeps this script's own directory off `sys.path`, so the
    side's root, first on PYTHONPATH, is what `import hadron_spark`
    resolves to — a sealed tree's own bench.py may lack `--only`."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    env["PYTHONPATH"] = os.pathsep.join(
        filter(None, [side_dir, env.get("PYTHONPATH")])
    )
    p = subprocess.run(
        [sys.executable, "-P", os.path.abspath(__file__), "--only", *names],
        cwd=side_dir,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if p.returncode != 0:
        raise RuntimeError(
            f"A/B side run failed in {side_dir}: {p.stderr[-2000:]}"
        )
    return json.loads(p.stdout.splitlines()[-1])["queries"]


def adjudicate(
    names: list[str],
    sf_dir: str,
    pairs: int = 2,
    code_threshold: float = 1.3,
) -> dict:
    """Automatic box-vs-code adjudication of flagged bench cells
    (VERDICT r6 #8): the manual BASELINE.md A/B ritual, wired in.

    The box drifts up to ~1.4× intra-day, so a cell that regressed
    against a PRIOR-DAY recording proves nothing about the code.  The
    discriminating experiment is like-for-like and INTERLEAVED: extract
    the previous sealed commit (the one that added the newest
    BENCH_r*.json — the exact code those cells were recorded on) with
    `git archive` into a temp dir (a worktree would register itself
    in `.git`, and a killed run would leave it there), then alternate
    old-code / new-code subprocess timings of the flagged queries on
    TODAY's box, old→new→old→new.  Interleaving cancels slow machine drift; min
    over a side's runs drops GC/compile spikes.  ratio = new_min /
    old_min; > `code_threshold` (1.3, inside the drift band every
    manual adjudication used) stamps `adjudicated: "code"` — a real
    regression — else `"box"`.  Each side runs in its own subprocess
    (fresh JVM, own mkdtemp staging — streaming cells don't collide)
    with the caller's Spark session already stopped.  Advisory: the
    fields ride on the regression entries; errors never fail the
    bench run."""
    import glob
    import re
    import shutil
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    benches = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    if not benches:
        return {}
    sealed = os.path.basename(benches[-1])
    commit = subprocess.run(
        ["git", "log", "--diff-filter=A", "--format=%H", "-n", "1",
         "--", sealed],
        cwd=here,
        capture_output=True,
        text=True,
    ).stdout.strip()
    if not commit:
        return {}
    root = tempfile.mkdtemp(prefix="hadron_ab_")
    wt = os.path.join(root, "wt")
    try:
        os.mkdir(wt)
        tar = os.path.join(root, "sealed.tar")
        subprocess.run(["git", "archive", "-o", tar, commit], cwd=here,
                       check=True, capture_output=True)
        subprocess.run(["tar", "-xf", tar, "-C", wt], check=True,
                       capture_output=True)
        old_best: dict[str, float] = {}
        new_best: dict[str, float] = {}
        for _ in range(pairs):
            for side_dir, best in ((wt, old_best), (here, new_best)):
                for q, v in _ab_side_run(side_dir, sf_dir, names).items():
                    best[q] = min(best.get(q, float("inf")), v)
        out = {}
        for q in names:
            r = new_best[q] / old_best[q]
            out[q] = {
                "ab_old": old_best[q],
                "ab_new": new_best[q],
                "ab_ratio": round(r, 3),
                "adjudicated": "code" if r > code_threshold else "box",
                "ab_commit": commit[:12],
            }
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--adjudicate":
        _sf_dir = os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
        print(json.dumps(adjudicate(sys.argv[2:], _sf_dir)))
    elif len(sys.argv) > 2 and sys.argv[1] == "--only":
        main(sys.argv[2:])
    else:
        main()
