"""Counters/observability (M7 performEvery, C10 reporter counters) and
skew-handling utilities."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadron_spark.operators.mapreduce import counter
from hadron_spark.operators.ops import salted_agg, salted_join
from hadron_spark.sources.taps import Tap, tap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_counter_observes_metrics(spark, sf_dir):
    # reference counters go to stderr as 'reporter:counter:...'
    # (Basic.hs:95-119); here they ride the action via observe() —
    # zero extra passes, metrics readable after the action
    from pyspark.sql import Observation

    li = tap(f"{sf_dir}/lineitem.parquet").read(spark)
    n = li.count()
    obs = Observation("li_obs")
    li.observe(obs, F.count(F.lit(1)).alias("rows")).count()
    assert obs.get["rows"] == n
    # the string-named counter() wrapper must not change results
    observed = counter(
        li, "li_metrics", F.count(F.lit(1)).alias("rows"), F.sum("l_quantity").alias("qty")
    )
    assert observed.count() == n


def test_salted_agg_matches_plain(spark, sf_dir):
    li = tap(f"{sf_dir}/lineitem.parquet").read(spark)
    plain = {
        r["l_returnflag"]: (r["n"], round(r["q"], 4))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("q"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["n"], round(r["q"], 4))
        for r in salted_agg(
            li,
            ["l_returnflag"],
            partial_aggs=[
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q"),
            ],
            final_aggs=[
                F.sum("_n").alias("n"),
                F.sum("_q").cast("double").alias("q"),
            ],
            salt_buckets=8,
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark, sf_dir):
    orders = tap(f"{sf_dir}/orders.parquet").read(spark).select("o_orderkey", "o_custkey")
    cust = tap(f"{sf_dir}/customer.parquet").read(spark).select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, "o_custkey").count()
    assert salted_join(orders, cust, ["o_custkey"], salt_buckets=4).count() == plain


def test_compression_option_roundtrip(spark, sf_dir, tmp_path):
    # O5 mroCompress/gzipCodec → writer compression option
    src = tap(f"{sf_dir}/nation.parquet").read(spark)
    out = Tap(
        [str(tmp_path / "nation_gz_csv")],
        "csv",
        options={"header": "true", "compression": "gzip"},
    )
    out.write(src, mode="overwrite")
    import glob

    assert glob.glob(str(tmp_path / "nation_gz_csv" / "*.csv.gz"))
    assert out.read(spark).count() == 25


def test_partition_stats_counts_every_row(spark, sf_dir):
    from hadron_spark.operators import ops
    from hadron_spark.sources.taps import tap

    o = tap(f"{sf_dir}/orders.parquet").read(spark).repartition(8)
    st = ops.partition_stats(o).collect()
    assert sum(r["n_rows"] for r in st) == o.count()
    assert len(st) <= 8


def _bench_scale(monkeypatch, sf: str, cpus: int) -> None:
    """Make bench.run_scale() read (sf, cpus) for this test."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", f"/data/{sf}")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))


def test_bench_regression_verdicts_match_sf_and_cpus(tmp_path, monkeypatch):
    """The prior is the newest BENCH_r*.json recorded at this run's sf
    AND cpus — a newer recording at another scale is skipped, and a
    run with no same-scale prior gets no verdicts at all."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    prior = {"qa": 1.0, "qb": 2.0, "qc": 0.5}
    for name, sf, cpus in (("BENCH_r06.json", 0.001, 2),
                           ("BENCH_r07.json", 0.1, 2),
                           ("BENCH_r08.json", 0.1, 32)):
        (tmp_path / name).write_text(json.dumps(
            {"sf": sf, "cpus": cpus, "parsed": {"queries": prior}}
        ))
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    _bench_scale(monkeypatch, "sf0.001", 2)
    assert bench.regression_verdicts(prior)["prior_bench"] == "BENCH_r06.json"
    _bench_scale(monkeypatch, "sf0.1", 2)
    assert bench.regression_verdicts(prior)["prior_bench"] == "BENCH_r07.json"
    _bench_scale(monkeypatch, "sf0.01", 2)
    assert bench.regression_verdicts(prior) == {}
    _bench_scale(monkeypatch, "sf0.1", 8)
    assert bench.regression_verdicts(prior) == {}


def test_bench_regression_verdicts(tmp_path, monkeypatch):
    """The machine like-for-like gate: uniform machine jitter is
    absorbed by the median ratio; a true per-query regression is
    flagged with its normalized ratio; a clean run flags nothing."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    prior = {"qa": 1.0, "qb": 2.0, "qc": 0.5, "qd": 4.0}
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"sf": 0.1, "cpus": 4, "parsed": {"queries": prior}})
    )
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda p: str(tmp_path)
    )
    _bench_scale(monkeypatch, "sf0.1", 4)
    cur = {q: v * 1.2 for q, v in prior.items()}
    cur["qb"] = prior["qb"] * 2.4  # 2x after normalization
    v = bench.regression_verdicts(cur)
    assert v["prior_bench"] == "BENCH_r07.json"
    assert v["median_ratio"] == 1.2
    assert list(v["regressions"]) == ["qb"]
    assert v["regressions"]["qb"]["normalized"] == 2.0
    clean = bench.regression_verdicts({q: v * 1.3 for q, v in prior.items()})
    assert clean["regressions"] == {}


def test_bench_regression_verdicts_tail_recovery(tmp_path, monkeypatch):
    """Driver-recorded BENCH_r*.json (r6+) carries parsed=null and the
    bench JSON line inside a front-TRUNCATED "tail" log string; the
    gate must recover the float-valued query cells pairwise (dropping
    the cut-off first cell) and ignore the regressions block, whose
    q-name keys map to objects."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    tail = (
        'opk": 0.2, "q1_a": 1.0, "q2_b": 2.0, "q3_c": 0.5, "q4_d": 4.0}, '
        '"sf": 0.1, "regressions": {"q2_b": {"prior": 1.0, "sec": 2.0, '
        '"ratio": 2.0, "normalized": 1.8}}}\n'
    )
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"sf": 0.1, "cpus": 4, "parsed": None, "tail": tail})
    )
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    _bench_scale(monkeypatch, "sf0.1", 4)
    cur = {"q1_a": 1.0, "q2_b": 4.0, "q3_c": 0.5, "q4_d": 4.0}
    v = bench.regression_verdicts(cur)
    assert v["median_ratio"] == 1.0
    assert list(v["regressions"]) == ["q2_b"]
    # the regressions block's own "sec": 2.0 must NOT have shadowed
    # the queries-dict cell (both are 2.0 here by construction, but
    # the prior recorded must be the queries value)
    assert v["regressions"]["q2_b"]["prior"] == 2.0


def test_bench_tail_recovery_anchors_last_queries_block(tmp_path, monkeypatch):
    """A tail holding TWO appended bench lines must recover the newest
    run's cells — the parser anchors at the last '"queries": {' marker
    instead of letting whichever duplicate key the regex met last win
    (ADVICE r07, fixed r08)."""
    import json
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    tail = (
        '{"metric": "m", "value": 9.0, "queries": {"q1_a": 9.0, "q2_b": 9.0, "q3_c": 9.0}, "sf": 0.1}\n'
        '{"metric": "m", "value": 3.0, "queries": {"q1_a": 1.0, "q2_b": 2.0, "q3_c": 0.5}, "sf": 0.1}\n'
    )
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"sf": 0.1, "cpus": 4, "parsed": None, "tail": tail})
    )
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    _bench_scale(monkeypatch, "sf0.1", 4)
    cur = {"q1_a": 1.0, "q2_b": 2.0, "q3_c": 0.5}
    v = bench.regression_verdicts(cur)
    # priors come from the SECOND (newest) line: ratios are all 1.0
    assert v["median_ratio"] == 1.0
    assert v["regressions"] == {}


def test_bench_time_cells_times_and_releases_pins(spark, sf_dir):
    """bench's one timing loop: q27, which pins its hash table, times
    to a positive float and leaves no persistent RDD behind."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench

    got = bench.time_cells(spark, ["q27_simhash_pairs"], sf_dir)
    assert list(got) == ["q27_simhash_pairs"]
    assert isinstance(got["q27_simhash_pairs"], float)
    assert got["q27_simhash_pairs"] > 0
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_bench_ab_side_run_times_the_side_tree(tmp_path):
    """An A/B side runs this tree's `bench.py --only` against the
    SIDE's hadron_spark: a fake side whose registry holds a query this
    tree lacks gets that query timed (no JVM — its session is a mock)."""
    import sys

    sys.path.insert(0, REPO_ROOT)
    import bench
    from hadron_spark.queries import QUERIES

    assert "q_side_only" not in QUERIES
    pkg = tmp_path / "side" / "hadron_spark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text(
        "from unittest.mock import MagicMock\n\n\n"
        "def get_spark(app_name):\n"
        "    return MagicMock()\n"
    )
    (pkg / "queries.py").write_text(
        "import time\n"
        "from unittest.mock import MagicMock\n\n\n"
        "def q_side_only(spark, sf_dir):\n"
        "    time.sleep(0.01)\n"
        "    return MagicMock()\n\n\n"
        "QUERIES = {'q_side_only': q_side_only}\n"
    )
    got = bench._ab_side_run(str(pkg.parent), str(tmp_path), ["q_side_only"])
    assert list(got) == ["q_side_only"]
    assert got["q_side_only"] >= 0.01
