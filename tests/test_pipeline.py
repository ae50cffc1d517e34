"""Pipeline/Controller runner (SURVEY §2.10: C1-C10) — replicates the
reference's 3-stage WordCountLocal DAG (examples/WordCountLocal.hs:86-92:
word frequency → total count → map-only transform)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadron_spark.pipeline import RS_FAIL, RS_RERUN, RS_SKIP, Pipeline
from hadron_spark.sources.taps import Tap, tap


def _wordcount_pipeline(spark, sf_dir, workdir, rerun):
    pipe = Pipeline(spark, rerun=rerun, workdir=str(workdir))
    docs = tap(f"{sf_dir}/documents.parquet")

    def words(df):
        from hadron_spark.llm.textstats import word_count

        return word_count(df)

    def total(df):
        return df.agg(F.sum("cnt").alias("total_words"))

    def truncate(df):  # map-only stage (M5): narrow, no shuffle
        return df.select(F.substring(F.col("word"), 1, 5).alias("prefix"), "cnt")

    t1 = pipe.connect("word_freq", words, [docs])
    t2 = pipe.connect("total_count", total, [t1])
    t3 = pipe.connect("truncate", truncate, [t1])
    return pipe, t1, t2, t3


def test_three_stage_dag(spark, sf_dir, tmp_path):
    pipe, t1, t2, t3 = _wordcount_pipeline(spark, sf_dir, tmp_path, RS_RERUN)
    total = t2.read(spark).collect()[0]["total_words"]
    assert total > 0
    assert t3.read(spark).count() == t1.read(spark).count()
    assert [s.skipped for s in pipe.steps] == [False, False, False]


def test_rerun_skip_memoizes(spark, sf_dir, tmp_path):
    _wordcount_pipeline(spark, sf_dir, tmp_path, RS_RERUN)
    pipe2, *_ = _wordcount_pipeline(spark, sf_dir, tmp_path, RS_SKIP)
    assert all(s.skipped for s in pipe2.steps)


def test_rerun_fail_raises(spark, sf_dir, tmp_path):
    _wordcount_pipeline(spark, sf_dir, tmp_path, RS_RERUN)
    with pytest.raises(FileExistsError):
        _wordcount_pipeline(spark, sf_dir, tmp_path, RS_FAIL)


def test_set_get_val_and_run_once(spark):
    pipe = Pipeline(spark)
    pipe.set_val("threshold", 42)
    assert pipe.get_val("threshold") == 42
    calls = []
    for _ in range(3):
        pipe.run_once("expensive", lambda: calls.append(1) or "result")
    assert calls == [1]


def test_rerun_fail_line_output(spark, tmp_path):
    """RS_FAIL writes a line output when it is absent and refuses it
    once committed."""
    out = Tap([str(tmp_path / "lines")], "hadron_line")

    def step(spark):
        return spark.createDataFrame([("k", "v")], "k string, v string")

    Pipeline(spark, rerun=RS_FAIL, workdir=str(tmp_path)).connect("s", step, [], out)
    assert [tuple(r) for r in out.read(spark).collect()] == [("k", "v")]
    with pytest.raises(FileExistsError):
        Pipeline(spark, rerun=RS_FAIL, workdir=str(tmp_path)).connect("s", step, [], out)


def test_rerun_skip_recomputes_uncommitted_output(spark, tmp_path):
    """An output dir holding only `_temporary/` debris of a crashed
    write has no `_SUCCESS`: RS_SKIP runs the step over it."""
    out_dir = tmp_path / "lines"
    (out_dir / "_temporary" / "0").mkdir(parents=True)
    (out_dir / "_temporary" / "0" / "part-00000.txt").write_text("half\n")
    out = Tap([str(out_dir)], "hadron_line")

    def step(spark):
        return spark.createDataFrame([("k", "v")], "k string, v string")

    pipe = Pipeline(spark, rerun=RS_SKIP, workdir=str(tmp_path))
    pipe.connect("s", step, [], out)
    assert [s.skipped for s in pipe.steps] == [False]
    assert [tuple(r) for r in out.read(spark).collect()] == [("k", "v")]
