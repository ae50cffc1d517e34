"""Filesystem utility ops (S10), fallback decoding (P8), input-file
metadata (M6), retry error strategy, 2-way monoidal join (J7)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadron_spark.operators.joins import join_mr
from hadron_spark.operators.mapreduce import RETRY, reduce_step
from hadron_spark.sources import fs
from hadron_spark.sources.taps import either_decode, tap, with_input_file


def test_fs_roundtrip(spark, tmp_path):
    base = f"file://{tmp_path}"
    assert fs.mkdir(spark, f"{base}/d1")
    assert fs.exists(spark, f"{base}/d1")
    local = tmp_path / "src.txt"
    local.write_text("payload-bytes")
    fs.put(spark, str(local), f"{base}/d1/dest.txt")
    assert fs.cat(spark, f"{base}/d1/dest.txt") == b"payload-bytes"
    listing = fs.ls(spark, f"{base}/d1")
    assert len(listing) == 1 and listing[0].size == 13
    assert fs.mv(spark, f"{base}/d1/dest.txt", f"{base}/d1/renamed.txt")
    assert fs.exists(spark, f"{base}/d1/renamed.txt")
    assert fs.delete(spark, f"{base}/d1")
    assert not fs.exists(spark, f"{base}/d1")
    p1 = fs.random_tmp_path(spark, base)
    p2 = fs.random_tmp_path(spark, base)
    assert p1 != p2 and p1.startswith(base)


def test_fs_cat_bounds(spark, tmp_path):
    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * 1024)
    with pytest.raises(ValueError, match="max_bytes"):
        fs.cat(spark, f"file://{big}", max_bytes=10)


def test_either_decode_json_then_csv(spark):
    lines = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ("2,y",), ("zzz,w",)],
        "value string",
    )
    out = either_decode(lines, "value", "a int, b string", "a int, b string")
    rows = {r["value"]: r for r in out.collect()}
    assert rows['{"a": 1, "b": "x"}']["_codec"] == "json"
    assert rows['{"a": 1, "b": "x"}']["decoded"]["a"] == 1
    assert rows["2,y"]["_codec"] == "csv"
    assert rows["2,y"]["decoded"]["a"] == 2 and rows["2,y"]["decoded"]["b"] == "y"
    # CSV is total: uncastable cell decodes as NULL, row survives
    assert rows["zzz,w"]["_codec"] == "csv"
    assert rows["zzz,w"]["decoded"]["a"] is None and rows["zzz,w"]["decoded"]["b"] == "w"


def test_with_input_file(spark, sf_dir):
    df = with_input_file(tap(f"{sf_dir}/region.parquet").read(spark))
    files = {r["input_file"] for r in df.collect()}
    assert len(files) == 1 and "region.parquet" in files.pop()


def test_reduce_step_retry_then_rethrow(spark):
    df = spark.createDataFrame([(1, 10), (1, 20)], "k int, v int")

    calls = {"n": 0}

    def flaky(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic failure: retried `retries` times then rethrown
        raise ValueError("persistent")

    out = reduce_step(df, ["k"], flaky, "k int, v int", on_error=RETRY, retries=2)
    with pytest.raises(Exception, match="persistent"):
        out.collect()


def test_join_mr_two_way_monoid(spark):
    left = spark.createDataFrame([(1, 10), (2, 20)], "k int, a int")
    right = spark.createDataFrame([(1, 100), (3, 300)], "k int, b int")
    out = join_mr(
        left, right, ["k"], [(F.col("a") + F.col("b")).alias("merged")]
    )
    assert [tuple(r) for r in out.collect()] == [(1, 110)]  # inner ∘ <>


def test_compact_merges_small_files(spark, tmp_path):
    from hadron_spark.sources import fs

    out = str(tmp_path / "many_small")
    spark.range(10_000).repartition(20).write.parquet(out)
    import glob

    before = len(glob.glob(out + "/*.parquet"))
    assert before == 20
    n = fs.compact(spark, out, target_file_bytes=1 << 30)
    after = len(glob.glob(out + "/*.parquet"))
    assert after == 1
    assert n == after
    assert spark.read.parquet(out).count() == 10_000
