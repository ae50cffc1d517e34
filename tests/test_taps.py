"""Tap surface (SURVEY §2.1-2.2: S1-S6, P1-P11)."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from hadron_spark.sources.taps import (
    Tap,
    binary_dir_tap,
    concat_taps,
    file_list_tap,
    merge_taps,
    read_tap,
    tap,
)


def test_tap_read_parquet(spark, sf_dir):
    t = tap(f"{sf_dir}/region.parquet")
    assert t.read(spark).count() == 5


def test_tap_roundtrip_csv(spark, sf_dir, tmp_path):
    src = tap(f"{sf_dir}/region.parquet").read(spark)
    out = Tap([str(tmp_path / "region_csv")], "csv", options={"header": "true"})
    out.write(src, mode="overwrite")
    back = out.read(spark)
    assert back.count() == 5
    assert set(back.columns) == {"r_regionkey", "r_name"}


def test_tap_equality_by_location():
    assert tap("/a/b.parquet") == tap("/a/b.parquet", fmt="csv")
    assert tap("/a/b.parquet") != tap("/a/c.parquet")


def test_concat_taps(spark, sf_dir):
    t = tap(f"{sf_dir}/nation.parquet")
    df = concat_taps(spark, [t, tap(f"{sf_dir}/nation.parquet")])
    assert df.count() == 50


def test_merge_taps_tags_sides(spark, sf_dir):
    m = merge_taps(
        spark, tap(f"{sf_dir}/customer.parquet"), tap(f"{sf_dir}/supplier.parquet")
    )
    by_side = {r["_side"]: r["n"] for r in m.groupBy("_side").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_side["left"] > 0 and by_side["right"] > 0
    # left rows have customer cols, null supplier cols
    left_row = m.filter(F.col("_side") == "left").first()
    assert left_row["c_custkey"] is not None and left_row["s_suppkey"] is None


def test_binary_dir_tap_and_glob(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x89PNGxxxx")
    (tmp_path / "b.txt").write_bytes(b"hello")
    all_files = binary_dir_tap(spark, str(tmp_path))
    assert all_files.count() == 2
    only_bin = binary_dir_tap(spark, str(tmp_path), glob="*.bin")
    rows = only_bin.collect()
    assert len(rows) == 1 and rows[0]["content"] == b"\x89PNGxxxx"


def test_file_list_tap(spark, tmp_path):
    f1 = tmp_path / "one.txt"
    f1.write_bytes(b"first")
    f2 = tmp_path / "two.txt"
    f2.write_bytes(b"second")
    listing = tmp_path / "paths.txt"
    listing.write_text(f"{f1}\n{f2}\n")
    df = file_list_tap(spark, str(listing))
    contents = sorted(r["content"] for r in df.collect())
    assert contents == [b"first", b"second"]


def test_gzip_text_read(spark, tmp_path):
    # gzipProtocol analog: .gz read transparently (Protocol.hs:164-165)
    p = tmp_path / "lines.txt.gz"
    with gzip.open(p, "wt") as fh:
        fh.write("alpha\nbeta\n")
    df = tap(str(p), "lines").read(spark)
    assert sorted(r["value"] for r in df.collect()) == ["alpha", "beta"]


def test_read_tap_collects(spark, sf_dir):
    rows = read_tap(spark, tap(f"{sf_dir}/region.parquet"))
    assert len(rows) == 5


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the second columnar format the engine supports natively
    (P4/P5 class: typed columnar storage replaces base64-wrapped
    binary lines)."""
    from hadron_spark.sources.taps import Tap

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t = Tap([str(tmp_path / "orc_out")], "orc")
    t.write(df, mode="overwrite")
    back = t.read(spark)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_schema_evolution_merge(spark, tmp_path):
    # P5 parity (base64SafeCopyProtocol = versioned records): parquet
    # schema evolution via mergeSchema replaces version-tagged codecs
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.parquet(f"{d}/gen=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v1 string, v2 double").write.parquet(
        f"{d}/gen=2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert {f.name for f in merged.schema} >= {"id", "v1", "v2"}
    rows = {r["id"]: r["v2"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_register_views_and_cli_sql(spark, sf_dir):
    from hadron_spark.cli import register_views

    bound = register_views(spark, sf_dir)
    assert "lineitem" in bound and "documents" in bound
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0


def test_tap_orc_roundtrip(spark, sf_dir, tmp_path):
    """Tap's format field is pass-through to the DataSource registry,
    so every built-in columnar/row format works unmodified — ORC
    here (the reference's protocol list stops at csv/gzip/base64,
    SURVEY §2.2)."""
    from hadron_spark.sources.taps import Tap

    src = Tap(f"{sf_dir}/region.parquet").read(spark)
    d = str(tmp_path / "region_orc")
    Tap(d, fmt="orc").write(src)
    back = Tap(d, fmt="orc").read(spark)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_hadron_line_datasource_roundtrip(spark, tmp_path):
    """P11 line wire format: the tap reads a dir of small files one
    partition each, transparent .gz, tabs beyond the key segments stay
    in the value (parseLine's split-first-k contract), and a write
    through the tap round-trips."""
    (tmp_path / "a.tsv").write_text(
        "u1\tclick\tpage=/home extra\ttabbed\nu2\tview\tx\n"
    )
    with gzip.open(tmp_path / "b.tsv.gz", "wt") as fh:
        fh.write("u3\tclick\tz\n")

    df = Tap([str(tmp_path)], "hadron_line", options={"key_segments": "2"}).read(spark)
    rows = {tuple(r) for r in df.collect()}
    assert ("u1", "click", "page=/home extra\ttabbed") in rows
    assert ("u3", "click", "z") in rows
    assert df.rdd.getNumPartitions() == 2  # one per file

    out = str(tmp_path / "out")
    Tap([out], "hadron_line").write(df)
    back = Tap([out], "hadron_line", options={"key_segments": "2"}).read(spark)
    assert {tuple(r) for r in back.collect()} == rows


def _line_tap(path, k: int) -> Tap:
    return Tap([str(path)], "hadron_line", options={"key_segments": str(k)})


def _lines(spark, path) -> list[str]:
    return sorted(r.value for r in spark.read.text(str(path)).collect())


def test_hadron_line_write_cell_text(spark, tmp_path):
    """Each cell is Spark's string CAST with NULL → "": the cast comes
    before concat_ws, so a NULL keeps its column and an array stays
    one cell."""
    df = spark.sql(
        "SELECT CAST(NULL AS STRING) AS s, true AS b, 1e20D AS d, "
        "array('a', 'b') AS arr, 7 AS `n.dot`"
    )
    out = tmp_path / "cells"
    Tap([str(out)], "hadron_line").write(df)
    assert _lines(spark, out) == ["\ttrue\t1.0E20\t[a, b]\t7"]
    assert _line_tap(out, 3).read(spark).collect()[0] == ("", "true", "1.0E20", "[a, b]\t7")


def test_hadron_line_write_partition_by(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("a", 3, "z")], "p string, n int, v string"
    )
    out = tmp_path / "parts"
    Tap([str(out)], "hadron_line").write(df, partition_by=["p"])
    assert sorted(d for d in os.listdir(out) if not d.startswith(("_", "."))) == ["p=a", "p=b"]
    assert _lines(spark, out / "p=a") == ["1\tx", "3\tz"]
    assert _lines(spark, out / "p=b") == ["2\ty"]


def test_hadron_line_write_gzip_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("k1", "v 1"), ("k2", "v\t2")], "k string, v string")
    out = tmp_path / "gz"
    Tap([str(out)], "hadron_line", options={"compression": "gzip"}).write(df)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert parts and all(f.endswith(".txt.gz") for f in parts)
    assert sorted(tuple(r) for r in _line_tap(out, 1).read(spark).collect()) == [
        ("k1", "v 1"),
        ("k2", "v\t2"),
    ]


def test_hadron_line_overwrite_fewer_partitions(spark, tmp_path):
    """An overwrite goes through the committer: a 2-partition rewrite
    of a 4-partition output leaves none of the old part files, and
    the write commits `_SUCCESS`."""
    df = spark.range(10).selectExpr("CAST(id AS STRING) AS k", "'v' AS v")
    out = tmp_path / "ow"
    t = Tap([str(out)], "hadron_line")
    t.write(df.repartition(4), mode="overwrite")
    t.write(df.repartition(2), mode="overwrite")
    assert sorted(int(r.k1) for r in _line_tap(out, 1).read(spark).collect()) == list(range(10))
    assert (out / "_SUCCESS").exists()


def test_hadron_line_appends_keep_both(spark, tmp_path):
    df = spark.createDataFrame([("a", "1"), ("b", "2"), ("c", "3")], "k string, v string")
    out = tmp_path / "app"
    t = Tap([str(out)], "hadron_line")
    t.write(df.filter("k < 'c'").coalesce(1), mode="append")
    t.write(df.filter("k = 'c'").coalesce(1), mode="append")
    assert _lines(spark, out) == ["a\t1", "b\t2", "c\t3"]
    assert (out / "_SUCCESS").exists()


def test_hadron_line_datasource_write_points_to_tap(spark, tmp_path):
    """The registered `hadron_line` source has no writer of its own;
    a write through it names the tap writer. (Spark refuses the
    default error-if-exists mode for any Python data source before
    the writer is asked, so this uses append.)"""
    from pyspark.errors import AnalysisException

    from hadron_spark.sources.pysource import HadronLineDataSource

    spark.dataSource.register(HadronLineDataSource)
    df = spark.createDataFrame([("a", "b")], "k string, v string")
    with pytest.raises(AnalysisException, match=r'Tap\(path, "hadron_line"\)\.write'):
        df.write.format("hadron_line").mode("append").save(str(tmp_path / "ds"))


def test_hadron_line_edge_rows(spark, tmp_path):
    """parseLine framing on edge lines: CRLF keeps its `\\r` (lines end
    at `\\n` only), a short line pads with "", an empty line is all "",
    and tabs past segment k stay in the value."""
    p = tmp_path / "edge.tsv"
    p.write_bytes(b"u1\tclick\tv\r\nshort\n\nu2\tx\ty\tz\t\n")
    rows = sorted(tuple(r) for r in _line_tap(p, 2).read(spark).collect())
    assert rows == [
        ("", "", ""),
        ("short", "", ""),
        ("u1", "click", "v\r"),
        ("u2", "x", "y\tz\t"),
    ]
    assert _line_tap(p, 2).read(spark).columns == ["k1", "k2", "value"]


def test_hadron_line_multi_path_plain_and_gz(spark, tmp_path):
    (tmp_path / "a.tsv").write_text("a\t1\nb\t2\n")
    with gzip.open(tmp_path / "b.tsv.gz", "wt") as fh:
        fh.write("c\t3\td\n")
    t = Tap(
        [str(tmp_path / "a.tsv"), str(tmp_path / "b.tsv.gz")],
        "hadron_line",
        options={"key_segments": "1"},
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        ("a", "1"),
        ("b", "2"),
        ("c", "3\td"),
    ]


def test_hadron_line_splits_large_plain_file(spark, tmp_path):
    """A plain file bigger than maxPartitionBytes splits like Hadoop's
    TextInputFormat: several partitions, every line read exactly once."""
    p = tmp_path / "big.tsv"
    p.write_text("".join(f"key{i % 7}\t{i}\n" for i in range(5000)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        df = _line_tap(p, 1).read(spark)
        assert df.rdd.getNumPartitions() > 1
        rows = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set(key, old)
    assert sorted(rows, key=lambda r: int(r[1])) == [
        (f"key{i % 7}", str(i)) for i in range(5000)
    ]


def test_hadron_line_read_is_a_jvm_scan(spark, tmp_path):
    """Plan guard: the tap reads through Spark's text scan, not a
    Python data source, so no Python boundary sits under the mapper."""
    p = tmp_path / "a.tsv"
    p.write_text("a\tb\n")
    plan = _line_tap(p, 1).read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "(Python)" not in plan


def test_with_input_file_on_line_tap(spark, tmp_path):
    """with_input_file (reference getFileName) names each line's file
    on a hadron_line tap."""
    from hadron_spark.sources.taps import with_input_file

    p = tmp_path / "a.tsv"
    p.write_text("k\tv\nk2\tv2\n")
    files = {r["input_file"] for r in with_input_file(_line_tap(p, 1).read(spark)).collect()}
    assert files == {p.as_uri()}
